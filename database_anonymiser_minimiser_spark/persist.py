"""Last-call-released persists for lazily returned plans."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_PERSISTS: dict[str, DataFrame] = {}


def cap_persist(key: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) under ``key``, first releasing
    whatever the previous call under ``key`` persisted.

    An operator whose returned DataFrame reads one relation twice (a
    self-join, two windows, a decision aggregate plus the main plan)
    persists that relation so it is computed once. The result is lazy,
    so the cache cannot be dropped inside the call; releasing it on the
    next call instead bounds a long-lived session (CLI, notebook,
    streaming screen) at one call's worth per key. A previously returned
    DataFrame that is still held simply recomputes.

    - One key per relation: two persists in one call need two keys, or
      the second would release the first.
    - Operators that share a key (one family) share the bound.
    - Release comes before persist, so a repeat call canonicalises to
      the same cached plan rather than adding a second entry.
    - ``unpersist`` on a stopped session raises; that must not kill the
      new query, so it is swallowed.
    """
    old = _PERSISTS.pop(key, None)
    if old is not None:
        try:
            old.unpersist()
        except Exception:
            pass
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTS[key] = out
    return out
