"""SQL-dump batching contracts at any partition count (exporter.go:273-306).

Every INSERT carries ``batch_size`` rows except the table's last one,
rows follow the primary key when one is given, no row is lost or
duplicated, and the serial and parallel writers emit the same dump.
The input is split into six partitions so the contracts are checked on
the multi-partition path, not only on single-split fixtures."""

import io
from collections import Counter

import pytest
from pyspark.sql import functions as F

from database_anonymiser_minimiser_spark.dump import (
    DEFAULT_BATCH_SIZE,
    row_tuple_column,
    write_dump,
    write_dump_parallel,
)

N = 12_345
DDL = "CREATE TABLE `t` (`k` BIGINT, `name` TEXT, `v` DOUBLE);"


@pytest.fixture(scope="module")
def source(spark):
    # the keys are a permutation of 0..N-1, so neither the generated
    # order nor the round-robin split below is already key order
    return (
        spark.range(N)
        .select(
            ((F.col("id") * 7919) % N).alias("k"),
            F.concat(F.lit("o'n\\"), F.col("id").cast("string")).alias("name"),
            (F.col("id") / 7).alias("v"),
        )
        .repartition(6)
    )


def _dump(writer, df, order_by):
    out = io.StringIO()
    stats = writer(out, "mysql", [("t", DDL, df, order_by)])
    return out.getvalue(), stats


def _inserts(text: str) -> list[list[str]]:
    """The tuples of each INSERT, in file order, without their "," or
    ";" terminators (one tuple per line; data newlines are escaped)."""
    inserts: list[list[str]] = []
    for line in text.splitlines():
        if line.startswith("INSERT INTO"):
            inserts.append([])
        elif line.startswith("("):
            inserts[-1].append(line[:-1])
    return inserts


def _without_date(text: str) -> list[str]:
    return [line for line in text.splitlines() if not line.startswith("-- Date:")]


@pytest.mark.parametrize("order_by", ["k", None], ids=["keyed", "unkeyed"])
def test_multi_partition_dump_contracts(source, order_by):
    assert source.rdd.getNumPartitions() == 6
    text, stats = _dump(write_dump, source, order_by)
    inserts = _inserts(text)

    sizes = [len(batch) for batch in inserts]
    assert all(s == DEFAULT_BATCH_SIZE for s in sizes[:-1]), sizes
    assert sizes[-1] == N % DEFAULT_BATCH_SIZE, sizes

    tuples = [t for batch in inserts for t in batch]
    expected = [r[0] for r in source.select(row_tuple_column(source)).collect()]
    assert Counter(tuples) == Counter(expected)
    assert stats.per_table_rows == {"t": N}

    if order_by:
        keys = [int(t[1 : t.index(",")]) for t in tuples]
        assert keys == list(range(N))


@pytest.mark.parametrize("order_by", ["k", None], ids=["keyed", "unkeyed"])
def test_multi_partition_serial_equals_parallel(source, order_by):
    serial, s1 = _dump(write_dump, source, order_by)
    parallel, s2 = _dump(write_dump_parallel, source, order_by)
    assert s1.per_table_rows == s2.per_table_rows == {"t": N}
    if order_by:
        assert _without_date(serial) == _without_date(parallel)
    else:
        # source order after a shuffle is not fixed, so without a key
        # only the batch shape and the rows must agree
        a, b = _inserts(serial), _inserts(parallel)
        assert [len(x) for x in a] == [len(x) for x in b]
        assert sorted(t for x in a for t in x) == sorted(t for x in b for t in x)
