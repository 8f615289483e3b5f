"""Jobs-per-call pins: the number of Spark jobs a hot call schedules is
a pinned metric, so a change that adds a driver-side probe or a
per-key job shows up as a test failure instead of as driver gap in a
benchmark trace. Jobs are counted from Spark's own status tracker,
under a job group opened around the call."""

from __future__ import annotations

import datetime
import decimal
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from cvemate_spark.operators.merge import (
    bucket_expr,
    bucket_of_value,
    merge_upsert,
)
from cvemate_spark.operators.merge_versioned import (
    read_bucket_for_key_versioned,
    write_bucket_table_versioned,
)


def _jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bucket_of_value_schedules_no_job(spark):
    b, jobs = _jobs_of(spark, lambda: bucket_of_value(spark, "CVE-1", 32))
    assert 0 <= b < 32
    assert jobs == 0


def test_versioned_point_lookup_is_one_job(spark, tmp_path):
    """A lookup hit and its collect() run exactly the data read."""
    base = spark.createDataFrame(
        [Row(id=f"CVE-{i}", nvd=f"n{i}") for i in range(40)]
    )
    path = str(tmp_path / "pin_lookup")
    write_bucket_table_versioned(
        merge_upsert(None, base, now="2024-01-01 00:00:00"),
        path, key="id", n_buckets=8,
    )

    def lookup():
        return read_bucket_for_key_versioned(spark, path, "CVE-7").collect()

    lookup()  # warm: first-touch listing and footer caches
    rows, jobs = _jobs_of(spark, lookup)
    assert [r["nvd"] for r in rows] == ["n7"]
    assert jobs == 1


# Jobs of one dedup_components call on the graph below at this
# session's 4 shuffle partitions: one round of edge rewriting plus its
# single star-forest probe.
COMPONENTS_JOBS_PIN = 15


def test_dedup_components_job_pin(spark):
    from cvemate_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 20)] + [(i, 100 + i) for i in range(1, 20)],
        "d1 long, d2 long",
    )
    out, jobs = _jobs_of(spark, lambda: dedup_components(pairs).collect())
    assert {r["component"] for r in out} == {0} and len(out) == 39
    assert jobs <= COMPONENTS_JOBS_PIN


KEY_CASES = [
    ("string", T.StringType(), "CVE-2024-0001"),
    ("int", T.IntegerType(), 42),
    ("bigint", T.LongType(), 2**40 + 3),
    ("double", T.DoubleType(), 7.25),
    ("decimal", T.DecimalType(10, 2), decimal.Decimal("12.50")),
    ("date", T.DateType(), datetime.date(2024, 2, 29)),
    ("timestamp", T.TimestampType(), datetime.datetime(2024, 1, 2, 3, 4, 5)),
    ("null", T.StringType(), None),
]


@pytest.mark.parametrize(
    "dtype,value", [c[1:] for c in KEY_CASES], ids=[c[0] for c in KEY_CASES]
)
def test_bucket_of_value_equals_bucket_expr_on_written_row(
    spark, tmp_path, dtype, value
):
    """The driver-folded lookup hash and the write path's column
    expression agree on a row that went through a parquet write, for
    every key type a table can be bucketed on."""
    schema = T.StructType([T.StructField("k", dtype, True)])
    path = str(tmp_path / "row")
    spark.createDataFrame([(value,)], schema).write.parquet(path)
    for n in (1, 7, 32):
        written = (
            spark.read.parquet(path)
            .select(bucket_expr("k", n).alias("b"))
            .collect()[0]["b"]
        )
        assert bucket_of_value(spark, value, n) == written, (dtype, n)

