"""Fixture-drift defenses: catalog.normalize_ts must map every ts storage
encoding the driver fixtures have ever used (epoch-nanos BIGINT,
TIMESTAMP_NTZ(µs), plain TIMESTAMP) to the same µs-precision TIMESTAMP —
and load_table must fail FAST with a named error on an encoding it does not
recognize, instead of hash-mismatching downstream (the round-3 failure
mode: a silent TIMESTAMP_NTZ flip broke 5 certified queries)."""

from __future__ import annotations

import datetime
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from mapreduce_infrastructure_spark.catalog import load_table, normalize_ts
from mapreduce_infrastructure_spark.streaming.stream import stream_table

# One instant, three encodings. 2024-03-01T12:34:56.789123 UTC.
_WALL = datetime.datetime(2024, 3, 1, 12, 34, 56, 789123)
_EPOCH_US = int(_WALL.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)


def _expect(df):
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    [row] = df.select(F.unix_micros("ts").alias("us")).collect()
    assert row.us == _EPOCH_US


def test_normalize_epoch_nanos_long(spark):
    df = spark.createDataFrame([(_EPOCH_US * 1_000,)], "ts long")
    _expect(normalize_ts(df))


def test_normalize_ntz(spark):
    df = spark.createDataFrame([(_WALL,)], "ts timestamp_ntz")
    _expect(normalize_ts(df))


def test_normalize_ltz_passthrough(spark):
    # Session tz is pinned UTC, so the LTZ wall clock equals the NTZ one.
    df = spark.createDataFrame([(_WALL,)], "ts timestamp")
    _expect(normalize_ts(df))


def test_normalize_missing_column_noop(spark):
    df = spark.createDataFrame([(1,)], "x long")
    assert normalize_ts(df).columns == ["x"]


def test_load_table_tripwire_on_unknown_encoding(spark, tmp_path):
    # A fourth encoding (ts as STRING) must trip the named error, not load.
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "2024-03-01 12:34:56", 1, "click", 1.0, "{}")],
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    with pytest.raises(TypeError, match="fixture drift"):
        load_table(spark, sf, "events")


def test_load_table_normalizes_current_fixture(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)


def _jobs_in_group(spark, group, fn):
    """Run fn() in Spark job group ``group``; return the ids of the jobs it
    started, read from the status tracker once the listener bus drains."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_table_runs_no_spark_job(spark, sf_dir):
    # The first call may infer the schema; the warm call reuses it from the
    # session store and builds an identical frame without a job.
    load_table(spark, sf_dir, "orders")
    df, jobs = _jobs_in_group(
        spark, "test_warm_load_table", lambda: load_table(spark, sf_dir, "orders")
    )
    assert jobs == []
    inferred = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    assert df.schema == inferred.schema
    assert sorted(df.collect()) == sorted(inferred.collect())


def test_overwritten_table_shows_new_column(spark, tmp_path):
    # Rewriting a table in place changes its fingerprint, so the next
    # load_table and stream_table see the new schema, not a cached one.
    sf = str(tmp_path)
    path = f"{sf}/region.parquet"
    spark.createDataFrame(
        [(0, "AFRICA")], "r_regionkey bigint, r_name string"
    ).write.mode("overwrite").parquet(path)
    assert load_table(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    assert stream_table(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    spark.createDataFrame(
        [(0, "AFRICA", "lar deposits")],
        "r_regionkey bigint, r_name string, r_comment string",
    ).write.mode("overwrite").parquet(path)
    df = load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert df.collect()[0].r_comment == "lar deposits"
    assert stream_table(spark, sf, "region").columns == df.columns
