"""Event-time windowing on the `events` table (SURVEY.md §2B "Streaming").

The reference is strictly batch with a hard map→reduce barrier
(``description.md:35``); it has no notion of time. The new engine supplies
tumbling / sliding / session windows with Spark's native `window` /
`session_window` expressions — identical semantics batch and streaming (the
`readStream` variants live in streaming/stream.py; correctness is
oracle-checked here in batch mode, per SURVEY §2B).

All window boundaries are emitted as epoch seconds (BIGINT) so the check is
timestamp-precision-agnostic (events.ts is nanosecond in the fixtures,
microsecond in Spark).

Scale note: windowed aggregation shuffles on (window, key) — at 100 TB the
key (event_type / user_id) carries the cardinality, and sessionization is a
per-user sort-merge, exactly Spark's streaming state layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.exact import dec, dsum, rnd
from ..registry import TableReader, Twin, query


def _wstart_epoch(alias: str = "wstart") -> F.Column:
    return F.unix_timestamp(F.col("w.start")).cast("long").alias(alias)


# Window oracles shared with the streaming twins in stream.py — ONE string
# per window shape, so a boundary fix can never leave the batch and
# streaming queries certified against different oracles.
TUMBLING_ORACLE = """
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS wstart,
           event_type,
           COUNT(*) AS n_events,
           floor((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_value
    FROM events
    GROUP BY 1, 2
"""

SLIDING_ORACLE = """
    SELECT CAST(epoch(time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes') AS BIGINT) AS wstart,
           COUNT(*) AS n_events,
           floor((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_value
    FROM events
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) offsets
    GROUP BY 1
"""


def _tumbling_cells(spark: SparkSession, sf_dir: str, read: TableReader) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(_wstart_epoch(), "event_type", "n_events", "sum_value")
    )


@query(
    "window_tumbling_hourly",
    oracle=TUMBLING_ORACLE,
    tags=("events", "window-time"),
    twin=Twin(_tumbling_cells),
)
def window_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type."""
    return _tumbling_cells(spark, sf_dir, load_table)


def _sliding_cells(spark: SparkSession, sf_dir: str, read: TableReader) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(_wstart_epoch(), "n_events", "sum_value")
    )


@query(
    "window_sliding_1h_15m",
    oracle=SLIDING_ORACLE,
    tags=("events", "window-time"),
    twin=Twin(_sliding_cells),
)
def window_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 15-minute slide (each event lands in
    exactly 4 windows; the oracle expands them with an offset cross join)."""
    return _sliding_cells(spark, sf_dir, load_table)


# Gap comparison and session_start are computed on floored epoch-MICROseconds
# in both engines: Spark sees the fixture's ns timestamps truncated to µs
# (catalog.load_table), DuckDB's epoch_us() applies the same truncation, and
# flooring (not CAST-rounding) matches Spark's unix_timestamp semantics.
SESSION_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(epoch_us(ts)) // 1000000 AS session_start,
           COUNT(*) AS n_events,
           floor((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
"""


def _session_cells(spark: SparkSession, sf_dir: str, read: TableReader) -> DataFrame:
    # The watermark bounds the streaming twin's merging session state; a
    # batch plan drops it (EliminateEventTimeWatermark).
    ev = read(spark, sf_dir, "events").withWatermark("ts", "1 hour")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(
            "user_id",
            _wstart_epoch("session_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "session_window_30m",
    oracle=SESSION_ORACLE,
    tags=("events", "window-time"),
    twin=Twin(_session_cells),
)
def session_window_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-minute gap) per user. A new session starts
    when the gap since the previous event is >= the timeout (Spark's session
    window is [start, last+gap), half-open). The oracle reconstructs the same
    sessions via gaps-and-islands SQL."""
    return _session_cells(spark, sf_dir, load_table)


@query("sessionize_gaps", oracle=SESSION_ORACLE, tags=("events", "window-time"))
def sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sessionization built from first principles (lag + cumulative
    sum gaps-and-islands) instead of `session_window` — the custom-stateful-
    operator pattern for engines lacking native sessions, and a Spark-vs-
    Spark cross-check of session_window_30m."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Gap in µs — the same precision session_window compares at.
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap >= 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    numbered = flagged.withColumn("session_no", F.sum("new_session").over(wrun))
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.unix_timestamp(F.min("ts")).cast("long").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select("user_id", "session_start", "n_events", "sum_value")
    )


@query(
    "rollup_hierarchical_daily",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS dstart,
           COUNT(*) AS n_events,
           floor((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_value
    FROM events
    GROUP BY 1
    """,
    tags=("events", "window-time", "rollup"),
)
def rollup_hierarchical_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (the hypertable/continuous-aggregate
    pattern): minute buckets → hour buckets → day buckets, each level
    re-aggregating the PREVIOUS level, not the raw table.

    Equal to the direct daily aggregate (the oracle) because count and
    DECIMAL sum are associative — and that is the point at 100 TB: the daily
    job reads 24 hourly rows per key instead of rescanning a day of raw
    events, and each level is a materializable incremental view. Window
    starts are aligned (minute ⊂ hour ⊂ day), so re-bucketing is exact."""
    ev = load_table(spark, sf_dir, "events")
    minutely = ev.groupBy(F.window("ts", "1 minute").alias("w")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).alias("s"),
    ).select(F.col("w.start").alias("mstart"), "n", "s")
    hourly = minutely.groupBy(
        F.date_trunc("hour", "mstart").alias("hstart")
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    return (
        hourly.groupBy(F.date_trunc("day", "hstart").alias("d"))
        .agg(
            F.sum("n").alias("n_events"),
            rnd(F.sum("s").cast("double"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("d").cast("long").alias("dstart"),
            "n_events",
            "sum_value",
        )
    )
