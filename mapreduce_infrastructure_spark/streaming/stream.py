"""Structured Streaming over the fixture tables (SURVEY.md §2B "Streaming").

The reference is strictly batch with a hard map→reduce barrier
(``description.md:35``). The engine's streaming tier runs the SAME
aggregations under ``readStream`` — Spark's unified semantics mean a batch
query and its incremental twin return identical results over identical
input, which is exactly how they are oracle-checked: each stream runs to
completion with ``Trigger.AvailableNow`` into a memory sink
(`run_to_tables`) and the materialized table is compared against the
batch oracle SQL.

Pieces:
- file-source ``readStream`` over the fixture parquet (`stream_table`; at
  scale a date-partitioned event-log directory or Kafka source — same
  plan),
- batch↔stream twins registered from ONE definition (`stream_twin`): the
  batch module's ``registry.Twin`` states the row-volume aggregate
  (``cells``) and the bounded derivation after it (``report``); the twin
  folds the cells incrementally in streaming state and runs the same
  report over the sink, under the batch query's oracle,
- CUSTOM STATEFUL OPERATORS via ``applyInPandasWithState``
  (`stream_user_totals` and the other keyed-state queries): explicit
  ``GroupState`` — the streaming analogue of the reference's per-key
  reduce fold (``external/include/mr_task_factory.h:37``),
- watermark/late-data semantics exercised in tests/test_streaming.py
  (append mode only emits watermark-finalized windows).

Scale notes (100 TB/day event firehose):
- State lives in the state store keyed by (window, key) / user — bounded by
  watermark eviction, partitioned by the shuffle, never on the driver.
- ``availableNow`` is the batch-backfill trigger: the same query that tails
  Kafka replays history in bounded increments.
"""

from __future__ import annotations

import os
import shutil
from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import load_table, normalize_ts, scratch_dir
from ..llm import text
from ..llm.cache import tracked_persist
from ..llm.dedup import _INCR_OLD_MAX, INCR_DEDUP_ORACLE, content_fp
from ..registry import _REGISTRY, QueryFn, query
from ..session import tune

# The batch modules register the queries whose oracles and Twins the
# streaming twins below take.
from ..operators import relational, stats, temporal, tpch_extra  # noqa: F401
from . import batch_windows  # noqa: F401

# Wire schema for the Kafka JSON path ONLY (our own serialization: ts as
# epoch-nanos BIGINT). File-source readers must NOT assume a ts storage
# type — the fixture has changed between TIMESTAMP(NANOS) and naive
# TIMESTAMP(µs) across driver rounds — so they take the schema from the
# parquet footer via a one-off batch read and normalize with
# catalog.normalize_ts.
_RAW_EVENTS = (
    "event_id bigint, ts long, user_id bigint, event_type string,"
    " value double, props string"
)

_CHECKPOINTS = scratch_dir("checkpoints")


def _staged_table_dir(sf_dir: str, table: str) -> str:
    """The file streaming source tails a DIRECTORY (new files = new data —
    the event-log layout at scale); the fixture is a single parquet file, so
    stage a symlink to it in a per-SF scratch directory. When the fixture
    is already a directory of part files (Spark-written datasets, e.g. the
    tools/scale_check.py replicas), tail it directly — staging a symlinked
    SUBdirectory would hide the files from the source's non-recursive
    listing."""
    target_ds = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    if os.path.isdir(target_ds):
        return target_ds
    d = os.path.join(
        os.path.dirname(_CHECKPOINTS), "stream_src",
        os.path.basename(sf_dir.rstrip("/")), table,
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    target = target_ds
    # lexists (not exists): a broken symlink must be replaced, not trip
    # FileExistsError; and a link left by a DIFFERENT fixture path with the
    # same basename must be re-pointed, not silently served stale.
    if os.path.lexists(link):
        if os.path.realpath(link) == os.path.realpath(target):
            return d
        os.remove(link)
    os.symlink(target, link)
    return d


# Footer-schema cache for the staged table dirs: one batch footer read
# per (staged dir, fixture fingerprint) per process instead of one per
# query call — at 100 TB the schema read is cheap but it is a full driver
# job, and the bench runs stream_* queries back to back. Keyed on the
# fixture file's (mtime_ns, size) so a regenerated fixture invalidates.
_FOOTER_SCHEMA_CACHE: dict = {}


def _table_fingerprint(sf_dir: str, table: str) -> tuple:
    st = os.stat(os.path.join(os.path.abspath(sf_dir), f"{table}.parquet"))
    return (st.st_mtime_ns, st.st_size)


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source readStream over any fixture table — the streaming
    counterpart of catalog.load_table (same signature, same ts
    normalization), so a ``Twin``'s cells read either source.

    File streams require an explicit schema; hardcoding one broke when the
    fixture's ts storage changed (CORRECTNESS_r03): a `ts long` schema over
    TIMESTAMP(µs) files hands back the raw stored int64 in whatever unit
    the file used, so downstream math assuming epoch-nanos divided µs by
    1000 and silently landed every event in 1970 — windowed streams emitted
    near-empty results with no error. A batch footer read (cached per
    staged dir + fixture fingerprint) keeps the stream schema in lockstep
    with the files, and ``normalize_ts`` (a no-op without a ``ts``
    column) converts any ts storage type to the engine's µs TIMESTAMP."""
    tune(spark)
    d = _staged_table_dir(sf_dir, table)
    key = (d, _table_fingerprint(sf_dir, table))
    file_schema = _FOOTER_SCHEMA_CACHE.get(key)
    if file_schema is None:
        file_schema = spark.read.parquet(d).schema
        _FOOTER_SCHEMA_CACHE[key] = file_schema
    return normalize_ts(spark.readStream.schema(file_schema).parquet(d))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over events.parquet, normalized like
    catalog.load_table (any fixture ts storage type → µs TIMESTAMP)."""
    return stream_table(spark, sf_dir, "events")


def run_to_tables(
    named_streams: "list[tuple[DataFrame, str]]", mode: str = "complete"
) -> "list[DataFrame]":
    """Run streaming frames to completion (AvailableNow), each into its own
    in-memory sink under a fresh checkpoint, and return the materialized
    results as batch DataFrames in input order.

    This is the bridge that lets the batch oracle check streaming plans:
    same input, same answer, incremental execution. Several frames run
    CONCURRENTLY (start all, then await all), so independent sinks pay one
    start→commit→teardown latency instead of one each; a sink is only read
    after every query has terminated. Callers pass DISJOINT sink names and
    no data dependency between the frames.

    Leak-safe: if a start() or an awaitTermination() raises, every query
    this call started that is still active is stopped before the error
    propagates, so no query keeps its sink and checkpoint and a retry with
    the same names starts clean.

    Each result re-aliases the sink's columns. A memory-sink scan is a
    leaf Spark cannot re-instance, so a self-join of two frames derived
    from it fails conflicting-reference resolution; behind a fresh
    projection the sink joins like any batch relation, which is what lets
    a twin run its batch query's report unchanged."""
    spark = named_streams[0][0].sparkSession
    started = []
    try:
        for stream_df, name in named_streams:
            ckpt = os.path.join(_CHECKPOINTS, name)
            shutil.rmtree(ckpt, ignore_errors=True)
            started.append(
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        for q in started:
            q.awaitTermination()
    finally:
        for q in started:
            if q.isActive:
                q.stop()
    tables = [spark.table(name) for _, name in named_streams]
    return [t.select([F.col(f"`{c}`").alias(c) for c in t.columns]) for t in tables]


def stream_twin(
    name: str, batch: str, tags: tuple[str, ...], persist: bool = False
) -> QueryFn:
    """Register ``name`` as the streaming twin of the batch query
    ``batch``, from that query's ``registry.Twin`` and under its oracle:
    the cells fold incrementally in streaming state (complete mode — the
    state is the aggregate), and the batch report runs over the memory
    sink. The report is not incrementally expressible per row (a new row
    can move a share, a rank or last week's delta), which is why it runs
    post-sink; every report reads only aggregate-sized data. ``persist``
    caches the sink for reports that re-scan it (the percentile
    narrowers). In a deployment the cells sink to a durable table and the
    same report runs downstream."""
    entry = _REGISTRY[batch]
    twin = entry.twin

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        (sink,) = run_to_tables([(twin.cells(spark, sf_dir, stream_table), name)])
        if persist:
            sink = tracked_persist(sink, f"{name}:{sf_dir}")
        return twin.report(sink)

    run.__name__ = run.__qualname__ = name
    run.__doc__ = (
        f"`{batch}` maintained incrementally: its cells fold per "
        "micro-batch in streaming state and its report runs over the sink."
    )
    return query(name, oracle=entry.oracle, tags=tags)(run)


stream_tumbling_hourly = stream_twin(
    "stream_tumbling_hourly", "window_tumbling_hourly", ("streaming", "window-time")
)


def _user_totals_fn(
    key: Tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Running (count, sum) per user held in explicit GroupState; emits the
    updated cumulative totals each micro-batch (cents as int64 — exact)."""
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        # Money arithmetic in integer cents: float sums would drift by
        # partition order; the reference's integer word-count fold is the
        # same exactness contract (test/user_tasks.cc:29-33). Rounding is
        # HALF_UP (away from zero) to match DECIMAL(18,2) casts in the
        # oracle and batch paths — pandas .round() is half-to-even.
        v = pdf["value"].to_numpy() * 100
        cents += int(np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)).sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]}
    )


@query(
    "stream_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           floor((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user running totals via
    ``applyInPandasWithState`` — explicit keyed state, the engine's escape
    hatch for aggregations Spark's built-ins can't express (the reference's
    arbitrary BaseReducer fold, kept incremental instead of batch).

    Emits cumulative totals per micro-batch; the final per-user row (max
    n_events) equals the batch group-by, which is what the oracle checks."""
    ev = stream_events(spark, sf_dir).select("user_id", "value")
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    per_batch = run_to_tables([(updated, "stream_user_totals")], mode="update")[0]
    # Under multi-batch replay a user emits once per batch; the cumulative
    # row with the highest n_events is the final state.
    w = F.struct("n_events", "sum_value")
    return per_batch.groupBy("user_id").agg(F.max(w).alias("s")).select(
        "user_id", F.col("s.n_events").alias("n_events"),
        F.col("s.sum_value").alias("sum_value"),
    )


@query(
    "stream_join_click_purchase",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           epoch_us(c.ts) AS click_us,
           epoch_us(p.ts) AS purchase_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL '30 minutes'
    """,
    tags=("streaming", "join"),
)
def stream_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join: clicks joined to purchases by the same user
    within the following 30 minutes. Both sides carry watermarks and the
    join condition bounds event time in both directions, so Spark can evict
    buffered state as the watermark advances — the only formulation whose
    state stays bounded on an infinite stream. Run to end-of-input, the
    result equals the equivalent batch interval join, which the oracle
    states directly."""
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.unix_micros("c_ts").alias("click_us"),
        F.unix_micros("p_ts").alias("purchase_us"),
    )
    return run_to_tables([(joined, "stream_join_click_purchase")], mode="append")[0]


@query(
    "stream_left_join_click_purchase",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    wm AS (
      SELECT least((SELECT MAX(epoch_us(ts)) FROM c),
                   (SELECT MAX(epoch_us(ts)) FROM p))
             - CAST(3600000000 AS BIGINT) AS w
    ),
    matched AS (
      SELECT c.event_id AS click_id, p.event_id AS purchase_id,
             c.user_id, epoch_us(c.ts) AS click_us,
             epoch_us(p.ts) AS purchase_us
      FROM c JOIN p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts
       AND p.ts <= c.ts + INTERVAL '30 minutes'
    )
    SELECT * FROM matched
    UNION ALL
    SELECT c.event_id, CAST(NULL AS BIGINT), c.user_id,
           epoch_us(c.ts), CAST(NULL AS BIGINT)
    FROM c CROSS JOIN wm
    WHERE c.event_id NOT IN (SELECT click_id FROM matched)
      AND epoch_us(c.ts) + CAST(1800000000 AS BIGINT) < wm.w
    """,
    tags=("streaming", "join"),
)
def stream_left_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join — the attribution variant that also
    reports clicks that never converted: matches emit as they arrive
    (same plan as the inner join), and an unmatched click emits with a
    NULL purchase side once the WATERMARK passes the end of its match
    window (c_ts + 30 min) — the only moment an infinite stream can
    prove "no purchase will ever arrive". That cutoff is part of the
    operator's real semantics, not an artifact, and the oracle states it
    exactly: Spark's global watermark at end-of-input is
    min(max click ts, max purchase ts) − the 1-hour delay (two
    withWatermark nodes, multipleWatermarkPolicy=min default), so
    unmatched clicks with c_ts + 30 min ≥ that value are still in state
    when input ends and are correctly NOT reported (verified: 1981 of
    1983 batch-unmatched clicks emit at sf0.01, the 2 inside the horizon
    hold). An empty side leaves the watermark unset and both engines
    emit matches only.

    State/scale: identical eviction bound to the inner join — both
    sides buffered only inside the watermark horizon."""
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.unix_micros("c_ts").alias("click_us"),
        F.unix_micros("p_ts").alias("purchase_us"),
    )
    return run_to_tables(
        [(joined, "stream_left_join_click_purchase")], mode="append"
    )[0]


@query(
    "stream_full_join_click_purchase",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    wm AS (
      SELECT least((SELECT MAX(epoch_us(ts)) FROM c),
                   (SELECT MAX(epoch_us(ts)) FROM p))
             - CAST(3600000000 AS BIGINT) AS w
    ),
    matched AS (
      SELECT c.event_id AS click_id, p.event_id AS purchase_id,
             c.user_id, epoch_us(c.ts) AS click_us,
             epoch_us(p.ts) AS purchase_us
      FROM c JOIN p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts
       AND p.ts <= c.ts + INTERVAL '30 minutes'
    )
    SELECT * FROM matched
    UNION ALL
    SELECT c.event_id, CAST(NULL AS BIGINT), c.user_id,
           epoch_us(c.ts), CAST(NULL AS BIGINT)
    FROM c CROSS JOIN wm
    WHERE c.event_id NOT IN (SELECT click_id FROM matched)
      AND epoch_us(c.ts) + CAST(1800000000 AS BIGINT) < wm.w
    UNION ALL
    SELECT CAST(NULL AS BIGINT), p.event_id, p.user_id,
           CAST(NULL AS BIGINT), epoch_us(p.ts)
    FROM p CROSS JOIN wm
    WHERE p.event_id NOT IN (SELECT purchase_id FROM matched)
      AND epoch_us(p.ts) < wm.w
    """,
    tags=("streaming", "join"),
)
def stream_full_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM FULL OUTER join — completes the streaming join-mode
    matrix (inner / left_outer / full_outer over the same condition): both
    never-converted clicks AND purchases with no preceding click emit with
    a NULL other side once the watermark proves no match can arrive.

    The two cutoffs are ASYMMETRIC, and the oracle states both exactly:
    a click's match window extends 30 minutes FORWARD, so it leaves state
    when wm > c_ts + 30 min (same as the left join); a purchase's matching
    clicks satisfy c_ts ∈ [p_ts − 30 min, p_ts], but an event with time
    < wm can no longer be ACCEPTED at all, so the purchase side evicts at
    the tighter wm > p_ts — Spark derives each side's state horizon from
    the join condition's time bounds, not from a symmetric constant.
    Verified at sf0.01: 23 matched + 1981 unmatched clicks + 1954
    unmatched purchases, every count equal to the oracle's.

    State/scale: identical per-side eviction bounds to the inner/left
    joins — nothing is buffered beyond the watermark horizon."""
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce("c_user", "p_user").alias("user_id"),
        F.unix_micros("c_ts").alias("click_us"),
        F.unix_micros("p_ts").alias("purchase_us"),
    )
    return run_to_tables(
        [(joined, "stream_full_join_click_purchase")], mode="append"
    )[0]


@query(
    "stream_dedup_events",
    oracle="""
    SELECT event_type, COUNT(*) AS n_unique
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACTLY-ONCE dedup: the stream unioned with itself (every
    event arrives twice — the at-least-once delivery model of any real
    event bus) then ``dropDuplicates`` on the event id with a watermark
    bounding the dedup state. Counts per type equal the clean batch input —
    duplicates are eliminated across micro-batches, not just within one.

    At 100 TB/day this is the ingestion-front dedup: state is one id per
    event inside the watermark horizon, evicted as event time advances."""
    ev = stream_events(spark, sf_dir).select("event_id", "ts", "event_type")
    doubled = ev.unionByName(ev).withWatermark("ts", "1 hour")
    # dropDuplicatesWithinWatermark, NOT dropDuplicates([id]): with a plain
    # subset that excludes the event-time column the watermark never evicts
    # dedup state (one entry per event forever on an unbounded stream).
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))
    return run_to_tables([(agg, "stream_dedup_events")], mode="complete")[0]


@query(
    "stream_hourly_active_users",
    oracle="""
    SELECT CAST(epoch_us(ts) // CAST(3600000000 AS BIGINT) AS BIGINT) * 3600
             AS wstart,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
    """,
    tags=("streaming", "dedup", "window-time"),
)
def stream_hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT distinct count: active users per tumbling hour — the
    DAU/MAU primitive. Streaming aggregation cannot hold COUNT(DISTINCT)
    directly (distinct state inside an agg isn't incremental), so the
    standard decomposition: watermark → ``dropDuplicatesWithinWatermark``
    on (hour, user) — dedup state is one (hour, user) entry inside the
    watermark horizon, evicted as event time advances (duplicates of a
    (user, hour) pair are at most an hour apart in event time, inside the
    bound) — then an ordinary incremental count per hour, which is now a
    distinct-user count. n_events comes from a parallel plain count on
    the un-deduped stream, joined post-sink (both aggregate-sized).
    Events later than the watermark are dropped by design (streaming
    semantics); the fixture file source replays in order, so the oracle
    sees the same multiset.

    At 100 TB/day: dedup + count state partitioned by (hour, user) /
    hour in the state store; for unbounded cardinality swap exact dedup
    for HLL (`approx_distinct_parts` is the batch form, with its bounded
    error contract)."""
    ev = stream_events(spark, sf_dir).select(
        "ts", F.expr("unix_micros(ts) div 3600000000").alias("h"), "user_id"
    )
    dd = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["h", "user_id"])
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )
    totals = ev.groupBy("h").agg(F.count(F.lit(1)).alias("n_events"))
    # Independent streams (deduped vs raw counts) run concurrently — one
    # combined wall-clock instead of two serial bridge latencies; each
    # sink is fully materialized before the join reads it.
    left, right = run_to_tables(
        [
            (dd, "stream_hourly_active_users_dd"),
            (totals, "stream_hourly_active_users_tot"),
        ],
        mode="complete",
    )
    return (
        left.join(right, "h")
        .select(
            (F.col("h") * 3600).alias("wstart"),
            "n_active_users",
            "n_events",
        )
    )


stream_ohlc_hourly = stream_twin(
    "stream_ohlc_hourly", "ohlc_hourly_purchases", ("streaming", "resample", "ohlc")
)


stream_sliding_1h_15m = stream_twin(
    "stream_sliding_1h_15m", "window_sliding_1h_15m", ("streaming", "window-time")
)


stream_session_window_30m = stream_twin(
    "stream_session_window_30m",
    "session_window_30m",
    ("streaming", "window-time", "session"),
)


_SESSION_GAP_US = 1_800_000_000  # 30 minutes, the tier's shared gap
_TOPK_PER_SESSION = 3


def _session_topk_fn(
    key: Tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user session state as MERGED INTERVALS with per-type counts:
    each micro-batch inserts its events and re-chains intervals whose
    gap is < 30 min (interval extremes are all that future merges can
    touch, so event-level granularity inside a closed interval is
    droppable — the state bound is sessions × types, never raw events).
    Emits the user's FULL current session list each batch plus a
    monotone update counter; the post-stream reconcile keeps each
    user's LAST emit, which is batch-split- and arrival-order-
    independent because interval merging is confluent: late events
    bridging two previously-separate sessions simply merge them on
    arrival, and the superseded emit loses by the counter."""
    sessions: list = []  # [start_us, end_us, {type: cnt}]
    upd = 0
    if state.exists:
        starts, ends, sess_of, types, cnts, upd = state.get
        sessions = [[s, e, {}] for s, e in zip(starts, ends)]
        for i, t, c in zip(sess_of, types, cnts):
            sessions[i][2][t] = c
    new = []
    for pdf in pdf_iter:
        new.extend(
            (int(us), t) for us, t in zip(pdf["us"], pdf["event_type"])
        )
    for us, t in new:
        sessions.append([us, us, {t: 1}])
    sessions.sort(key=lambda s: s[0])
    merged: list = []
    for s in sessions:
        if merged and s[0] - merged[-1][1] < _SESSION_GAP_US:
            m = merged[-1]
            m[1] = max(m[1], s[1])
            for t, c in s[2].items():
                m[2][t] = m[2].get(t, 0) + c
        else:
            merged.append(s)
    upd += 1
    starts, ends, sess_of, types, cnts = [], [], [], [], []
    for i, (s, e, tc) in enumerate(merged):
        starts.append(s)
        ends.append(e)
        for t, c in tc.items():
            sess_of.append(i)
            types.append(t)
            cnts.append(c)
    state.update((starts, ends, sess_of, types, cnts, upd))
    top_types, top_counts = [], []
    for _s, _e, tc in merged:
        top = sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))
        top = top[:_TOPK_PER_SESSION]
        top_types.append([t for t, _ in top])
        top_counts.append([c for _, c in top])
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "upd": [upd],
            "starts": [[s // 1_000_000 for s, _, _ in merged]],
            "n_events": [[sum(tc.values()) for _, _, tc in merged]],
            "top_types": [top_types],
            "top_counts": [top_counts],
        }
    )


@query(
    "stream_session_topk_event_types",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_no,
             CAST(MIN(epoch_us(ts)) // 1000000 AS BIGINT) AS session_start,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM numbered GROUP BY user_id, session_no
    ), typed AS (
      SELECT user_id, session_no, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_type_events
      FROM numbered GROUP BY user_id, session_no, event_type
    ), ranked AS (
      SELECT user_id, session_no, event_type, n_type_events,
             CAST(row_number() OVER (PARTITION BY user_id, session_no
                                     ORDER BY n_type_events DESC, event_type)
                  AS INTEGER) AS rank
      FROM typed
    )
    SELECT s.user_id, s.session_start, s.n_events,
           r.rank, r.event_type, r.n_type_events
    FROM sessions s JOIN ranked r USING (user_id, session_no)
    WHERE r.rank <= 3
    """,
    tags=("streaming", "stateful", "session", "topk"),
)
def stream_session_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION top-K: for every user session (30-minute gap,
    the tier's shared convention), the session's total event count and
    its top-3 event types — "what did this session mostly do", the shape
    a product-analytics stream emits per visit. Combines the two
    stateful primitives the tier already certifies separately: session
    merging (`stream_session_window_30m`) and ranked keyed state
    (`stream_topk_users_per_window`) — but the built-in session_window
    cannot express it (grouping by (session_window, event_type) would
    sessionize each TYPE's events independently, giving different
    session boundaries per type), so sessions live as explicit keyed
    state via ``applyInPandasWithState``: merged intervals with
    per-type counts, re-chained on every batch (late events bridging
    two sessions merge them — confluent under any batch split, which
    the multi-batch test pins). Each batch re-emits the user's full
    session list with a monotone update counter; the post-stream
    reconcile keeps the last emit and explodes it to ranked rows.

    State/scale: per user, sessions × distinct-types rows — interval
    extremes + type counts, never raw events; state store partitioned
    by user, nothing on the driver. Ranking ties break by event_type
    ascending (deterministic in both engines)."""
    ev = stream_events(spark, sf_dir).select(
        "user_id", F.expr("unix_micros(ts)").alias("us"), "event_type"
    )
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _session_topk_fn,
        outputStructType=(
            "user_id bigint, upd bigint, starts array<bigint>, "
            "n_events array<bigint>, top_types array<array<string>>, "
            "top_counts array<array<bigint>>"
        ),
        stateStructType=(
            "starts array<bigint>, ends array<bigint>, sess_of array<int>, "
            "types array<string>, cnts array<bigint>, upd bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    (per_batch,) = run_to_tables(
        [(updated, "stream_session_topk_event_types")], mode="update"
    )
    last = per_batch.groupBy("user_id").agg(
        F.max(
            F.struct("upd", "starts", "n_events", "top_types", "top_counts")
        ).alias("s")
    )
    sessions = last.select(
        "user_id",
        F.explode(
            F.arrays_zip("s.starts", "s.n_events", "s.top_types", "s.top_counts")
        ).alias("z"),
    ).select(
        "user_id",
        F.col("z.starts").alias("session_start"),
        F.col("z.n_events").alias("n_events"),
        F.posexplode(F.arrays_zip("z.top_types", "z.top_counts")).alias(
            "i", "tc"
        ),
    )
    return sessions.select(
        "user_id",
        "session_start",
        "n_events",
        (F.col("i") + 1).cast("int").alias("rank"),
        F.col("tc.top_types").alias("event_type"),
        F.col("tc.top_counts").alias("n_type_events"),
    )


def _ingest_dedup_fn(
    key: Tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-fingerprint ingest state: the set of batch doc_ids seen so far
    plus the (static-join-provided) old-index membership flag. Each
    micro-batch merges arrivals and re-emits the fingerprint's FULL id
    list with a monotone update counter — arrival order and batch splits
    cannot change the final reconciled emit (set union is confluent), so
    keep-MIN stays deterministic even when a smaller doc_id arrives
    AFTER a larger one was provisionally 'novel'. State is
    cluster-size-bounded (ids of THIS fingerprint only)."""
    ids: set = set()
    in_old = False
    upd = 0
    if state.exists:
        prev_ids, prev_old, upd = state.get
        ids = set(prev_ids)
        in_old = bool(prev_old)
    for pdf in pdf_iter:
        ids.update(int(i) for i in pdf["doc_id"])
        if pdf["in_old"].notna().any():
            in_old = True
    upd += 1
    state.update((sorted(ids), in_old, upd))
    yield pd.DataFrame(
        {
            "fp": [key[0]],
            "upd": [upd],
            "ids": [sorted(ids)],
            "in_old": [in_old],
        }
    )


@query(
    "stream_ingest_dedup_status",
    oracle=INCR_DEDUP_ORACLE,  # the batch twin's oracle, shared verbatim
    tags=("streaming", "dedup", "incremental", "stateful"),
)
def stream_ingest_dedup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental ingest dedup — `dedup_incremental_new_batch`
    as a continuously-running pipeline: the document firehose is
    stream-static LEFT-joined against the ingested fingerprint INDEX
    (static side — in production a stored 16-byte-key table), then
    per-fingerprint keyed state accumulates the batch doc_ids so the
    keep-MIN convention holds under ANY arrival order: a doc that looked
    'novel' in batch 1 is demoted to 'dup_in_batch' when a smaller
    doc_id arrives later — which is why the state holds the id SET and
    each batch re-emits the full list with an update counter; the
    post-stream reconcile keeps the last emit per fingerprint and
    derives every member's status in one pass (in_old → dup_of_old;
    id ≠ min → dup_in_batch; else novel). Same oracle as the batch twin
    — the two forms share ONE statement of the semantics and must agree
    row-for-row.

    State/scale: per fingerprint, the ids of ITS batch duplicates only
    (cluster-size-bounded); the static index join is fp-keyed hash; the
    state store partitions by fingerprint. The adversarial-split test
    delivers the smaller doc_id in the LATER batch and asserts the
    demotion."""
    docs = stream_table(spark, sf_dir, "documents").select(
        "doc_id", content_fp().alias("fp")
    )
    old_fp = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _INCR_OLD_MAX)
        .select(content_fp().alias("fp"))
        .distinct()
        .withColumn("in_old", F.lit(True))
    )
    batch = docs.filter(F.col("doc_id") >= _INCR_OLD_MAX).join(
        old_fp, "fp", "left"
    )
    updated = batch.groupBy("fp").applyInPandasWithState(
        _ingest_dedup_fn,
        outputStructType=(
            "fp string, upd bigint, ids array<bigint>, in_old boolean"
        ),
        stateStructType="ids array<bigint>, in_old boolean, upd bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    (per_batch,) = run_to_tables(
        [(updated, "stream_ingest_dedup_status")], mode="update"
    )
    last = per_batch.groupBy("fp").agg(
        F.max(F.struct("upd", "ids", "in_old")).alias("s")
    )
    exploded = last.select(
        "fp",
        F.col("s.in_old").alias("in_old"),
        F.array_min("s.ids").alias("first_doc"),
        F.explode("s.ids").alias("doc_id"),
    )
    return exploded.select(
        "doc_id",
        F.when(F.col("in_old"), "dup_of_old")
        .when(F.col("doc_id") != F.col("first_doc"), "dup_in_batch")
        .otherwise("novel")
        .alias("status"),
    )



# ---------------------------------------------------------------------------
# Kafka source (guarded): the production ingest for this tier
# ---------------------------------------------------------------------------

_KAFKA_PROVIDER = "org.apache.spark.sql.kafka010.KafkaSourceProvider"


def kafka_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector JAR is on the session's
    classpath. The connector is a JVM artifact, not a Python package, so
    the guard asks the JVM — via Spark's own loader-aware lookup
    (``Utils.classForName``), because plain ``java.lang.Class.forName``
    resolves against the root classloader and cannot see jars loaded
    after JVM start via ``spark.jars.packages`` (it would report False in
    exactly the deployment that configured the connector that way)."""
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(  # noqa: SLF001
            _KAFKA_PROVIDER, True, False
        )
        return True
    except Exception:
        pass
    try:  # fallback for JVMs where the Utils signature differs
        spark._jvm.java.lang.Class.forName(_KAFKA_PROVIDER)  # noqa: SLF001
        return True
    except Exception:
        return False


def stream_events_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "events",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """readStream over a Kafka topic carrying JSON-encoded event rows,
    normalized to the SAME schema/semantics as the file source
    (``stream_events``) — every windowed query downstream runs unchanged on
    either source; only this constructor differs. At 100 TB/day this is the
    firehose path: one source partition per Kafka partition, watermarks and
    state handling identical to the file-source twins.

    Raises a clear RuntimeError when the connector JAR is absent (this
    container ships without it; add
    ``org.apache.spark:spark-sql-kafka-0-10_2.13`` to spark.jars.packages
    in a deployment that ingests from Kafka)."""
    if not kafka_available(spark):
        raise RuntimeError(
            "Kafka source requested but the spark-sql-kafka connector is "
            "not on the classpath; add org.apache.spark:spark-sql-kafka-"
            "0-10_2.13 to spark.jars.packages"
        )
    tune(spark)
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), _RAW_EVENTS).alias("e")
    ).select("e.*")
    return parsed.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


# ---------------------------------------------------------------------------
# Streaming CDC apply: incremental MERGE converging to the batch answer
# ---------------------------------------------------------------------------


@query(
    "stream_merge_upsert",
    # the SAME oracle as the batch MERGE: incremental must converge to it
    oracle=relational.MERGE_ORACLE,
    tags=("streaming", "merge", "cdc"),
)
def stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse streaming-upsert pattern: the event log arrives in
    micro-batches (foreachBatch) and each batch is MERGEd into a gold
    state table with a (ts, event_id) version guard — a change applies
    only if it is newer than the last change already applied to its key.
    The guard makes the final state independent of how events are split
    across batches (late or reordered arrivals cannot regress a key), so
    the incremental result converges to EXACTLY the one-shot batch MERGE
    (merge_upsert_customers) — certified by sharing its oracle verbatim.

    State layout: a parquet gold table keyed by c_custkey carrying the
    base attributes, the last-applied change's (op, value, ts, event_id),
    and the original balance (batch semantics apply the LATEST change to
    the ORIGINAL balance, not cumulatively). Each batch is one full-outer
    join of gold vs the batch's per-key latest change, written to a fresh
    directory and swapped in — the transactional-commit pattern Delta's
    log provides, done here with directory renames. At 100 TB the gold
    table is bucketed by key so each micro-batch join is shuffle-free."""
    import shutil

    tune(spark)

    scratch = os.path.join(os.path.dirname(_CHECKPOINTS), "cdc")
    sfb = os.path.basename(sf_dir.rstrip("/"))
    src = os.path.join(scratch, sfb, "src")
    gold = os.path.join(scratch, sfb, "gold")
    ckpt = os.path.join(scratch, sfb, "ckpt")
    # Stage the event log as multiple files so availableNow yields real
    # micro-batches. Staged through the production read path (footer schema
    # + normalize_ts) so ts is a real TIMESTAMP regardless of fixture
    # storage — a hardcoded `ts long` schema here reproduced the
    # CORRECTNESS_r03 unit bug (raw µs treated as ns). Cache is keyed on a
    # fixture fingerprint marker so a regenerated fixture rebuilds the
    # staging instead of silently serving stale/unit-mismatched data.
    marker = os.path.join(scratch, sfb, "src.fingerprint")
    fp = repr(_table_fingerprint(sf_dir, "events"))
    stale = True
    if os.path.isdir(src) and os.path.isfile(marker):
        with open(marker) as fh:
            stale = fh.read() != fp
    if stale:
        shutil.rmtree(src, ignore_errors=True)
        normalize_ts(
            spark.read.parquet(os.path.join(os.path.abspath(sf_dir), "events.parquet"))
        ).repartition(6).write.mode("overwrite").parquet(src)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w") as fh:
            fh.write(fp)
    # Fresh state every invocation: the query is deterministic end to end.
    shutil.rmtree(gold, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("orig_bal"),
        F.lit(None).cast("double").alias("val"),
        F.lit(None).cast("string").alias("last_op"),
        F.lit(None).cast("long").alias("last_us"),
        F.lit(None).cast("long").alias("last_eid"),
    )
    base.write.mode("overwrite").parquet(gold)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("key").orderBy(F.desc("us"), F.desc("eid"))
        changes = (
            batch_df.select(
                (F.col("user_id") * 11).alias("key"),
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("eid"),
                F.when(F.col("event_type") == "error", F.lit("delete"))
                .otherwise(F.lit("upsert"))
                .alias("op"),
                "value",
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        g = batch_df.sparkSession.read.parquet(gold)
        j = g.alias("g").join(changes.alias("c"), "key", "full_outer")
        newer = F.col("c.op").isNotNull() & (
            F.col("g.last_us").isNull()
            | (F.col("c.us") > F.col("g.last_us"))
            | (
                (F.col("c.us") == F.col("g.last_us"))
                & (F.col("c.eid") > F.col("g.last_eid"))
            )
        )
        merged = j.select(
            "key",
            F.col("g.name").alias("name"),
            F.coalesce(F.col("g.orig_bal"), F.lit(0.0)).alias("orig_bal"),
            F.when(
                newer,
                F.when(F.col("c.op") == "delete", F.lit(None).cast("double"))
                .otherwise(F.col("c.value")),
            ).otherwise(F.col("g.val")).alias("val"),
            F.when(newer, F.col("c.op")).otherwise(F.col("g.last_op")).alias("last_op"),
            F.when(newer, F.col("c.us")).otherwise(F.col("g.last_us")).alias("last_us"),
            F.when(newer, F.col("c.eid")).otherwise(F.col("g.last_eid")).alias(
                "last_eid"
            ),
        )
        tmp = gold + f"__b{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        old = gold + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(gold, old)
        os.rename(tmp, gold)
        shutil.rmtree(old, ignore_errors=True)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from ..functions.exact import rnd

    final = spark.read.parquet(gold)
    return final.filter(
        F.coalesce(F.col("last_op"), F.lit("keep")) != "delete"
    ).select(
        F.col("key").alias("c_custkey"),
        F.coalesce(
            F.col("name"), F.concat(F.lit("cdc-"), F.col("key").cast("string"))
        ).alias("c_name"),
        rnd(F.col("orig_bal") + F.coalesce(F.col("val"), F.lit(0.0)), 2).alias(
            "c_acctbal"
        ),
    )


@query(
    "stream_enrich_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, e.event_type,
           c.c_mktsegment, CAST(c.c_nationkey AS BIGINT) AS c_nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    tags=("streaming", "join", "enrich"),
)
def stream_enrich_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined per
    micro-batch against a STATIC dimension table (customer) — the
    standard streaming-ETL shape (enrich-on-ingest), stateless, append
    mode, no watermark needed because the static side never changes.

    The dimension carries NO hard hint (customer scales with SF): each
    micro-batch plans a broadcast hash join while the static side fits the
    size threshold — the stream side never shuffles and enrichment runs at
    scan speed — and degrades to a shuffled join rather than an executor
    OOM when it doesn't. Oracle = the same join in batch SQL (unified
    semantics: same input, same answer)."""
    ev = stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    # No hint on customer (SF-scaled): per micro-batch Spark joins the
    # static side by size — broadcast at test SF, shuffled hash at scale.
    joined = ev.join(cust, ev.user_id == cust.c_custkey).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "c_mktsegment",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
    )
    return run_to_tables([(joined, "stream_enrich_static_join")], mode="append")[0]


def _anomaly_fn(
    key: Tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Trailing-20 z-score per user with the window history in GroupState.

    Exactness contract (must equal the batch operator bit-for-bit): values
    enter the window as integer CENTS (HALF_UP, the DECIMAL(18,2) cast),
    power sums are integer arithmetic, and the closed-form mean/std/z is
    evaluated with the same IEEE expression order as the batch/oracle SQL
    (see operators/stats.anomaly_zscore_events)."""
    import math

    hist = list(state.get[0]) if state.exists else []
    frames = [pdf for pdf in pdf_iter]
    pdf = pd.concat(frames).sort_values(["ts_us", "event_id"])
    out = {k: [] for k in (
        "user_id", "event_id", "ts_us", "value",
        "n_window", "mean_20", "std_20", "z", "flag",
    )}

    def r(x: float, nd: int) -> float:
        if math.isnan(x):  # the batch twin's floor(NaN·p + 0.5) is NaN
            return x
        p = 10 ** nd
        return math.floor(x * p + 0.5) / p

    for ev_id, ts_us, v in zip(pdf["event_id"], pdf["ts_us"], pdf["value"]):
        v = float(v)
        scaled = v * 100
        cents = int(
            math.floor(scaled + 0.5) if scaled >= 0 else math.ceil(scaled - 0.5)
        )
        hist.append(cents)
        if len(hist) > 20:
            hist = hist[-20:]
        n = len(hist)
        sx = sum(hist) / 100.0
        sxx = sum(c * c for c in hist) / 10000.0
        mean_w = sx / n
        if n >= 2:
            # Float rounding can drive the closed-form variance a few ulps
            # negative on an all-identical window; the batch twin's F.sqrt
            # yields NaN there (not an error), so mirror that instead of
            # letting math.sqrt raise and kill the whole stream.
            arg = (n * sxx - sx * sx) / (float(n) * (n - 1))
            std_w = math.sqrt(arg) if arg >= 0 else float("nan")
        else:
            std_w = None
        # Batch semantics: std NULL or 0 -> z NULL (nullif path); std NaN
        # -> z NaN (propagates, never flags).
        if std_w is None or std_w == 0:
            z = None
        else:
            z = r((v - mean_w) / std_w, 3)
        out["user_id"].append(key[0])
        out["event_id"].append(ev_id)
        out["ts_us"].append(ts_us)
        out["value"].append(v)
        out["n_window"].append(n)
        out["mean_20"].append(r(mean_w, 2))
        out["std_20"].append(r(std_w, 4) if std_w is not None else None)
        out["z"].append(z)
        out["flag"].append(
            "anomaly" if (n >= 10 and z is not None and abs(z) >= 2.0) else "ok"
        )
    state.update((hist,))
    yield pd.DataFrame(out)


@query(
    "stream_anomaly_zscore",
    # the batch operator's oracle verbatim (unified semantics)
    oracle=_REGISTRY["anomaly_zscore_events"].oracle,
    tags=("streaming", "stateful", "anomaly"),
)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rolling z-score anomaly detector (anomaly_zscore_events) as a
    CUSTOM STATEFUL STREAMING operator: per-user trailing-20 window history
    kept in explicit GroupState, scored incrementally per micro-batch —
    the alerting deployment of the batch metric, sharing its oracle
    verbatim because the cent-exact arithmetic contract makes stream and
    batch bit-identical.

    Ordering: rows are event-time-sorted WITHIN each micro-batch; across
    batches the file source must deliver time-ordered files (true for an
    append-only event log). Out-of-order arrivals would need watermarked
    buffering before scoring — documented limit, same as any stateful
    scorer."""
    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    scored = ev.groupBy("user_id").applyInPandasWithState(
        _anomaly_fn,
        outputStructType=(
            "user_id bigint, event_id bigint, ts_us bigint, value double,"
            " n_window bigint, mean_20 double, std_20 double, z double,"
            " flag string"
        ),
        stateStructType="hist array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_tables([(scored, "stream_anomaly_zscore")], mode="append")[0]


_TOPK_PER_WINDOW = 3


def _topk_window_fn(
    key: Tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Ranked keyed state: per hour-window, full per-user counts held in
    parallel arrays (users, counts); each micro-batch merges its counts
    and re-emits the window's current top-K (count desc, user_id asc —
    deterministic under any batch split). Exact top-K needs the full
    count map — the state bound is the window's distinct-user
    cardinality, evicted wholesale when the window ages out (see the
    operator docstring for the sketch alternative at unbounded-key
    scale)."""
    if state.exists:
        users, counts = state.get
        acc = dict(zip(users, counts))
    else:
        acc = {}
    for pdf in pdf_iter:
        for uid, c in pdf["user_id"].value_counts().items():
            acc[int(uid)] = acc.get(int(uid), 0) + int(c)
    state.update((list(acc.keys()), list(acc.values())))
    top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:_TOPK_PER_WINDOW]
    yield pd.DataFrame(
        {
            "wstart": [key[0] * 3600],
            "n_total": [sum(acc.values())],
            "users": [[u for u, _ in top]],
            "counts": [[c for _, c in top]],
        }
    )


@query(
    "stream_topk_users_per_window",
    oracle="""
    WITH c AS (
      SELECT CAST(epoch_us(ts) // CAST(3600000000 AS BIGINT) AS BIGINT) * 3600
               AS wstart,
             user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT wstart, user_id, n,
             CAST(row_number() OVER (PARTITION BY wstart
                                     ORDER BY n DESC, user_id) AS INTEGER)
               AS rank
      FROM c
    )
    SELECT wstart, rank, user_id, n AS n_events FROM r WHERE rank <= 3
    """,
    tags=("streaming", "stateful", "topk"),
)
def stream_topk_users_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-K: the 3 most active users per tumbling hour window,
    maintained incrementally as RANKED KEYED STATE via
    ``applyInPandasWithState`` — the leaderboard shape (trending
    items/heavy hitters per window) that windowed aggregation alone
    cannot express because ranking needs cross-group comparison within
    the window. Each micro-batch merges per-user counts into the
    window's state and re-emits the current top-3; the last emit per
    window (highest n_total — the count is monotone across batches)
    equals the batch answer, which is what the oracle checks.

    State/scale: exact top-K requires the window's full per-user count
    map (a lower-ranked user can overtake later), so state is bounded
    by distinct users per window — the standard exactness trade; at
    unbounded key cardinality swap the in-state map for a Misra–Gries
    summary (`frequent_terms_sketch` is this repo's batch form, with
    its documented superset-not-exact guarantee). State lives in the
    state store partitioned by the hour key, never on the driver; the
    post-stream rank explode touches K rows per window.
    """
    ev = stream_events(spark, sf_dir).select(
        F.expr("unix_micros(ts) div 3600000000").alias("h"), "user_id"
    )
    updated = ev.groupBy("h").applyInPandasWithState(
        _topk_window_fn,
        outputStructType=(
            "wstart bigint, n_total bigint, users array<bigint>, "
            "counts array<bigint>"
        ),
        stateStructType="users array<bigint>, counts array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    (per_batch,) = run_to_tables(
        [(updated, "stream_topk_users_per_window")], mode="update"
    )
    final = (
        per_batch.groupBy("wstart")
        .agg(F.max(F.struct("n_total", "users", "counts")).alias("s"))
        .select(
            "wstart",
            F.posexplode(F.arrays_zip("s.users", "s.counts")).alias("i", "uc"),
        )
    )
    return final.select(
        "wstart",
        (F.col("i") + 1).cast("int").alias("rank"),
        F.col("uc.users").alias("user_id"),
        F.col("uc.counts").alias("n_events"),
    )


stream_dow_hour_profile = stream_twin(
    "stream_dow_hour_profile",
    "events_dow_hour_profile",
    ("streaming", "seasonality", "stats"),
)


@query(
    "stream_backlog_daily",
    oracle=_REGISTRY["order_fulfillment_backlog"].oracle,
    tags=("streaming", "inventory", "prefix-sum"),
)
def stream_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog series computed INCREMENTALLY — the streaming
    twin of temporal.order_fulfillment_backlog under its oracle, sharing
    its per-order close-day cells and its `_backlog_report` derivation.

    Shares only those two pieces, not a whole ``Twin``: a complete-mode
    sink needs an aggregate, so the per-order open day is a keyed
    min(o_orderdate) here (o_orderkey is unique, so min is just the
    value, and min keeps the fold idempotent under replays) where the
    batch query reads the plain projection. State is one int64 per order
    key on each side; the two streams aggregate different inputs and only
    meet in the report, so they run concurrently."""
    od_s = (
        stream_table(spark, sf_dir, "orders")
        .groupBy("o_orderkey")
        .agg(
            F.min(
                F.expr("unix_micros(o_orderdate) div 1000000 div 86400")
            ).alias("dopen")
        )
    )
    cd_s = temporal._backlog_closes(spark, sf_dir, stream_table)
    od, cd = run_to_tables(
        [(od_s, "stream_backlog_opens"), (cd_s, "stream_backlog_closes")]
    )
    return temporal._backlog_report(od, cd)


stream_trade_balance_matrix = stream_twin(
    "stream_trade_balance_matrix",
    "nation_trade_balance_matrix",
    ("streaming", "tpch", "join", "matrix"),
)


stream_weekly_trend = stream_twin(
    "stream_weekly_trend", "order_volume_weekly_trend", ("streaming", "trend", "agg")
)


stream_event_mix_drift = stream_twin(
    "stream_event_mix_drift",
    "event_mix_weekly_drift",
    ("streaming", "events", "drift", "stats"),
)


stream_leadtime_weekly_trend = stream_twin(
    "stream_leadtime_weekly_trend",
    "leadtime_weekly_trend",
    ("streaming", "tpch", "percentile", "trend"),
)


stream_user_lifetime_spans = stream_twin(
    "stream_user_lifetime_spans",
    "events_user_lifetime_span_percentiles",
    ("streaming", "users", "percentile"),
    persist=True,
)


stream_return_rate_matrix = stream_twin(
    "stream_return_rate_matrix",
    "return_rate_by_nation_parttype",
    ("streaming", "tpch", "join", "matrix", "quality"),
)


stream_pricing_summary = stream_twin(
    "stream_pricing_summary", "q1_pricing_summary", ("streaming", "agg", "flagship")
)


stream_part_demand_concentration = stream_twin(
    "stream_part_demand_concentration",
    "part_demand_concentration",
    ("streaming", "stats", "percentile", "concentration"),
    persist=True,
)


@query(
    "stream_doc_token_concentration",
    oracle=_REGISTRY["doc_token_concentration_by_source"].oracle,
    tags=("streaming", "text", "llm", "percentile", "concentration"),
)
def stream_doc_token_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source token-mass concentration maintained INCREMENTALLY — the
    streaming twin of llm.text.doc_token_concentration_by_source under
    its oracle, sharing its `_token_concentration_report` fold.

    Shares only the report, not a whole ``Twin``, because the p90
    threshold takes a different percentile form ON PURPOSE: the batch
    query narrows over per-doc rows (`kth_order_statistics_by`), while
    here the sink already IS the (source, n_tokens) count histogram, so
    the threshold comes from the histogram closed form (same
    percentile_disc semantics; the twin test pins that the two agree).
    State is |sources| × |distinct token counts|, bounded by the corpus's
    length-cap policy rather than by doc volume."""
    from ..functions.ranks import hist_cume_counts, hist_disc_percentile

    cells_s = (
        text._doc_token_rows(spark, sf_dir, stream_table)
        .groupBy("source", "n_tokens")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    (cells,) = run_to_tables([(cells_s, "stream_doc_token_cells")])
    th = (
        hist_cume_counts(cells, ["source"], "n_tokens", m_col="m")
        .groupBy("source")
        .agg(hist_disc_percentile("n_tokens", 0.9, "threshold_tokens"))
    )
    return text._token_concentration_report(cells, th)


stream_orders_priority_mix_drift = stream_twin(
    "stream_orders_priority_mix_drift",
    "orders_priority_mix_weekly_drift",
    ("streaming", "tpch", "trend", "drift"),
)


stream_discount_band_margin = stream_twin(
    "stream_discount_band_margin",
    "discount_band_margin_report",
    ("streaming", "tpch", "agg", "pricing"),
)


stream_order_linecount_distribution = stream_twin(
    "stream_order_linecount_distribution",
    "order_linecount_distribution",
    ("streaming", "tpch", "stats", "histogram", "skew"),
    persist=True,
)


stream_customer_revenue_concentration = stream_twin(
    "stream_customer_revenue_concentration",
    "customer_revenue_concentration",
    ("streaming", "stats", "percentile", "iterative", "concentration"),
    persist=True,
)


stream_priority_leadtime_sla = stream_twin(
    "stream_priority_leadtime_sla",
    "priority_leadtime_sla_profile",
    ("streaming", "tpch", "percentile", "quality"),
    persist=True,
)


stream_modal_priority_by_nation = stream_twin(
    "stream_modal_priority_by_nation",
    "modal_priority_by_nation",
    ("streaming", "tpch", "agg", "mode"),
)


stream_events_value_dow_hour_profile = stream_twin(
    "stream_events_value_dow_hour_profile",
    "events_value_weighted_dow_hour_profile",
    ("streaming", "events", "weighted", "calendar"),
)


stream_events_user_value_concentration = stream_twin(
    "stream_events_user_value_concentration",
    "events_user_value_concentration",
    ("streaming", "events", "stats", "percentile", "iterative", "concentration"),
    persist=True,
)
