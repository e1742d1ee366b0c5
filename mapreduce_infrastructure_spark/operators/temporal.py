"""Temporal / ordered-join operators: as-of join and pivot.

The reference has no notion of time or joins at all (SURVEY.md §2B); these
are the "custom operator" tier — semantics Spark has no single built-in for,
composed from primitives instead of dropping to UDFs.

The as-of join is THE canonical example: for each left row, the most recent
right row at-or-before it per key. A correlated subquery would be a per-row
nested-loop; the scale path used here is the union+window ("merge") form:
union both sides tagged, one window sort per user, carry the latest
right-side row forward with last(ignorenulls). One shuffle on the key, one
sort — exactly the plan a dedicated as-of physical operator (e.g. a
time-series DB's) would produce, and it degrades gracefully under skew via
AQE because it is a plain window aggregation.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.exact import dec, dsum, rnd
from ..registry import TableReader, Twin, query


_SESSION_GAP_US = 30 * 60 * 1_000_000  # the 30-min gap every session query shares


def _gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, sno, s, e) — 30-min-gap sessions over events in integer
    microseconds, THE sessionization every interval/concurrency query
    composes (previously byte-identical inline copies; a gap or tie-break
    edit now lands everywhere at once). The matching oracle CTE lives in
    each query's SQL with the same gap constant."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    numbered = ev.withColumn(
        "new_s",
        F.when(gap.isNull() | (gap >= _SESSION_GAP_US), 1).otherwise(0),
    ).withColumn("sno", F.sum("new_s").over(wrun))
    return numbered.groupBy("user_id", "sno").agg(
        F.min(us).alias("s"), F.max(us).alias("e")
    )


@query(
    "asof_join_purchase_click",
    # Explicit (ts DESC, event_id DESC) tiebreak instead of DuckDB's ASOF
    # JOIN: ASOF picks an ARBITRARY right row among clicks sharing
    # (user_id, ts), while the engine deterministically carries the
    # highest event_id — a latent gate flake on any fixture with duplicate
    # click timestamps. The ranked form pins the same winner the engine's
    # (ts, side, tiebreak) sort produces.
    oracle="""
    WITH m AS (
      SELECT p.event_id,
             p.user_id,
             epoch_us(p.ts) AS purchase_us,
             epoch_us(c.ts) AS click_us,
             c.value AS click_value,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    SELECT event_id, user_id, purchase_us, click_us, click_value
    FROM m WHERE rn = 1
    """,
    tags=("join", "asof", "temporal"),
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click at
    or before it (inner — purchases with no prior click drop, matching
    DuckDB's ASOF JOIN).

    Tagged-window form: ONE scan with a pushed
    event_type IN ('click','purchase') filter projects both sides in place
    (side=0 for clicks, 1 for purchases — an earlier union-of-two-filters
    formulation scanned the events table twice for the same rows), sorted
    per user by (ts, side) so a same-instant click sorts before the
    purchase (>= in the oracle), carrying the last click forward. Cost at
    100 TB: one scan, ONE shuffle on user_id and a per-user sort — no
    nested loop, no range-join explosion; skewed users split by AQE."""
    is_click = F.col("event_type") == "click"
    merged = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            F.col("ts"),
            F.when(is_click, F.lit(0)).otherwise(F.lit(1)).alias("side"),
            F.when(~is_click, F.col("event_id")).alias("event_id"),
            # (ts, side, tiebreak): the unique event_id breaks ties among
            # clicks sharing (user_id, ts) — without it last() picks
            # whichever the sort happened to place last, varying across
            # partitionings.
            F.col("event_id").alias("tiebreak"),
            F.when(
                is_click, F.struct(F.unix_micros("ts").alias("us"), "value")
            ).alias("click"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "tiebreak")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = merged.withColumn(
        "last_click", F.last("click", ignorenulls=True).over(w)
    )
    return (
        merged.filter((F.col("side") == 1) & F.col("last_click").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("purchase_us"),
            F.col("last_click.us").alias("click_us"),
            F.col("last_click.value").alias("click_value"),
        )
    )


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P,
           floor((CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE)) * 100 + 0.5) / 100 AS f_total
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (cross-tab): order counts per priority × status, plus one
    pivoted money sum. The status values are DECLARED (`pivot(col, values)`)
    — omitting them makes Spark run an extra distinct-scan job to discover
    the columns, a full pass you never want at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    counts = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )
    f_total = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(dsum("o_totalprice", "f_total"))
    )
    return counts.join(f_total, "o_orderpriority", "left").na.fill(
        {"f_total": 0.0}
    )


@query(
    "funnel_click_purchase",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS clicked,
           CAST(SUM(CASE WHEN first_click IS NOT NULL AND first_purchase > first_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS converted
    FROM firsts
    """,
    tags=("events", "funnel", "temporal"),
)
def funnel_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: users who clicked, and users whose FIRST purchase
    strictly followed their first click (ordered sequence, not mere
    co-occurrence). One conditional-aggregation pass — the pattern
    generalizes to N steps with N conditional MINs, still one shuffle."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("fc"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("fc").isNotNull(), 1).otherwise(0)).alias("clicked"),
        F.sum(
            F.when(F.col("fc").isNotNull() & (F.col("fp") > F.col("fc")), 1)
            .otherwise(0)
        ).alias("converted"),
    )


@query(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("events", "dedup", "window"),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup (the CDC/upsert compaction pattern): one
    window over (user_id, ts desc) with the unique event_id as tie-break.
    At 100 TB this is how mutable-entity snapshots compact an append log —
    one shuffle on the key, no join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "event_type"
        )
    )


@query(
    "cohort_retention",
    oracle="""
    WITH weekly AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // CAST(604800000000 AS BIGINT) AS BIGINT) AS week
      FROM events
    ), cohorts AS (
      SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id
    )
    SELECT c.cohort_week,
           w.week - c.cohort_week AS week_offset,
           COUNT(DISTINCT w.user_id) AS n_active
    FROM weekly w JOIN cohorts c ON w.user_id = c.user_id
    GROUP BY 1, 2
    """,
    tags=("events", "cohort", "analytics"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the canonical product-analytics rollup:
    users are cohorted by their FIRST active epoch-week, and each cell
    (cohort_week, week_offset) counts distinct users from that cohort
    still active offset weeks later. Weeks are integer epoch-week numbers
    (epoch-µs div a 7-day constant) — pure integer arithmetic, immune to
    engine week-start/timezone conventions.

    Plan shape: distinct (user, week) pairs (one shuffle), a min-window
    per user for the cohort (no second scan, no join back — the window
    partitions by user on the SAME key the distinct just shuffled, so
    Catalyst reuses the partitioning), then the matrix rollup. At 100 TB
    the (user, week) projection is a tiny fraction of the event log and
    every stage shuffles on user or the 2-int matrix key."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id",
        # INTEGER division (div), not `/`: double division + cast can
        # round a quotient sitting just under a week boundary upward
        F.expr("unix_micros(ts) div 604800000000").alias("week"),
    ).distinct()
    w = Window.partitionBy("user_id")
    return (
        weekly.withColumn("cohort_week", F.min("week").over(w))
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "gapfill_hourly_value",
    oracle="""
    WITH obs AS (
      SELECT user_id,
             epoch_us(ts) // CAST(3600000000 AS BIGINT) AS h,
             COUNT(*) AS n_events,
             floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 100 + 0.5) / 100 AS hour_value
      FROM events WHERE user_id <= 40
      GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM obs GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM span
    )
    SELECT g.user_id, g.h,
           CAST(coalesce(o.n_events, 0) AS BIGINT) AS n_events,
           o.hour_value,
           last_value(o.hour_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           CASE WHEN o.n_events IS NULL THEN 'gap' ELSE 'obs' END AS src
    FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
    """,
    tags=("events", "timeseries", "gapfill"),
)
def gapfill_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling + forward fill (as-of interpolation): build
    the dense per-user hourly grid between each user's first and last
    event, left-join the observed hourly sums onto it, and carry the last
    observation forward across the gaps with last(ignorenulls) — the
    standard downsample-then-fill shape (`date_spine`/`LOCF`) that
    dashboards and feature pipelines need over sparse event logs.

    Hours are integer epoch-hours (epoch-µs `div` 3600000000 — pure
    integer math, timezone-proof); hourly sums go through exact DECIMAL
    (`functions/exact.py`) and are rounded BEFORE the fill, so the carried
    values are bit-identical in both engines. The `user_id <= 40` bound is
    a pushed-down predicate that keeps the dense grid SF-independent.

    Plan at scale: hourly pre-aggregation shrinks the log to (keys × hours)
    BEFORE the grid join; the per-user sequence explode emits one row per
    key going in (no shuffle); grid⋈obs shuffles on (user, hour); the fill
    is one window over the same key. Grid size is keys × horizon — bounded
    by the span, not the event volume."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 40)
    obs = (
        ev.groupBy(
            "user_id", F.expr("unix_micros(ts) div 3600000000").alias("h")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum(dec("value")).cast("double"), 2).alias("hour_value"),
        )
    )
    span = obs.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    joined = grid.join(obs, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "h",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        "hour_value",
        F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
        F.when(F.col("n_events").isNull(), "gap").otherwise("obs").alias("src"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), c AS (
      SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           floor(CAST(n_transitions AS DOUBLE)
                 / SUM(n_transitions) OVER (PARTITION BY from_type) * 10000 + 0.5) / 10000 AS p
    FROM c
    """,
    tags=("events", "sequence", "markov"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    count (previous event type → event type) adjacencies and normalize each
    source row to transition probabilities — the behavioral-analytics
    primitive behind next-action prediction and anomaly flows.

    Sequence adjacency comes from one lag window over (user, ts, event_id)
    — unique total order, so the pairing is engine-exact; the probability
    is a ratio of two exact BIGINT counts, deterministic before rounding.
    Plan at 100 TB: one shuffle on user_id for the lag, one tiny rollup to
    the |types|² matrix, one window over that matrix — the heavy stage is
    sequence-building, which any sequence feature needs anyway."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = (
        seq.groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_row = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n_transitions",
        rnd(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_row),
            4,
        ).alias("p"),
    )


@query(
    "interval_overlap_join",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30*60*1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sno
      FROM flagged
    ), sessions AS (
      SELECT user_id, sno,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS s,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS e
      FROM numbered GROUP BY 1, 2
    )
    SELECT a.user_id AS user_a, a.s AS start_a,
           b.user_id AS user_b, b.s AS start_b,
           least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
    FROM sessions a JOIN sessions b
      ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
    """,
    tags=("events", "interval-join", "custom-operator"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join: all cross-user pairs of activity sessions that
    overlap in time — an operator Spark has no built-in for (a raw inequality
    join is quadratic and plans as a nested loop).

    Scale path (the reason this exists): each session explodes into the hour
    buckets it covers, pairs meet with an EQUI-join on the bucket, the true
    overlap predicate filters the candidates, and DISTINCT collapses pairs
    that share several buckets. Sessions are gap-bounded (a 30-min-gap
    session is hours long, not days), so per-session fanout is small and
    bounded; per-bucket cost is |a_h|·|b_h| locally, with AQE splitting hot
    hours. The naive oracle is the all-pairs inequality join — correct by
    construction, quadratic by construction; the engine plan is the one that
    survives 1000× more sessions.

    All arithmetic is integer microseconds (closed intervals, `<=`), so the
    differential check is exact."""
    sessions = _gap_sessions(spark, sf_dir)
    buckets = sessions.withColumn(
        "bucket", F.explode(F.sequence(F.expr("s div 3600000000"), F.expr("e div 3600000000")))
    )
    a = buckets.select(
        F.col("user_id").alias("user_a"),
        F.col("s").alias("start_a"),
        F.col("e").alias("end_a"),
        "bucket",
    )
    b = buckets.select(
        F.col("user_id").alias("user_b"),
        F.col("s").alias("start_b"),
        F.col("e").alias("end_b"),
        "bucket",
    )
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a"))
        )
        .select(
            "user_a",
            "start_a",
            "user_b",
            "start_b",
            (
                F.least("end_a", "end_b") - F.greatest("start_a", "start_b")
            ).alias("overlap_us"),
        )
        .distinct()
    )


@query(
    "concurrent_sessions_peak",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30*60*1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sno
      FROM flagged
    ), sessions AS (
      SELECT user_id, sno,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS s,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS e
      FROM numbered GROUP BY 1, 2
    ), deltas AS (
      SELECT s AS t, 1 AS delta, user_id, s AS st FROM sessions
      UNION ALL
      SELECT e + 1, -1, user_id, s FROM sessions
    ), run AS (
      SELECT t,
             CAST(SUM(delta) OVER (ORDER BY t, delta, user_id, st
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
      FROM deltas
    )
    SELECT (t // 3600000000) * 3600000000 AS hour_start, MAX(c) AS peak
    FROM run GROUP BY 1
    """,
    tags=("events", "interval-agg", "custom-operator"),
)
def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour — the interval-aggregation sweep
    (+1 at session start, -1 just after close; running sum = concurrency).

    The naive sweep is ONE globally-ordered cumulative sum — a single
    partition sorting the whole delta stream, which is exactly what dies at
    scale. The engine computes the identical numbers in two levels:
    in-bucket running sums partitioned by hour (distributed, data-sized)
    plus a prefix over per-bucket totals (single partition, but
    #buckets-sized — time-range metadata, not data). Every value is an
    integer and the sweep order is a total order (t, delta, user, start), so
    engine and naive-oracle trajectories agree exactly.

    Peaks are reported for hours containing at least one change-point
    (closed intervals; a session active through a whole silent hour raises
    no event in it) — the same contract in both formulations."""
    sessions = _gap_sessions(spark, sf_dir)
    deltas = sessions.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "user_id", F.col("s").alias("st")
    ).unionAll(
        sessions.select(
            (F.col("e") + 1).alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
            F.col("s").alias("st"),
        )
    ).withColumn("bucket", F.expr("t div 3600000000"))
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("t", "delta", "user_id", "st")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_run = deltas.withColumn("run_in", F.sum("delta").over(w_in))
    totals = deltas.groupBy("bucket").agg(F.sum("delta").alias("tot"))
    w_buckets = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.withColumn(
        "offset", F.sum("tot").over(w_buckets) - F.col("tot")
    ).select("bucket", "offset")
    return (
        in_run.join(offsets, "bucket")
        .withColumn("c", (F.col("offset") + F.col("run_in")).cast("long"))
        .groupBy((F.col("bucket") * F.lit(3600 * 1_000_000)).alias("hour_start"))
        .agg(F.max("c").alias("peak"))
    )


# --------------------------------------------------------------------------
# Marketing attribution: first-touch / last-touch within a lookback window
# --------------------------------------------------------------------------

@query(
    "attribution_first_last_touch",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts AS cts, event_id AS cid,
             CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS campaign
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT event_id AS pid, user_id, ts AS pts, value
      FROM events WHERE event_type = 'purchase'
    ),
    joined AS (
      SELECT p.pid, p.value, c.cts, c.cid, c.campaign
      FROM purch p JOIN clicks c ON p.user_id = c.user_id
       AND c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 7 DAY
    ),
    ranked AS (
      SELECT pid, value, campaign,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY cts ASC,  cid ASC)  AS rf,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY cts DESC, cid DESC) AS rl
      FROM joined
    ),
    ft AS (
      SELECT campaign, COUNT(*) AS n_first,
             floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 100 + 0.5) / 100 AS rev_first
      FROM ranked WHERE rf = 1 GROUP BY 1
    ),
    lt AS (
      SELECT campaign, COUNT(*) AS n_last,
             floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 100 + 0.5) / 100 AS rev_last
      FROM ranked WHERE rl = 1 GROUP BY 1
    )
    SELECT COALESCE(f.campaign, l.campaign) AS campaign,
           COALESCE(f.n_first, 0) AS n_first,
           COALESCE(f.rev_first, CAST(0 AS DOUBLE)) AS rev_first,
           COALESCE(l.n_last, 0) AS n_last,
           COALESCE(l.rev_last, CAST(0 AS DOUBLE)) AS rev_last
    FROM ft f FULL OUTER JOIN lt l ON f.campaign = l.campaign
    """,
    tags=("temporal", "attribution", "sequence"),
)
def attribution_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase attribution: credit each purchase's value to the user's
    FIRST and LAST click within a 7-day lookback, summed per campaign
    (campaign = props.k mod 5). The canonical marketing-analytics sequence
    op the reference's word-count surface has no analogue for.

    The per-purchase first/last click is one struct-min/max aggregate over
    the lookback join — (ts, event_id) is a total order, so tie-breaks are
    engine-stable — rather than two ranking windows (the oracle's form):
    one shuffle on purchase id instead of two window sorts.

    Scale: the join shuffles both event slices on user_id (fact-fact, the
    unavoidable one); everything after operates on |purchases| rows, then
    |campaigns|. Revenue sums go through DECIMAL per the exact-sum rule.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
        (F.get_json_object("props", "$.k").cast("long") % 5).alias("campaign"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        "value",
    )
    joined = purch.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 7 DAYS")),
    )
    per_purchase = joined.groupBy("pid").agg(
        F.min(F.struct("cts", "cid", "campaign")).alias("ft"),
        F.max(F.struct("cts", "cid", "campaign")).alias("lt"),
        F.first("value").alias("value"),
    )
    ft = per_purchase.groupBy(F.col("ft.campaign").alias("campaign")).agg(
        F.count(F.lit(1)).alias("n_first"), dsum("value", "rev_first")
    )
    lt = per_purchase.groupBy(F.col("lt.campaign").alias("campaign")).agg(
        F.count(F.lit(1)).alias("n_last"), dsum("value", "rev_last")
    )
    return (
        ft.join(lt, "campaign", "full_outer")
        .select(
            "campaign",
            F.coalesce("n_first", F.lit(0)).alias("n_first"),
            F.coalesce("rev_first", F.lit(0.0)).alias("rev_first"),
            F.coalesce("n_last", F.lit(0)).alias("n_last"),
            F.coalesce("rev_last", F.lit(0.0)).alias("rev_last"),
        )
    )


# --------------------------------------------------------------------------
# Time-series resample: hourly OHLC bars
# --------------------------------------------------------------------------

# Shared with streaming.stream.stream_ohlc_hourly (the incremental twin) so
# the batch and streaming resamples can never diverge on the oracle text.
OHLC_ORACLE = """
    WITH e AS (
      SELECT epoch_us(ts) AS us, event_id, value,
             epoch_us(ts) // 3600000000 AS hr
      FROM events WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT hr, value,
             ROW_NUMBER() OVER (PARTITION BY hr ORDER BY us ASC,  event_id ASC)  AS rf,
             ROW_NUMBER() OVER (PARTITION BY hr ORDER BY us DESC, event_id DESC) AS rl
      FROM e
    )
    SELECT hr,
           MAX(CASE WHEN rf = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rl = 1 THEN value END) AS close,
           COUNT(*) AS n_trades
    FROM r GROUP BY hr
    """


def _ohlc_cells(spark: SparkSession, sf_dir: str, read: TableReader) -> DataFrame:
    ev = read(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    us = F.unix_micros(F.col("ts"))
    e = ev.select(
        F.expr("unix_micros(ts) div 3600000000").alias("hr"),
        us.alias("us"),
        "event_id",
        "value",
    )
    return e.groupBy("hr").agg(
        F.min(F.struct("us", "event_id", "value"))["value"].alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.struct("us", "event_id", "value"))["value"].alias("close"),
        F.count(F.lit(1)).alias("n_trades"),
    )


@query(
    "ohlc_hourly_purchases",
    oracle=OHLC_ORACLE,
    tags=("temporal", "resample", "ohlc"),
    twin=Twin(_ohlc_cells),
)
def ohlc_hourly_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample purchase events into hourly OHLC bars (open/high/low/
    close) — the canonical time-series resample.

    Open and close are struct-min/max over the total order (us, event_id),
    so tie-breaks are engine-stable; high/low are plain min/max (no
    summation, so no decimal detour needed). ONE hash aggregate per bucket
    — the oracle's two ranking windows express the same selection but cost
    an extra sort; at 100 TB the aggregate form is partial-aggregatable
    (map-side combine) while a window never is — and the same struct
    Min/Max fold per micro-batch in the streaming twin's state.
    """
    return _ohlc_cells(spark, sf_dir, load_table)


# --------------------------------------------------------------------------
# Value-change islands (SCD2 run collapse)
# --------------------------------------------------------------------------

@query(
    "scd2_event_type_runs",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
    ),
    flagged AS (
      SELECT user_id, event_type, us, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    runs AS (
      SELECT user_id, event_type, us,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged
    ),
    islands AS (
      SELECT user_id, event_type, run_id,
             MIN(us) AS valid_from_us, MAX(us) AS valid_to_us,
             COUNT(*) AS n_events
      FROM runs GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type, valid_from_us, valid_to_us, n_events,
           run_id = MAX(run_id) OVER (PARTITION BY user_id) AS is_current
    FROM islands
    """,
    tags=("temporal", "scd2", "gaps-islands"),
)
def scd2_event_type_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse each user's event stream into runs of consecutive equal
    event types — the gaps-and-islands pattern that builds SCD2 (slowly
    changing dimension) validity intervals from a change stream: one row
    per run with [valid_from, valid_to], its event count, and an
    is_current flag on the latest run.

    The change flag is a lag over the unique total order (us, event_id);
    the run id is its running sum — the standard two-window island
    construction, engine-exact because the order is total and all values
    compared are integers/strings. Scale: both windows and the rollup
    shuffle once on user_id; nothing global.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.select("user_id", "event_type", us.alias("us"), "event_id").withColumn(
        "chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    runs = flagged.withColumn("run_id", F.sum("chg").over(wrun))
    islands = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("us").alias("valid_from_us"),
        F.max("us").alias("valid_to_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wcur = Window.partitionBy("user_id")
    return islands.select(
        "user_id",
        "event_type",
        "valid_from_us",
        "valid_to_us",
        "n_events",
        (F.col("run_id") == F.max("run_id").over(wcur)).alias("is_current"),
    )


@query(
    "event_interarrival_stats",
    oracle="""
    WITH o AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS gap
      FROM events
    ), g AS (
      SELECT event_type, gap FROM o WHERE gap IS NOT NULL
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(gap) AS HUGEINT) AS sg,
             SUM(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS sg2,
             CAST(MIN(gap) AS BIGINT) AS min_gap,
             CAST(MAX(gap) AS BIGINT) AS max_gap
      FROM g GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           floor((CAST(sg AS DOUBLE) / n_gaps / 1000000.0) * 1000000 + 0.5)
             / 1000000 AS mean_gap_sec,
           floor((sqrt(greatest(CAST(sg2 AS DOUBLE) / n_gaps
                                - (CAST(sg AS DOUBLE) / n_gaps)
                                  * (CAST(sg AS DOUBLE) / n_gaps), 0.0))
                  / 1000000.0) * 1000000 + 0.5) / 1000000 AS std_gap_sec,
           floor((CAST(min_gap AS DOUBLE) / 1000000.0) * 1000000 + 0.5)
             / 1000000 AS min_gap_sec,
           floor((CAST(max_gap AS DOUBLE) / 1000000.0) * 1000000 + 0.5)
             / 1000000 AS max_gap_sec
    FROM s
    """,
    tags=("temporal", "stats", "events"),
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival statistics over each user's OWN
    stream of that type (gap = time since the same user's previous
    event of the same type): mean/std/min/max gap in seconds plus gap
    count. The rate-and-burstiness telemetry behind streaming capacity
    choices made elsewhere in this repo — watermark delays and session
    gap thresholds (`_SESSION_GAP_US`) are assumptions about exactly
    this distribution, and a std collapsing toward 0 flags bot/replay
    traffic (metronomic arrivals) that quality filters on content never
    see.

    Determinism/scale: the lag window is per (user, event_type), ordered
    by the unique (epoch-µs, event_id) key — metadata-width rows, the
    same partitioned-window class as `sessionize_gaps`. Gaps are exact
    integer microseconds; Σgap and Σgap² aggregate in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) — exact and associative, so any
    partitioning yields identical bits (Σgap² of µs gaps overflows
    int64 at ~month-scale gaps, hence the wide accumulators; bounds in
    the 38-digit envelope through ~1e9 users × decade spans). The
    variance is computed from the exact sums in ONE double expression
    with identical operand order in both engines (population variance,
    clamped ≥ 0 against last-ulp cancellation), so even the
    cancellation error is bit-identical; outputs round at 1e-6 s = the
    µs grid itself.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        us, F.col("event_id")
    )
    gaps = (
        ev.select("event_type", (us - F.lag(us).over(w)).alias("gap"))
        .filter(F.col("gap").isNotNull())
    )
    d38 = "decimal(38,0)"
    s = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(dec("gap", d38)).alias("sg"),
        F.sum(dec("gap", "decimal(19,0)") * dec("gap", "decimal(19,0)")).alias(
            "sg2"
        ),
        F.min("gap").alias("min_gap"),
        F.max("gap").alias("max_gap"),
    )
    n = F.col("n_gaps")
    mean_us = F.col("sg").cast("double") / n
    var_us = F.greatest(
        F.col("sg2").cast("double") / n - mean_us * mean_us, F.lit(0.0)
    )
    m = F.lit(1_000_000.0)
    return s.select(
        "event_type",
        "n_gaps",
        rnd(mean_us / m, 6).alias("mean_gap_sec"),
        rnd(F.sqrt(var_us) / m, 6).alias("std_gap_sec"),
        rnd(F.col("min_gap").cast("double") / m, 6).alias("min_gap_sec"),
        rnd(F.col("max_gap").cast("double") / m, 6).alias("max_gap_sec"),
    )


# --------------------------------------------------------------------------
# Windowed sequential funnel (3 steps with per-step conversion windows)
# --------------------------------------------------------------------------

@query(
    "funnel_3step_windowed",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click'
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL '7 days'
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL '30 minutes'
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
           (SELECT COUNT(*) FROM s1) AS n_signup,
           (SELECT COUNT(*) FROM s2) AS n_click_7d,
           (SELECT COUNT(*) FROM s3) AS n_purchase_30m,
           CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
             / (SELECT COUNT(*) FROM s1) AS conv_s1_s2,
           CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
             / (SELECT COUNT(*) FROM s2) AS conv_s2_s3
    """,
    tags=("events", "funnel", "temporal"),
)
def funnel_3step_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel with PER-STEP conversion windows: first signup →
    first click within 7 days OF THAT SIGNUP → first purchase within 30
    minutes OF THAT CLICK. Unlike `funnel_click_purchase`'s conditional
    MINs (which only order the global firsts), each step anchors on the
    previous step's qualifying timestamp — the semantics real funnel
    products (and the windowed attribution ops above) define.

    Plan: one cascaded (filter → groupBy user → join) stage per step.
    Every shuffle is keyed on user_id, so the exchanges are co-partitioned
    and each stage's input is the (small) filtered event subset for one
    type with its predicate pushed to the scan; per-step state is one
    timestamp per surviving user — no per-user event sort anywhere, and
    nothing global except the final 1-row scalar summary. Conversion
    ratios are divisions of exact int64 counts (IEEE-deterministic)."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n_users = ev.agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    c1 = s1.agg(F.count(F.lit(1)).alias("n_signup"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n_click_7d"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n_purchase_30m"))
    return (
        n_users.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
        .select(
            "n_users",
            "n_signup",
            "n_click_7d",
            "n_purchase_30m",
            (
                F.col("n_click_7d").cast("double") / F.col("n_signup")
            ).alias("conv_s1_s2"),
            (
                F.col("n_purchase_30m").cast("double") / F.col("n_click_7d")
            ).alias("conv_s2_s3"),
        )
    )


# --------------------------------------------------------------------------
# Time-weighted average (TWAP) per user
# --------------------------------------------------------------------------

@query(
    "twap_purchase_by_user",
    oracle="""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, value
      FROM events WHERE event_type = 'purchase'
    ),
    seg AS (
      SELECT user_id, us, value,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
               AS dur
      FROM p
    ),
    a AS (
      SELECT user_id, COUNT(*) AS n_purchases,
             MIN(us) AS s, MAX(us) AS e,
             SUM(CAST(value AS DECIMAL(18,2)) * dur) AS wsum
      FROM seg GROUP BY user_id
    )
    SELECT user_id, n_purchases, e - s AS span_us,
           floor((CAST(wsum AS DOUBLE) / (e - s)) * 1000000 + 0.5) / 1000000
             AS twap
    FROM a WHERE e > s
    """,
    tags=("events", "temporal", "twap"),
)
def twap_purchase_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average purchase value per user — the resampling-free
    TWAP every tick-store exposes: each value holds until the user's next
    purchase, so the mean weights each price by how long it was 'current'
    (a plain AVG over-weights burst periods). Users with a single purchase
    (zero span) have no defined holding period and drop.

    Exactness: value×duration accumulates in DECIMAL (duration is exact
    int64 micros, value a 2-decimal money double) so the weighted sum is
    associative — identical bits at any partitioning; the final divide is
    one IEEE op, rounded with the shared floor(+0.5) convention.

    Scale: one pushed-filter scan, ONE shuffle on user_id shared by the
    lead() window and the aggregate (same key, co-partitioned), per-user
    state = a sort of that user's purchases — the high-cardinality
    partition key pattern (users grow with data; no stratum squeeze)."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            "value",
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seg = p.withColumn("dur", F.lead("us").over(w) - F.col("us"))
    a = seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.min("us").alias("s"),
        F.max("us").alias("e"),
        F.sum(dec("value") * F.col("dur")).alias("wsum"),
    )
    return a.filter(F.col("e") > F.col("s")).select(
        "user_id",
        "n_purchases",
        (F.col("e") - F.col("s")).alias("span_us"),
        rnd(
            F.col("wsum").cast("double") / (F.col("e") - F.col("s")), 6
        ).alias("twap"),
    )


# --------------------------------------------------------------------------
# Month-over-month revenue growth per nation
# --------------------------------------------------------------------------

@query(
    "revenue_mom_growth_by_nation",
    oracle="""
    WITH m AS (
      SELECT n.n_name AS nation,
             strftime(date_trunc('month', o.o_orderdate), '%Y-%m-%d') AS month,
             floor((CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT nation, month, revenue,
           floor(((revenue - lag(revenue) OVER w)
                  / lag(revenue) OVER w) * 1000000 + 0.5) / 1000000
             AS mom_growth
    FROM m WINDOW w AS (PARTITION BY nation ORDER BY month)
    """,
    tags=("agg", "temporal", "growth"),
)
def revenue_mom_growth_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per nation — the period-over-period
    comparison every revenue dashboard leads with. First month per nation
    reports NULL growth (no prior period), gap months divide against the
    last OBSERVED month (calendar gap-filling is `gapfill_hourly_value`'s
    job, composable upstream).

    Scale: the volume-scaled work is ONE decimal-exact aggregate on
    (nation, month) with broadcast dimension joins; the lag() window runs
    over the AGGREGATE — ≤ |nations|×|months| rows, bounded by the
    calendar not the data, the histogram-input shape the plan guard
    exempts. Growth is a division of two already-rounded doubles, rounded
    with the shared floor(+0.5) convention.

    The month is emitted as a STRING, not DATE: a DATE output column is
    dtype-fragile in differential comparison (pandas upcasts DuckDB DATE
    to datetime64 while Spark yields datetime.date — same value, different
    stringification), so calendar buckets cross the compare as ISO
    strings."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    # customer is SF-scaled: no broadcast hint (AQE picks the strategy at
    # runtime); nation is a fixed 25-row dimension and stays broadcast.
    m = (
        o.join(c.select("c_custkey", "c_nationkey"),
               o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format(
                F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd"
            ).alias("month"),
        )
        .agg(dsum("o_totalprice", "revenue"))
    )
    w = Window.partitionBy("nation").orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "nation",
        "month",
        "revenue",
        rnd((F.col("revenue") - prev) / prev, 6).alias("mom_growth"),
    )


# Shared with the streaming twin in streaming/stream.py (the OHLC_ORACLE
# pattern): one statement of the dow/hour cell grid and the share/chi2
# arithmetic, so batch and stream cannot drift.
DOW_HOUR_PROFILE_ORACLE = """
    WITH b AS (
      SELECT event_type,
             ((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 3) % 7) AS dow,
             ((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600) AS hour
      FROM events
    ),
    g AS (
      SELECT event_type, dow, hour, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM b GROUP BY 1, 2, 3
    ),
    t AS (
      SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS total
      FROM g GROUP BY 1
    )
    SELECT g.event_type, g.dow, g.hour, g.n_events,
           CAST(g.n_events AS DOUBLE) / t.total AS share,
           (g.n_events - t.total / CAST(168 AS DOUBLE))
             * (g.n_events - t.total / CAST(168 AS DOUBLE))
             / (t.total / CAST(168 AS DOUBLE)) AS chi2_term
    FROM g JOIN t ON g.event_type = t.event_type
    """


def _dow_hour_cells(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    # (day + 3) % 7 with day = floor-div: epoch seconds are positive for
    # every fixture era, so integer div/mod are floor-consistent with the
    # oracle's // and %.
    day = F.expr("unix_micros(ts) div 1000000 div 86400")
    hour = F.expr("unix_micros(ts) div 1000000 % 86400 div 3600")
    return ev.select(
        "event_type",
        ((day + F.lit(3)) % 7).alias("dow"),
        hour.alias("hour"),
    ).groupBy("event_type", "dow", "hour").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def _dow_hour_report(g: DataFrame) -> DataFrame:
    t = g.groupBy("event_type").agg(F.sum("n_events").alias("total"))
    e = F.col("total") / F.lit(168).cast("double")
    return g.join(F.broadcast(t), "event_type").select(
        "event_type",
        "dow",
        "hour",
        "n_events",
        (F.col("n_events").cast("double") / F.col("total")).alias("share"),
        ((F.col("n_events") - e) * (F.col("n_events") - e) / e).alias(
            "chi2_term"
        ),
    )


@query(
    "events_dow_hour_profile",
    oracle=DOW_HOUR_PROFILE_ORACLE,
    tags=("temporal", "events", "seasonality", "stats"),
    twin=Twin(_dow_hour_cells, _dow_hour_report),
)
def events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: event volume per (type, day-of-week,
    hour-of-day) cell with each cell's share of its type and its
    chi-square contribution against the uniform-over-168-cells null — the
    capacity-planning / traffic-shaping view (when does each event type
    actually arrive?) and a drift alarm input (a chi2_term spike in a
    formerly quiet cell is a schedule change). Only observed cells are
    emitted; an absent (dow, hour) cell contributes total/168 to the full
    statistic, which the consumer can add from the row count.

    dow/hour come from pure epoch-second integer arithmetic
    ((day + 3) % 7, 0 = Monday, UTC grid) — no calendar/timezone
    functions, so the hostile session's America/New_York pin and engine
    DOW-numbering conventions (Spark Sunday=1, DuckDB Sunday=0) cannot
    skew the cells. share and chi2_term are IEEE expressions of two exact
    int64 counts — identical across engines without rounding.

    Plan: one scan + one partial-aggregatable group-by at event volume;
    the per-type totals table is ≤|types| rows, broadcast back; every
    downstream row count is ≤ |types|·168."""
    return _dow_hour_report(_dow_hour_cells(spark, sf_dir, load_table))


# Shared with the streaming twin in streaming/stream.py (the
# DOW_HOUR_PROFILE_ORACLE pattern): one statement of the open/close day
# grid, the per-day deltas and the cumulative series, so batch and stream
# cannot drift.
BACKLOG_ORACLE = """
    WITH od AS (
      SELECT o_orderkey,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS dopen
      FROM orders
    ),
    cd AS (
      SELECT l_orderkey,
             MAX(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400)
               AS dclose
      FROM lineitem GROUP BY 1
    ),
    oc AS (
      SELECT od.dopen, cd.dclose
      FROM od JOIN cd ON od.o_orderkey = cd.l_orderkey
    ),
    ev AS (
      SELECT dopen AS day, 1 AS opened, 0 AS closed FROM oc
      UNION ALL
      SELECT dclose, 0, 1 FROM oc
    ),
    g AS (
      SELECT day,
             CAST(SUM(opened) AS BIGINT) AS n_opened,
             CAST(SUM(closed) AS BIGINT) AS n_closed
      FROM ev GROUP BY 1
    )
    SELECT day, n_opened, n_closed,
           CAST(SUM(n_opened - n_closed) OVER (ORDER BY day) AS BIGINT)
             AS backlog
    FROM g
    """


@query(
    "order_fulfillment_backlog",
    oracle=BACKLOG_ORACLE,
    tags=("temporal", "inventory", "prefix-sum"),
)
def order_fulfillment_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time — the fulfillment-operations series:
    per active day, orders placed (n_opened), orders fully received
    (n_closed = every line's receipt arrived, i.e. MAX(l_shipdate)),
    and the running backlog = Σ(opened − closed) up to that day. An order
    counts against the backlog from its order day through the day BEFORE
    its close day (it leaves the series on the day it completes); between
    listed days the backlog is constant at the previous row's value (only
    event days are emitted). Day ids are pure epoch-day integers — the
    same TZ-proof arithmetic as the dow/hour profile. The series is the
    exact cumulative of the event deltas, so if the data contains
    ship-before-order records (the synthetic fixture does) the backlog
    may legitimately dip negative; it always returns to zero at the end
    (total opens == total closes — test-pinned).

    Scale shape: two partial-aggregatable folds at row volume (per-order
    close day over lineitem, then per-day deltas), after which everything
    is CALENDAR-bounded (one row per active day, ~2.5k for the TPC-H
    range, ~36.5k for a century). The running sum uses
    `bucketed_prefix_sum` with the global (no-stratum) form — the
    cross-bucket offset pass is a window over the 32-row bucket table,
    never a volume-scaled single partition; day is unique after the
    group-by, satisfying its order-key precondition. The oracle states
    the same series as a plain cumulative window, safe at oracle scale."""
    o = load_table(spark, sf_dir, "orders")
    od = o.select(
        "o_orderkey",
        F.expr("unix_micros(o_orderdate) div 1000000 div 86400").alias("dopen"),
    )
    return _backlog_report(od, _backlog_closes(spark, sf_dir, load_table))


def _backlog_closes(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    """Per-order close day: the latest ship day of the order's lines."""
    li = read(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.max(
            F.expr("unix_micros(l_shipdate) div 1000000 div 86400")
        ).alias("dclose")
    )


def _backlog_report(od: DataFrame, cd: DataFrame) -> DataFrame:
    """Per-day open/close deltas and the running backlog from the
    per-order open days (o_orderkey, dopen) and close days (l_orderkey,
    dclose) — shared with the streaming twin, whose open-day cells are an
    incremental per-order min instead of a plain projection."""
    from ..functions.ranks import bucketed_prefix_sum

    oc = od.join(cd, od.o_orderkey == cd.l_orderkey).select("dopen", "dclose")
    ev = oc.select(
        F.col("dopen").alias("day"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    ).unionByName(
        oc.select(
            F.col("dclose").alias("day"),
            F.lit(0).alias("opened"),
            F.lit(1).alias("closed"),
        )
    )
    g = ev.groupBy("day").agg(
        F.sum("opened").alias("n_opened"),
        F.sum("closed").alias("n_closed"),
    )
    return bucketed_prefix_sum(
        g,
        [],
        "day",
        F.col("n_opened") - F.col("n_closed"),
        cum_alias="backlog",
    )


# Shared with the streaming twin in streaming/stream.py (the
# BACKLOG_ORACLE pattern): one statement of the weekly grid, the exact
# cents fold and the left-join WoW convention, so batch and stream cannot
# drift.
WEEKLY_TREND_ORACLE = """
    WITH g AS (
      SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 // 7 AS week,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS revenue_cents
      FROM orders GROUP BY 1
    )
    SELECT a.week, a.n_orders, a.revenue_cents,
           b.n_orders AS prev_n_orders,
           a.n_orders - b.n_orders AS wow_delta_orders,
           CAST(a.n_orders AS DOUBLE) / b.n_orders AS wow_ratio
    FROM g a LEFT JOIN g b ON a.week = b.week + 1
    """


def _weekly_trend_cells(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    o = read(spark, sf_dir, "orders")
    week = F.expr("unix_micros(o_orderdate) div 1000000 div 86400 div 7")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        o.select(week.alias("week"), cents.alias("cents"))
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


def _weekly_trend_report(g: DataFrame) -> DataFrame:
    prev = g.select(
        (F.col("week") + 1).alias("week"),
        F.col("n_orders").alias("prev_n_orders"),
    )
    return g.join(F.broadcast(prev), "week", "left").select(
        "week",
        "n_orders",
        "revenue_cents",
        "prev_n_orders",
        (F.col("n_orders") - F.col("prev_n_orders")).alias("wow_delta_orders"),
        (F.col("n_orders").cast("double") / F.col("prev_n_orders")).alias(
            "wow_ratio"
        ),
    )


@query(
    "order_volume_weekly_trend",
    oracle=WEEKLY_TREND_ORACLE,
    tags=("temporal", "trend", "agg"),
    twin=Twin(_weekly_trend_cells, _weekly_trend_report),
)
def order_volume_weekly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week order-volume trend: per epoch-week (day div 7 —
    TZ-proof integer arithmetic, no calendar functions, so the hostile
    session's timezone pin cannot move week boundaries) the order count,
    exact revenue cents, and the WoW delta/ratio against the PREVIOUS
    week — the growth-dashboard series and the seasonality-drift alarm
    input. Only observed weeks are emitted; a week following an empty
    week has NULL prev/delta/ratio (the backlog query's event-days-only
    convention, stated identically in the oracle's left join).

    Scale shape: ONE partial-aggregatable row-volume fold down to the
    CALENDAR-bounded weekly table (~340 rows for the TPC-H range, ~5.2k
    for a century), then the week-over-week lookup as a broadcast
    self-join on week = week + 1 — deliberately NOT a global lag window
    (an unpartitioned window over even a bounded table is the shape the
    repo-wide plan guard exists to flag; the equi-join states the same
    relation with no single-partition exchange). The ratio divides two
    exact int64 counts — one IEEE division, stated identically in the
    oracle."""
    from ..llm.cache import tracked_persist

    # Both the output and the week+1 lookup consume the weekly table —
    # persist the calendar-bounded aggregate so the orders scan + fold
    # run once.
    g = tracked_persist(
        _weekly_trend_cells(spark, sf_dir, load_table),
        f"order_weekly_cells:{sf_dir}",
    )
    return _weekly_trend_report(g)


@query(
    "session_duration_percentiles",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30*60*1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sno
      FROM flagged
    ), sessions AS (
      SELECT user_id, sno,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS s,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS e
      FROM numbered GROUP BY 1, 2
    ), d AS (
      SELECT e - s AS dur_us FROM sessions
    ), r AS (
      SELECT dur_us,
             row_number() OVER (ORDER BY dur_us) AS rn,
             COUNT(*) OVER () AS n
      FROM d
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_sessions,
           MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                    THEN dur_us END) AS p50_us,
           MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
                    THEN dur_us END) AS p95_us,
           MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
                    THEN dur_us END) AS p99_us
    FROM r
    """,
    tags=("temporal", "sessions", "percentile", "iterative"),
)
def session_duration_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p95/p99 session duration at MICROSECOND grain — the
    session-length distribution behind engagement dashboards and
    session-timeout tuning, and the third consumer of the
    `kth_order_statistic` narrowing primitive: microsecond durations have
    row-scale cardinality and an UNBOUNDED domain (no histogram closed
    form, no grid), so the naive exact form would be a global sort or a
    single-partition cume window over every session.

    The sessions come from the SAME 30-min-gap sessionization every
    interval query shares (`_gap_sessions`; the oracle restates its CTE
    with the same gap constant). The cached (dur_us) projection is
    session-count-sized — already the output of a row-volume reduction —
    and each of the ≤2 budget-branched narrowing rounds is one
    pushed-filter pass over it with a driver-bounded census. Ranks are
    percentile_disc's max(1, ⌈q·n⌉), the same IEEE multiply the oracle
    states; single-event sessions legitimately contribute duration 0.
    The oracle's global row_number window is fine at oracle scale — the
    exact shape the narrowing exists to avoid at 100 TB."""
    from ..functions.ranks import kth_order_statistics
    from ..llm.cache import tracked_persist

    sess = tracked_persist(
        _gap_sessions(spark, sf_dir).select(
            (F.col("e") - F.col("s")).alias("dur_us")
        ),
        f"session_durations:{sf_dir}",
    )
    n = sess.count()
    # All three quantiles ride ONE census sequence (multi-rank narrower;
    # dur_us = e − s over non-null session bounds).
    vals = kth_order_statistics(
        sess, "dur_us", {"p50": 0.5, "p95": 0.95, "p99": 0.99}
    )
    return spark.createDataFrame(
        [(n, vals["p50"], vals["p95"], vals["p99"])],
        "n_sessions long, p50_us long, p95_us long, p99_us long",
    )


# Shared with the streaming twin in streaming/stream.py: one statement of
# the weekly (week, type) grid, the share and the previous-week-mix chi2
# terms, so batch and stream cannot drift.
EVENT_MIX_DRIFT_ORACLE = """
    WITH b AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 // 7 AS week,
             event_type
      FROM events
    ),
    g AS (
      SELECT week, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM b GROUP BY 1, 2
    ),
    t AS (
      SELECT week, CAST(SUM(n_events) AS BIGINT) AS week_total
      FROM g GROUP BY 1
    )
    SELECT g.week, g.event_type, g.n_events, t.week_total,
           CAST(g.n_events AS DOUBLE) / t.week_total AS share,
           p.n_events AS prev_n,
           CASE WHEN p.n_events IS NOT NULL THEN
             (g.n_events - CAST(p.n_events AS DOUBLE) * t.week_total / pt.week_total)
             * (g.n_events - CAST(p.n_events AS DOUBLE) * t.week_total / pt.week_total)
             / (CAST(p.n_events AS DOUBLE) * t.week_total / pt.week_total)
           END AS chi2_term
    FROM g
    JOIN t ON g.week = t.week
    LEFT JOIN g p  ON p.week = g.week - 1 AND p.event_type = g.event_type
    LEFT JOIN t pt ON pt.week = g.week - 1
    """


def _mix_drift_report(g: DataFrame, key: str, n: str) -> DataFrame:
    """Week totals, week share and the chi-square term against last
    week's mix over (week, ``key``, ``n``) count cells — the shared tail
    of both weekly mix-drift queries and their streaming twins. The
    totals and both previous-week lookups are broadcast joins over the
    CALENDAR×|keys|-bounded cell table; a key absent from the previous
    week (or a first week) gets NULL prev_n/chi2_term, the oracles' left
    joins."""
    t = g.groupBy("week").agg(F.sum(n).alias("week_total"))
    p = g.select(
        (F.col("week") + 1).alias("week"), key, F.col(n).alias("prev_n")
    )
    pt = t.select(
        (F.col("week") + 1).alias("week"),
        F.col("week_total").alias("prev_week_total"),
    )
    e = (
        F.col("prev_n").cast("double")
        * F.col("week_total")
        / F.col("prev_week_total")
    )
    return (
        g.join(F.broadcast(t), "week")
        .join(F.broadcast(p), ["week", key], "left")
        .join(F.broadcast(pt), "week", "left")
        .select(
            "week",
            key,
            n,
            "week_total",
            (F.col(n).cast("double") / F.col("week_total")).alias("share"),
            "prev_n",
            F.when(
                F.col("prev_n").isNotNull(),
                (F.col(n) - e) * (F.col(n) - e) / e,
            ).alias("chi2_term"),
        )
    )


def _event_mix_cells(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    week = F.expr("unix_micros(ts) div 1000000 div 86400 div 7")
    return (
        ev.select(week.alias("week"), "event_type")
        .groupBy("week", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "event_mix_weekly_drift",
    oracle=EVENT_MIX_DRIFT_ORACLE,
    tags=("temporal", "events", "drift", "stats"),
    twin=Twin(
        _event_mix_cells,
        partial(_mix_drift_report, key="event_type", n="n_events"),
    ),
)
def event_mix_weekly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week EVENT-MIX drift: per (epoch-week, event type) the
    count, its share of the week, and the chi-square term of this week's
    count against the expectation extrapolated from LAST week's mix
    (e = prev_n · week_total / prev_week_total) — the distribution-shift
    alarm a pipeline owner reads when an SDK release or a bot changes the
    traffic composition (the dow/hour profile answers "when"; this
    answers "did WHAT changed this week"). Cells are emitted per (week,
    type) with their chi2_term and never summed engine-side — summing
    per-cell doubles would make the total partitioning-dependent, the
    same convention as events_dow_hour_profile; the consumer adds the
    ≤|types| terms per week. First-observed weeks and types absent from
    the previous week carry NULL prev_n/chi2_term (stated via the
    oracle's left joins; a type present last week has prev_n ≥ 1, so the
    expectation is never a zero divisor).

    TZ-proof epoch-week ids; share and chi2_term are IEEE expressions of
    exact int64 counts stated token-for-token in both engines
    (left-associative double(prev_n)·week_total/prev_week_total). Scale:
    ONE partial-aggregatable row-volume fold to the (week, type) grid;
    the totals table and both previous-week lookups are joins over
    CALENDAR×|types|-bounded aggregates (broadcast at any corpus size)."""
    from ..llm.cache import tracked_persist

    # Four independent subtrees consume the cell table (g, t, p, pt) —
    # persist the CALENDAR×|types|-bounded aggregate so the events scan
    # + fold run once, not once per subtree (exchange reuse is not
    # guaranteed across the differently-keyed re-aggregations).
    g = tracked_persist(
        _event_mix_cells(spark, sf_dir, load_table), f"event_mix_cells:{sf_dir}"
    )
    return _mix_drift_report(g, "event_type", "n_events")


# Shared with the streaming twin in streaming/stream.py: one statement of
# the first-touch tie-break, the unix_micros span and the percentile_disc
# ranks, so batch and stream cannot drift.
USER_LIFETIME_SPAN_ORACLE = """
    WITH f AS (
      SELECT user_id, event_type AS first_type
      FROM (SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events)
      WHERE rn = 1
    ),
    u AS (
      SELECT user_id,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS s,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS e
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT f.first_type, u.e - u.s AS span_us
      FROM f JOIN u USING (user_id)
    ),
    r AS (
      SELECT first_type, span_us,
             row_number() OVER (PARTITION BY first_type
                                ORDER BY span_us) AS rn,
             COUNT(*) OVER (PARTITION BY first_type) AS n
      FROM c
    )
    SELECT first_type,
           CAST(MAX(n) AS BIGINT) AS n_users,
           MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                    THEN span_us END) AS p50_span_us,
           MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT))
                    THEN span_us END) AS p90_span_us
    FROM r GROUP BY 1
    """


def _lifetime_span_report(u: DataFrame) -> DataFrame:
    """Shared derivation tail for the batch query and its streaming twin:
    given the per-user (first_type, span_us) table (persisted by the
    caller — the narrower re-scans it once per round), run the
    |event types|-bounded count census plus the stratified narrower at
    q = 0.5 / 0.9 and assemble the per-cohort report."""
    from ..functions.ranks import kth_order_statistics_by

    ns = {
        r["first_type"]: r["n"]
        for r in u.groupBy("first_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # Both quantiles ride ONE census sequence (multi-rank narrower).
    pct = kth_order_statistics_by(
        u, "first_type", "span_us", q={"p50": 0.5, "p90": 0.9}, n_buckets=256
    )
    return u.sparkSession.createDataFrame(
        [(t, n, pct[t]["p50"], pct[t]["p90"]) for t, n in sorted(ns.items())],
        "first_type string, n_users long, p50_span_us long, p90_span_us long",
    )


def _lifetime_span_cells(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    us = F.expr("unix_micros(ts)")
    g = ev.groupBy("user_id").agg(
        F.min(
            F.struct(
                us.alias("u"),
                F.col("event_id").alias("i"),
                F.col("event_type").alias("t"),
            )
        ).alias("fst"),
        F.min(us).alias("s"),
        F.max(us).alias("e"),
    )
    return g.select(
        F.col("fst.t").alias("first_type"),
        (F.col("e") - F.col("s")).alias("span_us"),
    )


@query(
    "events_user_lifetime_span_percentiles",
    oracle=USER_LIFETIME_SPAN_ORACLE,
    tags=("temporal", "users", "percentile", "iterative"),
    twin=Twin(_lifetime_span_cells, _lifetime_span_report),
)
def events_user_lifetime_span_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT p50/p90 user LIFETIME SPAN (first-to-last activity,
    microseconds) per FIRST-TOUCH cohort (the event type of the user's
    very first event) — the acquisition-quality read behind retention
    curves: do users whose first touch was a purchase live longer than
    ones who entered through an error page? The NEXT.md round-13 backlog
    item, and the second stratified consumer of `kth_order_statistics_by`
    (first-activity-WEEK cohorts were considered and rejected: the
    fixture's one-month event window puts every user in the same week —
    a degenerate 1-row report; first-touch type is the cohort a growth
    team actually segments by, and its cardinality is |event types| —
    driver-small at ANY corpus size, where calendar cohorts merely
    happen to be).

    Form choice: the stratum is bounded (|event types|, the narrower's
    ≤10k-strata census precondition holds forever) while the VALUE
    domain (microsecond spans) has row-scale cardinality and no
    histogram closed form — the stratified narrower's sweet spot, dual
    to `supplier_leadtime_percentiles` where the preconditions point the
    other way. All cohorts narrow together: each of the
    ≤⌈log₂₅₆(max span)⌉ ≈ 6 rounds is ONE (cohort, bucket)-census job
    over the cached per-user table — itself the output of a row-volume
    reduction (|users| rows from ONE events aggregate: the first-touch
    type rides the same groupBy as the min/max, via a lexicographic
    struct-min whose (ts_us, event_id) prefix is unique, so no window
    and no second scan).

    Exactness: first/last activity are unix_micros integers (TZ-proof,
    no calendar functions); the span is an int64 difference; the
    struct-min tie-break equals the oracle's row_number ORDER BY
    (ts, event_id) because event_id is unique. Ranks are
    percentile_disc's max(1, ⌈q·n⌉), the same IEEE multiply the oracle
    states; single-event users legitimately contribute span 0. The
    oracle's per-cohort row_number window is fine at oracle scale — the
    shape the narrower avoids at 100 TB. Premise: event_type and ts are
    non-null (fixture-pinned; a null stratum would raise in the
    narrower by design)."""
    from ..llm.cache import tracked_persist

    u = tracked_persist(
        _lifetime_span_cells(spark, sf_dir, load_table),
        f"user_lifetime_spans:{sf_dir}",
    )
    return _lifetime_span_report(u)


# Shared with the streaming twin in streaming/stream.py: one statement of
# the weekly (week, priority) grid, the share and the previous-week-mix
# chi2 terms, so batch and stream cannot drift.
ORDERS_PRIORITY_MIX_ORACLE = """
    WITH b AS (
      SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 // 7 AS week,
             o_orderpriority
      FROM orders
    ),
    g AS (
      SELECT week, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM b GROUP BY 1, 2
    ),
    t AS (
      SELECT week, CAST(SUM(n_orders) AS BIGINT) AS week_total
      FROM g GROUP BY 1
    )
    SELECT g.week, g.o_orderpriority, g.n_orders, t.week_total,
           CAST(g.n_orders AS DOUBLE) / t.week_total AS share,
           p.n_orders AS prev_n,
           CASE WHEN p.n_orders IS NOT NULL THEN
             (g.n_orders - CAST(p.n_orders AS DOUBLE) * t.week_total / pt.week_total)
             * (g.n_orders - CAST(p.n_orders AS DOUBLE) * t.week_total / pt.week_total)
             / (CAST(p.n_orders AS DOUBLE) * t.week_total / pt.week_total)
           END AS chi2_term
    FROM g
    JOIN t ON g.week = t.week
    LEFT JOIN g p  ON p.week = g.week - 1
                  AND p.o_orderpriority = g.o_orderpriority
    LEFT JOIN t pt ON pt.week = g.week - 1
    """


def _priority_mix_cells(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    o = read(spark, sf_dir, "orders")
    week = F.expr("unix_micros(o_orderdate) div 1000000 div 86400 div 7")
    return (
        o.select(week.alias("week"), "o_orderpriority")
        .groupBy("week", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "orders_priority_mix_weekly_drift",
    oracle=ORDERS_PRIORITY_MIX_ORACLE,
    tags=("temporal", "tpch", "trend", "drift"),
    twin=Twin(
        _priority_mix_cells,
        partial(_mix_drift_report, key="o_orderpriority", n="n_orders"),
    ),
)
def orders_priority_mix_weekly_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Week-over-week ORDER-PRIORITY mix drift: per (epoch-week,
    priority) the count, its week share, and the chi-square term of this
    week's count against the expectation extrapolated from LAST week's
    mix — `event_mix_weekly_drift`'s composition-shift alarm applied to
    the ORDERS fact (a shifting priority mix is the demand-side early
    warning for the lead-time and backlog series: URGENT creeping up
    predicts tail pressure before the SLA trend moves). Same contract as
    the event twin: per-cell IEEE terms over exact int64 counts, never
    summed engine-side; NULL prev_n/chi2_term on first-observed weeks
    and priorities absent from the previous week (the oracle's left
    joins); TZ-proof epoch-week ids.

    Scale: ONE partial-aggregatable fold to the calendar×5 grid; the
    totals and both previous-week lookups are broadcast joins over the
    bounded weekly table (persisted once — four subtrees consume it,
    the event twin's cell-table discipline)."""
    from ..llm.cache import tracked_persist

    g = tracked_persist(
        _priority_mix_cells(spark, sf_dir, load_table),
        f"orders_priority_cells:{sf_dir}",
    )
    return _mix_drift_report(g, "o_orderpriority", "n_orders")


@query(
    "event_transition_mix_drift",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, ts, event_type,
             CAST(epoch_us(ts) AS BIGINT) // 1000000 // 86400 AS day
      FROM events
    ),
    r AS (
      SELECT day, row_number() OVER (ORDER BY day) AS rn,
             COUNT(*) OVER () AS n
      FROM e
    ),
    mid AS (
      SELECT MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                      THEN day END) AS d
      FROM r
    ),
    seq AS (
      SELECT event_type AS to_type, day,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_type
      FROM e
    ),
    h AS (
      SELECT s.from_type, s.to_type,
             CASE WHEN s.day <= mid.d THEN 1 ELSE 2 END AS half
      FROM seq s CROSS JOIN mid
      WHERE s.from_type IS NOT NULL
    ),
    c AS (
      SELECT half, from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM h GROUP BY 1, 2, 3
    ),
    t AS (
      SELECT half, from_type, CAST(SUM(n) AS BIGINT) AS from_total
      FROM c GROUP BY 1, 2
    )
    SELECT c2.from_type, c2.to_type, c2.n AS n2,
           t2.from_total AS from_total2,
           CAST(c2.n AS DOUBLE) / t2.from_total AS share2,
           c1.n AS n1,
           CASE WHEN c1.n IS NOT NULL THEN
             (c2.n - CAST(c1.n AS DOUBLE) * t2.from_total / t1.from_total)
             * (c2.n - CAST(c1.n AS DOUBLE) * t2.from_total / t1.from_total)
             / (CAST(c1.n AS DOUBLE) * t2.from_total / t1.from_total)
           END AS chi2_term
    FROM c c2
    JOIN t t2 ON t2.half = 2 AND t2.from_type = c2.from_type
    LEFT JOIN c c1 ON c1.half = 1 AND c1.from_type = c2.from_type
                  AND c1.to_type = c2.to_type
    LEFT JOIN t t1 ON t1.half = 1 AND t1.from_type = c2.from_type
    WHERE c2.half = 2
    """,
    tags=("events", "sequence", "markov", "drift", "iterative"),
)
def event_transition_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-level drift: split the event timeline at its exact
    median epoch-day (by event count), count (from_type → to_type)
    transitions per half — a transition belongs to the half of the event
    COMPLETING it — and report, per half-2 cell, its count, its share of
    its from_type row, the half-1 count, and the chi-square term of the
    half-2 count against the expectation extrapolated from half-1's
    CONDITIONAL mix (e = p₁(to|from) · half-2 from-total). Completes the
    drift family a composition alarm cannot: `event_mix_weekly_drift`
    sees WHAT users do shift, this sees the ORDER they do it in shift —
    a stable event mix with a drifting transition matrix is exactly the
    funnel-reordering signature (same actions, different paths) that
    breaks next-action models trained on half-1 sequences. Cells absent
    from half 1 get NULL n1/chi2 (first-observed transitions — the
    weekly-drift NULL convention); cells that vanished by half 2 drop
    (the matrix reports the CURRENT mix).

    Plan: ONE narrower pass for the median split day
    (`kth_order_statistic` over the cached per-event day column —
    calendar-bounded domain, 1–3 census rounds), ONE user-keyed lag
    shuffle for adjacency (unique (ts, event_id) total order, so the
    pairing is engine-exact — the `event_transition_matrix` build), then
    a ≤2·|types|²-cell fold; every remaining join is broadcast over
    bounded cell tables. Per-cell IEEE chi2 terms over exact int64
    counts, never summed engine-side; TZ-proof epoch-day integers."""
    import math

    from ..functions.ranks import kth_order_statistic
    from ..llm.cache import tracked_persist

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 1000000 div 86400")
    e = tracked_persist(
        ev.select("user_id", "event_id", "ts", "event_type", day.alias("day")),
        f"event_day_seq:{sf_dir}",
    )
    n = e.count()
    mid = kth_order_statistic(e, "day", max(1, math.ceil(0.5 * n)))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.select(
            F.col("event_type").alias("to_type"),
            "day",
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    c = (
        seq.select(
            "from_type",
            "to_type",
            F.when(F.col("day") <= mid, 1).otherwise(2).alias("half"),
        )
        .groupBy("half", "from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = tracked_persist(c, f"event_transition_halves:{sf_dir}")
    t = c.groupBy("half", "from_type").agg(F.sum("n").alias("from_total"))
    c2 = c.filter(F.col("half") == 2).select("from_type", "to_type", F.col("n").alias("n2"))
    t2 = t.filter(F.col("half") == 2).select("from_type", F.col("from_total").alias("from_total2"))
    c1 = c.filter(F.col("half") == 1).select("from_type", "to_type", F.col("n").alias("n1"))
    t1 = t.filter(F.col("half") == 1).select("from_type", F.col("from_total").alias("from_total1"))
    ex = (
        F.col("n1").cast("double")
        * F.col("from_total2")
        / F.col("from_total1")
    )
    return (
        c2.join(F.broadcast(t2), "from_type")
        .join(F.broadcast(c1), ["from_type", "to_type"], "left")
        .join(F.broadcast(t1), "from_type", "left")
        .select(
            "from_type",
            "to_type",
            "n2",
            "from_total2",
            (F.col("n2").cast("double") / F.col("from_total2")).alias(
                "share2"
            ),
            "n1",
            F.when(
                F.col("n1").isNotNull(),
                (F.col("n2") - ex) * (F.col("n2") - ex) / ex,
            ).alias("chi2_term"),
        )
    )
