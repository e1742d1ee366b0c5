"""Statistical aggregates with DETERMINISTIC cross-engine results.

Spark's built-in `corr`/`stddev`/`covar_samp` accumulate doubles in shuffle
order, so two runs (or two engines) disagree in the last ulps — fine for
analytics, fatal for a differential-correctness gate and for reproducible
pipelines. This module computes the same statistics from EXACT decimal power
sums (Σx, Σy, Σx², Σy², Σxy are associative in DECIMAL, so every
partitioning yields identical bits), applying the textbook closed forms in
double only at the very end:

    var   = (n·Σx² − (Σx)²) / (n·(n−1))
    corr  = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))

The same expressions run in DuckDB over the same decimal sums → the check is
exact, no rounding slop needed beyond display rounding.

Scale note: a decimal power-sum aggregate is a single partial+final
HashAggregate pass (one shuffle), identical cost to the double version; at
100 TB the determinism additionally means re-runs and stragglers can't
produce drifting results.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.exact import dec, rnd
from ..functions.ranks import hist_cume_counts, hist_disc_percentile
from ..registry import TableReader, Twin, query

# Power sums in DECIMAL(28,4): products of two DECIMAL(18,2) values are
# DECIMAL(·,4); 28 integer digits absorb 100 TB-scale row counts.
_PROD = "decimal(28,4)"


def _sample_std(n, sx_d, sxx_d):
    """Sample stddev from exact power sums with degenerate-group guards,
    shared by the moments/winsorized queries: NULL when n < 2 (the n−1
    denominator — the session runs ANSI mode, so an unguarded divide
    throws instead of returning NULL), and the few-ulps-NEGATIVE variance
    float rounding produces on a constant column clamps to 0 (DuckDB
    hard-errors on sqrt(negative) while Spark yields NaN — either way the
    engines would diverge). The oracles mirror both guards."""
    var = (n * sxx_d - sx_d * sx_d) / (n.cast("double") * (n - 1))
    return F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))



@query(
    "stats_moments_by_status",
    oracle="""
    WITH s AS (
      SELECT o_orderstatus,
             COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sx,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS sxx
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n,
           floor((CAST(sx AS DOUBLE) / n) * 100 + 0.5) / 100 AS mean_price,
           CASE WHEN n >= 2 THEN
             floor(sqrt(greatest((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * (n - 1)), 0)) * 100 + 0.5) / 100
           END AS stddev_price
    FROM s
    """,
    tags=("agg", "stats"),
)
def stats_moments_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean and sample stddev of order totals per status, via exact decimal
    power sums (see module docstring — bit-identical across partitionings
    and engines, unlike the built-in stddev_samp)."""
    o = load_table(spark, sf_dir, "orders")
    x = dec("o_totalprice")
    agg = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum((x * x).cast(_PROD)).alias("sxx"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    return agg.select(
        "o_orderstatus",
        "n",
        rnd(sx / n, 2).alias("mean_price"),
        rnd(_sample_std(n, sx, sxx), 2).alias("stddev_price"),
    )


@query(
    "stats_corr_qty_price",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS sxx,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS syy,
             SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CASE WHEN (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0 THEN
             floor(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) * 1000000 + 0.5) / 1000000
           END AS corr_qty_price
    FROM s
    """,
    tags=("agg", "stats"),
)
def stats_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs price per return flag, from exact
    decimal power sums — the deterministic form of F.corr."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = dec("l_quantity"), dec("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * x).cast(_PROD)).alias("sxx"),
        F.sum((y * y).cast(_PROD)).alias("syy"),
        F.sum((x * y).cast(_PROD)).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    # Degenerate guard: a constant column makes the denominator product
    # ≤ 0 (possibly a few ulps negative) — NULL rather than an ANSI divide
    # error / cross-engine sqrt(negative) split; the oracle mirrors it.
    den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    corr = F.when(den > 0, (n * sxy - sx * sy) / F.sqrt(den))
    return agg.select("l_returnflag", "n", rnd(corr, 6).alias("corr_qty_price"))


@query("approx_percentiles_price", tags=("agg", "approx", "stats"))
def approx_percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95/p99 of order totals per priority via
    percentile_approx (Greenwald-Khanna sketch, accuracy 10000).

    The sketch tier for quantiles at 100 TB: mergeable per-partition state,
    one shuffle, no global sort — exact percentile_disc would sort the
    column.

    Documented why-not for the oracle (round-16): which element the
    Greenwald-Khanna sketch surfaces at a quantile is a function of
    ENGINE-INTERNAL summary state — the compress/merge schedule over
    per-partition summaries, which depends on partitioning and merge
    order — so no cross-engine equality exists (DuckDB's approximate
    quantile is a t-digest, a different sketch entirely), and a
    pure-python re-derivation would have to replicate Spark's private
    merge schedule rather than act as an independent engine. The sketch
    is instead pinned RELATIVELY: exact_percentiles_disc is
    oracle-backed on the same column, and tests/test_stats.py bounds
    each approximate checkpoint against the exact quantiles."""
    o = load_table(spark, sf_dir, "orders")
    pct = F.percentile_approx(
        "o_totalprice", [0.5, 0.95, 0.99], 10000
    )
    return o.groupBy("o_orderpriority").agg(
        pct.getItem(0).alias("p50"),
        pct.getItem(1).alias("p95"),
        pct.getItem(2).alias("p99"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "exact_percentiles_disc",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             cume_dist() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS cd
      FROM orders
    )
    SELECT o_orderpriority,
           MIN(CASE WHEN cd >= 0.5 THEN o_totalprice END) AS p50,
           MIN(CASE WHEN cd >= 0.95 THEN o_totalprice END) AS p95,
           MIN(CASE WHEN cd >= 0.99 THEN o_totalprice END) AS p99,
           COUNT(*) AS n_orders
    FROM ranked
    GROUP BY o_orderpriority
    """,
    tags=("agg", "stats", "percentile"),
)
def exact_percentiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT discrete percentiles (the ground truth the approx sketch is
    bounded against): percentile_disc(q) = the smallest actual value whose
    cume_dist reaches q. Discrete selection returns a REAL data value — no
    interpolation arithmetic, so no cross-engine float drift by
    construction (the histogram cume/n is the same exact rational
    cume_dist computes at each value's last tied row, compared against
    exact decimal literals).

    Scale: count-value HISTOGRAM closed form (the `source_vocab_gini`
    discipline) — group to (priority, totalprice) counts first, run the
    cumulative window over the DISTINCT-VALUE histogram, then one
    aggregation. The window input is |distinct 2-decimal prices| per
    priority — bounded by the price DOMAIN, not row volume — where the
    naive per-row cume_dist window would route every order of a priority
    through one task (5 strata ⇒ 5 tasks total at 100 TB). The per-row
    tiebreak (o_orderkey) is irrelevant here: threshold selection only
    reads each value block's LAST row, whose cume_dist is cum/n whatever
    the intra-block order."""
    o = load_table(spark, sf_dir, "orders")
    cume = hist_cume_counts(
        o.select("o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
    )
    return cume.groupBy("o_orderpriority").agg(
        hist_disc_percentile("o_totalprice", 0.5, "p50"),
        hist_disc_percentile("o_totalprice", 0.95, "p95"),
        hist_disc_percentile("o_totalprice", 0.99, "p99"),
        F.sum("m").alias("n_orders"),
    )


_BIN_WIDTH = 25000  # histogram bin width over o_totalprice


@query(
    "histogram_order_totals",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(o_totalprice / {_BIN_WIDTH}) AS BIGINT) AS bin FROM orders
    ), c AS (
      SELECT bin, COUNT(*) AS n_orders FROM b GROUP BY bin
    ), g AS (
      SELECT unnest(generate_series(0, (SELECT MAX(bin) FROM c))) AS bin
    )
    SELECT g.bin,
           CAST(g.bin * {_BIN_WIDTH} AS DOUBLE) AS lo,
           CAST(coalesce(c.n_orders, 0) AS BIGINT) AS n_orders
    FROM g LEFT JOIN c USING (bin)
    """,
    tags=("agg", "stats", "histogram"),
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram with a DENSE zero-filled bin axis: bucket
    order totals by floor(x/width), then left-join the counts onto a
    generated 0..max_bin grid so empty buckets appear as explicit zeros
    (charting and drift-detection consumers need the dense axis).

    floor of a double quotient is bit-deterministic across engines (same
    IEEE divide, same floor). Plan: one partial+final HashAggregate over
    the fact table; the grid explode is a single generated row-set the
    size of the bin axis, joined against the already-tiny count table —
    at 100 TB the histogram costs one scan + one shuffle of ~max_bin rows."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.floor(F.col("o_totalprice") / _BIN_WIDTH).cast("long").alias("bin")
    )
    counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_orders"))
    grid = counts.agg(F.max("bin").alias("maxb")).select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("maxb"))).alias("bin")
    )
    return grid.join(counts, "bin", "left").select(
        "bin",
        (F.col("bin") * _BIN_WIDTH).cast("double").alias("lo"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
    )


@query(
    "anomaly_zscore_events",
    oracle="""
    WITH f AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             COUNT(*) OVER w AS n,
             SUM(CAST(value AS DECIMAL(18,2))) OVER w AS sx,
             SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) OVER w AS sxx
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), s AS (
      SELECT *,
             CAST(sx AS DOUBLE) / n AS mean_w,
             CASE WHEN n >= 2 THEN
               sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (n - 1)))
             END AS std_w
      FROM f
    )
    SELECT user_id, event_id, ts_us, value,
           CAST(n AS BIGINT) AS n_window,
           floor(mean_w * 100 + 0.5) / 100 AS mean_20,
           floor(std_w * 10000 + 0.5) / 10000 AS std_20,
           floor(((value - mean_w) / nullif(std_w, 0)) * 1000 + 0.5) / 1000 AS z,
           CASE WHEN n >= 10 AND nullif(std_w, 0) IS NOT NULL
                 AND abs(floor(((value - mean_w) / nullif(std_w, 0)) * 1000 + 0.5) / 1000) >= 2.0
                THEN 'anomaly' ELSE 'ok' END AS flag
    FROM s
    """,
    tags=("events", "stats", "anomaly", "window"),
)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against the
    mean/stddev of its user's trailing 20 events (the streaming-friendly
    outlier primitive behind alerting and data-quality monitors).

    The windowed moments come from exact DECIMAL power sums over the ROWS
    frame (see module docstring) — decimal addition is associative, so
    DuckDB's segment-tree sliding-frame evaluation and Spark's running
    accumulation produce identical bits, and the closed-form mean/std/z
    computed from them can't drift. The flag compares the ROUNDED z so the
    label is stable by construction; warm-up rows (n<10) are never
    flagged.

    Plan at scale: one shuffle on user_id + one ordered window pass —
    identical cost to any windowed aggregate; no Python."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    x = dec("value")
    f = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(x).over(w).alias("sx"),
        F.sum((x * x).cast(_PROD)).over(w).alias("sxx"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    mean_w = sx / n
    std_w = F.when(
        n >= 2,
        F.sqrt((n * sxx - sx * sx) / (n.cast("double") * (n - 1))),
    )
    z = rnd((F.col("value") - mean_w) / F.nullif(std_w, F.lit(0)), 3)
    return f.select(
        "user_id",
        "event_id",
        "ts_us",
        "value",
        n.cast("long").alias("n_window"),
        rnd(mean_w, 2).alias("mean_20"),
        rnd(std_w, 4).alias("std_20"),
        z.alias("z"),
        F.when(
            (n >= 10) & F.nullif(std_w, F.lit(0)).isNotNull() & (F.abs(z) >= 2.0),
            "anomaly",
        )
        .otherwise("ok")
        .alias("flag"),
    )


@query(
    "winsorized_stats",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             cume_dist() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS cd
      FROM orders
    ), thresholds AS (
      SELECT o_orderpriority,
             MIN(CASE WHEN cd >= 0.05 THEN o_totalprice END) AS p05,
             MIN(CASE WHEN cd >= 0.95 THEN o_totalprice END) AS p95
      FROM ranked GROUP BY o_orderpriority
    ), clipped AS (
      SELECT o.o_orderpriority,
             least(greatest(o.o_totalprice, t.p05), t.p95) AS v
      FROM orders o JOIN thresholds t USING (o_orderpriority)
    ), s AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             SUM(CAST(v AS DECIMAL(18,2))) AS sx,
             SUM(CAST(CAST(v AS DECIMAL(18,2)) * CAST(v AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS sxx
      FROM clipped GROUP BY o_orderpriority
    )
    SELECT s.o_orderpriority, s.n, t.p05, t.p95,
           floor((CAST(sx AS DOUBLE) / n) * 100 + 0.5) / 100 AS mean_w,
           CASE WHEN n >= 2 THEN
             floor(sqrt(greatest((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        / (CAST(n AS DOUBLE) * (n - 1)), 0)) * 100 + 0.5) / 100
           END AS std_w
    FROM s JOIN thresholds t USING (o_orderpriority)
    """,
    tags=("agg", "stats", "robust"),
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clipped) moments per group: clip order totals to
    the group's exact discrete [p05, p95] band, then mean/stddev from exact
    DECIMAL power sums of the clipped values — the robust-statistics
    variant of stats_moments_by_status that a metric pipeline uses when a
    few whale orders would dominate the plain mean.

    Cross-engine exactness: the thresholds are REAL data values (discrete
    cume_dist selection — no interpolation), clipping is min/max on
    identical doubles, and the power sums are decimal, so every stage is
    bit-stable. Scale: thresholds come from the count-value HISTOGRAM
    closed form (window over |distinct prices| per priority — price-domain
    bounded, never a per-row sort of a whole priority's orders through one
    task), then a broadcast join back (thresholds are group-cardinality)
    and one aggregation."""
    o = load_table(spark, sf_dir, "orders")
    cume = hist_cume_counts(
        o.select("o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
    )
    thresholds = cume.groupBy("o_orderpriority").agg(
        hist_disc_percentile("o_totalprice", 0.05, "p05"),
        hist_disc_percentile("o_totalprice", 0.95, "p95"),
    )
    clipped = o.join(F.broadcast(thresholds), "o_orderpriority").select(
        "o_orderpriority",
        "p05",
        "p95",
        F.least(F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95")).alias("v"),
    )
    x = dec("v")
    s = clipped.groupBy("o_orderpriority", "p05", "p95").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum((x * x).cast(_PROD)).alias("sxx"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    return s.select(
        "o_orderpriority",
        "n",
        "p05",
        "p95",
        rnd(sx / n, 2).alias("mean_w"),
        rnd(_sample_std(n, sx, sxx), 2).alias("std_w"),
    )


_APPROX_QS = (0.5, 0.95, 0.99)
_APPROX_ACC = 10000  # percentile_approx accuracy: rank error <= n/accuracy


@query("approx_vs_exact_quantile_error", tags=("stats", "percentile", "calibration"))
def approx_vs_exact_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration for quantiles — the `minhash_estimate_error`
    pattern applied to `approx_percentiles_price`: per (order priority,
    q), the approximate quantile next to the exact one, the value error,
    and the exact RANK error with its formal bound. Rank error is the
    contract percentile_approx actually makes (≤ n/accuracy positions,
    the GK/KLL guarantee) — value error can be huge on a sparse tail at
    zero rank error, so a quantile-sketch dashboard must alarm on ranks,
    which needs the exact rank of the approximate value: computed here
    from the count-value HISTOGRAM (rank(v) = Σ counts at values ≤ v),
    never a per-row window.

    No SQL oracle: DuckDB's approx_quantile is t-digest, a different
    sketch — the approximate column is engine-specific by nature. Driver
    row is rows-only, but everything DOWNSTREAM of the sketch value
    carries a pure-python partial oracle (round-16, tests/test_stats.py
    ::test_approx_quantile_error_partial_oracle_pure_python): exact
    quantiles and n re-derived from raw parquet AND double-pinned by
    DuckDB re-running exact_percentiles_disc's registered oracle, and
    the rank/bound/flag/value_err arithmetic recomputed exactly over
    the engine's approx_value. The older invariant test keeps the
    formal-bound contract.

    Scale: the sketch is one partial+final aggregate (KB of state per
    group); exact side + rank lookup are histogram-bounded joins —
    domain-scale, not row-scale."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    cume = hist_cume_counts(o, ["o_orderpriority"], "o_totalprice")
    approx = (
        o.groupBy("o_orderpriority")
        .agg(
            F.percentile_approx(
                "o_totalprice", list(_APPROX_QS), _APPROX_ACC
            ).alias("avs")
        )
        .select(
            "o_orderpriority",
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(q) for q in _APPROX_QS]).alias("q"),
                    F.col("avs").alias("approx_value"),
                )
            ).alias("z"),
        )
        .select(
            "o_orderpriority",
            F.col("z.q").alias("q"),
            F.col("z.approx_value").alias("approx_value"),
        )
    )
    exact = cume.groupBy("o_orderpriority").agg(
        *[
            hist_disc_percentile("o_totalprice", q, f"_e{int(q * 100)}")
            for q in _APPROX_QS
        ],
        F.sum("m").alias("n"),
    )
    exact_long = exact.select(
        "o_orderpriority",
        "n",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in _APPROX_QS]).alias("q"),
                F.array(
                    *[F.col(f"_e{int(q * 100)}") for q in _APPROX_QS]
                ).alias("exact_value"),
            )
        ).alias("z"),
    ).select(
        "o_orderpriority",
        "n",
        F.col("z.q").alias("q"),
        F.col("z.exact_value").alias("exact_value"),
    )
    # exact rank of the approximate value: max cum over histogram values
    # <= approx_value (0 when the sketch returns below the stratum min,
    # which GK cannot, but the coalesce keeps the column total).
    ranks = (
        approx.join(
            cume.select(
                "o_orderpriority",
                F.col("o_totalprice").alias("_v"),
                "cum",
            ),
            "o_orderpriority",
        )
        .filter(F.col("_v") <= F.col("approx_value"))
        .groupBy("o_orderpriority", "q", "approx_value")
        .agg(F.max("cum").alias("approx_rank"))
    )
    target = F.ceil(F.col("q") * F.col("n")).cast("long")
    rank_err = F.abs(F.col("approx_rank") - target)
    bound = F.ceil(F.col("n") / F.lit(_APPROX_ACC)).cast("long") + 1
    return (
        exact_long.join(ranks, ["o_orderpriority", "q"])
        .select(
            "o_orderpriority",
            "q",
            "n",
            "exact_value",
            "approx_value",
            rnd(F.abs(F.col("approx_value") - F.col("exact_value")), 2).alias(
                "value_err"
            ),
            rank_err.alias("rank_err"),
            bound.alias("rank_err_bound"),
            (rank_err <= bound).alias("within_bound"),
        )
    )


@query(
    "event_value_winsor_by_type",
    oracle="""
    WITH hist AS (
      SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS m
      FROM events GROUP BY event_type, value
    ), cume AS (
      SELECT event_type, value, m,
             CAST(SUM(m) OVER (PARTITION BY event_type ORDER BY value
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(m) OVER (PARTITION BY event_type) AS BIGINT) AS n_stratum
      FROM hist
    ), thresholds AS (
      SELECT event_type,
             MIN(CASE WHEN CAST(cum AS DOUBLE) / n_stratum >= 0.05 THEN value END) AS p05,
             MIN(CASE WHEN CAST(cum AS DOUBLE) / n_stratum >= 0.95 THEN value END) AS p95
      FROM cume GROUP BY event_type
    ), clipped AS (
      SELECT e.event_type, t.p05, t.p95,
             least(greatest(e.value, t.p05), t.p95) AS v
      FROM events e JOIN thresholds t USING (event_type)
    ), s AS (
      SELECT event_type, p05, p95,
             COUNT(*) AS n,
             SUM(CAST(v AS DECIMAL(18,2))) AS sx,
             SUM(CAST(CAST(v AS DECIMAL(18,2)) * CAST(v AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS sxx
      FROM clipped GROUP BY event_type, p05, p95
    )
    SELECT event_type, n, p05, p95,
           floor((CAST(sx AS DOUBLE) / n) * 100 + 0.5) / 100 AS mean_w,
           CASE WHEN n >= 2 THEN
             floor(sqrt(greatest((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        / (CAST(n AS DOUBLE) * (n - 1)), 0)) * 100 + 0.5) / 100
           END AS std_w
    FROM s
    """,
    tags=("agg", "stats", "robust", "events"),
)
def event_value_winsor_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized event-value moments per event type — `winsorized_stats`
    for the EVENTS stream: clip each type's value to its exact discrete
    [p05, p95] band, then mean/stddev from exact DECIMAL power sums. The
    telemetry an event pipeline alarms on when a few whale purchase
    values would otherwise swamp the plain per-type mean.

    Scale shape (round-9 discipline, born scale-safe): thresholds come
    from the count-value HISTOGRAM closed form (`hist_cume_counts` +
    `hist_disc_percentile` — the cumulative window runs over |distinct
    2-decimal values| per type, value-domain-bounded, never a per-row
    window keyed by the 5-value event_type), broadcast back, then one
    decimal power-sum aggregation. Identical structure to the oracle's
    histogram CTE, so every stage is bit-stable cross-engine."""
    e = load_table(spark, sf_dir, "events")
    cume = hist_cume_counts(
        e.select("event_type", "value"), ["event_type"], "value"
    )
    thresholds = cume.groupBy("event_type").agg(
        hist_disc_percentile("value", 0.05, "p05"),
        hist_disc_percentile("value", 0.95, "p95"),
    )
    clipped = e.join(F.broadcast(thresholds), "event_type").select(
        "event_type",
        "p05",
        "p95",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("v"),
    )
    x = dec("v")
    s = clipped.groupBy("event_type", "p05", "p95").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum((x * x).cast(_PROD)).alias("sxx"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    return s.select(
        "event_type",
        "n",
        "p05",
        "p95",
        rnd(sx / n, 2).alias("mean_w"),
        rnd(_sample_std(n, sx, sxx), 2).alias("std_w"),
    )


@query(
    "user_activity_skew",
    oracle="""
    WITH uc AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id
    ), hist AS (
      SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS m
      FROM uc GROUP BY event_type, c
    ), ranked AS (
      SELECT event_type, c, m,
             CAST(COALESCE(SUM(m) OVER (PARTITION BY event_type ORDER BY c
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS BIGINT) AS cumb
      FROM hist
    )
    SELECT event_type,
           CAST(SUM(m) AS BIGINT) AS n_users,
           CAST(SUM(m * c) AS BIGINT) AS n_events,
           CAST(MAX(c) AS BIGINT) AS max_user_events,
           floor((CAST(MAX(c) AS DOUBLE) / SUM(m * c)) * 1000000 + 0.5)
             / 1000000 AS top_user_share,
           floor((2.0 * SUM(CAST(c AS DOUBLE) * (m * cumb + (m * (m + 1)) // 2))
                    / (CAST(SUM(m) AS DOUBLE) * SUM(m * c))
                  - (SUM(m) + 1.0) / SUM(m)) * 1000000 + 0.5)
             / 1000000 AS gini
    FROM ranked GROUP BY event_type
    """,
    tags=("stats", "events", "skew"),
)
def user_activity_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type skew profile of the user-activity distribution:
    user count, event count, the heaviest user's absolute count and
    share, and the Gini concentration of per-user counts. This is the
    OPERATIONAL telemetry behind the shuffle-strategy decisions this
    repo makes elsewhere — `salted_join_hot_users` assumes hot keys
    exist; this measures them, per key-domain, so a pipeline can decide
    WHEN to salt (top_user_share above ~1/parallelism means one task
    owns that key's whole hash bucket) and track whether skew is
    growing between snapshots.

    Plan shape at 100 TB: one (event_type, user_id) count shuffle
    (map-side partial) bounded by the distinct key-pair cardinality,
    folded through the count-value HISTOGRAM so the Gini rank-sum needs
    NO per-user sort at any scale (the tie-block closed form of
    `source_vocab_gini`; the per-type window runs over |distinct count
    values| rows — log-scale cardinality). Counts exact BIGINT; the
    rank-sum and the n·T denominator go DOUBLE before multiplying (the
    `source_vocab_gini` overflow discipline); two correctly-rounded
    divisions at 1e-6. Every event has a user in these fixtures, so
    n_users ≥ 1 per type and no division is degenerate (a type with one
    user gets gini 0 via the (n+1)/n identity, exact in both engines).
    """
    ev = load_table(spark, sf_dir, "events")
    uc = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    hist = uc.groupBy("event_type", "c").agg(F.count(F.lit(1)).alias("m"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = hist.withColumn(
        "cumb", F.coalesce(F.sum("m").over(w), F.lit(0)).cast("long")
    )
    n_users = F.sum("m")
    n_events = F.sum(F.col("m") * F.col("c"))
    s_rank = F.sum(
        F.col("c").cast("double")
        * (F.col("m") * F.col("cumb") + F.expr("(m * (m + 1)) div 2"))
    )
    return ranked.groupBy("event_type").agg(
        n_users.alias("n_users"),
        n_events.alias("n_events"),
        F.max("c").alias("max_user_events"),
        rnd(F.max("c").cast("double") / n_events, 6).alias("top_user_share"),
        rnd(
            F.lit(2.0) * s_rank / (n_users.cast("double") * n_events)
            - (n_users + F.lit(1.0)) / n_users,
            6,
        ).alias("gini"),
    )


def _cont_parts(q: float):
    """(rank-threshold, interpolation) column builders for one continuous
    percentile, shared so the three q's stay structurally identical."""
    def lo_hi(value_col: str):
        h = F.lit(q) * (F.col("n_stratum") - 1)
        rl = F.floor(h) + 1
        lo = F.min(F.when(F.col("cum") >= rl, F.col(value_col)))
        hi = F.min(F.when(F.col("cum") >= rl + 1, F.col(value_col)))
        return lo, hi

    def interp(lo_name: str, hi_name: str):
        h = F.lit(q) * (F.col("n") - 1)
        frac = h - F.floor(h)
        lo = F.col(lo_name)
        return lo + frac * (F.coalesce(F.col(hi_name), lo) - lo)

    return lo_hi, interp


def _hist_p50(
    df: DataFrame, strat_cols: list[str], val: str, alias: str, nalias: str
) -> DataFrame:
    """Interpolated median per stratum from the count-value histogram —
    the `exact_percentiles_cont` construction at q=0.5, shared by the MAD
    family (one SQL twin: `_P50_SQL`)."""
    cume = hist_cume_counts(df, strat_cols, val)
    lo_hi, interp = _cont_parts(0.5)
    lo, hi = lo_hi(val)
    b = cume.groupBy(*strat_cols).agg(
        lo.alias("_lo"), hi.alias("_hi"), F.min("n_stratum").alias("n")
    )
    return b.select(
        *strat_cols, interp("_lo", "_hi").alias(alias), F.col("n").alias(nalias)
    )


@query(
    "exact_percentiles_cont",
    oracle="""
    WITH hist AS (
      SELECT o_orderpriority, o_totalprice, COUNT(*) AS m
      FROM orders GROUP BY o_orderpriority, o_totalprice
    ), c AS (
      SELECT o_orderpriority, o_totalprice,
             SUM(m) OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice) AS cum,
             SUM(m) OVER (PARTITION BY o_orderpriority) AS n
      FROM hist
    ), b AS (
      SELECT o_orderpriority,
             MIN(CASE WHEN cum >= floor(CAST(0.5 AS DOUBLE)*(n-1))+1 THEN o_totalprice END) AS lo50,
             MIN(CASE WHEN cum >= floor(CAST(0.5 AS DOUBLE)*(n-1))+2 THEN o_totalprice END) AS hi50,
             MIN(CASE WHEN cum >= floor(CAST(0.95 AS DOUBLE)*(n-1))+1 THEN o_totalprice END) AS lo95,
             MIN(CASE WHEN cum >= floor(CAST(0.95 AS DOUBLE)*(n-1))+2 THEN o_totalprice END) AS hi95,
             MIN(CASE WHEN cum >= floor(CAST(0.99 AS DOUBLE)*(n-1))+1 THEN o_totalprice END) AS lo99,
             MIN(CASE WHEN cum >= floor(CAST(0.99 AS DOUBLE)*(n-1))+2 THEN o_totalprice END) AS hi99,
             CAST(MIN(n) AS BIGINT) AS n
      FROM c GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           lo50 + (CAST(0.5 AS DOUBLE)*(n-1) - floor(CAST(0.5 AS DOUBLE)*(n-1)))
                * (coalesce(hi50, lo50) - lo50) AS p50,
           lo95 + (CAST(0.95 AS DOUBLE)*(n-1) - floor(CAST(0.95 AS DOUBLE)*(n-1)))
                * (coalesce(hi95, lo95) - lo95) AS p95,
           lo99 + (CAST(0.99 AS DOUBLE)*(n-1) - floor(CAST(0.99 AS DOUBLE)*(n-1)))
                * (coalesce(hi99, lo99) - lo99) AS p99,
           n AS n_orders
    FROM b
    """,
    tags=("agg", "stats", "percentile"),
)
def exact_percentiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT continuous (interpolated) percentiles — percentile_cont(q) =
    v[floor(h)] + (h - floor(h)) * (v[ceil(h)] - v[floor(h)]) with
    h = q*(n-1) over the sorted values — the SQL-standard companion to
    `exact_percentiles_disc`. Bit-identical across engines because both
    compute the SAME doubles: h from an exact decimal literal times an
    integer, the two bracketing values selected by integer rank
    thresholds from the histogram (no per-row window), and ONE
    lo + frac*(hi-lo) interpolation in IEEE double with identical
    association on both sides (the oracle's expression mirrors this
    form literally).

    Scale: identical discipline to the disc form — count-value histogram
    (|distinct 2-decimal prices| rows per priority, domain-bounded), the
    cumulative window over the histogram only, rank selection as
    min-when aggregates; the naive percentile_cont window would route
    every order of a priority through one task."""
    o = load_table(spark, sf_dir, "orders")
    cume = hist_cume_counts(
        o.select("o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
    )
    aggs = []
    interps = {}
    for q, tag in ((0.5, "50"), (0.95, "95"), (0.99, "99")):
        lo_hi, interp = _cont_parts(q)
        lo, hi = lo_hi("o_totalprice")
        aggs += [lo.alias(f"lo{tag}"), hi.alias(f"hi{tag}")]
        interps[f"p{tag}"] = interp(f"lo{tag}", f"hi{tag}")
    b = cume.groupBy("o_orderpriority").agg(
        *aggs,
        F.min("n_stratum").alias("n"),
    )
    return b.select(
        "o_orderpriority",
        interps["p50"].alias("p50"),
        interps["p95"].alias("p95"),
        interps["p99"].alias("p99"),
        F.col("n").alias("n_orders"),
    )


# Internal aliases are underscore-prefixed so a caller's {val}/{strat}
# column named n/m/cum cannot shadow them (the events MAD query's
# value column IS n - an unprefixed template silently computed a
# wrong median through the ambiguous reference).
_P50_SQL = """
      SELECT {strat},
             MIN(CASE WHEN _cum >= floor(CAST(0.5 AS DOUBLE)*(_pn-1))+1
                      THEN {val} END)
             + (CAST(0.5 AS DOUBLE)*(MIN(_pn)-1)
                - floor(CAST(0.5 AS DOUBLE)*(MIN(_pn)-1)))
               * (coalesce(MIN(CASE WHEN _cum >= floor(CAST(0.5 AS DOUBLE)*(_pn-1))+2
                                    THEN {val} END),
                           MIN(CASE WHEN _cum >= floor(CAST(0.5 AS DOUBLE)*(_pn-1))+1
                                    THEN {val} END))
                  - MIN(CASE WHEN _cum >= floor(CAST(0.5 AS DOUBLE)*(_pn-1))+1
                             THEN {val} END)) AS {alias},
             CAST(MIN(_pn) AS BIGINT) AS {nalias}
      FROM (
        SELECT {strat}, {val},
               SUM(_m) OVER (PARTITION BY {strat} ORDER BY {val}) AS _cum,
               SUM(_m) OVER (PARTITION BY {strat}) AS _pn
        FROM (SELECT {strat}, {val}, COUNT(*) AS _m FROM {src}
              GROUP BY {strat}, {val})
      ) GROUP BY {strat}
"""


@query(
    "mad_totalprice_by_priority",
    oracle=f"""
    WITH med AS ({_P50_SQL.format(strat="o_orderpriority", val="o_totalprice",
                                  alias="med", nalias="n_orders", src="orders")}),
    dev AS (
      SELECT o.o_orderpriority, abs(o.o_totalprice - m.med) AS d
      FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority
    ),
    madt AS ({_P50_SQL.format(strat="o_orderpriority", val="d",
                              alias="mad", nalias="n2", src="dev")})
    SELECT med.o_orderpriority, med.med, madt.mad, med.n_orders
    FROM med JOIN madt ON med.o_orderpriority = madt.o_orderpriority
    """,
    tags=("agg", "stats", "robust"),
)
def mad_totalprice_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation (the robust spread statistic quality
    pipelines prefer over stddev on heavy-tailed prices/lengths): per
    priority, med = interpolated median of o_totalprice, mad =
    interpolated median of |x - med|. Both medians use the
    `exact_percentiles_cont` histogram closed form, and the per-row
    deviation stage joins the |priorities|-row median table back
    BROADCAST — so the whole operator is two histogram passes plus a
    scan-speed map, no per-row window anywhere. The oracle spells out
    the SAME interpolation expression (NOT DuckDB's built-in
    median()/mad(), whose even-n midpoint is (lo+hi)/2 — a different
    IEEE expression from lo + 0.5*(hi-lo) that can differ in the last
    bit)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    med = _hist_p50(o, ["o_orderpriority"], "o_totalprice", "med", "n_orders")
    dev = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("d"),
    )
    madt = _hist_p50(dev, ["o_orderpriority"], "d", "mad", "n2").select(
        "o_orderpriority", "mad"
    )
    return med.join(madt, "o_orderpriority").select(
        "o_orderpriority", "med", "mad", "n_orders"
    )


_DTOK_SQL = """
    dtok AS (
      SELECT source, CAST(len(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    )
"""


@query(
    "source_doclen_mad_profile",
    oracle=f"""
    WITH {_DTOK_SQL},
    med AS ({_P50_SQL.format(strat="source", val="n_tok",
                             alias="med", nalias="n_docs", src="dtok")}),
    dev AS (
      SELECT d.source, abs(d.n_tok - m.med) AS dv
      FROM dtok d JOIN med m ON d.source = m.source
    ),
    madt AS ({_P50_SQL.format(strat="source", val="dv",
                              alias="mad", nalias="n2", src="dev")})
    SELECT med.source, med.med, madt.mad, med.n_docs
    FROM med JOIN madt ON med.source = madt.source
    """,
    tags=("stats", "robust", "llm", "telemetry"),
)
def source_doclen_mad_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length profile: median token count and its MAD —
    the curation dashboard's outlier-resistant replacement for mean±σ on
    heavy-tailed document lengths (one boilerplate blob inflates a
    source's σ but not its MAD, so drift alarms keyed on MAD don't
    mute). Same double-histogram construction as
    `mad_totalprice_by_priority` (token counts are an even tighter
    histogram domain than prices), deviation stage joins the
    |sources|-row median table broadcast."""
    from ..llm.text import tokens_col

    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens_col()).cast("long").alias("n_tok")
    )
    med = _hist_p50(d, ["source"], "n_tok", "med", "n_docs")
    dev = d.join(F.broadcast(med), "source").select(
        "source", F.abs(F.col("n_tok") - F.col("med")).alias("dv")
    )
    madt = _hist_p50(dev, ["source"], "dv", "mad", "n2").select("source", "mad")
    return med.join(madt, "source").select("source", "med", "mad", "n_docs")


@query(
    "events_hourly_mad_anomaly",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS wstart,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    hv AS (SELECT event_type, n FROM h),
    med AS ({_P50_SQL.format(strat="event_type", val="n",
                             alias="med", nalias="n_hours", src="hv")}),
    dev AS (
      SELECT h.event_type, abs(h.n - m.med) AS dv
      FROM h JOIN med m ON h.event_type = m.event_type
    ),
    madt AS ({_P50_SQL.format(strat="event_type", val="dv",
                              alias="mad", nalias="n2", src="dev")})
    SELECT h.event_type, h.wstart, h.n, med.med, madt.mad,
           abs(h.n - med.med) > 3 * madt.mad AS is_anomaly
    FROM h JOIN med ON h.event_type = med.event_type
           JOIN madt ON h.event_type = madt.event_type
    """,
    tags=("stats", "robust", "events", "anomaly"),
)
def events_hourly_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust burst detection over the hourly event series: an hour is
    anomalous for its type when |count − median| > 3·MAD of that type's
    hourly counts — the heavy-tail-resistant twin of the z-score
    detectors (one traffic spike inflates a mean/σ alarm threshold and
    mutes the next spike; it barely moves the median/MAD). med and MAD
    come from the shared double-histogram median (`_hist_p50`); the
    per-hour flag join is broadcast (|types| rows of thresholds against
    the calendar-bounded hourly aggregate). Scale: the only row-volume
    pass is the hourly COUNT group-by; everything downstream is
    hours×types-sized."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.unix_timestamp(F.col("w.start")).cast("long").alias("wstart"),
            "n",
        )
    )
    med = _hist_p50(h.select("event_type", "n"), ["event_type"], "n",
                    "med", "n_hours").select("event_type", "med")
    dev = h.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("n") - F.col("med")).alias("dv")
    )
    madt = _hist_p50(dev, ["event_type"], "dv", "mad", "n2").select(
        "event_type", "mad"
    )
    return (
        h.join(F.broadcast(med), "event_type")
        .join(F.broadcast(madt), "event_type")
        .select(
            "event_type",
            "wstart",
            "n",
            "med",
            "mad",
            (F.abs(F.col("n") - F.col("med")) > 3 * F.col("mad")).alias(
                "is_anomaly"
            ),
        )
    )


_RFM_DISC = """
  SELECT seg,
         MIN(CASE WHEN cd >= 0.25 THEN {v} END) AS {a}25,
         MIN(CASE WHEN cd >= 0.5  THEN {v} END) AS {a}50,
         MIN(CASE WHEN cd >= 0.75 THEN {v} END) AS {a}75
  FROM (SELECT seg, {v},
               cume_dist() OVER (PARTITION BY seg ORDER BY {v}) AS cd
        FROM cm2)
  GROUP BY 1
"""


@query(
    "customer_rfm_segments",
    oracle=f"""
    WITH cm AS (
      SELECT o_custkey,
             MAX(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400)
               AS last_day,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS mon_cents
      FROM orders GROUP BY 1
    ),
    cm2 AS (
      SELECT c.c_mktsegment AS seg,
             (SELECT MAX(last_day) FROM cm) - cm.last_day AS recency,
             cm.freq, cm.mon_cents,
             cm.mon_cents // 10000 AS mon_grid
      FROM cm JOIN customer c ON cm.o_custkey = c.c_custkey
    ),
    tr AS ({_RFM_DISC.format(v="recency", a="r")}),
    tf AS ({_RFM_DISC.format(v="freq", a="f")}),
    tm AS ({_RFM_DISC.format(v="mon_grid", a="m")}),
    b AS (
      SELECT cm2.seg, cm2.mon_cents,
             CAST(1 + CASE WHEN recency > r25 THEN 1 ELSE 0 END
                    + CASE WHEN recency > r50 THEN 1 ELSE 0 END
                    + CASE WHEN recency > r75 THEN 1 ELSE 0 END
                  AS INTEGER) AS r_seg,
             CAST(1 + CASE WHEN freq > f25 THEN 1 ELSE 0 END
                    + CASE WHEN freq > f50 THEN 1 ELSE 0 END
                    + CASE WHEN freq > f75 THEN 1 ELSE 0 END
                  AS INTEGER) AS f_seg,
             CAST(1 + CASE WHEN mon_grid > m25 THEN 1 ELSE 0 END
                    + CASE WHEN mon_grid > m50 THEN 1 ELSE 0 END
                    + CASE WHEN mon_grid > m75 THEN 1 ELSE 0 END
                  AS INTEGER) AS m_seg
      FROM cm2 JOIN tr USING (seg) JOIN tf USING (seg) JOIN tm USING (seg)
    )
    SELECT seg, r_seg, f_seg, m_seg,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(mon_cents) AS BIGINT) AS total_monetary_cents
    FROM b GROUP BY 1, 2, 3, 4
    """,
    tags=("stats", "segmentation", "percentile"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-curation operator: per
    market segment, split customers into quartile classes on Recency
    (days since last order), Frequency (order count) and Monetary (total
    spend), then report each (R, F, M) cell's size and revenue. The same
    shape an LLM-data pipeline uses to stratify sources by
    recency/volume/quality before mixing.

    Segment-relative quartiles (thresholds per c_mktsegment) keep every
    percentile in the count-value-histogram closed form: recency is
    calendar-bounded, frequency is count-bounded, and monetary is
    quantized to a $100 grid — floor(cents/10⁴), domain bounded by the
    maximum spend, not by row count — so each threshold window runs over
    |distinct values| per segment, never |customers| (the ranks.py
    discipline). Thresholds are the exact DISCRETE percentiles
    (`hist_disc_percentile` == MIN(value WHERE cume_dist ≥ q), proven
    equal in both engines), class assignment is pure integer comparison,
    and the outputs are exact int64 — no FP anywhere. Customers with no
    orders have no RFM coordinates and are excluded (inner join from the
    orders aggregate), matching the oracle.

    Plan: one partial-aggregatable per-customer fold over orders (the
    row-volume pass), a key join to customer, a 1-row max-day broadcast,
    three histogram threshold passes (segment-domain-sized), three
    broadcast joins of ≤|segments|-row threshold tables, and a ≤
    |segments|·64-row final aggregate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    day = F.expr("unix_micros(o_orderdate) div 1000000 div 86400")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    cm = o.groupBy("o_custkey").agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents).alias("mon_cents"),
    )
    gmax = cm.agg(F.max("last_day").alias("gmax"))
    cm2 = (
        cm.join(
            c.select("c_custkey", F.col("c_mktsegment").alias("seg")),
            cm.o_custkey == F.col("c_custkey"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            "seg",
            (F.col("gmax") - F.col("last_day")).alias("recency"),
            "freq",
            "mon_cents",
            F.expr("mon_cents div 10000").alias("mon_grid"),
        )
    )

    def thresholds(measure: str, a: str) -> DataFrame:
        return (
            hist_cume_counts(cm2.select("seg", measure), ["seg"], measure)
            .groupBy("seg")
            .agg(
                hist_disc_percentile(measure, 0.25, f"{a}25"),
                hist_disc_percentile(measure, 0.5, f"{a}50"),
                hist_disc_percentile(measure, 0.75, f"{a}75"),
            )
        )

    def cls(measure: str, a: str) -> F.Column:
        return (
            F.lit(1)
            + (F.col(measure) > F.col(f"{a}25")).cast("int")
            + (F.col(measure) > F.col(f"{a}50")).cast("int")
            + (F.col(measure) > F.col(f"{a}75")).cast("int")
        ).cast("int")

    b = (
        cm2.join(F.broadcast(thresholds("recency", "r")), "seg")
        .join(F.broadcast(thresholds("freq", "f")), "seg")
        .join(F.broadcast(thresholds("mon_grid", "m")), "seg")
        .select(
            "seg",
            "mon_cents",
            cls("recency", "r").alias("r_seg"),
            cls("freq", "f").alias("f_seg"),
            cls("mon_grid", "m").alias("m_seg"),
        )
    )
    return b.groupBy("seg", "r_seg", "f_seg", "m_seg").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("mon_cents").alias("total_monetary_cents"),
    )


def _cust_spend_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer lifetime spend in exact cents — the cached projection
    both exact_customer_spend_percentiles and
    customer_revenue_concentration narrow over. shared_persist
    (get-or-create), NOT tracked_persist: the slot is keyed only by
    sf_dir and consumed by two queries, so an evict-and-re-register would
    throw away the first consumer's materialized copy mid-session and
    re-run the per-customer fold."""
    from ..llm.cache import shared_persist

    return shared_persist(
        spark,
        lambda: _cust_spend_cells(spark, sf_dir, load_table),
        f"cust_spend_cents:{sf_dir}",
    )


def _cust_spend_cells(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    o = read(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))


def _event_value_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-null (event_type, micro-unit value) projection — the cached
    column event_value_percentiles_by_type and
    event_value_concentration_by_type both narrow over; same
    shared_persist rationale as _cust_spend_cents. The null filter pins
    the shared convention: n_events and every rank use the same non-null
    count in both consumers and both oracles."""
    from ..llm.cache import shared_persist

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        m = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
        return ev.filter(F.col("value").isNotNull()).select(
            "event_type", m.alias("m")
        )

    return shared_persist(spark, build, f"event_value_micro:{sf_dir}")


@query(
    "exact_customer_spend_percentiles",
    oracle="""
    WITH cm AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM cm),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cm)
    SELECT t.n AS n_customers,
           (SELECT cents FROM r WHERE rn = CAST(ceil(0.5 * t.n) AS BIGINT))
             AS p50_cents,
           (SELECT cents FROM r WHERE rn = CAST(ceil(0.95 * t.n) AS BIGINT))
             AS p95_cents,
           (SELECT cents FROM r WHERE rn = CAST(ceil(0.99 * t.n) AS BIGINT))
             AS p99_cents
    FROM t
    """,
    tags=("stats", "percentile", "iterative"),
)
def exact_customer_spend_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT discrete p50/p95/p99 of per-customer lifetime spend — a
    measure whose domain is UNBOUNDED (per-key sums have row-scale
    cardinality), so neither the count-value-histogram closed form (needs
    a bounded domain) nor a grid quantization (`customer_rfm_segments`'
    compromise) applies. Each percentile is the ⌈q·n⌉-th order statistic,
    found by `kth_order_statistic`'s iterative range narrowing: ≤13
    rounds of one pushed-filter scan + a 32-row bucket census each — no
    sort, no single partition, no row-scale driver transfer, at any
    corpus size. The per-customer aggregate is session-cached so the
    narrowing rounds re-scan the small cached column, not orders.

    The ⌈q·n⌉ rank is computed with the same IEEE double multiply in both
    engines (ceil(0.95·n) — deliberately stated as FP in the oracle too,
    so a boundary-epsilon can never make the engines pick different
    ranks). percentile_disc semantics: smallest value whose cume_dist
    reaches q — ties on the value are rank-order-free by construction
    (the value at a rank is unique even when row numbers among ties are
    not)."""
    from ..functions.ranks import kth_order_statistics

    cm = _cust_spend_cents(spark, sf_dir)
    n = cm.count()
    # All three quantiles ride ONE census sequence (multi-rank narrower;
    # cents is non-null by construction, so its internal count equals n).
    vals = kth_order_statistics(
        cm, "cents", {"p50": 0.5, "p95": 0.95, "p99": 0.99}
    )
    return spark.createDataFrame(
        [(n, vals["p50"], vals["p95"], vals["p99"])],
        "n_customers long, p50_cents long, p95_cents long, p99_cents long",
    )


@query(
    "event_value_percentiles_by_type",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS m
      FROM events
      WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, m,
             row_number() OVER (PARTITION BY event_type ORDER BY m) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                    THEN m END) AS p50_micro,
           MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
                    THEN m END) AS p95_micro,
           MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
                    THEN m END) AS p99_micro
    FROM r GROUP BY event_type
    """,
    tags=("stats", "percentile", "iterative", "events"),
)
def event_value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-type p50/p95/p99 of event values — the per-stratum twin
    of `exact_customer_spend_percentiles`, via `kth_order_statistics_by`:
    every event type's rank narrows in the SAME ≤13 rounds, each ONE
    (type, bucket)-census job over the cached (type, value) projection —
    never a per-type loop, never a per-type sort. Values are measured on
    the exact micro-unit grid (floor(value·10⁶ + 0.5) — the same one
    IEEE multiply in both engines), so the order statistics are integers
    and engine-exact; the micro domain is UNBOUNDED (no histogram closed
    form applies). Ranks are percentile_disc's max(1, ⌈q·n⌉), stated as
    FP in the oracle too. The oracle sorts per type — fine at oracle
    scale, the exact shape the narrowing exists to avoid at 100 TB.

    NULL convention: null event values are FILTERED at the projection
    (and by the oracle's WHERE), so n_events and every rank use the same
    non-null count as `kth_order_statistics_by`'s internal F.count(v) —
    the two can never diverge, and an all-null type simply drops out of
    the report instead of raising. (The fixture has no null values; the
    filter pins the convention, not the data.)"""
    from ..functions.ranks import kth_order_statistics_by

    tv = _event_value_micro(spark, sf_dir)
    ns = {
        r["event_type"]: r["n"]
        for r in tv.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # 256-way branching: the census is still ≤|types|·257 rows, and the
    # micro-unit domain (~2^30 at fixture value ranges, ~2^45 for any
    # plausible metric) narrows in 4–6 rounds instead of 6–13. All three
    # quantiles ride ONE census sequence (multi-rank narrower).
    pct = kth_order_statistics_by(
        tv, "event_type", "m",
        q={"p50": 0.5, "p95": 0.95, "p99": 0.99}, n_buckets=256,
    )
    return spark.createDataFrame(
        [
            (et, n, pct[et]["p50"], pct[et]["p95"], pct[et]["p99"])
            for et, n in sorted(ns.items())
        ],
        "event_type string, n_events long, p50_micro long, p95_micro long, "
        "p99_micro long",
    )


@query(
    "customer_order_gap_percentiles",
    oracle="""
    WITH d AS (
      SELECT c.c_mktsegment, o.o_custkey, o.o_orderkey,
             CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400 AS day
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT c_mktsegment,
             day - lag(day) OVER (PARTITION BY o_custkey
                                  ORDER BY day, o_orderkey) AS gap_days
      FROM d
    ),
    r AS (
      SELECT c_mktsegment, gap_days,
             cume_dist() OVER (PARTITION BY c_mktsegment
                               ORDER BY gap_days) AS cd
      FROM g WHERE gap_days IS NOT NULL
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           MIN(CASE WHEN cd >= 0.5 THEN gap_days END) AS p50_gap_days,
           MIN(CASE WHEN cd >= 0.9 THEN gap_days END) AS p90_gap_days,
           MIN(CASE WHEN cd >= 0.99 THEN gap_days END) AS p99_gap_days
    FROM r GROUP BY 1
    """,
    tags=("stats", "percentile", "temporal", "retention"),
)
def customer_order_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles of the INTER-ORDER GAP (days between a
    customer's consecutive orders) per market segment — the re-purchase
    cadence distribution behind churn thresholds and retention-window
    choices (`cohort_retention` asks "did they come back"; this asks
    "how long do comebacks take, segment by segment").

    Two-window composition, each scale-safe for a different reason: the
    GAP derivation lags over (o_custkey) — row-scale key cardinality, so
    per-group sizes are a customer's own order count, never a volume
    share; the PERCENTILE selection is the count-value histogram closed
    form over (segment, gap_days) — the segment stratum is bounded (5)
    and would squeeze a naive per-row window through 5 tasks, but gap
    days are CALENDAR-bounded so the cumulative window input is
    |gap domain| rows per segment. Gaps are exact epoch-day integer
    differences; ties in a customer's same-day orders break on
    o_orderkey (stated identically in the oracle), and same-day repeat
    orders legitimately yield gap 0."""
    from ..functions.ranks import hist_cume_counts, hist_disc_percentile
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    d = o.select(
        "o_custkey",
        "o_orderkey",
        F.expr("unix_micros(o_orderdate) div 1000000 div 86400").alias("day"),
    ).join(c, F.col("o_custkey") == F.col("c_custkey"))
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = (
        d.select(
            "c_mktsegment",
            (F.col("day") - F.lag("day").over(w)).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    cume = hist_cume_counts(gaps, ["c_mktsegment"], "gap_days")
    return cume.groupBy("c_mktsegment").agg(
        F.sum("m").alias("n_gaps"),
        hist_disc_percentile("gap_days", 0.5, "p50_gap_days"),
        hist_disc_percentile("gap_days", 0.9, "p90_gap_days"),
        hist_disc_percentile("gap_days", 0.99, "p99_gap_days"),
    )


# Shared with the streaming twin in streaming/stream.py: one statement of
# the exact-cents per-customer fold, the five percentile_disc thresholds
# and the value-based membership fold, so batch and stream cannot drift.
CUSTOMER_REV_CONCENTRATION_ORACLE = """
    WITH cm AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents) AS rn,
             COUNT(*) OVER () AS n
      FROM cm
    ),
    grid AS (SELECT unnest([50, 75, 90, 95, 99]) AS pct),
    th AS (
      SELECT g.pct,
             MAX(CASE WHEN r.rn = greatest(1, CAST(ceil(g.pct / 100.0 * r.n)
                                                   AS BIGINT))
                      THEN r.cents END) AS threshold_cents
      FROM grid g CROSS JOIN r GROUP BY 1
    )
    SELECT t.pct, t.threshold_cents,
           CAST(SUM(CASE WHEN c.cents >= t.threshold_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN c.cents >= t.threshold_cents THEN c.cents
                         ELSE 0 END) AS BIGINT) AS revenue_cents,
           CAST(SUM(CASE WHEN c.cents >= t.threshold_cents THEN c.cents
                         ELSE 0 END) AS DOUBLE)
             / CAST(CAST(SUM(c.cents) AS BIGINT) AS DOUBLE) AS revenue_share
    FROM th t CROSS JOIN cm c
    GROUP BY 1, 2
    """


def _revenue_concentration_report(
    cm: DataFrame,
    value_col: str = "cents",
    threshold_col: str = "threshold_cents",
    n_col: str = "n_customers",
    mass_col: str = "revenue_cents",
    share_col: str = "revenue_share",
) -> DataFrame:
    """Five-checkpoint concentration report over a per-entity exact-int64
    frame (column ``value_col``) — the shared tail of
    customer_revenue_concentration, its streaming twin and the
    user-axis events report, so the derivations cannot drift:
    `kth_order_statistic` narrowing for the thresholds, then ONE fold
    against the broadcast 5-row grid. Output column names are
    parameterized (defaults keep the original revenue vocabulary) —
    the derivation is identical for every caller."""
    from ..functions.ranks import kth_order_statistics

    # All five checkpoints ride ONE census sequence (multi-rank narrower;
    # q = pct/100.0 gives the same max(1, ceil(q·n)) rank, values non-null
    # by construction).
    th = kth_order_statistics(
        cm,
        value_col,
        {str(pct): pct / 100.0 for pct in (50, 75, 90, 95, 99)},
    )
    grid = cm.sparkSession.createDataFrame(
        [(pct, th[str(pct)]) for pct in (50, 75, 90, 95, 99)],
        f"pct long, {threshold_col} long",
    )
    above = F.col(value_col) >= F.col(threshold_col)
    g = cm.crossJoin(F.broadcast(grid)).groupBy("pct", threshold_col).agg(
        F.sum(F.when(above, 1).otherwise(0)).cast("long").alias(n_col),
        F.sum(F.when(above, F.col(value_col)).otherwise(0)).alias(mass_col),
        F.sum(value_col).alias("_total"),
    )
    return g.select(
        "pct",
        threshold_col,
        n_col,
        mass_col,
        (
            F.col(mass_col).cast("double") / F.col("_total").cast("double")
        ).alias(share_col),
    )


@query(
    "customer_revenue_concentration",
    oracle=CUSTOMER_REV_CONCENTRATION_ORACLE,
    tags=("stats", "percentile", "iterative", "concentration"),
    twin=Twin(_cust_spend_cells, _revenue_concentration_report),
)
def customer_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration report (the Pareto read every growth team
    runs): for spend-percentile checkpoints p ∈ {50, 75, 90, 95, 99},
    the EXACT spend threshold at that percentile and the customer count
    and revenue share at-or-above it — "the top decile of customers
    carries X% of revenue". Membership is VALUE-based (spend ≥ the exact
    percentile_disc threshold), so ties at a boundary land on one
    deterministic side in both engines — unlike ntile/top-k%-by-rank,
    whose tie-splitting is engine-arbitrary.

    Scale shape: the five thresholds come from `kth_order_statistic`
    range narrowing over the cached per-customer spend projection (the
    same unbounded-domain primitive and cache slot as
    `exact_customer_spend_percentiles` — thresholds over row-scale
    sums have no histogram closed form), then ONE distributed fold:
    spend × broadcast 5-row threshold grid, grouped by checkpoint —
    every group sees all customers, so SUM(cents) per group IS the
    denominator and the share divides two exact int64 sums. No sort, no
    ntile window, no driver-side aggregation. The oracle's global
    row_number is fine at oracle scale. Thresholds + fold live in the
    shared _revenue_concentration_report tail (the streaming twin runs
    the same derivation over its sink table)."""
    return _revenue_concentration_report(_cust_spend_cents(spark, sf_dir))


@query(
    "customer_value_migration_matrix",
    oracle="""
    WITH od AS (
      SELECT o_custkey,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT day, row_number() OVER (ORDER BY day) AS rn,
             COUNT(*) OVER () AS n
      FROM od
    ),
    mid AS (
      SELECT MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                      THEN day END) AS d
      FROM r
    ),
    s AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN day <= mid.d THEN cents ELSE 0 END)
                  AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN day > mid.d THEN cents ELSE 0 END)
                  AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN day <= mid.d THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN day > mid.d THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM od CROSS JOIN mid GROUP BY 1
    ),
    p AS (SELECT o_custkey, s1, s2 FROM s WHERE n1 > 0 AND n2 > 0),
    r1 AS (
      SELECT s1 AS v, row_number() OVER (ORDER BY s1) AS rn,
             COUNT(*) OVER () AS n
      FROM p
    ),
    t1 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r1 GROUP BY 1
    ),
    t1p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS a1,
             MAX(CASE WHEN q = 2 THEN t END) AS a2,
             MAX(CASE WHEN q = 3 THEN t END) AS a3,
             MAX(CASE WHEN q = 4 THEN t END) AS a4
      FROM t1
    ),
    r2 AS (
      SELECT s2 AS v, row_number() OVER (ORDER BY s2) AS rn,
             COUNT(*) OVER () AS n
      FROM p
    ),
    t2 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r2 GROUP BY 1
    ),
    t2p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS b1,
             MAX(CASE WHEN q = 2 THEN t END) AS b2,
             MAX(CASE WHEN q = 3 THEN t END) AS b3,
             MAX(CASE WHEN q = 4 THEN t END) AS b4
      FROM t2
    ),
    m AS (
      SELECT 1 + (CASE WHEN p.s1 > t1p.a1 THEN 1 ELSE 0 END)
               + (CASE WHEN p.s1 > t1p.a2 THEN 1 ELSE 0 END)
               + (CASE WHEN p.s1 > t1p.a3 THEN 1 ELSE 0 END)
               + (CASE WHEN p.s1 > t1p.a4 THEN 1 ELSE 0 END) AS q1,
             1 + (CASE WHEN p.s2 > t2p.b1 THEN 1 ELSE 0 END)
               + (CASE WHEN p.s2 > t2p.b2 THEN 1 ELSE 0 END)
               + (CASE WHEN p.s2 > t2p.b3 THEN 1 ELSE 0 END)
               + (CASE WHEN p.s2 > t2p.b4 THEN 1 ELSE 0 END) AS q2
      FROM p CROSS JOIN t1p CROSS JOIN t2p
    ),
    g AS (
      SELECT q1, q2, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM m GROUP BY 1, 2
    ),
    tot AS (SELECT q1, CAST(SUM(n_customers) AS BIGINT) AS n_q1 FROM g GROUP BY 1)
    SELECT CAST(g.q1 AS BIGINT) AS quintile_h1,
           CAST(g.q2 AS BIGINT) AS quintile_h2,
           g.n_customers, tot.n_q1,
           CAST(g.n_customers AS DOUBLE) / tot.n_q1 AS row_share
    FROM g JOIN tot ON g.q1 = tot.q1
    """,
    tags=("stats", "iterative", "retention", "matrix"),
)
def customer_value_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer VALUE-MIGRATION matrix: split the order timeline at its
    exact median order day, assign every customer active in BOTH halves
    a spend quintile per half (value-based thresholds — exact
    percentile_disc spend values, so boundary ties land deterministically
    in both engines, never ntile's arbitrary rank splits), and report the
    ≤25-cell transition matrix with each cell's share of its first-half
    quintile row — the upgrade/churn flow read (how much of the top
    quintile stays top? where do Q1 customers go?) behind LTV models and
    retention targeting.

    Everything data-dependent is derived with the `kth_order_statistic`
    narrowing primitive over cached projections: the median split day
    (over the order-day column) and the 4+4 quintile thresholds (over
    each half's per-customer spend, both row-scale unbounded-domain
    sums). After the thresholds are known (driver-bounded census loops),
    the matrix is ONE pass: per-customer CASE ladder against eight
    literal thresholds, a ≤25-cell fold, and a ≤5-row total join.
    Ranks are max(1, ⌈q·n⌉) with q = k/5.0 — the same IEEE multiply the
    oracle states; the oracle's global row_number CTEs are fine at
    oracle scale (the exact shape the narrowing avoids at 100 TB)."""
    import math

    from ..functions.ranks import (
        kth_order_statistic,
        quintile_ladder,
        quintile_thresholds,
    )
    from ..llm.cache import tracked_persist

    o = load_table(spark, sf_dir, "orders")
    od = tracked_persist(
        o.select(
            "o_custkey",
            F.expr("unix_micros(o_orderdate) div 1000000 div 86400").alias(
                "day"
            ),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        ),
        f"cust_day_cents:{sf_dir}",
    )
    n_orders = od.count()
    mid = kth_order_statistic(od, "day", max(1, math.ceil(0.5 * n_orders)))
    h1 = F.col("day") <= mid
    p = tracked_persist(
        od.groupBy("o_custkey")
        .agg(
            F.sum(F.when(h1, F.col("cents")).otherwise(0)).alias("s1"),
            F.sum(F.when(~h1, F.col("cents")).otherwise(0)).alias("s2"),
            F.sum(F.when(h1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(~h1, 1).otherwise(0)).alias("n2"),
        )
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select("o_custkey", "s1", "s2"),
        f"cust_half_spend:{sf_dir}",
    )
    # Both halves' eight quintile thresholds ride ONE shared unpivoted
    # census sequence (round-15 quintile_thresholds; s1/s2 non-null sums).
    th = quintile_thresholds(p, ["s1", "s2"])

    g = p.select(
        quintile_ladder("s1", th["s1"]).alias("quintile_h1"),
        quintile_ladder("s2", th["s2"]).alias("quintile_h2"),
    ).groupBy("quintile_h1", "quintile_h2").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    tot = g.groupBy("quintile_h1").agg(F.sum("n_customers").alias("n_q1"))
    return g.join(F.broadcast(tot), "quintile_h1").select(
        "quintile_h1",
        "quintile_h2",
        "n_customers",
        "n_q1",
        (F.col("n_customers").cast("double") / F.col("n_q1")).alias(
            "row_share"
        ),
    )


@query(
    "event_value_concentration_by_type",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS m
      FROM events
      WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, m,
             row_number() OVER (PARTITION BY event_type ORDER BY m) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    th AS (
      SELECT event_type,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT))
                      THEN m END) AS threshold_micro
      FROM r GROUP BY 1
    )
    SELECT v.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           t.threshold_micro,
           CAST(SUM(CASE WHEN v.m >= t.threshold_micro THEN 1 ELSE 0 END)
                AS BIGINT) AS n_top,
           CAST(SUM(CASE WHEN v.m >= t.threshold_micro THEN v.m ELSE 0 END)
                AS BIGINT) AS top_value_micro,
           CAST(SUM(CASE WHEN v.m >= t.threshold_micro THEN v.m ELSE 0 END)
                AS DOUBLE)
             / CAST(CAST(SUM(v.m) AS BIGINT) AS DOUBLE) AS top_value_share
    FROM v JOIN th t ON v.event_type = t.event_type
    GROUP BY 1, 3
    """,
    tags=("stats", "iterative", "events", "concentration"),
)
def event_value_concentration_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type VALUE concentration: for every event type, the exact p90
    value threshold (micro-unit grid) and how much of the type's total
    value mass the at-or-above-threshold events carry — the
    whale-detection read (is this type's value dominated by its tail?)
    that decides between mean-based and percentile-based alerting, the
    `customer_revenue_concentration` fold stratified by the
    `kth_order_statistics_by` narrower.

    The p90 thresholds for ALL types narrow together (one census job per
    round over the same cached non-null (type, micro) projection as
    `event_value_percentiles_by_type` — same null convention, stated by
    the oracle's WHERE); the concentration is then ONE partial-
    aggregatable fold against the broadcast |types|-row threshold grid.
    Counts and masses exact int64; the share is one IEEE division, the
    oracle casting its HUGEINT sum through BIGINT first (the 2^53 rule:
    total micro mass must stay below 9e15 — ~9 billion events at the
    fixture's value scale; beyond that, re-grain the grid)."""
    from ..functions.ranks import kth_order_statistics_by

    tv = _event_value_micro(spark, sf_dir)
    th = kth_order_statistics_by(tv, "event_type", "m", q=0.9, n_buckets=256)
    grid = spark.createDataFrame(
        sorted(th.items()), "event_type string, threshold_micro long"
    )
    top = F.col("m") >= F.col("threshold_micro")
    g = tv.join(F.broadcast(grid), "event_type").groupBy(
        "event_type", "threshold_micro"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(top, 1).otherwise(0)).cast("long").alias("n_top"),
        F.sum(F.when(top, F.col("m")).otherwise(0)).alias("top_value_micro"),
        F.sum("m").alias("_total"),
    )
    return g.select(
        "event_type",
        "n_events",
        "threshold_micro",
        "n_top",
        "top_value_micro",
        (
            F.col("top_value_micro").cast("double")
            / F.col("_total").cast("double")
        ).alias("top_value_share"),
    )


# Shared with the streaming twin in streaming/stream.py: one statement of
# the per-part counts, the percentile_disc ranks and the concentration
# fold, so batch and stream cannot drift.
PART_DEMAND_ORACLE = """
    WITH c AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT n, row_number() OVER (ORDER BY n) AS rn,
             COUNT(*) OVER () AS m
      FROM c
    ),
    th AS (
      SELECT MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * m) AS BIGINT))
                      THEN n END) AS p50,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * m) AS BIGINT))
                      THEN n END) AS p90
      FROM r
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           th.p50 AS p50_lines,
           th.p90 AS p90_lines,
           CAST(SUM(CASE WHEN c.n >= th.p90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_top_parts,
           CAST(SUM(CASE WHEN c.n >= th.p90 THEN c.n ELSE 0 END) AS BIGINT)
             AS top_lines,
           CAST(CAST(SUM(CASE WHEN c.n >= th.p90 THEN c.n ELSE 0 END)
                     AS BIGINT) AS DOUBLE)
             / CAST(SUM(c.n) AS BIGINT) AS top_line_share
    FROM c CROSS JOIN th
    GROUP BY th.p50, th.p90
    """


def _part_demand_cells(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))


def _part_demand_report(cm: DataFrame) -> DataFrame:
    from ..functions.ranks import kth_order_statistics

    # Both quantiles ride ONE census sequence (multi-rank narrower; the
    # per-part count column is non-null by construction).
    pr = kth_order_statistics(cm, "n", {"p50": 0.5, "p90": 0.9})
    p50, p90 = pr["p50"], pr["p90"]
    top = F.col("n") >= F.lit(p90)
    return cm.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.lit(p50).alias("p50_lines"),
        F.lit(p90).alias("p90_lines"),
        F.sum(F.when(top, 1).otherwise(0)).cast("long").alias("n_top_parts"),
        F.sum(F.when(top, F.col("n")).otherwise(0)).alias("top_lines"),
        (
            F.sum(F.when(top, F.col("n")).otherwise(0)).cast("double")
            / F.sum("n")
        ).alias("top_line_share"),
    )


@query(
    "part_demand_concentration",
    oracle=PART_DEMAND_ORACLE,
    tags=("stats", "percentile", "iterative", "concentration"),
    twin=Twin(_part_demand_cells, _part_demand_report),
)
def part_demand_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEMAND concentration over the part key: the exact p50/p90
    lineitem-count-per-part and the share of ALL lines carried by the
    top-decile parts — the direct shuffle-skew early warning for every
    join keyed on l_partkey (the part star joins, the co-occurrence
    graph build): top_line_share near n_top/n_parts means demand is
    flat and hash partitions balance; far above it means hot parts and
    a salting decision (`user_activity_skew` measures the same thing
    for the user key domain — this covers the part domain with exact
    rank thresholds instead of Gini).

    Scale story: part cardinality SCALES WITH SF (~200k per SF unit —
    beyond the stratified narrower's driver-census bound almost
    immediately), but this is a GLOBAL concentration, so both
    thresholds come from the unstratified `kth_order_statistic`
    narrower over the cached per-part count table — itself the output
    of a row-volume reduction — which holds at any part count
    (driver-budgeted census per round, no driver-side |parts| state anywhere). After the
    two thresholds are literals, ONE partial-aggregatable fold computes
    the report. Counts exact int64; the share is one IEEE division, the
    oracle casting its HUGEINT sums through BIGINT first (2^53 rule)."""
    from ..llm.cache import tracked_persist

    cm = tracked_persist(
        _part_demand_cells(spark, sf_dir, load_table),
        f"part_line_counts:{sf_dir}",
    )
    return _part_demand_report(cm)


@query(
    "customer_order_gap_migration",
    oracle="""
    WITH d AS (
      SELECT o_custkey AS ck, o_orderkey,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day
      FROM orders
    ),
    g0 AS (
      SELECT ck, day,
             day - lag(day) OVER (PARTITION BY ck
                                  ORDER BY day, o_orderkey) AS gap
      FROM d
    ),
    r0 AS (
      SELECT day, row_number() OVER (ORDER BY day) AS rn,
             COUNT(*) OVER () AS n
      FROM d
    ),
    mid AS (
      SELECT MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                      THEN day END) AS d
      FROM r0
    ),
    h AS (
      SELECT ck, CASE WHEN day <= mid.d THEN 1 ELSE 2 END AS half, gap
      FROM g0 CROSS JOIN mid WHERE gap IS NOT NULL
    ),
    ranked AS (
      SELECT ck, half, gap,
             cume_dist() OVER (PARTITION BY ck, half ORDER BY gap) AS cd
      FROM h
    ),
    p50 AS (
      SELECT ck, half, MIN(CASE WHEN cd >= 0.5 THEN gap END) AS p50
      FROM ranked GROUP BY 1, 2
    ),
    p AS (
      SELECT ck,
             MAX(CASE WHEN half = 1 THEN p50 END) AS v1,
             MAX(CASE WHEN half = 2 THEN p50 END) AS v2
      FROM p50 GROUP BY 1
      HAVING MAX(CASE WHEN half = 1 THEN p50 END) IS NOT NULL
         AND MAX(CASE WHEN half = 2 THEN p50 END) IS NOT NULL
    ),
    r1 AS (
      SELECT v1 AS v, row_number() OVER (ORDER BY v1) AS rn,
             COUNT(*) OVER () AS n
      FROM p
    ),
    t1 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r1 GROUP BY 1
    ),
    t1p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS a1,
             MAX(CASE WHEN q = 2 THEN t END) AS a2,
             MAX(CASE WHEN q = 3 THEN t END) AS a3,
             MAX(CASE WHEN q = 4 THEN t END) AS a4
      FROM t1
    ),
    r2 AS (
      SELECT v2 AS v, row_number() OVER (ORDER BY v2) AS rn,
             COUNT(*) OVER () AS n
      FROM p
    ),
    t2 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r2 GROUP BY 1
    ),
    t2p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS b1,
             MAX(CASE WHEN q = 2 THEN t END) AS b2,
             MAX(CASE WHEN q = 3 THEN t END) AS b3,
             MAX(CASE WHEN q = 4 THEN t END) AS b4
      FROM t2
    ),
    m AS (
      SELECT 1 + (CASE WHEN p.v1 > t1p.a1 THEN 1 ELSE 0 END)
               + (CASE WHEN p.v1 > t1p.a2 THEN 1 ELSE 0 END)
               + (CASE WHEN p.v1 > t1p.a3 THEN 1 ELSE 0 END)
               + (CASE WHEN p.v1 > t1p.a4 THEN 1 ELSE 0 END) AS q1,
             1 + (CASE WHEN p.v2 > t2p.b1 THEN 1 ELSE 0 END)
               + (CASE WHEN p.v2 > t2p.b2 THEN 1 ELSE 0 END)
               + (CASE WHEN p.v2 > t2p.b3 THEN 1 ELSE 0 END)
               + (CASE WHEN p.v2 > t2p.b4 THEN 1 ELSE 0 END) AS q2
      FROM p CROSS JOIN t1p CROSS JOIN t2p
    ),
    g AS (
      SELECT q1, q2, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM m GROUP BY 1, 2
    ),
    tot AS (
      SELECT q1, CAST(SUM(n_customers) AS BIGINT) AS n_q1 FROM g GROUP BY 1
    )
    SELECT CAST(g.q1 AS BIGINT) AS quintile_h1,
           CAST(g.q2 AS BIGINT) AS quintile_h2,
           g.n_customers, tot.n_q1,
           CAST(g.n_customers AS DOUBLE) / tot.n_q1 AS row_share
    FROM g JOIN tot ON g.q1 = tot.q1
    """,
    tags=("stats", "iterative", "retention", "matrix", "temporal"),
)
def customer_order_gap_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-purchase CADENCE migration matrix — the third member of the
    migration family (spend: `customer_value_migration_matrix`;
    lead-time: `supplier_leadtime_migration`): split the order timeline
    at its exact median order day, give every customer with inter-order
    gaps in BOTH halves a cadence quintile per half (quintile 1 =
    fastest median re-purchase), and report the ≤25-cell transition
    matrix with row shares — the churn-VELOCITY read (spend migration
    says who stopped paying; this says who is SLOWING DOWN before they
    stop, the earlier signal retention teams act on).

    Composition, each piece on its established precondition: gaps lag
    over (customer) with the (day, o_orderkey) tie-break
    `customer_order_gap_percentiles` states; a gap belongs to the half
    of its LATER order's day; per-(customer, half) median gap uses the
    count-value HISTOGRAM closed form (customer cardinality scales with
    SF, gap-day domain is calendar-bounded — the
    supplier_leadtime_migration form decision verbatim); the split day
    and the 4+4 quintile thresholds over the per-customer medians use
    `kth_order_statistic` narrowing (bounded domains, 1–2 driver-bounded-census
    rounds each). The matrix is then ONE pass over the
    customer-count-sized half-medians table: CASE ladder against eight
    literal thresholds, ≤25-cell fold, broadcast ≤5-row total join.
    Ranks are max(1, ⌈q·n⌉) with the same IEEE multiply the oracle
    states; single-order halves drop out via the both-halves filter;
    same-day repeat orders legitimately yield gap 0. The oracle's
    global row_number/cume_dist CTEs are fine at oracle scale — the
    shapes the engine forms avoid at 100 TB."""
    import math

    from pyspark.sql import Window

    from ..functions.ranks import (
        hist_cume_counts,
        hist_disc_percentile,
        kth_order_statistic,
        quintile_ladder,
        quintile_thresholds,
    )
    from ..llm.cache import tracked_persist

    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.col("o_custkey").alias("ck"),
        "o_orderkey",
        F.expr("unix_micros(o_orderdate) div 1000000 div 86400").alias("day"),
    )
    w = Window.partitionBy("ck").orderBy("day", "o_orderkey")
    gaps = tracked_persist(
        d.select(
            "ck", "day", (F.col("day") - F.lag("day").over(w)).alias("gap")
        ).filter(F.col("gap").isNotNull()),
        f"cust_gap_day:{sf_dir}",
    )
    # Median split day over ALL order rows (the value-migration split
    # convention) — days, not gaps, so the two matrices share one split.
    od = tracked_persist(d.select("day"), f"order_days:{sf_dir}")
    n_orders = od.count()
    mid = kth_order_statistic(od, "day", max(1, math.ceil(0.5 * n_orders)))
    h = gaps.select(
        "ck",
        F.when(F.col("day") <= mid, 1).otherwise(2).alias("half"),
        "gap",
    )
    p50 = hist_cume_counts(h, ["ck", "half"], "gap").groupBy("ck", "half").agg(
        hist_disc_percentile("gap", 0.5, "p50")
    )
    p = tracked_persist(
        p50.groupBy("ck")
        .agg(
            F.max(F.when(F.col("half") == 1, F.col("p50"))).alias("v1"),
            F.max(F.when(F.col("half") == 2, F.col("p50"))).alias("v2"),
        )
        .filter(F.col("v1").isNotNull() & F.col("v2").isNotNull()),
        f"cust_half_gap_p50:{sf_dir}",
    )
    # Both halves' eight quintile thresholds ride ONE shared unpivoted
    # census sequence (round-15 quintile_thresholds; v1/v2 non-null via
    # the both-halves filter).
    th = quintile_thresholds(p, ["v1", "v2"])

    g = (
        p.select(
            quintile_ladder("v1", th["v1"]).alias("quintile_h1"),
            quintile_ladder("v2", th["v2"]).alias("quintile_h2"),
        )
        .groupBy("quintile_h1", "quintile_h2")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    tot = g.groupBy("quintile_h1").agg(F.sum("n_customers").alias("n_q1"))
    return g.join(F.broadcast(tot), "quintile_h1").select(
        "quintile_h1",
        "quintile_h2",
        "n_customers",
        "n_q1",
        (F.col("n_customers").cast("double") / F.col("n_q1")).alias(
            "row_share"
        ),
    )


# part_demand_concentration's oracle lives in the shared PART_DEMAND_ORACLE
# constant (its streaming twin binds the same string in
# streaming/stream.py); the decorator already passes it directly.


# Shared with the streaming twin in streaming/stream.py: one statement of
# the per-order fold, the histogram cells and the share/cumulative
# divisions, so batch and stream cannot drift.
ORDER_LINECOUNT_ORACLE = """
    WITH c AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
      FROM lineitem GROUP BY 1
    ),
    h AS (
      SELECT k AS lines_per_order, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM c GROUP BY 1
    )
    SELECT lines_per_order, n_orders,
           CAST(lines_per_order * n_orders AS BIGINT) AS n_lines,
           CAST(n_orders AS DOUBLE)
             / CAST(SUM(n_orders) OVER () AS BIGINT) AS order_share,
           CAST(lines_per_order * n_orders AS DOUBLE)
             / CAST(SUM(lines_per_order * n_orders) OVER () AS BIGINT)
             AS line_share,
           CAST(CAST(SUM(n_orders) OVER (ORDER BY lines_per_order
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS DOUBLE)
             / CAST(SUM(n_orders) OVER () AS BIGINT) AS cum_order_share
    FROM h
    """


def _linecount_cells(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    li = read(spark, sf_dir, "lineitem").select("l_orderkey")
    return li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("k"))


def _linecount_report(c: DataFrame) -> DataFrame:
    """Histogram + shares + ascending cumulative over a per-order
    line-count frame (column ``k``) — the shared tail of
    order_linecount_distribution and its streaming twin, so the two
    derivations cannot drift. The cumulative is `hist_triangular_cume`
    (a broadcast TRIANGULAR self-join over the persisted
    |distinct fan-outs|-row histogram, domain-bounded by schema policy —
    NOT a global window, which would plan the Exchange SinglePartition
    squeeze the plan guard bans). Totals fold through a scalar (keys=[])
    aggregate, the guard-exempt 1-row shape."""
    from ..functions.ranks import hist_triangular_cume
    from ..llm.cache import tracked_persist

    h = tracked_persist(
        c.groupBy(F.col("k").alias("lines_per_order")).agg(
            F.count(F.lit(1)).alias("n_orders")
        ),
        "order_linecount_hist",
    )
    n_lines = (F.col("lines_per_order") * F.col("n_orders")).cast("long")
    t = h.agg(
        F.sum("n_orders").alias("total_orders"),
        F.sum(n_lines).alias("total_lines"),
    )
    return (
        hist_triangular_cume(h, "lines_per_order", "n_orders", "cum_orders")
        .crossJoin(F.broadcast(t))
        .select(
            "lines_per_order",
            "n_orders",
            n_lines.alias("n_lines"),
            (
                F.col("n_orders").cast("double") / F.col("total_orders")
            ).alias("order_share"),
            (n_lines.cast("double") / F.col("total_lines")).alias(
                "line_share"
            ),
            (
                F.col("cum_orders").cast("double") / F.col("total_orders")
            ).alias("cum_order_share"),
        )
    )


@query(
    "order_linecount_distribution",
    oracle=ORDER_LINECOUNT_ORACLE,
    tags=("tpch", "stats", "histogram", "skew"),
    twin=Twin(_linecount_cells, _linecount_report),
)
def order_linecount_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL fan-out distribution of the l_orderkey join: per
    lines-per-order value, how many orders have exactly that many lines,
    that cell's share of all orders, its share of total LINE mass, and
    the cumulative order share in ascending fan-out order — the
    distribution behind `join_key_skew_report`'s summary stats (max/mean
    /hot-count say WHETHER the orders⋈lineitem join is skewed; this says
    HOW the fan-out is shaped, which is what sizes AQE advisory
    partitions, bucketing fan-in, and the per-order state a stream-stream
    join must hold). The same shape reads any parent→child fan-out.

    Plan at 100 TB: one per-order count fold (partial map-side, keyed by
    the join key itself) then ONE histogram fold over order-count-sized
    data to the |distinct fan-outs|-row grid — domain-bounded (an order
    has a bounded line count by schema policy), so the shares and the
    ascending cumulative derive over the HISTOGRAM, never the facts
    (broadcast triangular self-join + scalar totals — no global window,
    no single-partition exchange; see _linecount_report). Counts and
    line masses exact int64; each share is one IEEE division stated
    identically in the oracle."""
    return _linecount_report(_linecount_cells(spark, sf_dir, load_table))


@query(
    "customer_balance_spend_matrix",
    oracle="""
    WITH cm AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
             COALESCE(cm.cents, 0) AS spend_cents
      FROM customer c LEFT JOIN cm ON c.c_custkey = cm.o_custkey
    ),
    r1 AS (
      SELECT bal_cents AS v, row_number() OVER (ORDER BY bal_cents) AS rn,
             COUNT(*) OVER () AS n
      FROM b
    ),
    t1 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r1 GROUP BY 1
    ),
    t1p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS a1,
             MAX(CASE WHEN q = 2 THEN t END) AS a2,
             MAX(CASE WHEN q = 3 THEN t END) AS a3,
             MAX(CASE WHEN q = 4 THEN t END) AS a4
      FROM t1
    ),
    r2 AS (
      SELECT spend_cents AS v, row_number() OVER (ORDER BY spend_cents) AS rn,
             COUNT(*) OVER () AS n
      FROM b
    ),
    t2 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r2 GROUP BY 1
    ),
    t2p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS b1,
             MAX(CASE WHEN q = 2 THEN t END) AS b2,
             MAX(CASE WHEN q = 3 THEN t END) AS b3,
             MAX(CASE WHEN q = 4 THEN t END) AS b4
      FROM t2
    ),
    m AS (
      SELECT 1 + (CASE WHEN b.bal_cents > t1p.a1 THEN 1 ELSE 0 END)
               + (CASE WHEN b.bal_cents > t1p.a2 THEN 1 ELSE 0 END)
               + (CASE WHEN b.bal_cents > t1p.a3 THEN 1 ELSE 0 END)
               + (CASE WHEN b.bal_cents > t1p.a4 THEN 1 ELSE 0 END)
               AS bal_quintile,
             1 + (CASE WHEN b.spend_cents > t2p.b1 THEN 1 ELSE 0 END)
               + (CASE WHEN b.spend_cents > t2p.b2 THEN 1 ELSE 0 END)
               + (CASE WHEN b.spend_cents > t2p.b3 THEN 1 ELSE 0 END)
               + (CASE WHEN b.spend_cents > t2p.b4 THEN 1 ELSE 0 END)
               AS spend_quintile
      FROM b CROSS JOIN t1p CROSS JOIN t2p
    ),
    g AS (
      SELECT bal_quintile, spend_quintile,
             CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM m GROUP BY 1, 2
    ),
    tot AS (
      SELECT bal_quintile, CAST(SUM(n_customers) AS BIGINT) AS n_bal
      FROM g GROUP BY 1
    )
    SELECT CAST(g.bal_quintile AS BIGINT) AS bal_quintile,
           CAST(g.spend_quintile AS BIGINT) AS spend_quintile,
           g.n_customers, tot.n_bal,
           CAST(g.n_customers AS DOUBLE) / tot.n_bal AS row_share
    FROM g JOIN tot ON g.bal_quintile = tot.bal_quintile
    """,
    tags=("tpch", "stats", "matrix", "iterative"),
)
def customer_balance_spend_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stated-balance × realized-spend quintile matrix — the migration
    shape applied ACROSS DIMENSIONS instead of across time: every
    customer gets an account-balance quintile and a lifetime-spend
    quintile (never-ordered customers count as spend 0 — the left join
    the question demands: a credit line nobody draws IS the finding),
    and the ≤25-cell matrix with each cell's share of its balance row
    answers whether the attribute you have at onboarding (c_acctbal)
    predicts the behavior you care about (spend) — a diagonal-heavy
    matrix says balance-tiered treatment is safe, a flat one says it is
    noise. Completes the matrix family: the migrations cross one
    dimension with itself over time; this crosses two dimensions at one
    time.

    Both quintile dimensions quantize to EXACT integer grids before any
    rank comparison (balance to cents by the same floor(x·100+0.5) as
    every money column — negatives floor correctly in both engines;
    spend is already exact cents from the shared per-customer fold), the
    ppm/cents discipline that keeps FP out of ordering. The 4+4
    thresholds use `kth_order_statistic` narrowing over the cached
    customer-count-sized projection (both domains unbounded — balances
    and per-key sums have row-scale cardinality, no histogram closed
    form); assignment is value-based (1 + Σ v > tₖ), then ONE ≤25-cell
    fold and a broadcast ≤5-row total join. The spend side REUSES the
    session-cached `_cust_spend_cents` slot (third consumer). The
    oracle's global row_number CTEs are fine at oracle scale."""
    from ..functions.ranks import quintile_ladder, quintile_thresholds
    from ..llm.cache import tracked_persist

    cm = _cust_spend_cents(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    b = tracked_persist(
        c.join(cm, c.c_custkey == cm.o_custkey, "left").select(
            "bal_cents",
            F.coalesce(F.col("cents"), F.lit(0)).alias("spend_cents"),
        ),
        f"cust_bal_spend:{sf_dir}",
    )
    # Both columns' eight quintile thresholds ride ONE shared unpivoted
    # census sequence (round-15 quintile_thresholds; both columns non-null
    # by construction: bal_cents from a non-null fixture column,
    # spend_cents coalesced to 0).
    th = quintile_thresholds(b, ["bal_cents", "spend_cents"])

    g = (
        b.select(
            quintile_ladder("bal_cents", th["bal_cents"]).alias("bal_quintile"),
            quintile_ladder("spend_cents", th["spend_cents"]).alias("spend_quintile"),
        )
        .groupBy("bal_quintile", "spend_quintile")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    tot = g.groupBy("bal_quintile").agg(F.sum("n_customers").alias("n_bal"))
    return g.join(F.broadcast(tot), "bal_quintile").select(
        "bal_quintile",
        "spend_quintile",
        "n_customers",
        "n_bal",
        (F.col("n_customers").cast("double") / F.col("n_bal")).alias(
            "row_share"
        ),
    )


DOW_HOUR_VALUE_ORACLE = """
    WITH g AS (
      SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 3) % 7) + 1
               AS dow,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS hour_utc,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS m
      FROM events WHERE value IS NOT NULL
    ),
    h AS (
      SELECT dow, hour_utc, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(m) AS BIGINT) AS value_micro
      FROM g GROUP BY 1, 2
    ),
    t AS (
      SELECT CAST(SUM(n_events) AS BIGINT) AS tn,
             CAST(SUM(value_micro) AS BIGINT) AS tm
      FROM h
    )
    SELECT h.dow, h.hour_utc, h.n_events, h.value_micro,
           CAST(h.n_events AS DOUBLE) / t.tn AS event_share,
           CAST(h.value_micro AS DOUBLE) / t.tm AS value_share,
           (CAST(h.value_micro AS DOUBLE) / t.tm)
             / (CAST(h.n_events AS DOUBLE) / t.tn) AS value_per_event_index
    FROM h CROSS JOIN t
"""


def _dow_hour_value_report(h: DataFrame) -> DataFrame:
    """Shared derivation tail of the value-weighted weekly calendar
    profile: given the ≤168-row (dow, hour_utc, n_events, value_micro)
    cell table — batch fold or streaming sink alike — broadcast the
    scalar totals and derive both shares plus the value-per-event index
    (one IEEE division each over exact int64s, stated identically in
    DOW_HOUR_VALUE_ORACLE). Stated ONCE so the batch query and its
    streaming twin cannot drift."""
    t = h.agg(
        F.sum("n_events").alias("tn"), F.sum("value_micro").alias("tm")
    )
    ev_share = F.col("n_events").cast("double") / F.col("tn")
    va_share = F.col("value_micro").cast("double") / F.col("tm")
    return h.crossJoin(F.broadcast(t)).select(
        "dow",
        "hour_utc",
        "n_events",
        "value_micro",
        ev_share.alias("event_share"),
        va_share.alias("value_share"),
        (va_share / ev_share).alias("value_per_event_index"),
    )


def _dow_hour_value_cells(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    ev = read(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.select(
        F.expr(
            "(unix_micros(ts) div 1000000 div 86400 + 3) % 7 + 1"
        ).alias("dow"),
        F.expr("(unix_micros(ts) div 1000000 div 3600) % 24").alias(
            "hour_utc"
        ),
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("m"),
    )
    return g.groupBy("dow", "hour_utc").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("m").alias("value_micro"),
    )


@query(
    "events_value_weighted_dow_hour_profile",
    oracle=DOW_HOUR_VALUE_ORACLE,
    tags=("events", "stats", "weighted", "calendar"),
    twin=Twin(_dow_hour_value_cells, _dow_hour_value_report),
)
def events_value_weighted_dow_hour_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Where the event-value MASS sits in the week vs where the event
    COUNTS sit: per (ISO day-of-week, UTC hour) cell of the 168-cell
    weekly grid, the event count, the exact micro-unit value mass, each
    one's share of its total, and the value-per-event INDEX
    (value_share / event_share — >1 where each event carries more value
    than the weekly average, <1 where traffic is cheap). The
    weighted-vs-count discipline of the token/revenue percentile reports
    applied to the calendar grid: a capacity plan sized by event counts
    misallocates if the value mass peaks elsewhere (the same read
    `doc_token_concentration_by_source` gives for token budgets).

    TZ-proof: dow and hour derive from epoch-second INTEGER arithmetic
    (epoch day 0 = Thursday, so ISO dow = ((d + 3) % 7) + 1; hour is the
    UTC hour), never from session-zone date parts — the hostile gate
    flips the session TZ and both engines must bucket identically.
    Values quantized to exact int64 micros by the module's money floor
    BEFORE summing (null values excluded from count and mass alike —
    stated in the oracle's WHERE). One partial-aggregatable fold to the
    ≤168-row grid; shares and the index are IEEE divisions of exact
    int64s stated identically in the oracle; totals broadcast from the
    scalar (keys=[]) aggregate — no window, no single-partition squeeze
    at any SF."""
    return _dow_hour_value_report(_dow_hour_value_cells(spark, sf_dir, load_table))


@query(
    "customer_gap_vs_value_matrix",
    oracle="""
    WITH d AS (
      SELECT o_custkey AS ck, o_orderkey,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day
      FROM orders
    ),
    g0 AS (
      SELECT ck,
             day - lag(day) OVER (PARTITION BY ck
                                  ORDER BY day, o_orderkey) AS gap
      FROM d
    ),
    ranked AS (
      SELECT ck, gap,
             cume_dist() OVER (PARTITION BY ck ORDER BY gap) AS cd
      FROM g0 WHERE gap IS NOT NULL
    ),
    med AS (
      SELECT ck, MIN(CASE WHEN cd >= 0.5 THEN gap END) AS v
      FROM ranked GROUP BY 1
    ),
    sp AS (
      SELECT o_custkey AS ck,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT med.ck, med.v, sp.cents FROM med JOIN sp USING (ck)
    ),
    r1 AS (
      SELECT v, row_number() OVER (ORDER BY v) AS rn, COUNT(*) OVER () AS n
      FROM p
    ),
    t1 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r1 GROUP BY 1
    ),
    t1p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS a1,
             MAX(CASE WHEN q = 2 THEN t END) AS a2,
             MAX(CASE WHEN q = 3 THEN t END) AS a3,
             MAX(CASE WHEN q = 4 THEN t END) AS a4
      FROM t1
    ),
    r2 AS (
      SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
             COUNT(*) OVER () AS n
      FROM p
    ),
    t2 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN cents END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r2 GROUP BY 1
    ),
    t2p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS b1,
             MAX(CASE WHEN q = 2 THEN t END) AS b2,
             MAX(CASE WHEN q = 3 THEN t END) AS b3,
             MAX(CASE WHEN q = 4 THEN t END) AS b4
      FROM t2
    ),
    m AS (
      SELECT 1 + (CASE WHEN p.v > t1p.a1 THEN 1 ELSE 0 END)
               + (CASE WHEN p.v > t1p.a2 THEN 1 ELSE 0 END)
               + (CASE WHEN p.v > t1p.a3 THEN 1 ELSE 0 END)
               + (CASE WHEN p.v > t1p.a4 THEN 1 ELSE 0 END) AS gq,
             1 + (CASE WHEN p.cents > t2p.b1 THEN 1 ELSE 0 END)
               + (CASE WHEN p.cents > t2p.b2 THEN 1 ELSE 0 END)
               + (CASE WHEN p.cents > t2p.b3 THEN 1 ELSE 0 END)
               + (CASE WHEN p.cents > t2p.b4 THEN 1 ELSE 0 END) AS sq
      FROM p CROSS JOIN t1p CROSS JOIN t2p
    ),
    g AS (
      SELECT gq, sq, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM m GROUP BY 1, 2
    ),
    tot AS (
      SELECT gq, CAST(SUM(n_customers) AS BIGINT) AS n_row FROM g GROUP BY 1
    )
    SELECT CAST(g.gq AS BIGINT) AS gap_quintile,
           CAST(g.sq AS BIGINT) AS spend_quintile,
           g.n_customers, tot.n_row,
           CAST(g.n_customers AS DOUBLE) / tot.n_row AS row_share
    FROM g JOIN tot ON g.gq = tot.gq
    """,
    tags=("stats", "iterative", "retention", "matrix"),
)
def customer_gap_vs_value_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does purchase RHYTHM predict VALUE? Cross-dimension quintile
    matrix: every repeat customer (≥1 inter-order gap) gets a cadence
    quintile (by median inter-order gap days, quintile 1 = fastest
    re-purchase) and a spend quintile (by exact lifetime cents, quintile
    1 = lowest spend), and the ≤25-cell joint matrix reports counts and
    cadence-row shares. A diagonal-heavy matrix (fast rhythm ⇒ high
    spend) validates cadence as the early LTV proxy the gap-migration
    matrix watches; a flat matrix says rhythm and value are independent
    dimensions and retention triage must score them separately. The
    MIGRATION matrices track one dimension over time; this crosses the
    two dimensions at a point.

    Composition, each piece on its established precondition: gaps lag
    over (customer) with the (day, o_orderkey) tie-break; per-customer
    median gap via the count-value HISTOGRAM closed form (customer
    cardinality scales with SF, gap-day domain calendar-bounded); spend
    from the shared `_cust_spend_cents` slot (exact cents, quantized
    per order before summing); the 4+4 quintile thresholds over the
    joined customer-count-sized table via `kth_order_statistic`
    narrowing (gap-median and cents domains unbounded — the narrower's
    case). The matrix is then ONE pass: CASE ladder against eight
    literal thresholds, ≤25-cell fold, broadcast ≤5-row row-total join.
    Ranks are max(1, ⌈q·n⌉) with the same IEEE multiply the oracle
    states; single-order customers drop via the gap filter (stated —
    the matrix reads repeat behavior only)."""
    from ..functions.ranks import (
        hist_cume_counts,
        hist_disc_percentile,
        quintile_ladder,
        quintile_thresholds,
    )
    from ..llm.cache import tracked_persist

    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.col("o_custkey").alias("ck"),
        "o_orderkey",
        F.expr("unix_micros(o_orderdate) div 1000000 div 86400").alias("day"),
    )
    w = Window.partitionBy("ck").orderBy("day", "o_orderkey")
    gaps = d.select(
        "ck", (F.col("day") - F.lag("day").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    med = hist_cume_counts(gaps, ["ck"], "gap").groupBy("ck").agg(
        hist_disc_percentile("gap", 0.5, "v")
    )
    sp = _cust_spend_cents(spark, sf_dir).select(
        F.col("o_custkey").alias("ck"), "cents"
    )
    p = tracked_persist(med.join(sp, "ck"), f"cust_gap_value:{sf_dir}")
    # Both columns' eight quintile thresholds ride ONE shared unpivoted
    # census sequence (round-15 quintile_thresholds); thresholds + ladder
    # come from the shared matrix-family helpers.
    th = quintile_thresholds(p, ["v", "cents"])

    g = (
        p.select(
            quintile_ladder("v", th["v"]).alias("gap_quintile"),
            quintile_ladder("cents", th["cents"]).alias("spend_quintile"),
        )
        .groupBy("gap_quintile", "spend_quintile")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    tot = g.groupBy("gap_quintile").agg(F.sum("n_customers").alias("n_row"))
    return g.join(F.broadcast(tot), "gap_quintile").select(
        "gap_quintile",
        "spend_quintile",
        "n_customers",
        "n_row",
        (F.col("n_customers").cast("double") / F.col("n_row")).alias(
            "row_share"
        ),
    )


@query(
    "supplier_balance_leadtime_interaction",
    oracle="""
    WITH lg AS (
      SELECT l_suppkey AS sk,
             CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400
               - CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS lag
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    r AS (
      SELECT sk, lag,
             cume_dist() OVER (PARTITION BY sk ORDER BY lag) AS cd
      FROM lg
    ),
    med AS (
      SELECT sk, MIN(CASE WHEN cd >= 0.5 THEN lag END) AS med_lag
      FROM r GROUP BY 1
    ),
    p AS (
      SELECT CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
             med.med_lag
      FROM supplier JOIN med ON s_suppkey = med.sk
    ),
    r1 AS (
      SELECT bal_cents AS v, row_number() OVER (ORDER BY bal_cents) AS rn,
             COUNT(*) OVER () AS n
      FROM p
    ),
    t1 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r1 GROUP BY 1
    ),
    t1p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS a1,
             MAX(CASE WHEN q = 2 THEN t END) AS a2,
             MAX(CASE WHEN q = 3 THEN t END) AS a3,
             MAX(CASE WHEN q = 4 THEN t END) AS a4
      FROM t1
    ),
    r2 AS (
      SELECT med_lag AS v, row_number() OVER (ORDER BY med_lag) AS rn,
             COUNT(*) OVER () AS n
      FROM p
    ),
    t2 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r2 GROUP BY 1
    ),
    t2p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS b1,
             MAX(CASE WHEN q = 2 THEN t END) AS b2,
             MAX(CASE WHEN q = 3 THEN t END) AS b3,
             MAX(CASE WHEN q = 4 THEN t END) AS b4
      FROM t2
    ),
    m AS (
      SELECT 1 + (CASE WHEN p.bal_cents > t1p.a1 THEN 1 ELSE 0 END)
               + (CASE WHEN p.bal_cents > t1p.a2 THEN 1 ELSE 0 END)
               + (CASE WHEN p.bal_cents > t1p.a3 THEN 1 ELSE 0 END)
               + (CASE WHEN p.bal_cents > t1p.a4 THEN 1 ELSE 0 END) AS bq,
             1 + (CASE WHEN p.med_lag > t2p.b1 THEN 1 ELSE 0 END)
               + (CASE WHEN p.med_lag > t2p.b2 THEN 1 ELSE 0 END)
               + (CASE WHEN p.med_lag > t2p.b3 THEN 1 ELSE 0 END)
               + (CASE WHEN p.med_lag > t2p.b4 THEN 1 ELSE 0 END) AS lq
      FROM p CROSS JOIN t1p CROSS JOIN t2p
    ),
    g AS (
      SELECT bq, lq, CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM m GROUP BY 1, 2
    ),
    tot AS (
      SELECT bq, CAST(SUM(n_suppliers) AS BIGINT) AS n_row FROM g GROUP BY 1
    )
    SELECT CAST(g.bq AS BIGINT) AS bal_quintile,
           CAST(g.lq AS BIGINT) AS leadtime_quintile,
           g.n_suppliers, tot.n_row,
           CAST(g.n_suppliers AS DOUBLE) / tot.n_row AS row_share
    FROM g JOIN tot ON g.bq = tot.bq
    """,
    tags=("stats", "tpch", "matrix", "percentile", "supplier"),
)
def supplier_balance_leadtime_interaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does supplier CAPITALIZATION predict FULFILLMENT SPEED? The
    supplier-side cross-dimension quintile matrix (the
    customer_gap_vs_value_matrix read rotated onto the supply side):
    every supplier with shipped lines gets a balance quintile (by exact
    account-balance cents, quintile 1 = lowest balance) and a lead-time
    quintile (by exact median ship lag in days — order date to ship
    date, quintile 1 = fastest), and the ≤25-cell joint matrix reports
    counts and balance-row shares. A diagonal says thin-balance
    suppliers ship slow (credit risk doubles as delivery risk — one
    score covers both); a flat matrix says procurement must score the
    two dimensions separately.

    Composition on established preconditions: per-supplier exact median
    ship lag via the count-value HISTOGRAM closed form (supplier
    cardinality scales with SF, lag-day domain calendar-bounded — the
    cumulative window runs over histogram cells, never lines); balance
    quantized to exact cents by the module's money floor; the 4+4
    quintile thresholds over the supplier-count-sized joined table ride
    ONE shared multi-rank census sequence (`quintile_thresholds`
    unpivots both columns — 1 sequence, not 8 narrower loops). The
    matrix is then ONE pass: CASE ladder against eight literal
    thresholds, ≤25-cell fold, broadcast ≤5-row row-total join.
    Suppliers with no lineitem drop via the inner join (stated — the
    matrix reads demonstrated fulfillment only); ranks are
    max(1, ⌈q·n⌉) with the same IEEE multiply the oracle states."""
    from ..functions.ranks import quintile_ladder, quintile_thresholds
    from ..llm.cache import tracked_persist

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr("unix_micros(l_shipdate) div 1000000 div 86400").alias(
            "dship"
        ),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("unix_micros(o_orderdate) div 1000000 div 86400").alias(
            "dord"
        ),
    )
    lg = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("sk"),
        (F.col("dship") - F.col("dord")).alias("lag"),
    )
    med = hist_cume_counts(lg, ["sk"], "lag").groupBy("sk").agg(
        hist_disc_percentile("lag", 0.5, "med_lag")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.floor(F.col("s_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    p = tracked_persist(
        sup.join(med, sup.s_suppkey == med.sk).select("bal_cents", "med_lag"),
        f"supp_bal_leadtime:{sf_dir}",
    )
    th = quintile_thresholds(p, ["bal_cents", "med_lag"])
    g = (
        p.select(
            quintile_ladder("bal_cents", th["bal_cents"]).alias(
                "bal_quintile"
            ),
            quintile_ladder("med_lag", th["med_lag"]).alias(
                "leadtime_quintile"
            ),
        )
        .groupBy("bal_quintile", "leadtime_quintile")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    tot = g.groupBy("bal_quintile").agg(F.sum("n_suppliers").alias("n_row"))
    return g.join(F.broadcast(tot), "bal_quintile").select(
        "bal_quintile",
        "leadtime_quintile",
        "n_suppliers",
        "n_row",
        (F.col("n_suppliers").cast("double") / F.col("n_row")).alias(
            "row_share"
        ),
    )


@query(
    "events_value_weighted_dow_hour_drift",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             ((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 3) % 7) + 1
               AS dow,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS hour_utc,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS m
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT sec, row_number() OVER (ORDER BY sec) AS rn,
             COUNT(*) OVER () AS n
      FROM b
    ),
    md AS (
      SELECT MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                      THEN sec END) AS mid
      FROM r
    ),
    c AS (
      SELECT CASE WHEN b.sec <= md.mid THEN 1 ELSE 2 END AS half,
             b.dow, b.hour_utc,
             CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(b.m) AS BIGINT) AS mass
      FROM b CROSS JOIN md GROUP BY 1, 2, 3
    ),
    t AS (
      SELECT CAST(SUM(CASE WHEN half = 1 THEN mass END) AS BIGINT) AS tm1,
             CAST(SUM(CASE WHEN half = 2 THEN mass END) AS BIGINT) AS tm2
      FROM c
    ),
    c2 AS (
      SELECT dow, hour_utc, n AS n_events2, mass AS value_micro2
      FROM c WHERE half = 2
    ),
    c1 AS (
      SELECT dow, hour_utc, mass AS value_micro1 FROM c WHERE half = 1
    )
    SELECT c2.dow, c2.hour_utc, c2.n_events2, c2.value_micro2,
           CAST(c2.value_micro2 AS DOUBLE) / t.tm2 AS value_share2,
           c1.value_micro1,
           CASE WHEN c1.value_micro1 IS NOT NULL THEN
             (c2.value_micro2
              - CAST(c1.value_micro1 AS DOUBLE) * t.tm2 / t.tm1)
             * (c2.value_micro2
                - CAST(c1.value_micro1 AS DOUBLE) * t.tm2 / t.tm1)
             / (CAST(c1.value_micro1 AS DOUBLE) * t.tm2 / t.tm1)
           END AS chi2_term
    FROM c2 CROSS JOIN t
    LEFT JOIN c1 ON c2.dow = c1.dow AND c2.hour_utc = c1.hour_utc
    """,
    tags=("events", "stats", "weighted", "calendar", "drift"),
)
def events_value_weighted_dow_hour_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Half-split drift of WHERE THE MONEY SITS in the week: split the
    event stream at its exact median timestamp (by event count — the
    corpus-family half-split applied to time), fold the 168-cell
    (dow, hour_utc) VALUE-mass grid per half, and report each half-2
    cell's count, micro-unit mass, mass share, the half-1 mass, and the
    chi-square term of the half-2 mass against the expectation
    extrapolated from half-1's mass mix (e = mass₁ · tm₂ / tm₁).
    Completes the value-grid pair the way the flag-share drift completes
    the flag cross-tab: the PROFILE says where the value mass sits, this
    says whether it is MOVING — the revenue-seasonality regression alarm
    (a value peak migrating from weekday-business hours to weekend
    nights changes capacity and fraud-screen plans even if event counts
    hold still). Chi2-on-mass assumes a NONNEGATIVE measure (true for
    this value column — fixture min 0.01; a signed measure would need an
    L1/JS form instead). Cells absent from half 1 get NULL
    value_micro1/chi2_term (first-observed, the family's convention);
    cells that vanished by half 2 drop (the report covers the current
    mix).

    Plan: ONE narrower pass for the median epoch-second
    (`kth_order_statistics` over the persisted (sec, dow, hour_utc, m)
    projection — epoch-second domain is unbounded-int64, the narrower's
    case, ≤13 census rounds of pushed-filter scans against the cached
    projection), then ONE fold to the ≤336-cell half×grid table; the
    per-half totals are one conditional scalar aggregate broadcast back;
    the half-1 lookup is a broadcast self-join over the bounded cell
    table. dow/hour/masses from the same TZ-proof epoch-integer
    arithmetic and money floor as the profile twin; per-cell IEEE terms
    over exact int64 masses, never summed engine-side."""
    from ..functions.ranks import kth_order_statistics
    from ..llm.cache import tracked_persist

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = tracked_persist(
        ev.select(
            F.expr("unix_micros(ts) div 1000000").alias("sec"),
            F.expr(
                "(unix_micros(ts) div 1000000 div 86400 + 3) % 7 + 1"
            ).alias("dow"),
            F.expr("(unix_micros(ts) div 1000000 div 3600) % 24").alias(
                "hour_utc"
            ),
            F.floor(F.col("value") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("m"),
        ),
        f"events_value_half_base:{sf_dir}",
    )
    mid = kth_order_statistics(base, "sec", {"mid": 0.5})["mid"]
    c = tracked_persist(
        base.select(
            F.when(F.col("sec") <= mid, 1).otherwise(2).alias("half"),
            "dow",
            "hour_utc",
            "m",
        )
        .groupBy("half", "dow", "hour_utc")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("m").alias("mass")),
        f"events_value_halves:{sf_dir}",
    )
    t = c.agg(
        F.sum(F.when(F.col("half") == 1, F.col("mass")))
        .cast("long")
        .alias("tm1"),
        F.sum(F.when(F.col("half") == 2, F.col("mass")))
        .cast("long")
        .alias("tm2"),
    )
    c2 = c.filter(F.col("half") == 2).select(
        "dow",
        "hour_utc",
        F.col("n").alias("n_events2"),
        F.col("mass").alias("value_micro2"),
    )
    c1 = c.filter(F.col("half") == 1).select(
        "dow", "hour_utc", F.col("mass").alias("value_micro1")
    )
    e = F.col("value_micro1").cast("double") * F.col("tm2") / F.col("tm1")
    return (
        c2.join(F.broadcast(c1), ["dow", "hour_utc"], "left")
        .crossJoin(F.broadcast(t))
        .select(
            "dow",
            "hour_utc",
            "n_events2",
            "value_micro2",
            (F.col("value_micro2").cast("double") / F.col("tm2")).alias(
                "value_share2"
            ),
            "value_micro1",
            F.when(
                F.col("value_micro1").isNotNull(),
                (F.col("value_micro2") - e) * (F.col("value_micro2") - e) / e,
            ).alias("chi2_term"),
        )
    )


EVENTS_USER_VALUE_CONCENTRATION_ORACLE = """
    WITH um AS (
      SELECT user_id,
             CAST(SUM(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS micro
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    r AS (
      SELECT micro,
             row_number() OVER (ORDER BY micro) AS rn,
             COUNT(*) OVER () AS n
      FROM um
    ),
    grid AS (SELECT unnest([50, 75, 90, 95, 99]) AS pct),
    th AS (
      SELECT g.pct,
             MAX(CASE WHEN r.rn = greatest(1, CAST(ceil(g.pct / 100.0 * r.n)
                                                   AS BIGINT))
                      THEN r.micro END) AS threshold_micro
      FROM grid g CROSS JOIN r GROUP BY 1
    )
    SELECT t.pct, t.threshold_micro,
           CAST(SUM(CASE WHEN u.micro >= t.threshold_micro THEN 1 ELSE 0 END)
                AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN u.micro >= t.threshold_micro THEN u.micro
                         ELSE 0 END) AS BIGINT) AS value_micro,
           CAST(SUM(CASE WHEN u.micro >= t.threshold_micro THEN u.micro
                         ELSE 0 END) AS DOUBLE)
             / CAST(CAST(SUM(u.micro) AS BIGINT) AS DOUBLE) AS value_share
    FROM th t CROSS JOIN um u
    GROUP BY 1, 2
    """


def _user_value_cells(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    micro = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    return (
        read(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(F.sum(micro).cast("long").alias("micro"))
        .select("micro")
    )


_user_value_report = partial(
    _revenue_concentration_report,
    value_col="micro",
    threshold_col="threshold_micro",
    n_col="n_users",
    mass_col="value_micro",
    share_col="value_share",
)


@query(
    "events_user_value_concentration",
    oracle=EVENTS_USER_VALUE_CONCENTRATION_ORACLE,
    tags=("events", "stats", "percentile", "iterative", "concentration"),
    twin=Twin(_user_value_cells, _user_value_report),
)
def events_user_value_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Value-mass concentration on the USER axis (round-15 NEXT item) —
    the customer_revenue_concentration read rotated onto the event
    stream: for user-value-percentile checkpoints p ∈ {50, 75, 90, 95,
    99}, the EXACT per-user value-mass threshold at that percentile and
    the user count and value share at-or-above it — "the top decile of
    users carries X% of event value". The capacity/abuse-screening twin
    of the revenue Pareto: a rising 99th-checkpoint share says the
    value mass is collapsing onto a few accounts (the skew a
    user-keyed aggregation plan must salt for), while the revenue
    report watches the same shape on spend. Membership is VALUE-based
    (mass ≥ the exact percentile_disc threshold), so boundary ties land
    on one deterministic side in both engines.

    Exactness: per-user masses are exact int64 micro-unit sums (the
    family's value*1e6 floor; NULL values dropped, stated in the
    oracle). Scale shape: ONE scan-speed fold to the per-user frame
    (|users| rows), five thresholds riding ONE `kth_order_statistics`
    census sequence over the unbounded-int64 domain, then ONE
    distributed fold against the broadcast 5-row grid — every group
    sees all users, so SUM(micro) per group IS the denominator and the
    share divides two exact int64 sums. No sort, no ntile window, no
    driver-side aggregation. Thresholds + fold live in the shared
    _revenue_concentration_report tail (parameterized column names;
    same derivation as the revenue report and its streaming twin)."""
    return _user_value_report(_user_value_cells(spark, sf_dir, load_table))


@query(
    "customer_priority_mix_by_value_quintile",
    oracle="""
    WITH cm AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT cents AS v, row_number() OVER (ORDER BY cents) AS rn,
             COUNT(*) OVER () AS n
      FROM cm
    ),
    t AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r GROUP BY 1
    ),
    tp AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS t1,
             MAX(CASE WHEN q = 2 THEN t END) AS t2,
             MAX(CASE WHEN q = 3 THEN t END) AS t3,
             MAX(CASE WHEN q = 4 THEN t END) AS t4
      FROM t
    ),
    cq AS (
      SELECT cm.o_custkey,
             1 + (CASE WHEN cm.cents > tp.t1 THEN 1 ELSE 0 END)
               + (CASE WHEN cm.cents > tp.t2 THEN 1 ELSE 0 END)
               + (CASE WHEN cm.cents > tp.t3 THEN 1 ELSE 0 END)
               + (CASE WHEN cm.cents > tp.t4 THEN 1 ELSE 0 END) AS vq
      FROM cm CROSS JOIN tp
    ),
    g AS (
      SELECT cq.vq, o.o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders o JOIN cq ON o.o_custkey = cq.o_custkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT vq, CAST(SUM(n_orders) AS BIGINT) AS n_row FROM g GROUP BY 1
    )
    SELECT CAST(g.vq AS BIGINT) AS value_quintile, g.o_orderpriority,
           g.n_orders, tot.n_row,
           CAST(g.n_orders AS DOUBLE) / tot.n_row AS row_share
    FROM g JOIN tot ON g.vq = tot.vq
    """,
    tags=("stats", "matrix", "composition", "percentile"),
)
def customer_priority_mix_by_value_quintile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Do the BIG customers order URGENTLY? Order-priority composition
    per customer lifetime-spend quintile (round-15 NEXT item) — the
    composition × value interaction the order-routing planner reads
    before reserving expedite capacity: every customer gets a spend
    quintile (by exact lifetime cents, quintile 1 = lightest), every
    ORDER inherits its customer's quintile, and the ≤5×5-cell
    (quintile, o_orderpriority) table reports order counts and
    within-quintile shares. A 1-URGENT share rising with the quintile
    says expedite demand concentrates in the high-value book (priority
    pricing works); a flat profile says priority is value-blind. Row
    shares are per QUINTILE (each quintile's priority mix sums to 1),
    the composition family's convention.

    Exactness: spends are exact int64 cents; quintile ranks are
    max(1, ⌈q·n⌉) with the same IEEE multiply the oracle states; the
    ladder is the shared strict-greater VALUE-based assignment (ties
    share a quintile, never split by engine row order); shares divide
    two exact int64 counts once per cell.

    Plan: the per-customer spend frame is the SESSION-CACHED
    `_cust_spend_cents` slot (free after any spend-percentile query
    ran); the 4 thresholds ride ONE `quintile_thresholds` census
    sequence over it; the quintile map back to orders is one hash join
    (orders ⋈ |customers|-row quintile table — co-partitioned on the
    join key by the shuffle, no skew: quintiles are population-balanced
    by construction), then a ≤25-cell fold and a broadcast ≤5-row
    row-total join. No windows over facts, no driver math."""
    from ..functions.ranks import quintile_ladder, quintile_thresholds

    cm = _cust_spend_cents(spark, sf_dir)
    th = quintile_thresholds(cm, ["cents"])
    cq = cm.select(
        "o_custkey", quintile_ladder("cents", th["cents"]).alias("value_quintile")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    g = (
        o.join(cq, "o_custkey")
        .groupBy("value_quintile", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = g.groupBy("value_quintile").agg(F.sum("n_orders").alias("n_row"))
    return g.join(F.broadcast(tot), "value_quintile").select(
        "value_quintile",
        "o_orderpriority",
        "n_orders",
        "n_row",
        (F.col("n_orders").cast("double") / F.col("n_row")).alias(
            "row_share"
        ),
    )
