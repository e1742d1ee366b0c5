"""Distributed k-means over the embedding corpus, exact-trajectory checked.

Third member of the iterative-fixpoint family (connected components in
``llm/dedup.py``, PageRank in ``operators/graph.py``): Lloyd's algorithm
where every iteration is two DataFrame passes — a broadcast-centroid
assignment and a per-dimension centroid mean — driven by a driver loop that
never touches data. Unlike the ANN-IVF tier (``llm/similarity.py``), whose
centroid FIT is a justified driver-side sample fit, this k-means is fully
distributed: centroids live in a K-row DataFrame, broadcast into the
assignment crossJoin, and are re-estimated with shuffle aggregation.

Determinism contract (same design as PageRank's, see
``operators/graph.py`` module docstring): coordinates are grain-rounded to
1e-9 on load (pure-IEEE floor form); per-dimension squared differences are
grain-rounded and summed in DECIMAL(28,9) — exact and associative, so
partitioning cannot change a distance; ties in the argmin break on the
smallest centroid id; centroid means divide an exact DECIMAL sum by an
integer count as one double division, grain-rounded once. Both engines
therefore walk the IDENTICAL centroid trajectory, and the DuckDB oracle —
the same recurrence unrolled into generated CTEs — matches bit-for-bit.

Scale (100 TB): assignment is a BroadcastNestedLoopJoin of N rows × K
centroids (the canonical K·N·D cost, all JVM-side array arithmetic inside
one codegen stage); the update is one posexplode + (cid, dim) hash
aggregate — shuffle rows bounded by K·D, not N. Nothing collects to the
driver; iteration count is a fixed hyperparameter.

Reference parity: the reference has no numeric-iteration surface at all
(``external/include/mr_task_factory.h:20-43``); this is north-star scope
(training-data pipeline: clustering for semantic dedup / data mixing).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..registry import query
from .cache import tracked_persist as _tracked_persist

K = 8
N_ITERS = 3
_G = 1_000_000_000  # 1e-9 grain, as an exact integer literal


def _pts_sql() -> str:
    """Exploded (vec_id, d, x) points with grain-rounded double coords.

    DuckDB lists are 1-indexed; the Spark side uses ``posexplode`` (0-based)
    internally, which is invisible cross-engine because dims never appear in
    the output."""
    return f"""
    pts AS (
      SELECT e.vec_id, g.i AS d,
             floor(CAST(list_extract(e.embedding, g.i) AS DOUBLE) * {_G} + 0.5) / {_G} AS x
      FROM embeddings e
      CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) g
    ),
    c0 AS (
      SELECT vec_id AS cid, d, x AS c FROM pts WHERE vec_id < {K}
    )"""


def _kmeans_oracle(iters: int = N_ITERS) -> str:
    """Unrolled Lloyd iterations: assignment (exact-decimal distances,
    min-cid tie-break) then grain-rounded centroid means."""
    blocks = [f"WITH {_pts_sql()}"]
    for k in range(1, iters + 1):
        blocks.append(f"""
    , dist{k} AS (
      SELECT p.vec_id, c.cid,
             SUM(CAST(floor((p.x - c.c) * (p.x - c.c) * {_G} + 0.5) / {_G}
                      AS DECIMAL(28,9))) AS dist
      FROM pts p JOIN c{k - 1} c ON p.d = c.d
      GROUP BY 1, 2
    ),
    m{k} AS (SELECT vec_id, MIN(dist) AS md FROM dist{k} GROUP BY vec_id),
    a{k} AS (
      SELECT d.vec_id, MIN(d.cid) AS cid
      FROM dist{k} d JOIN m{k} m ON d.vec_id = m.vec_id AND d.dist = m.md
      GROUP BY d.vec_id
    )""")
        if k < iters:
            blocks.append(f"""
    , c{k} AS (
      SELECT a.cid, p.d,
             floor(CAST(SUM(CAST(p.x AS DECIMAL(28,9))) AS DOUBLE)
                   / COUNT(*) * {_G} + 0.5) / {_G} AS c
      FROM a{k} a JOIN pts p ON a.vec_id = p.vec_id
      GROUP BY 1, 2
    )""")
    blocks.append(f"""
    SELECT a.vec_id, a.cid, CAST(m.md AS DOUBLE) AS dist
    FROM a{iters} a JOIN m{iters} m ON a.vec_id = m.vec_id
    """)
    return "".join(blocks)


# Grain-rounded squared-difference fold, summed in DECIMAL(28,9). The
# accumulator is re-cast each step so the lambda's return type stays fixed
# (decimal addition widens the type otherwise). Since round 17 this
# expression is the SPECIFICATION and test reference; execution rides the
# Arrow kernel below (higher-order functions run in the interpreted
# expression evaluator — measured 2.1–3.8 s per 50k-pair distance pass at
# sf0.1 vs ~0.3 s for the kernel).
_DIST_EXPR = f"""
aggregate(
  zip_with(x, c, (a, b) ->
    CAST(floor((a - b) * (a - b) * {_G} + 0.5) / {_G} AS DECIMAL(28,9))),
  CAST(0 AS DECIMAL(28,9)),
  (acc, v) -> CAST(acc + v AS DECIMAL(28,9)))
"""


def _make_grain_dist_udf():
    """Arrow twin of `_DIST_EXPR`, exact to the bit.

    Why exactness holds: per element the SQL computes
    ``floor((a−b)·(a−b)·1e9 + 0.5)`` in pure float64 (the int literal
    promotes to the exactly-representable double 1e9) — numpy performs the
    identical IEEE ops — then divides by 1e9 (double) and casts to
    DECIMAL(28,9) HALF_UP, which recovers exactly n·1e-9 because the
    double quotient's absolute error (~|n|·2⁻⁵² /1e9) is far below the
    5e-10 rounding boundary for any realistic coordinate magnitude. The
    DECIMAL sum of such 9-dp values is exact integer arithmetic in units
    of 1e-9, so summing the int64 terms and scaling once is the same
    number. Degenerate rows replicate the expression's non-ANSI
    semantics: a NULL array, a length mismatch (zip_with pads with NULL)
    or a NULL/NaN element all yield a NULL distance. Pinned on the real
    corpus and on hand-built degenerate rows by
    tests/test_r17_kernels.py::test_grain_dist_udf_matches_expression."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType

    # int64 holds a row's term sum only below 2**63; the float64 row sum
    # (terms are >= 0) bounds it with a 2x margin for its own rounding.
    # Past that edge (coordinate differences of ~1e5) the sum is taken in
    # exact Python ints instead of wrapping.
    int64_safe = 2.0**62

    def _row(a, b) -> Decimal | None:
        if a is None or b is None:
            return None
        a = np.asarray(a, dtype=np.float64)
        b = np.asarray(b, dtype=np.float64)
        if a.shape != b.shape:
            return None
        t = np.floor((a - b) * (a - b) * 1.0e9 + 0.5)
        if not np.isfinite(t).all():
            return None
        if t.sum() < int64_safe:
            n = int(t.astype(np.int64).sum())
        else:
            n = sum(int(x) for x in t)
        return Decimal(n).scaleb(-9)

    @F.pandas_udf(DecimalType(28, 9))
    def _dist(xs: pd.Series, cs: pd.Series) -> pd.Series:
        try:
            # Vectorized fast path: uniform-width, all-finite batch.
            A = np.stack(xs.to_numpy())
            B = np.stack(cs.to_numpy())
            T = np.floor((A - B) * (A - B) * 1.0e9 + 0.5)
            if np.isfinite(T).all() and (T.sum(axis=1) < int64_safe).all():
                sums = T.astype(np.int64).sum(axis=1)
                return pd.Series(
                    [Decimal(int(n)).scaleb(-9) for n in sums], dtype=object
                )
        except Exception:
            pass
        return pd.Series(
            [_row(a, b) for a, b in zip(xs, cs)], dtype=object
        )

    return _dist


_DIST_UDF = None


def _dist_col() -> F.Column:
    global _DIST_UDF
    if _DIST_UDF is None:
        _DIST_UDF = _make_grain_dist_udf()
    return _DIST_UDF(F.col("x"), F.col("c"))


@query(
    "kmeans_embeddings",
    oracle=_kmeans_oracle(),
    tags=("ml", "iterative", "clustering", "embeddings"),
)
def kmeans_embeddings(
    spark: SparkSession, sf_dir: str, iters: int = N_ITERS
) -> DataFrame:
    """K-means (K=8, 3 Lloyd iterations, seeds = vec_id < K) over the 64-d
    embedding corpus; returns each vector's final cluster assignment and
    its exact squared distance to that centroid.

    Empty-cell policy — INTENDED semantics, mirrored by the oracle: a cell
    that attracts zero points in an iteration is dropped (centroids are
    rebuilt only from assigned cids), so the final clustering can have
    fewer than K clusters on degenerate seeds. This is classic Lloyd
    drop-empty; the IVF quantizer fit in similarity.py makes the opposite
    choice (keep the previous centroid, "C never shrinks") because an ANN
    index needs a fixed cell count — a clustering REPORT doesn't. The
    unrolled-CTE oracle implements the same drop, so the differential
    gate certifies the policy rather than hiding it."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.expr(
            f"transform(CAST(embedding AS ARRAY<DOUBLE>),"
            f" e -> floor(e * {_G} + 0.5) / {_G})"
        ).alias("x"),
    )
    # Every iteration's assignment re-derives from pts; persist once so the
    # corpus is scanned once, not once per iteration (PageRank does the same
    # with its edge list). Slot-tracked: re-invocation releases the prior
    # copy instead of leaving cleanup to driver GC timing.
    pts = _tracked_persist(pts, f"kmeans_pts:{sf_dir}")
    centroids = pts.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("x").alias("c")
    )
    assign = None
    for it in range(1, iters + 1):
        dists = (
            pts.crossJoin(F.broadcast(centroids))
            .withColumn("dist", _dist_col())
            .select("vec_id", "x", "cid", "dist")
        )
        # struct-min = (smallest dist, then smallest cid): the deterministic
        # tie-break, in one aggregate.
        assign = (
            dists.groupBy("vec_id")
            .agg(
                F.min(F.struct("dist", "cid")).alias("best"),
                F.first("x").alias("x"),
            )
            .select(
                "vec_id",
                F.col("best.cid").alias("cid"),
                F.col("best.dist").alias("dist"),
                "x",
            )
        )
        if it < iters:
            dims = assign.select(
                "cid", F.posexplode("x").alias("pos", "xd")
            )
            cdims = dims.groupBy("cid", "pos").agg(
                F.floor(
                    F.sum(F.col("xd").cast("decimal(28,9)")).cast("double")
                    / F.count(F.lit(1))
                    * _G
                    + F.lit(0.5)
                ).cast("double")
                .alias("cnum")
            ).select(
                "cid", "pos", (F.col("cnum") / F.lit(_G)).alias("cd")
            )
            centroids = (
                cdims.groupBy("cid")
                .agg(
                    F.expr(
                        "transform(array_sort(collect_list(struct(pos, cd))),"
                        " s -> s.cd)"
                    ).alias("c")
                )
            )
    return assign.select(
        "vec_id", "cid", F.col("dist").cast("double").alias("dist")
    )


# --------------------------------------------------------------------------
# k-means|| seeding (Bahmani et al., VLDB'12) — deterministic variant
# --------------------------------------------------------------------------

L_OVERSAMPLE = 12  # expected selections per round (the paper's l)
N_ROUNDS = 2       # the paper's O(log n) rounds, fixed for determinism
_H24 = 16777216    # 2^24: hash-threshold denominator (md5 prefix width)


def _sel_pred_sql(r: int) -> str:
    """Deterministic Bernoulli: select a point iff the first 24 bits of
    md5(vec_id·31 + r) fall below l·2²⁴·d²/φ. Both engines hash the same
    decimal string, so the 'coin flips' agree bit-for-bit; the threshold is
    one double division of two bit-stable exact sums. Points already in the
    candidate set have d² = 0 → probability 0, so rounds never reselect."""
    return (
        f"CAST('0x' || substr(md5(CAST(d.vec_id * 31 + {r} AS VARCHAR)), 1, 6) AS BIGINT)"
        f" < floor({L_OVERSAMPLE} * {_H24}"
        f" * (CAST(d.d2 AS DOUBLE) / CAST(ph.phi AS DOUBLE)))"
    )


def _kmeans_parallel_oracle() -> str:
    """Unrolled k-means|| recurrence: N_ROUNDS oversampling rounds, a
    weighting pass, then K−1 greedy weighted-farthest-first steps."""
    # DuckDB inlines plain CTEs at every reference site; the greedy chain
    # below references each ch{k} twice, which would expand the whole
    # upstream 2^(K-1) times (and reopen the parquet each time). MATERIALIZE
    # every multiply-referenced CTE so the oracle evaluates each level once.
    blocks = [f"""WITH pts AS MATERIALIZED (
      SELECT e.vec_id, g.i AS d,
             floor(CAST(list_extract(e.embedding, g.i) AS DOUBLE) * {_G} + 0.5) / {_G} AS x
      FROM embeddings e
      CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) g
    ),
    cand0 AS (SELECT CAST(0 AS BIGINT) AS cid)"""]
    for r in range(1, N_ROUNDS + 1):
        blocks.append(f"""
    , cpts{r - 1} AS MATERIALIZED (
      SELECT c.cid, p.d, p.x AS c FROM cand{r - 1} c JOIN pts p ON p.vec_id = c.cid
    ),
    dd{r} AS MATERIALIZED (
      SELECT p.vec_id, c.cid,
             SUM(CAST(floor((p.x - c.c) * (p.x - c.c) * {_G} + 0.5) / {_G}
                      AS DECIMAL(28,9))) AS dist
      FROM pts p JOIN cpts{r - 1} c ON p.d = c.d
      GROUP BY 1, 2
    ),
    d{r} AS MATERIALIZED (SELECT vec_id, MIN(dist) AS d2 FROM dd{r} GROUP BY vec_id),
    phi{r} AS (SELECT SUM(d2) AS phi FROM d{r}),
    sel{r} AS (
      SELECT d.vec_id FROM d{r} d, phi{r} ph WHERE {_sel_pred_sql(r)}
    ),
    cand{r} AS MATERIALIZED (
      SELECT cid FROM cand{r - 1} UNION ALL SELECT vec_id AS cid FROM sel{r}
    )""")
    R = N_ROUNDS
    blocks.append(f"""
    , cpts AS MATERIALIZED (
      SELECT c.cid, p.d, p.x AS c FROM cand{R} c JOIN pts p ON p.vec_id = c.cid
    ),
    wdd AS MATERIALIZED (
      SELECT p.vec_id, c.cid,
             SUM(CAST(floor((p.x - c.c) * (p.x - c.c) * {_G} + 0.5) / {_G}
                      AS DECIMAL(28,9))) AS dist
      FROM pts p JOIN cpts c ON p.d = c.d
      GROUP BY 1, 2
    ),
    wbest AS (SELECT vec_id, MIN(dist) AS md FROM wdd GROUP BY vec_id),
    wassign AS (
      SELECT b.vec_id, MIN(d.cid) AS cid
      FROM wdd d JOIN wbest b ON d.vec_id = b.vec_id AND d.dist = b.md
      GROUP BY 1
    ),
    candw AS MATERIALIZED (SELECT cid, COUNT(*) AS w FROM wassign GROUP BY 1),
    cdist AS MATERIALIZED (
      SELECT a.cid AS ca, b.cid AS cb,
             SUM(CAST(floor((a.c - b.c) * (a.c - b.c) * {_G} + 0.5) / {_G}
                      AS DECIMAL(28,9))) AS dist
      FROM cpts a JOIN cpts b ON a.d = b.d
      GROUP BY 1, 2
    ),
    ch1 AS MATERIALIZED (SELECT cid, 1 AS step FROM candw ORDER BY w DESC, cid LIMIT 1)""")
    for k in range(2, K + 1):
        blocks.append(f"""
    , s{k} AS MATERIALIZED (
      SELECT w.cid, w.w, MIN(cd.dist) AS md
      FROM candw w
      JOIN cdist cd ON cd.ca = w.cid
      JOIN ch{k - 1} ch ON cd.cb = ch.cid
      WHERE w.cid NOT IN (SELECT cid FROM ch{k - 1})
      GROUP BY 1, 2
    ),
    n{k} AS (
      SELECT cid, {k} AS step FROM s{k}
      ORDER BY CAST(md AS DOUBLE) * w DESC, cid LIMIT 1
    ),
    ch{k} AS MATERIALIZED (SELECT cid, step FROM ch{k - 1} UNION ALL SELECT cid, step FROM n{k})""")
    blocks.append(f"""
    SELECT ch.step, ch.cid, w.w AS weight
    FROM ch{K} ch JOIN candw w ON ch.cid = w.cid
    """)
    return "".join(blocks)


@query(
    "kmeans_parallel_seeds",
    oracle=_kmeans_parallel_oracle(),
    tags=("ml", "iterative", "clustering", "seeding", "embeddings"),
)
def kmeans_parallel_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means|| seeding (K=8, l=12, 2 rounds, seed = vec_id 0): the
    scalable k-means++ initializer. Each round computes every point's exact
    squared distance to the current candidate set (one broadcast pass),
    then admits points via a deterministic md5-threshold Bernoulli draw with
    probability l·d²/φ. Candidates are weighted by nearest-point counts and
    reduced to K seeds with greedy weighted-farthest-first selection.

    Returns (step, cid, weight): the K chosen seed vectors, the order they
    were picked, and their point-count weight.

    Determinism: distances use the module's grain-rounded DECIMAL fold; the
    Bernoulli draw hashes the same decimal string in both engines; the
    selection threshold is one double division of two bit-stable sums;
    every argmax breaks ties on the smallest cid. The DuckDB oracle unrolls
    the identical recurrence.

    Scale (100 TB): the per-round distance pass is broadcast-candidates ×
    all points (candidate count is O(l·rounds), independent of N); the
    weighting pass is the same shape. Only candidate-sized frames are ever
    collected (≈ l·rounds + 1 ≈ 25 rows — bounded by construction, the same
    justification as the IVF sample fit), so the driver never holds data-
    sized state. Lloyd iterations then start from ``kmeans_embeddings``'s
    machinery with these seeds.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.expr(
            f"transform(CAST(embedding AS ARRAY<DOUBLE>),"
            f" e -> floor(e * {_G} + 0.5) / {_G})"
        ).alias("x"),
    )
    pts = _tracked_persist(pts, f"kmeans_seeds_pts:{sf_dir}")

    cand = pts.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("cid"))
    for r in range(1, N_ROUNDS + 1):
        cpts = pts.join(
            F.broadcast(cand), pts.vec_id == F.col("cid"), "left_semi"
        ).select(F.col("vec_id").alias("cid"), F.col("x").alias("c"))
        d2 = (
            pts.crossJoin(F.broadcast(cpts))
            .withColumn("dist", _dist_col())
            .groupBy("vec_id")
            .agg(F.min("dist").alias("d2"))
        )
        phi = d2.agg(F.sum("d2").alias("phi"))
        hash24 = F.conv(
            F.substring(
                F.md5((F.col("vec_id") * 31 + F.lit(r)).cast("string")), 1, 6
            ),
            16,
            10,
        ).cast("long")
        sel = (
            d2.crossJoin(F.broadcast(phi))
            .filter(
                hash24
                < F.floor(
                    F.lit(L_OVERSAMPLE * _H24)
                    * (F.col("d2").cast("double") / F.col("phi").cast("double"))
                )
            )
            .select(F.col("vec_id").alias("cid"))
        )
        cand = cand.union(sel)

    cpts = pts.join(
        F.broadcast(cand), pts.vec_id == F.col("cid"), "left_semi"
    ).select(F.col("vec_id").alias("cid"), F.col("x").alias("c"))
    # Weight pass: every point to its nearest candidate (min dist, min cid).
    wdd = (
        pts.crossJoin(F.broadcast(cpts))
        .withColumn("dist", _dist_col())
        .select("vec_id", "cid", "dist")
    )
    candw = (
        wdd.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("best"))
        .groupBy(F.col("best.cid").alias("cid"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    candw = _tracked_persist(candw, f"kmeans_seeds_candw:{sf_dir}")
    cdist = (
        cpts.select(F.col("cid").alias("ca"), F.col("c").alias("x"))
        .crossJoin(F.broadcast(cpts.select(F.col("cid").alias("cb"), "c")))
        .withColumn("dist", _dist_col())
        .select("ca", "cb", "dist")
    )
    cdist = _tracked_persist(cdist, f"kmeans_seeds_cdist:{sf_dir}")

    # Greedy weighted-farthest-first selection, driver-side (round 17):
    # this ran as K Spark jobs (a limit(1).collect per step) over the two
    # BOUNDED persisted frames; collecting both once (candw ≈ l·rounds + 1
    # rows, cdist its square — the same by-construction bound that
    # allowlists this function's materializations) and replaying the
    # identical recurrence in python removes ~K job round-trips. Exactness:
    # DECIMAL min has one total order; the sort key replication is
    # float(Decimal) (the same round-to-nearest double as Spark's
    # decimal→double cast) times an int weight — the identical double —
    # with the same (desc, cid asc) tie-break. Pinned against the Spark
    # formulation on the real corpus by
    # tests/test_r17_kernels.py::test_kmeans_seeds_greedy_driver_matches_spark.
    w_by_cid = {int(r["cid"]): int(r["w"]) for r in candw.collect()}
    dist_ab = {
        (int(r["ca"]), int(r["cb"])): r["dist"] for r in cdist.collect()
    }
    chosen: list[tuple[int, int]] = []
    if w_by_cid:
        first_cid = min(w_by_cid, key=lambda c: (-w_by_cid[c], c))
        chosen.append((first_cid, 1))
    for k in range(2, K + 1):
        ids = [c for c, _ in chosen]
        remaining = [c for c in w_by_cid if c not in ids]
        best = None
        for c in remaining:
            mds = [dist_ab[(c, b)] for b in ids if (c, b) in dist_ab]
            if not mds:
                continue
            md = min(mds)
            key = (-(float(md) * w_by_cid[c]), c)
            if best is None or key < best[0]:
                best = (key, c)
        if best is None:
            break
        chosen.append((best[1], k))

    chosen_df = spark.createDataFrame(
        [(cid, step) for cid, step in chosen], "cid bigint, step int"
    )
    return (
        F.broadcast(chosen_df)
        .join(candw, "cid")
        .select("step", "cid", F.col("w").alias("weight"))
    )
