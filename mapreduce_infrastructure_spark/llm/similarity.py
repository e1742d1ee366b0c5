"""Similarity search over the `embeddings` table (north-star, BASELINE.json).

- `knn_bruteforce`       — exact top-k cosine for a query set (oracle-checked)
- `neardup_cosine_pairs` — exact all-pairs cosine above threshold (oracle)
- `ann_lsh_topk`         — random-hyperplane LSH bucketed ANN (recall vs
                           brute force asserted in tests)
- `ann_ivf_topk`         — IVF: seeded k-means cells + multi-cell probe
                           (the data-adaptive scale path; ~2× the recall of
                           sign-LSH at the same scan fraction on these
                           fixtures)

Vector arithmetic is double-exact, so Spark and the DuckDB oracle agree to
the last bit before rounding. Most of it is JVM-side: unrolled codegen
folds or higher-order functions (zip_with / aggregate) over double-cast
arrays. The exceptions are the Arrow kernels. The IVF cell assignment,
the PQ sub-distances and codes, and the block-pair cosine kernel replay
the JVM fold's IEEE operations in numpy. The cosine kernel scores the
exact all-pairs tier of `neardup_cosine_pairs` in one wave of block pairs
(more blocks would replicate each vector further without adding
parallelism) and the IVF cells of `neardup_cosine_ivf`, one diagonal
block per cell; both ship vectors, never pairs, across the boundary. The
PCA Gram partials use BLAS and are tolerance-pinned.

Every query reads its vectors through `_vectors`, one session-store entry
per version of `embeddings`: a warm call scans no parquet and recomputes
no norm, and a rewritten table is re-read.

Scale design: brute force is O(|Q|·N) with Q broadcast — right when the
query set is small; for N×N or big-Q workloads the bucketed plans survive:
partition the corpus (hyperplane signs or k-means cells — one linear
shuffle), search only probed buckets. The join/verify skeleton is identical
in both; only the bucketer differs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..catalog import load_table, table_paths, table_rows
from ..functions.exact import rnd
from ..registry import query


# Persisted working sets, one slot per (query, sf_dir) — bounded-cache
# helper shared across the LLM tier (see llm/cache.py).
from .cache import shared_persist as _shared_persist
from .cache import shared_value as _shared_value
from .cache import tracked_persist as _tracked_persist


def _as_double(col: str | Column) -> Column:
    """array<float> → array<double> as a plain Cast (round 16): Cast
    generates codegen'd per-element widening, where the previous
    ``transform(c, x -> cast(x as double))`` ran the per-element lambda
    through the interpreted higher-order-function evaluator on every scan
    row. float→double widening is exact and null elements / null arrays map
    identically, so values are bit-identical (pinned vs the transform form
    in tests/test_r16_kernels.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


# Fixture embedding dimensionality (TESTDATA.md: embeddings.embedding is a
# fixed-width 64-double array; at any scale the dimensionality is a model
# constant, not data-dependent). The round-16 kernels below unroll their
# per-element folds to this width so the arithmetic whole-stage-codegens
# instead of running through the interpreted higher-order-function
# evaluator; every kernel guards on size() and falls back to the original
# HOF fold for any other width, so values are bit-identical by construction
# (same IEEE ops in the same left-to-right order) and behavior for
# malformed rows (null/short arrays → null) is unchanged.
_EMB_DIM = 64


def _lit_d(v: float) -> str:
    """A double literal in Spark SQL text that parses to exactly the bits
    of ``v`` (repr is shortest-round-trip; the D suffix pins DOUBLE)."""
    return f"{float(v)!r}D"


def _dot_sql(a: str, b: str, dim: int = _EMB_DIM) -> str:
    """SQL text of the guarded unrolled dot product of two named
    array<double> columns — ((0.0 + a[0]·b[0]) + a[1]·b[1]) + …, the same
    fold order as the HOF fallback."""
    terms = " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dim))
    hof = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        f"CASE WHEN size({a}) = {dim} AND size({b}) = {dim} "
        f"THEN CAST(0.0 AS DOUBLE) + {terms} ELSE {hof} END"
    )


def _dot(a: str | Column, b: str | Column) -> Column:
    """Dot product of two array<double> columns.

    Given COLUMN NAMES (every hot call site), this builds the guarded
    unrolled form via one ``F.expr`` parse: whole-stage-codegen'd
    arithmetic instead of the interpreted HOF evaluator (~30% off the
    neardup verify stage at sf0.1), and ONE py4j round-trip instead of
    hundreds. Given Column expressions, the original HOF fold is used
    unchanged."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _dot_lit(col: str, values: list[float]) -> Column:
    """Guarded unrolled dot of a named array<double> column with a Python
    float vector (hyperplane literals): same fold order and the same HOF
    fallback as `_dot`, with the vector inlined as double literals in one
    parsed expression instead of a 64-element ``F.array(F.lit(...))``
    built over py4j."""
    dim = len(values)
    lits = [_lit_d(v) for v in values]
    terms = " + ".join(f"{col}[{i}] * {c}" for i, c in enumerate(lits))
    hof = (
        f"aggregate(zip_with({col}, array({', '.join(lits)}), (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return F.expr(
        f"CASE WHEN size({col}) = {dim} "
        f"THEN CAST(0.0 AS DOUBLE) + {terms} ELSE {hof} END"
    )


def _norm_sql(a: str, dim: int = _EMB_DIM) -> str:
    """SQL text of the guarded unrolled L2 norm of a named array<double>
    column — sqrt(((0.0 + a[0]·a[0]) + a[1]·a[1]) + …), the same fold order
    as the HOF fallback (aggregate over transform squares)."""
    terms = " + ".join(f"{a}[{i}] * {a}[{i}]" for i in range(dim))
    hof = (
        f"aggregate(transform({a}, x -> x * x), "
        f"CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
    )
    return (
        f"SQRT(CASE WHEN size({a}) = {dim} "
        f"THEN CAST(0.0 AS DOUBLE) + {terms} ELSE {hof} END)"
    )


def _norm(a: str | Column) -> Column:
    """L2 norm of an array<double> column. Given a COLUMN NAME, the guarded
    unrolled chain (round 16): whole-stage-codegen'd multiply-adds in the
    identical left-to-right IEEE order instead of the interpreted HOF
    evaluator — the same kernel treatment as `_dot`, one parsed expression.
    Given a Column expression, the original HOF fold is used unchanged."""
    if isinstance(a, str):
        return F.expr(_norm_sql(a))
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def _unit_sql(d: str = "d", nrm: str = "nrm", dim: int = _EMB_DIM) -> str:
    """SQL text of the guarded unrolled unit-normalization of a named
    array<double> column by a named scalar: array(d[0]/nrm, …) — elementwise
    identical to ``transform(d, x -> x / nrm)`` (same Divide expression per
    element, same order), but built as a plain array constructor so the
    per-element division whole-stage-codegens instead of running through the
    interpreted HOF evaluator on every scan row."""
    elems = ", ".join(f"{d}[{i}] / {nrm}" for i in range(dim))
    hof = f"transform({d}, x -> x / {nrm})"
    return f"CASE WHEN size({d}) = {dim} THEN array({elems}) ELSE {hof} END"


def _unit(d: str = "d", nrm: str = "nrm") -> Column:
    return F.expr(_unit_sql(d, nrm))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (vec_id, d, nrm) table every embedding query reads: the vectors
    cast to array<double> and their JVM `_norm`. A store entry
    (shared_persist) under ``vectors:{sf_dir}``, keyed by the fingerprint
    of ``embeddings``: one cached copy per embeddings version serves the
    exact and IVF near-dup tiers, the IVF/PQ/OPQ fits, `knn_bruteforce`,
    the ANN queries and the cosine/k-NN reports, so a warm call scans no
    parquet and re-runs no 64-term norm. A rewrite of the table evicts and
    rebuilds the entry. Footprint: about 540 bytes a vector (64 doubles,
    the id and the norm), about 1.1 MB for the 2,000 vectors of sf0.1. It
    persists at the default level, so past executor memory it spills to
    local disk like the shingle table."""

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        # Two-step select so the norm kernel references the NAMED cast
        # column (projection collapse folds this into one Project;
        # whole-stage codegen subexpression elimination evaluates the
        # array cast once per row).
        return emb.select("vec_id", _as_double("embedding").alias("d")).select(
            "vec_id", "d", _norm("d").alias("nrm")
        )

    return _shared_persist(
        spark, build, f"vectors:{sf_dir}", table_paths(sf_dir, "embeddings")
    )


# Shared oracle arithmetic: explicit index-based dot product over DOUBLE[]
# (no reliance on DuckDB's fused list_cosine_similarity, whose accumulation
# order is unspecified).
_ORACLE_VECTORS = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
         n AS (SELECT vec_id, d,
                      sqrt(list_sum(list_transform(d, x -> x * x))) AS nrm
               FROM e)
"""


@query(
    "knn_bruteforce",
    oracle=_ORACLE_VECTORS
    + """
    , p AS (
      SELECT q.vec_id AS query_id,
             c.vec_id AS neighbor_id,
             floor((list_sum(list_transform(generate_series(1, len(q.d)),
                                           i -> q.d[i] * c.d[i])) / (q.nrm * c.nrm)) * 10000 + 0.5) / 10000 AS cosine
      FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM p
    ) WHERE rank <= 5
    """,
    tags=("similarity", "knn"),
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the query set (vec_id < 10): the
    correctness baseline for ANN. The small query side is broadcast so the
    scan over N vectors is shuffle-free; ranking is a per-query window with
    deterministic (rounded-sim, id) tie-breaks."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("d").alias("qd"),
        F.col("nrm").alias("qnrm"),
    )
    cosine = rnd(
        _dot("qd", "d") / (F.col("qnrm") * F.col("nrm")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        vecs.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


# Block-pair exact cosine (neardup_cosine_pairs). Tile edge of the Gram
# fold: the accumulator and product temporaries are 256×256 doubles
# (512 KB each), which stay cache-resident; 256 measured fastest of
# 128/256/512/1024 for a 1000×1000 block on a 4-core x86 host (0.09 s vs
# 0.13 s at 1024).
_GRAM_TILE = 256


def _neardup_blocks(spark: SparkSession) -> int:
    """Block count of the block-pair kernel: the largest nb with
    nb·(nb+1)/2 ≤ defaultParallelism (at least 2), so the block pairs fill
    one wave of task slots. Each vector is replicated to the nb block pairs
    holding its block, so past one wave a larger nb adds replicated bytes
    across the shuffle and the Arrow boundary, and no parallelism. The
    per-task fixed cost that once argued the same way is down to tens of
    milliseconds (README, "Scale posture")."""
    slots = spark.sparkContext.defaultParallelism
    nb = 2
    while (nb + 1) * (nb + 2) // 2 <= slots:
        nb += 1
    return nb


def _ansi(spark: SparkSession) -> bool:
    return spark.conf.get("spark.sql.ansi.enabled") == "true"


def _cosine_block_pair_kernel(self_pairs: bool = True, ansi: bool = True):
    """applyInArrow kernel of one block pair (bi, bj): every vector pair
    with one side in block bi and the other in block bj, scored as
    rnd(dot / (nrm_a·nrm_b), 4) in the exact IEEE steps of the JVM
    expression, and the pairs with cosine ≥ 0.4 returned as
    (min id, max id, cosine). A one-column group key (blk) is the
    diagonal block bi = bj = blk. On the diagonal rows are sorted by id
    and only the upper tiles are folded, so an id pair scores once there.
    Vectors of different widths never pair (the JVM dot is null for them).

    Under ANSI (``ansi``, the session's ``spark.sql.ansi.enabled`` when
    the plan was built) a zero-norm vector raises DIVIDE_BY_ZERO, as the
    JVM division does. ``self_pairs`` says whether the formulation
    reproduced scores each vector against itself too: the nested-loop
    join of `neardup_cosine_pairs` does, so there any zero-norm row fails
    the query. The cell join of `neardup_cosine_ivf` scores only distinct
    ids, so there a zero-norm row raises only when its width group holds
    another id (a partner of another width has a null dot, and null
    divided by zero is null). With ANSI off the JVM division by zero is
    null, so a pair with a zero denominator gives no row. A closure, so
    the worker unpickles it by value without importing this package."""
    tile = _GRAM_TILE

    def gram_fold(At: np.ndarray, Bt: np.ndarray) -> np.ndarray:
        # Dot products of every column of At (dim×m) with every column of
        # Bt (dim×n) as the JVM folds them: acc = 0.0, then
        # acc = acc + a[k]·b[k] for k = 0..dim−1, one IEEE multiply and one
        # add per step (numpy never fuses or reorders elementwise ufuncs;
        # no BLAS).
        acc = np.zeros((At.shape[1], Bt.shape[1]))
        tmp = np.empty_like(acc)
        for k in range(len(At)):
            np.multiply(At[k][:, None], Bt[k][None, :], out=tmp)
            np.add(acc, tmp, out=acc)
        return acc

    def kernel(key, tbl):
        import pyarrow as pa

        bi, bj = key[0].as_py(), key[-1].as_py()
        nrm = tbl.column("nrm").to_numpy()
        ids = tbl.column("vec_id").to_numpy()
        blk = tbl.column("blk").to_numpy()
        d = tbl.column("d").combine_chunks()
        widths = d.value_lengths().to_numpy()
        starts = d.offsets.to_numpy()[:-1]
        vals = d.values.to_numpy(zero_copy_only=False)
        zero = nrm * nrm == 0
        for w in np.unique(widths[zero]) if ansi else ():
            if self_pairs or len(np.unique(ids[widths == w])) > 1:
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] Division by zero in the cosine of a "
                    "zero-norm vector."
                )

        def side(rows):
            rows = rows[np.argsort(ids[rows], kind="stable")]
            w = widths[rows[0]] if len(rows) else 0
            Xt = vals[starts[rows][None, :] + np.arange(w)[:, None]]
            return ids[rows], nrm[rows], Xt

        out_a, out_b, out_c = [], [], []
        for w in np.unique(widths):
            same = widths == w
            ia, norm_a, At = side(np.flatnonzero(same & (blk == bi)))
            ib, norm_b, Bt = side(np.flatnonzero(same & (blk == bj)))
            for i0 in range(0, len(ia), tile):
                for j0 in range(i0 if bi == bj else 0, len(ib), tile):
                    sa, sb = slice(i0, i0 + tile), slice(j0, j0 + tile)
                    den = norm_a[sa, None] * norm_b[None, sb]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        x = gram_fold(At[:, sa], Bt[:, sb]) / den
                    cos = np.floor(x * 10000.0 + 0.5) / 10000.0
                    keep = (cos >= 0.4) & (den != 0)
                    if bi == bj:
                        keep &= ia[sa, None] < ib[None, sb]
                    r, c = np.nonzero(keep)
                    a, b = ia[sa][r], ib[sb][c]
                    out_a.append(np.minimum(a, b))
                    out_b.append(np.maximum(a, b))
                    out_c.append(cos[r, c])

        def cat(xs, t):
            return np.concatenate(xs).astype(t) if xs else np.empty(0, t)

        return pa.table(
            {
                "vec_a": cat(out_a, np.int64),
                "vec_b": cat(out_b, np.int64),
                "cosine": cat(out_c, np.float64),
            }
        )

    return kernel


def _neardup_block_pairs(vecs: DataFrame, nb: int | None = None) -> DataFrame:
    """Exact all-pairs cosine ≥ 0.4 over ``vecs`` (vec_id, d, nrm) as a
    block-pair kernel. vec_id hashes into ``nb`` blocks; each row is
    replicated to the nb block pairs (min(b, k), max(b, k)) that contain
    its block, so every unordered vector pair meets in exactly one group,
    and `_cosine_block_pair_kernel` scores each group in numpy. Only
    vectors cross the Arrow boundary (nb copies of N rows), never pairs.
    Rows with a null vec_id or a null norm (null vector, null element) are
    dropped first, as the JVM join's inferred not-null filters drop them.
    Hash partitioning can put two block pairs in one task (at nb = 2, two
    of the three); a collision-free partition key measured no faster at
    sf0.01 or sf0.1 on 4 cores, so the plain repartition stays."""
    nb = nb or _neardup_blocks(vecs.sparkSession)
    blk = F.pmod(F.hash("vec_id"), F.lit(nb))
    k = F.explode(F.sequence(F.lit(0), F.lit(nb - 1)))
    rows = (
        vecs.filter(F.col("vec_id").isNotNull() & F.col("nrm").isNotNull())
        .select("vec_id", "d", "nrm", blk.alias("blk"))
        .select("*", k.alias("k"))
        .select(
            "vec_id",
            "d",
            "nrm",
            "blk",
            F.least("blk", "k").alias("bi"),
            F.greatest("blk", "k").alias("bj"),
        )
    )
    return (
        rows.repartition(nb * (nb + 1) // 2, "bi", "bj")
        .groupBy("bi", "bj")
        .applyInArrow(
            _cosine_block_pair_kernel(ansi=_ansi(vecs.sparkSession)),
            "vec_a long, vec_b long, cosine double",
        )
    )


@query(
    "neardup_cosine_pairs",
    oracle=_ORACLE_VECTORS
    + """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           floor((list_sum(list_transform(generate_series(1, len(a.d)),
                                         i -> a.d[i] * b.d[i])) / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE floor((list_sum(list_transform(generate_series(1, len(a.d)),
                                        i -> a.d[i] * b.d[i])) / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 >= 0.4
    """,
    tags=("similarity", "dedup"),
)
def neardup_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, threshold 0.4): the
    ground-truth tier of the dedup contract, scored by the block-pair
    kernel `_neardup_block_pairs`.

    Deliberately all-pairs. Exact metric-space pruning (ClusterJoin) cannot
    help at this threshold: cos ≥ 0.4 is an L2 radius of about 1.095 on
    the unit sphere while random 64-d vectors sit about √2 apart, so every
    cell's replication bound covers every cell. The levers left are verify
    throughput and parallelism: numpy folds replace the per-pair JVM
    expression, and nb·(nb+1)/2 groups replace the one-task broadcast
    nested-loop join.

    Bit-identical to the JVM formulation rnd(_dot(a, b) / (a.nrm·b.nrm), 4)
    by construction. The norms are still the JVM `_norm` column. The dot
    is the same left-to-right fold (0.0 + a0·b0) + a1·b1 + … for width 64
    and for the HOF fallback of any other equal width, in binary64 with
    no fused multiply-add (the JVM has none; numpy ufuncs apply none). The
    division, ·10000, +0.5, floor and /10000 are separate correctly
    rounded IEEE operations on both sides (Spark's floor goes through a
    long, which is exact below 2⁵³). Edge rows follow the JVM plan, pinned
    against it in tests/test_dedup_similarity.py: null vector, null
    element or mismatched widths give no pair; a null vec_id never pairs;
    a zero-norm vector raises DIVIDE_BY_ZERO under ANSI and pairs with
    nothing with ANSI off."""
    return _neardup_block_pairs(_vectors(spark, sf_dir))


# Deterministic random hyperplanes (seed fixed; regenerated identically on
# every call — never shipped through a closure at scale, just 6×64 literals).
# 6 planes → 64 buckets; the probe set below (own bucket + 6 one-bit flips
# + 4 multi-bit low-margin combos, deduped) scans ~11/64 of the corpus —
# the bucket-count / probe-count pair is the recall-vs-cost dial.
_N_PLANES = 6
_DIM = 64


def _hyperplanes() -> list[list[float]]:
    rng = np.random.default_rng(42)
    return rng.standard_normal((_N_PLANES, _DIM)).round(6).tolist()


# Margin-guided multi-probe: flip subsets of the P lowest-|margin| planes.
_PROBE_PLANES = 3  # 2^3 = 8 probe buckets per query


@query("ann_lsh_topk", tags=("similarity", "ann", "lsh"))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors via random-hyperplane (sign) LSH with
    MARGIN-GUIDED multi-probe: bucket = 6 sign bits of plane dot products;
    each query probes its own bucket, every 1-bit flip (isolated wrong
    bits), AND the 2-/3-bit sign-flip combinations of its 3 lowest-|margin|
    planes (the planes its vector sits closest to — where multi-bit errors
    concentrate): ~11 distinct probes of 64 buckets. The margin-guided
    combos are what lift recall over blind flips at a similar scan
    fraction.

    Linear-shuffle ANN: at 100 TB the bucket join replaces the O(|Q|·N)
    scan — each query touches ~(probes/2^planes) of the corpus; margins are
    computed only for the (tiny, broadcast) query side. No SQL oracle
    (DuckDB's accumulation order is unspecified); tests measure recall
    vs knn_bruteforce, a PARTIAL DuckDB oracle pins every returned
    pair's exact cosine and the rank law
    (tests/test_dedup_similarity.py::test_ann_topk_returned_cosines_match_duckdb_exact_scores),
    and since round 15 a pure-python ordered-fold reference re-derives
    the ENTIRE result — buckets, margin-guided probes, cosines, ranks —
    token-for-token (test_ann_lsh_topk_partial_oracle_pure_python)."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    planes = _hyperplanes()
    bucket = None
    margin_cols = []
    for p_idx, plane in enumerate(planes):
        m = _dot_lit("d", plane)
        margin_cols.append(m)
        bit = (m > 0).cast("long") * F.lit(2**p_idx)
        bucket = bit if bucket is None else bucket + bit
    bucketed = vecs.withColumn("bucket", bucket)

    # Plane indices ordered by |margin| ascending — only evaluated on the
    # filtered query rows (margins, like qd, never materialize corpus-side).
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(m).alias("a"), F.lit(i).alias("i"))
                for i, m in enumerate(margin_cols)
            ]
        )
    )
    qbase = bucketed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("d").alias("qd"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
        ranked.alias("ranked"),
    )
    # shiftleft() needs a literal bit count; pow(2, i) is exact for i <= 5.
    low_masks = [
        F.pow(F.lit(2.0), F.element_at(F.col("ranked"), k + 1)["i"]).cast("long")
        for k in range(_PROBE_PLANES)
    ]
    # Probe set = own bucket + every 1-bit flip (cheap, covers isolated
    # wrong bits) + 2-/3-bit flip combos restricted to the lowest-margin
    # planes (where multi-bit errors concentrate). ~12/64 of the corpus.
    probe_cols = [F.col("qbucket")] + [
        F.col("qbucket").bitwiseXOR(F.lit(2**i)) for i in range(_N_PLANES)
    ]
    for s in range(2**_PROBE_PLANES):
        if bin(s).count("1") < 2:
            continue
        p = F.col("qbucket")
        for k in range(_PROBE_PLANES):
            if s >> k & 1:
                p = p.bitwiseXOR(low_masks[k])
        probe_cols.append(p)
    q = qbase.select(
        "query_id",
        "qd",
        "qnrm",
        F.explode(F.array_distinct(F.array(*probe_cols))).alias("probe"),
    )
    cosine = rnd(
        _dot("qd", "d") / (F.col("qnrm") * F.col("nrm")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        bucketed.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("probe"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


# IVF coarse quantizer: cells and probes are the recall/cost dial (like
# _N_PLANES/_PROBE_PLANES for the hyperplane variant).
_IVF_CELLS = 16
_IVF_PROBES = 3
_IVF_SAMPLE = 4096  # quantizer-fit sample size (driver-side)
_IVF_ITERS = 5


def _sample_matrix(df: DataFrame, col: str) -> np.ndarray:
    """The deterministic quantizer-fit sample (lowest vec_ids, bounded at
    _IVF_SAMPLE rows) as a float64 matrix. Fetched via ``toPandas`` so the
    transfer rides Arrow (enabled in session._RUNTIME_CONF) instead of
    pickled Row objects — measured 0.33 s cold / 0.15 s warm vs 0.96/0.19 s
    for ``collect`` at sf0.1 (guide §6 "Arrow for driver transfers");
    doubles cross Arrow bit-exactly, and the kernel tests re-pin the fits.
    Falls back transparently (same values) when Arrow is unavailable."""
    pdf = df.orderBy("vec_id").limit(_IVF_SAMPLE).select(col).toPandas()
    if len(pdf) == 0:
        return np.empty((0, 0))
    return np.array(pdf[col].tolist())


def _kmeanspp_seeds(X: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """Seeded k-means++ D²-sampling seeds, shared by the IVF/PQ/OPQ fits.

    The min-squared-distance vector is maintained incrementally
    (``np.minimum`` against the newest centroid only) rather than
    recomputed against the whole centroid list per draw — O(n·k·d) vs
    O(n·k²·d). Bit-identical to the recompute formulation: each centroid's
    distance row is the identical contiguous per-row numpy reduction
    (same elementwise subtract/square, same innermost-axis pairwise sum),
    and a running minimum equals min-over-all exactly, so ``p`` and hence
    the rng draw sequence never change (tests/test_r16_kernels.py pins
    both forms; the pure-python partial oracles in
    test_dedup_similarity.py independently re-derive the resulting
    centroids from raw parquet)."""
    C = [X[rng.integers(len(X))]]
    d2 = ((X - C[0]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        p = d2 / d2.sum() if d2.sum() > 0 else None
        C.append(X[rng.choice(len(X), p=p)])
        d2 = np.minimum(d2, ((X - C[-1]) ** 2).sum(axis=1))
    return np.array(C)


def _fit_centroids_sample(vecs: DataFrame) -> np.ndarray:
    """Seeded Lloyd k-means on a DETERMINISTIC sample (lowest vec_ids):
    returns (cells × dim) centroids. Empty cells keep their previous
    centroid, so the result is stable for any sample."""
    X = _sample_matrix(vecs, "d")
    if X.size == 0:
        # Fail with the real cause — rng.integers(0) below would raise an
        # inscrutable "low >= high" from inside the seeding math.
        raise ValueError(
            "cannot fit IVF centroids: the embeddings input is empty"
        )
    rng = np.random.default_rng(7)
    # k-means++ seeding (seeded → deterministic): spread initial centroids
    # by D² sampling — materially better cells than uniform picks at these
    # few Lloyd iterations. Round 16: the min-distance vector is maintained
    # INCREMENTALLY (np.minimum against the newest centroid only) instead
    # of recomputed against every centroid per draw — O(n·k·d) instead of
    # O(n·k²·d), measured 38 → 5 ms at the 2000×64 fixture shape.
    # Bit-identical: each per-centroid distance row is the same contiguous
    # 64-double numpy reduction either way, and min-of-mins == running
    # minimum exactly (pinned vs the recompute loop in
    # tests/test_r16_kernels.py, and independently by the pure-python
    # partial oracles that re-derive the centroids from raw parquet).
    k = min(_IVF_CELLS, len(X))
    C = _kmeanspp_seeds(X, k, rng)
    for _ in range(_IVF_ITERS):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(len(C)):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(axis=0)
    return C


def _fit_centroids_distributed(vecs: DataFrame) -> np.ndarray:
    """Distributed Lloyd fit of the IVF coarse quantizer: seeds = the
    _IVF_CELLS lowest vec_ids, then _IVF_ITERS assign/re-mean rounds.
    Each round is ONE Spark job: nearest-centroid assignment via the
    Arrow kernel (the same _cells_topk_udf the downstream corpus
    assignment uses — bit-identical to the _cell_dists argmin), then a single
    groupBy(cid) with one DECIMAL(28,9) column-sum per dimension plus a
    count — no row inflation, and the per-dimension sums combine map-side
    (partial HashAggregate) before the k-row shuffle. The ≤ k×(dim+1)
    stats rows are collected and the means are computed on the driver,
    snapped to the 1e-9 grid (floor(sum/n·1e9 + 0.5)/1e9 on float64 —
    bit-identical to the double arithmetic Spark would do), so the fit is
    deterministic under any partitioning.

    Materializing the k×dim matrix between iterations (k·dim = 1,024
    doubles — bounded whatever the corpus size) keeps every iteration's
    plan constant-size; the earlier join-chained variant doubled the
    unmaterialized centroid plan per iteration (~2^iters subtree copies
    analyzed at the final collect) and posexploded every vector into dim
    rows per re-mean (a 64× shuffle-volume tax, now gone).

    The alternative to _fit_centroids_sample when the corpus's tail
    matters to cell quality: every row votes in every re-mean instead of
    only the 4,096-row sample — the same trade kmeans_embeddings makes
    (llm/kmeans.py).

    Seeding is ``orderBy(vec_id).limit(k)`` — the k lowest ids whatever
    their values — NOT ``filter(vec_id < k)``, which silently under-seeds
    on offset or sparse id spaces. A cell that attracts no points in a
    round keeps its previous centroid (matching _fit_centroids_sample),
    so C never shrinks below min(k, corpus rows)."""
    import math

    k = _IVF_CELLS
    g = 1_000_000_000
    pts = vecs.select(F.col("d").alias("x"), "vec_id").persist()
    # limit(k) collapses to a CollectLimit of k rows — no global sort; the
    # k seed vectors (cid = rank of vec_id) are bounded driver state.
    seed_rows = pts.orderBy("vec_id").limit(k).select("x").collect()
    C = np.array([r.x for r in seed_rows])
    dim = C.shape[1]
    for _ in range(_IVF_ITERS):
        stats = _lloyd_iteration_stats(pts, C).collect()
        newC = C.copy()  # empty cells keep their previous centroid
        for r in stats:
            newC[r.cid] = [
                math.floor(float(r[2 + i]) / r.n * g + 0.5) / g
                for i in range(dim)
            ]
        C = newC
    pts.unpersist()
    return C


def _lloyd_iteration_stats(pts: DataFrame, C: np.ndarray) -> DataFrame:
    """One Lloyd iteration's cluster statistics as a single-shuffle plan:
    nearest-centroid assignment via the Arrow kernel (_cells_topk_udf —
    bit-identical to the literal-centroid _cell_dists argmin), then a
    groupBy(cid) with a count and one DECIMAL(28,9) column-sum per
    dimension. Returns ≤ len(C) rows of (cid, n, s0..s{dim-1}) — bounded
    driver state whatever the corpus size. Kept separate from the fit loop
    so tests can assert the plan shape (no row-inflating Generate, no
    cartesian product, partial aggregation before the shuffle)."""
    dim = C.shape[1]
    return (
        pts.select(
            F.element_at(_cells_topk_udf(C, 1)("x"), 1).alias("cid"), "x"
        )
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at("x", i + 1).cast("decimal(28,9)")).alias(
                    f"s{i}"
                )
                for i in range(dim)
            ],
        )
    )


# Above this many corpus rows the 4,096-row sample stops being a trusted
# picture of the embedding distribution (≤ ~0.4% of a 1M corpus) and the
# quantizer fit switches to the distributed Lloyd loop, whose cost is
# amortized by the corpus scan it replaces misassignments on. Below it the
# driver-side numpy fit wins outright (milliseconds vs one job/iteration).
_IVF_DISTRIBUTED_MIN_ROWS = 1_000_000


@query("ann_ivf_topk", tags=("similarity", "ann", "ivf"))
def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, fit: str = "auto"
) -> DataFrame:
    """IVF (inverted-file) ANN: a seeded k-means coarse quantizer assigns
    every vector to one of 16 cells; each query probes its 3 nearest cells
    and ranks candidates by exact cosine.

    The second scale path next to sign-LSH (ann_lsh_topk): data-adaptive
    cells fit real embedding distributions far better than random
    hyperplanes. At 100 TB the quantizer is fit on a driver-side SAMPLE
    (centroids are tiny); assignment is one broadcast-join pass over the
    corpus, candidate search touches ~probes/cells of the data. No SQL
    oracle (k-means cells are engine-specific); tests measure recall vs
    knn_bruteforce, a partial DuckDB oracle pins every returned pair's
    exact cosine and the rank law, and since round 15 a pure-python
    reference re-derives the ENTIRE sample-fit result — centroids
    (seeded-numpy replication), assignment, probes, cosines, ranks —
    token-for-token (test_ann_ivf_topk_partial_oracle_pure_python).

    ``fit`` picks the quantizer fit: ``"sample"`` (driver-side numpy Lloyd
    on the deterministic 4,096-row sample), ``"distributed"`` (the fully
    distributed Lloyd loop — every row votes in the re-mean at one Spark
    job per iteration; same downstream plan), or ``"auto"`` (default:
    distributed above _IVF_DISTRIBUTED_MIN_ROWS corpus rows, sample below
    — both fits are held to the same recall floor in
    tests/test_dedup_similarity.py)."""
    vecs = _vectors(spark, sf_dir)
    if fit == "auto":
        # Row count from the parquet footers (round 17): _vectors is a
        # pure projection of the embeddings table, so its row count equals
        # the scan's — readable driver-side from file metadata with no
        # Spark job (~0.2 s saved per session; at 100 TB this is the
        # manifest/footer count a table format serves for free). Falls
        # back to a Spark count() if the path is not plain local parquet
        # (catalog.table_rows). The fixtures stay on the sample path, a
        # 100 TB corpus lands on the distributed fit. Wave 5 (r16): the
        # decision and the fit below are session-shared per sf_dir and
        # embeddings version (shared_value — the shingle-table pattern),
        # so the IVF family derives each once per input version instead
        # of once per invocation.
        fit = _shared_value(
            spark,
            lambda: (
                "distributed"
                if table_rows(spark, sf_dir, "embeddings")
                >= _IVF_DISTRIBUTED_MIN_ROWS
                else "sample"
            ),
            f"ivf_fit_kind:{sf_dir}",
            table_paths(sf_dir, "embeddings"),
        )
    if fit == "distributed":
        C = _shared_value(
            spark,
            lambda: _fit_centroids_distributed(vecs),
            f"ivf_fit_distributed:{sf_dir}",
            table_paths(sf_dir, "embeddings"),
        )
    else:
        C = _shared_value(
            spark,
            lambda: _fit_centroids_sample(vecs),
            f"ivf_fit_sample:{sf_dir}",
            table_paths(sf_dir, "embeddings"),
        )

    # Cell assignment rides the Arrow kernel (round 16, backlog item 1):
    # bit-identical argmin by (dist, cell) — see _cells_topk_udf — with
    # only the vector column crossing the Python boundary, instead of the
    # interpreted 16-fold _cell_dists bank per scan row.
    assigned = vecs.select(
        "vec_id", "d", "nrm",
        F.element_at(_cells_topk_udf(C, 1)("d"), 1).alias("cell"),
    )
    from pyspark.sql import Window

    # The query set never reads `cell`, so it comes straight from `vecs`:
    # the vec_id < 10 filter stays below the scan (pushed) instead of
    # sitting above the assignment kernel's ArrowEvalPython node.
    #
    # Probe-cell ranking reuses the SAME Arrow kernel as the corpus
    # assignment (round 17): the previous crossJoin(broadcast(centroids))
    # + interpreted zip_with l2 + row_number window spent 0.62-0.79 s of
    # pure plan machinery (broadcast-build job, two exchanges, window
    # sort) ranking 10 queries x 16 cells. _cells_topk_udf computes the
    # identical (dist, cell) ordering — the same left-to-right IEEE
    # squared-L2 accumulation, and sqrt is strictly monotone so ranking
    # by sqrt(dist) equals ranking by dist — verified exceptAll-equal
    # both directions at sf0.001/0.01/0.1 and pinned by the kernel's
    # standing equivalence tests.
    probes = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("d").alias("qd"),
        F.col("nrm").alias("qnrm"),
        F.explode(_cells_topk_udf(C, _IVF_PROBES)("d")).alias("pcell"),
    )

    cosine = rnd(_dot("qd", "d") / (F.col("qnrm") * F.col("nrm")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        assigned.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("pcell"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


# Product quantization: M subspaces × K centroids, fit driver-side on a
# deterministic sample (the codebook is M*K*sub_dim doubles — tiny at any
# corpus size). Codes are 4 bits/subspace → 8 ints per vector instead of
# 64 doubles: the memory-bound tier between IVF cell scans and brute force.
_PQ_M = 8  # subspaces (64 dims → 8 dims each)
_PQ_K = 16  # centroids per subspace
_PQ_CANDIDATES = 40  # ADC-ranked candidates that pay the exact re-rank
# (recall@3 vs brute force at sf0.01: 0.53 @ 20 cands, 0.70 @ 40, 0.83 @ 80
# — 40 matches the IVF tier's recall at a constant 40-row re-rank per query)


def _fit_pq_codebooks(unit: DataFrame) -> np.ndarray:
    """(M × K × sub_dim) codebooks: seeded Lloyd k-means per subspace over a
    deterministic sample of UNIT vectors (squared-L2 on unit vectors ranks
    identically to cosine: ||a-b||² = 2-2cos)."""
    X = _sample_matrix(unit, "u")
    sub = X.reshape(len(X), _PQ_M, -1)
    rng = np.random.default_rng(11)
    books = []
    for m in range(_PQ_M):
        Xm = sub[:, m, :]
        k = min(_PQ_K, len(Xm))
        # Incremental k-means++ seeding — bit-identical, see _kmeanspp_seeds.
        C = _kmeanspp_seeds(Xm, k, rng)
        for _ in range(_IVF_ITERS):
            d2 = ((Xm[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for j in range(len(C)):
                pts = Xm[a == j]
                if len(pts):
                    C[j] = pts.mean(axis=0)
        books.append(C)
    return np.array(books)


def _sub_dists(books: np.ndarray, col: str) -> Column:
    """Per subspace m, the array<struct<dist,code>> of squared L2 from
    subvector m of ``col`` to each centroid of subspace m (centroids in
    code order — the positional ADC lookup depends on it): one nested
    higher-order expression over a nested codebook literal, returning
    array (per m) of array<struct<dist,code>>.

    Same codegen lesson as dedup._signatures (llm/dedup.py): the unrolled
    form (M×K separate aggregates — and the round-16 attempt at M×K×sub_dim
    codegen'd term chains, reverted after ann_pq_topk regressed 4 s → 12 s
    at the sf0.01 gate) blows the whole-stage method past the JVM's 8 KB
    JIT limit and drops the stage to the bytecode interpreter; this single
    nested HOF expression compiles in milliseconds and computes the
    identical values. Round 16 keeps the HOF shape but builds it as ONE
    parsed SQL string: the nested 8×16×8 ``F.lit`` codebook literal alone
    cost ~1 s of py4j round-trips per plan construction."""
    m_count, k_count, sub_dim = (int(s) for s in books.shape)
    B = (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(_lit_d(x) for x in books[m][c]) + ")"
                for c in range(k_count)
            )
            + ")"
            for m in range(m_count)
        )
        + ")"
    )
    return F.expr(
        f"transform(sequence(0, {m_count - 1}), m -> "
        f"transform(element_at({B}, m + 1), (cb, c) -> "
        f"named_struct('dist', "
        f"aggregate(zip_with(slice({col}, m * {sub_dim} + 1, {sub_dim}), cb, "
        f"(x, cc) -> (x - cc) * (x - cc)), "
        f"CAST(0.0 AS DOUBLE), (s, x) -> s + x), "
        f"'code', c)))"
    )


@query("ann_pq_topk", tags=("similarity", "ann", "pq"))
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation and
    exact re-rank: every vector is encoded as 8 four-bit codes (its nearest
    centroid per 8-dim subspace — 97% smaller than the raw doubles, the
    memory-bound rung between IVF and brute force); each query precomputes
    an 8×16 distance table to all subspace centroids, approximate distance
    to a vector is the table-sum over its codes (pure JVM array arithmetic,
    no Python), the top-40 ADC candidates per query pay the exact cosine,
    and the top-3 are returned.

    At 100 TB the PQ code table is the only thing scanned per query —
    ~1/16th the bytes of the raw vectors — and the exact re-rank touches a
    constant _PQ_CANDIDATES=40 rows per query. Codebooks, like the IVF quantizer, are fit
    driver-side on a deterministic seeded sample. No SQL oracle
    (quantization is engine-specific); tests assert recall@3 vs
    knn_bruteforce, a partial DuckDB oracle pins every returned pair's
    exact re-ranked cosine (unit-vector dot, stated with the same
    per-element normalization order) and the rank law, and since round
    15 a pure-python reference re-derives the ENTIRE result — codebooks
    (seeded-numpy replication), codes, ADC table-sums, candidate and
    re-rank orders — token-for-token
    (test_ann_pq_topk_partial_oracle_pure_python)."""
    vecs = _vectors(spark, sf_dir)
    unit = vecs.select("vec_id", _unit().alias("u"))
    books = _shared_value(
        spark,
        lambda: _fit_pq_codebooks(unit),
        f"pq_codebooks:{sf_dir}",
        table_paths(sf_dir, "embeddings"),
    )
    return _pq_adc_topk(unit, books, slot=f"pq:{sf_dir}")


def _pq_adc_topk(unit: DataFrame, books: np.ndarray, slot: str = "pq") -> DataFrame:
    """Shared PQ machinery: encode `unit` (vec_id, u) against `books`,
    ADC-rank by table-sum, exact-re-rank the top-_PQ_CANDIDATES, return
    top-3 per query. Used by both the PQ and OPQ tiers (OPQ feeds a
    rotated `unit`; cosine re-rank is rotation-invariant so the returned
    cosines are the true ones either way).

    ``unit`` is persisted here: it is referenced three times (encode,
    query table, exact re-rank), and without materialization projection
    collapse inlines the normalize/rotate expression into every element
    of the nested codegen'd codes/dtab expressions — interpreted HOF
    evaluation has no common-subexpression elimination, so the norm
    aggregate re-evaluates per (subspace, centroid) element (measured
    ~25 s at sf0.01 vs ~0.3 s materialized). At scale this is the same
    working-set persist the dedup tier applies to its shingle tables."""
    from pyspark.sql import Window

    unit = _tracked_persist(unit, f"pq_unit:{slot}")
    # Corpus-side encoding rides the Arrow kernel (round 16, backlog
    # item 1): bit-identical per-subspace argmin — see _pq_codes_udf. The
    # _sub_dists expression stays for the 10-row query distance table
    # below, where plan cost, not per-row throughput, is what matters.
    encoded = unit.select(
        "vec_id", _pq_codes_udf(books)("u").alias("codes")
    )
    # Query side: distance TABLE per subspace — dist to every centroid IN
    # CODE ORDER (_sub_dists emits centroids in code order; no sorting,
    # which would break the positional lookup below).
    q = unit.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("u").alias("qu"),
        F.transform(
            _sub_dists(books, "u"),
            lambda per_m: F.transform(per_m, lambda s: s["dist"]),
        ).alias("dtab"),
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("dtab"),
            lambda c, tab: F.element_at(tab, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    wq = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    candidates = (
        encoded.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", "qu", adc.alias("adc_dist"))
        .withColumn("cr", F.row_number().over(wq))
        .filter(F.col("cr") <= _PQ_CANDIDATES)
        .select("query_id", "vec_id", "qu")
    )
    # Exact re-rank of the candidate set only.
    uu = unit.select(F.col("vec_id").alias("nv"), F.col("u").alias("nu"))
    cosine = rnd(_dot("qu", "nu"), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        candidates.join(uu, candidates.vec_id == uu.nv)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


_OPQ_ITERS = 8


def _fit_opq(unit: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Learn an orthonormal rotation R + PQ codebooks minimizing
    quantization error (OPQ, non-parametric alternation — Ge et al.,
    "Optimized Product Quantization", CVPR 2013): alternately fit PQ in
    the rotated space and solve the orthogonal Procrustes problem
    R = UVᵀ from svd(Xᵀ·reconstruction). Driver-side on the same seeded
    sample as the other quantizers — the model is a 64×64 rotation plus
    8×16×8 codebooks, a few KB broadcast in closures."""
    X = _sample_matrix(unit, "u")
    d = X.shape[1]
    R = np.eye(d)
    rng = np.random.default_rng(23)
    books = None
    for _ in range(_OPQ_ITERS):
        Xr = X @ R
        # fit codebooks in rotated space (same seeded Lloyd as PQ, but on
        # Xr, so reuse the math inline rather than collecting via Spark)
        sub = Xr.reshape(len(Xr), _PQ_M, -1)
        books = []
        for m in range(_PQ_M):
            Xm = sub[:, m, :]
            k = min(_PQ_K, len(Xm))
            # Incremental k-means++ seeding — bit-identical, see
            # _kmeanspp_seeds.
            C = _kmeanspp_seeds(Xm, k, rng)
            for _ in range(_IVF_ITERS):
                d2 = ((Xm[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)
                for j in range(len(C)):
                    pts = Xm[a == j]
                    if len(pts):
                        C[j] = pts.mean(axis=0)
            books.append(C)
        books = np.array(books)
        # reconstruction of Xr from its codes
        Y = np.empty_like(Xr)
        sub_dim = d // _PQ_M
        for m in range(_PQ_M):
            Xm = Xr[:, m * sub_dim : (m + 1) * sub_dim]
            d2 = ((Xm[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            Y[:, m * sub_dim : (m + 1) * sub_dim] = books[m][d2.argmin(axis=1)]
        # orthogonal Procrustes: min_R ||X R - Y||_F
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = U @ Vt
    return R, books


@query("ann_opq_topk", tags=("similarity", "ann", "opq"))
def ann_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimized product quantization: identical scan/ADC/re-rank shape to
    `ann_pq_topk`, but vectors are first rotated by a learned orthonormal
    R that redistributes variance evenly across the 8 subspaces, cutting
    quantization error where raw dimensions are correlated (on isotropic
    data it degenerates gracefully to ≈PQ). The rotation is one
    Arrow-batched numpy matmul per partition (a UDF is honest here: a
    64×64 matrix-vector product per row would be a 4096-term codegen
    expression); rotation preserves inner products, so the exact cosine
    re-rank is unchanged and recall is compared against the same
    knn_bruteforce ground truth in tests. NOT graduable to the PQ
    tier's full pure-python re-derivation: the rotation runs engine-side
    as a BATCHED numpy matmul whose BLAS blocking depends on the Arrow
    batch shape, so a reference matmul of a different shape is not
    guaranteed bit-identical — the recall floor, orthonormal-R invariant
    and exact re-rank equality tests pin it instead."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    vecs = _vectors(spark, sf_dir)
    unit = vecs.select("vec_id", _unit().alias("u"))
    R, books = _shared_value(
        spark,
        lambda: _fit_opq(unit),
        f"opq_fit:{sf_dir}",
        table_paths(sf_dir, "embeddings"),
    )

    @pandas_udf(ArrayType(DoubleType()))
    def _rotate(u: pd.Series) -> pd.Series:
        M = np.array(u.tolist())
        return pd.Series(list(M @ R))

    rotated = unit.select("vec_id", _rotate(F.col("u")).alias("u"))
    return _pq_adc_topk(rotated, books, slot=f"opq:{sf_dir}")


def _cell_dists(C: np.ndarray, col: str) -> Column:
    """array<struct<dist,cell>> of squared L2 distance to each centroid.

    Built as ONE parsed SQL expression (round 16) with the k×dim centroid
    matrix inlined as double literals: the Column-by-Column form cost
    ~0.9 s of py4j round-trips PER PLAN CONSTRUCTION for the 16×64
    ``F.lit``/struct calls (measured as plan-build time, the build layer
    ``perfbench/run.py --trace 1`` reports); this text
    parses in one round-trip and analyzes to the identical expression
    tree, so execution is bit-for-bit unchanged.

    The arithmetic deliberately STAYS a zip_with/aggregate fold (HOF,
    interpreted). The round-16 attempt to unroll it into a 16×129-term
    codegen chain was REVERTED after measurement: inside a whole-stage
    method (where Spark cannot split expression code into sub-methods)
    the generated method blows past the JVM's 8 KB JIT limit
    (-XX:-DontCompileHugeMethods default), the stage drops to the
    BYTECODE interpreter, and ann_ivf_topk regressed 3 s → 21 s at sf0.1
    — the same wide-codegen pathology `_signatures`' docstring records
    for the n-aliased minhash bank. 16 compact fallback-evaluated folds
    per row are ~0.5 s per corpus pass at sf0.1 and scan-linear at
    scale."""
    structs = []
    for j in range(len(C)):
        lits = ", ".join(_lit_d(x) for x in C[j])
        dist = (
            f"aggregate(zip_with({col}, array({lits}), "
            f"(x, c) -> (x - c) * (x - c)), "
            f"CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
        )
        structs.append(f"named_struct('dist', {dist}, 'cell', {j})")
    return F.expr("array(" + ", ".join(structs) + ")")


def _cells_topk_udf(C: np.ndarray, n: int):
    """Arrow-batched kernel for the corpus-side IVF cell assignment: the
    ``n`` nearest cells of each vector by (dist, cell) — exactly
    ``transform(slice(array_sort(_cell_dists(C, col)), 1, n), s -> s.cell)``
    (and, at n=1, exactly ``array_min(_cell_dists(C, col)).cell``), returned
    as array<int>.

    Round 16, backlog item 1: `_cell_dists` is a 16-centroid bank of
    interpreted zip_with/aggregate folds (~125 µs/row at sf0.1 — the HOF
    evaluator never whole-stage-codegens), and the round-16 attempt to
    unroll it JVM-side blew the 8 KB JIT method limit and dropped the whole
    stage to the bytecode interpreter (see `_cell_dists`). This kernel is
    the guide-§4.2 answer instead: only the vector column crosses to the
    Python worker (Arrow batches), and the per-(row, centroid) distance is
    computed as a per-dimension accumulation loop over numpy row vectors —

        acc = 0.0;  for i in 0..dim-1:  acc = acc + (x[i] - c[i])²

    — the IDENTICAL sequence of IEEE-754 binary64 operations as the HOF
    fold ``aggregate(zip_with(x, c, (x,c) -> (x-c)*(x-c)), 0.0D, +)``, so
    every distance is bit-identical by construction, not by measurement
    (numpy elementwise float64 ops are the same round-to-nearest doubles
    the JVM computes; pinned both ways in tests/test_r16_kernels.py and
    end-to-end by the pure-python partial oracles, whose reference fold is
    this same loop). Cell selection is a STABLE argsort on the distance
    row — (dist asc, cell asc), the exact (dist, cell) struct order of
    array_sort/array_min, NaN ordered last on both sides.

    Rows the expression form would null out (null array, any null/NaN
    element, length ≠ dim) get every per-cell dist nulled AT ONCE there
    (the zip_with pad / null term poisons all 16 folds identically), so
    array_min/array_sort fall through to the cell tiebreak and yield cells
    [0, 1, …] — replicated here as the fallback row path and pinned on
    degenerate corpora in tests/test_r16_kernels.py.

    Scale: replaces a 16×192-interpreted-ops-per-row corpus pass with one
    Arrow crossing of (vector in, n ints out) and ~k·dim vectorized batch
    ops — scan-linear with a numpy constant instead of an interpreted one.
    Plan cost: the 16×64 centroid literal bank disappears from the plan
    (the kernel closes over the numpy matrix), cutting plan parse/analyze
    time for every consumer."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    Cm = np.ascontiguousarray(np.asarray(C, dtype=np.float64))
    k, dim = Cm.shape
    n_out = min(n, k)
    fallback = np.arange(n_out, dtype=np.int32)

    @pandas_udf(ArrayType(IntegerType()))
    def _cells(col: pd.Series) -> pd.Series:
        vals = col.values
        m = len(vals)
        rows = np.empty((m, dim), dtype=np.float64)
        clean = np.zeros(m, dtype=bool)
        for r in range(m):
            v = vals[r]
            if v is None or len(v) != dim:
                continue
            try:
                rows[r] = np.asarray(v, dtype=np.float64)
            except (TypeError, ValueError):
                continue  # non-numeric / None elements → expression nulls
            clean[r] = True
        # Null elements arrive as NaN from Arrow; the expression form nulls
        # every cell dist for such rows (same fallback), so NaN rows join
        # the unclean set. NaN-free rows take the vectorized path.
        idx = np.flatnonzero(clean)
        if len(idx):
            nanfree = ~np.isnan(rows[idx]).any(axis=1)
            idx = idx[nanfree]
        out = [fallback] * m
        if len(idx):
            X = rows[idx]
            D = np.empty((len(idx), k), dtype=np.float64)
            for j in range(k):
                acc = np.zeros(len(idx), dtype=np.float64)
                for i in range(dim):
                    t = X[:, i] - Cm[j, i]
                    acc = acc + t * t
                D[:, j] = acc
            order = np.argsort(D, axis=1, kind="stable")[:, :n_out]
            order = np.ascontiguousarray(order, dtype=np.int32)
            for pos, r in enumerate(idx):
                out[r] = order[pos]
        return pd.Series(out)

    return _cells


def _pq_codes_udf(books: np.ndarray):
    """Arrow-batched kernel for the corpus-side PQ encoding: per subspace
    m, the nearest codebook centroid by (dist, code) — exactly
    ``transform(_sub_dists(books, col), per_m -> array_min(per_m).code)``,
    returned as array<int> of M codes.

    Same construction (and the same bit-identity argument) as
    `_cells_topk_udf`: per-(row, m, code) distances are per-dimension
    accumulation loops in the HOF fold's exact IEEE order over the 8-dim
    subvector, code selection is the first entry of a stable argsort
    (dist asc, code asc — array_min's struct order). Degenerate rows
    follow the expression semantics PER SUBSPACE: `_sub_dists` slices the
    input per m and zip_with pads a short slice with nulls, so a row of
    length L nulls out every code with m·sub_dim + sub_dim > L (→ code 0
    via the cell tiebreak) while lower subspaces still encode — replicated
    here row-by-row and pinned on degenerate corpora in
    tests/test_r16_kernels.py. A row longer than M·sub_dim encodes its
    first M·sub_dim dims on both sides (slice reads only those)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    B = np.ascontiguousarray(np.asarray(books, dtype=np.float64))
    m_count, k_count, sub_dim = B.shape
    total = m_count * sub_dim

    def _row_codes(v) -> np.ndarray:
        """Expression-faithful per-row path for rows that are not a clean
        NaN-free ``total``-length vector (rare: fixture tests only)."""
        codes = np.zeros(m_count, dtype=np.int32)
        if v is None:
            return codes
        try:
            arr = [None if x is None else float(x) for x in v]
        except (TypeError, ValueError):
            return codes
        for mi in range(m_count):
            sub = arr[mi * sub_dim : (mi + 1) * sub_dim]
            if len(sub) < sub_dim or any(
                x is None or x != x for x in sub
            ):
                continue  # null-padded / null / NaN terms → all dists
                # null/NaN → array_min tie falls to code 0
            best = None
            for c in range(k_count):
                acc = 0.0
                for i in range(sub_dim):
                    t = sub[i] - B[mi, c, i]
                    acc = acc + t * t
                if best is None or acc < best[0]:
                    best = (acc, c)
            codes[mi] = best[1]
        return codes

    @pandas_udf(ArrayType(IntegerType()))
    def _codes(col: pd.Series) -> pd.Series:
        vals = col.values
        m = len(vals)
        rows = np.empty((m, total), dtype=np.float64)
        clean = np.zeros(m, dtype=bool)
        for r in range(m):
            v = vals[r]
            if v is None or len(v) != total:
                continue
            try:
                rows[r] = np.asarray(v, dtype=np.float64)
            except (TypeError, ValueError):
                continue
            clean[r] = True
        idx = np.flatnonzero(clean)
        if len(idx):
            nanfree = ~np.isnan(rows[idx]).any(axis=1)
            idx = idx[nanfree]
        out: list = [None] * m
        if len(idx):
            X = rows[idx]
            codes = np.empty((len(idx), m_count), dtype=np.int32)
            for mi in range(m_count):
                D = np.empty((len(idx), k_count), dtype=np.float64)
                for c in range(k_count):
                    acc = np.zeros(len(idx), dtype=np.float64)
                    for i in range(sub_dim):
                        t = X[:, mi * sub_dim + i] - B[mi, c, i]
                        acc = acc + t * t
                    D[:, c] = acc
                codes[:, mi] = np.argsort(D, axis=1, kind="stable")[:, 0]
            for pos, r in enumerate(idx):
                out[r] = codes[pos]
        for r in range(m):
            if out[r] is None:
                out[r] = _row_codes(vals[r])
        return pd.Series(out)

    return _codes


SEMANTIC_TAU = 0.4  # same contract as the cosine near-dup tier
_SEM_ASSIGN = 3  # cells per vector: the recall dial of the candidate step


@query("semantic_dedup_clusters", tags=("similarity", "dedup", "clusters", "ivf"))
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup over embeddings: cluster-then-verify, then connected
    components — the keep-list operator for meaning-level duplicates, one
    step past pairwise cosine.

    Plan: unit vectors → seeded-IVF multi-assignment to the 3 nearest
    cells (one broadcast pass; 3 cells instead of neardup_cosine_ivf's 2
    buys candidate recall for the transitive-closure use where a missed
    edge can split a component) → same-cell ID-only candidate pairs →
    exact cosine ≥ 0.4 verify → min-label connected components. Every
    shuffle is linear in N; only within-cell pairs pay the 64-d cosine.

    No SQL oracle BY CONSTRUCTION: at τ=0.4 (≈66°) in 64 dimensions no
    deterministic blocking scheme beats all-pairs (curse of
    dimensionality), so candidate recall is approximate — a DuckDB oracle
    stating the exact fixpoint would disagree whenever a borderline edge
    is missed. The driver applies its rows-only check (one row per
    vector, stable); tests assert edge precision 1.0, component
    consistency, recall floor vs the exact pair tier, and determinism;
    since round 15 a pure-python reference additionally re-derives the
    ENTIRE (vec_id, cluster) labeling the engine computes —
    unit-vector fit, 3-cell assignment, verify, min-label CC —
    token-for-token
    (test_semantic_dedup_clusters_partial_oracle_pure_python)."""
    vecs = _vectors(spark, sf_dir)
    unit = vecs.select("vec_id", _unit().alias("u"))
    C = _shared_value(
        spark,
        lambda: _fit_centroids_sample(
            unit.select("vec_id", F.col("u").alias("d"))
        ),
        f"ivf_fit_unit_sample:{sf_dir}",
        table_paths(sf_dir, "embeddings"),
    )
    # 3-nearest-cell assignment rides the Arrow kernel (round 16, backlog
    # item 1): bit-identical (dist, cell) order — see _cells_topk_udf.
    # Persisted as the tier's candidate index, one store entry per
    # embeddings version: the bucket self-join reads this twice, and
    # without the barrier projection collapse re-inlines the normalize +
    # 16-centroid distance expressions into both sides. ID + cell ONLY —
    # the exact verify re-joins the unit vectors fresh, so caching the
    # 64-double payload here would inflate the working set ~65× for
    # nothing.
    assigned = _shared_persist(
        spark,
        lambda: unit.select(
            "vec_id",
            F.explode(_cells_topk_udf(C, _SEM_ASSIGN)("u")).alias("cell"),
        ),
        f"semantic_assigned:{sf_dir}",
        table_paths(sf_dir, "embeddings"),
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    ua = unit.select(F.col("vec_id").alias("vec_a"), F.col("u").alias("ua"))
    ub = unit.select(F.col("vec_id").alias("vec_b"), F.col("u").alias("ub"))
    pairs = (
        candidates.join(ua, "vec_a")
        .join(ub, "vec_b")
        # Threshold the ROUNDED cosine like every other tier of this
        # contract (neardup_cosine_pairs / _ivf round at 1e-4 before the
        # >= 0.4 test) so boundary pairs never diverge between tiers.
        .filter(rnd(_dot("ua", "ub"), 4) >= SEMANTIC_TAU)
        .select("vec_a", "vec_b")
    )
    edges = pairs.selectExpr("vec_a AS src", "vec_b AS dst").unionByName(
        pairs.selectExpr("vec_b AS src", "vec_a AS dst")
    )
    from .dedup import min_label_components

    labels = min_label_components(
        vecs.select(F.col("vec_id").alias("node_id")), edges
    )
    return labels.select(F.col("node_id").alias("vec_id"), "cluster")


def _cell_pairs(vecs: DataFrame, assigned: DataFrame) -> DataFrame:
    """Exact cosine ≥ 0.4 of the vector pairs of ``vecs`` (vec_id, d, nrm)
    that share a cell of ``assigned`` (vec_id, cell), as (vec_a < vec_b,
    cosine): each cell is one diagonal block of
    `_cosine_block_pair_kernel`, and a pair sharing several cells is
    returned once. Null vec_ids fall out of the equi-join, and null-norm
    rows (null vector or element) are dropped first, as the JVM verify's
    null cosine never passed its threshold."""
    rows = assigned.join(vecs.filter(F.col("nrm").isNotNull()), "vec_id")
    return (
        rows.select("vec_id", "d", "nrm", F.col("cell").alias("blk"))
        .groupBy("blk")
        .applyInArrow(
            _cosine_block_pair_kernel(
                self_pairs=False, ansi=_ansi(vecs.sparkSession)
            ),
            "vec_a long, vec_b long, cosine double",
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )


@query("neardup_cosine_ivf", tags=("similarity", "dedup", "ivf"))
def neardup_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs AT SCALE: every vector is assigned to
    its 2 nearest IVF cells (multi-assignment catches boundary pairs), each
    cell is a diagonal block of the block-pair cosine kernel, and only
    same-cell pairs pay the exact cosine verify (threshold 0.4 — same
    contract as the exact neardup_cosine_pairs, which is this query's
    ground truth in tests).

    This replaces the O(N²) all-pairs scan with shuffles linear in N plus
    within-cell quadratics — the same candidates/verify shape as
    minhash_lsh_pairs, with k-means cells instead of hash bands. The
    cells/assignments dials trade recall vs candidate volume.

    Verify (`_cell_pairs`): the cell assignments and the vectors, both
    store entries, join on vec_id; one group per cell goes through
    `_cosine_block_pair_kernel`, and the small scored output is deduped
    on (vec_a, vec_b), so a pair sharing both cells is returned once.
    Each vector crosses the Arrow boundary once per assigned cell, never
    as a pair. Bit-identical to the JVM formulation it replaced (an ID
    self-join on cell, then rnd(_dot / (na·nb), 4)); edge rows are
    pinned against it in tests/test_dedup_similarity.py: a null vec_id,
    null vector or null element never pairs, mismatched widths never
    pair, and a zero-norm vector never pairs; under ANSI it raises
    DIVIDE_BY_ZERO when it shares a cell with another vector of its
    width. Since round 15 a
    pure-python reference re-derives the ENTIRE pair set + cosines
    token-for-token (test_neardup_cosine_ivf_partial_oracle_pure_python)."""
    vecs = _vectors(spark, sf_dir)
    # Wave 5: identical fit to ann_ivf_topk's sample path — session-shared
    # under the same slot (shared_value, the shingle-table pattern).
    C = _shared_value(
        spark,
        lambda: _fit_centroids_sample(vecs),
        f"ivf_fit_sample:{sf_dir}",
        table_paths(sf_dir, "embeddings"),
    )
    # 2-nearest-cell assignment rides the Arrow kernel (round 16, backlog
    # item 1): bit-identical (dist, cell) order — see _cells_topk_udf.
    # Persisted as the candidate index, one store entry per embeddings
    # version, so a warm call reuses it instead of re-running the Arrow
    # kernel. ID + cell ONLY: the verify joins the cached vectors back, so
    # caching d/nrm here would store a second copy of every vector per
    # assigned cell.
    assigned = _shared_persist(
        spark,
        lambda: vecs.select(
            "vec_id",
            F.explode(_cells_topk_udf(C, 2)("d")).alias("cell"),
        ),
        f"neardup_ivf_assigned:{sf_dir}",
        table_paths(sf_dir, "embeddings"),
    )
    return _cell_pairs(vecs, assigned)


@query(
    "label_centroid_cohesion",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS d FROM embeddings
    ), x AS (
      SELECT vec_id, label,
             unnest(generate_series(1, len(d))) AS i,
             unnest(d) AS v
      FROM e
    ), c AS (
      SELECT label, i, AVG(v) AS cv FROM x GROUP BY label, i
    ), c2 AS (
      SELECT label, SUM(cv * cv) AS nc2 FROM c GROUP BY label
    ), s AS (
      SELECT x.vec_id, x.label,
             SUM(x.v * c.cv) AS dot, SUM(x.v * x.v) AS nv2
      FROM x JOIN c USING (label, i) GROUP BY x.vec_id, x.label
    ), cos AS (
      SELECT s.label, s.dot / (sqrt(s.nv2) * sqrt(c2.nc2)) AS cs
      FROM s JOIN c2 USING (label)
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           floor(AVG(cs) * 1000000 + 0.5) / 1000000 AS mean_cohesion,
           floor(MIN(cs) * 1000000 + 0.5) / 1000000 AS min_cohesion
    FROM cos GROUP BY label
    """,
    tags=("similarity", "stats", "embeddings", "llm"),
)
def label_centroid_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space cluster-quality telemetry: per label, the mean and
    worst cosine of members to their label centroid. The embedding QA
    monitor a training pipeline runs after (re)embedding a corpus — a
    label whose cohesion drops between snapshots has drifting or noisy
    vectors upstream of any ANN index built on them.

    Plan shape at 100 TB: the (vec, dim) incidence is posexplode — n·d
    rows, linear with d fixed; centroids are a |labels|·d aggregate
    broadcast back onto the incidence (no second corpus shuffle for the
    dot products — they fold per (vec, label) from the same exploded
    rows); per-label norms are a |labels|-row broadcast. Nothing is
    pairwise. Float note: the centroid means and dot sums accumulate in
    engine-specific order (~1e-15 relative divergence at fixture scale);
    rounding at 1e-6 leaves a wide margin, audited by the scalar
    reference in tests/test_dedup_similarity.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(_as_double("embedding")).alias("i", "v"),
    )
    # Two independent subtrees consume x (the centroid aggregate and the
    # dot-product fold) — persist so the scan+posexplode runs once.
    x = _tracked_persist(x, f"label_cohesion_x:{sf_dir}")
    c = x.groupBy("label", "i").agg(F.avg("v").alias("cv"))
    c2 = c.groupBy("label").agg(F.sum(F.col("cv") * F.col("cv")).alias("nc2"))
    s = (
        x.join(F.broadcast(c), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("cv")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("nv2"),
        )
    )
    cos = s.join(F.broadcast(c2), "label").select(
        "label",
        (F.col("dot") / (F.sqrt("nv2") * F.sqrt("nc2"))).alias("cs"),
    )
    return cos.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        rnd(F.avg("cs"), 6).alias("mean_cohesion"),
        rnd(F.min("cs"), 6).alias("min_cohesion"),
    )


@query(
    "embedding_dim_variance",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d FROM embeddings
    ), x AS (
      SELECT vec_id,
             unnest(generate_series(1, len(d))) AS i,
             unnest(d) AS v
      FROM e
    ), s AS (
      SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(v) AS sv, SUM(v * v) AS sv2
      FROM x GROUP BY i
    ), vr AS (
      SELECT i, n, sv / n AS mean, sv2 / n - (sv / n) * (sv / n) AS var
      FROM s
    ), tot AS (SELECT SUM(var) AS tv FROM vr)
    SELECT CAST(vr.i AS INTEGER) AS dim, vr.n,
           floor(vr.mean * 1000000 + 0.5) / 1000000 AS mean,
           floor(vr.var * 1000000 + 0.5) / 1000000 AS variance,
           floor((vr.var / tot.tv) * 1000000 + 0.5) / 1000000 AS var_share
    FROM vr CROSS JOIN tot
    """,
    tags=("similarity", "stats", "embeddings", "llm"),
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance profile of the embedding space — the
    representation-collapse monitor: a dimension whose variance share
    goes to ~0 is dead (the encoder stopped using it), a single dimension
    grabbing most of the share signals anisotropic collapse. Standard
    embedding QA ahead of building ANN indexes (PQ/OPQ codebooks waste
    bits on dead dims).

    Plan shape at 100 TB: the (vec, dim) posexplode incidence — n·d rows,
    linear with d fixed — folds to d algebraic-moment rows (count, Σv,
    Σv²; one shuffle, map-side partial); the variance-share normalizer is
    a scalar agg over that d-row frame re-attached as a 1-row broadcast
    crossJoin (keys=[] partial — passes the single-partition plan guard).
    The variance is computed as Σv²/n − (Σv/n)² with the SAME operand
    order in both engines (embeddings are zero-centered-ish, so no
    cancellation blowup); moment sums accumulate in engine-specific order
    (~1e-15 relative), rounded at 1e-6 with the margin audited by the
    numpy scalar reference in tests/test_dedup_similarity.py.

    1-based dim index matches the oracle's generate_series.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode(_as_double("embedding")).alias("i0", "v")
    ).select((F.col("i0") + 1).alias("i"), "v")
    s = x.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("sv2"),
    )
    mean = F.col("sv") / F.col("n")
    var = F.col("sv2") / F.col("n") - mean * mean
    vr = s.select("i", "n", mean.alias("mean"), var.alias("var"))
    tot = vr.agg(F.sum("var").alias("tv"))
    return vr.crossJoin(F.broadcast(tot)).select(
        F.col("i").cast("int").alias("dim"),
        "n",
        rnd(F.col("mean"), 6).alias("mean"),
        rnd(F.col("var"), 6).alias("variance"),
        rnd(F.col("var") / F.col("tv"), 6).alias("var_share"),
    )


@query(
    "source_embedding_centroid_drift",
    oracle="""
    WITH e AS (
      SELECT d.source, em.vec_id, CAST(em.embedding AS DOUBLE[]) AS v
      FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id
    ), x AS (
      SELECT source, vec_id,
             unnest(generate_series(1, len(v))) AS i,
             unnest(v) AS val
      FROM e
    ), sc AS (
      SELECT source, i, CAST(COUNT(*) AS BIGINT) AS n, SUM(val) AS sv
      FROM x GROUP BY source, i
    ), g AS (
      SELECT i, SUM(sv) / SUM(n) AS gv FROM sc GROUP BY i
    ), dotp AS (
      SELECT sc.source, MAX(sc.n) AS n_vecs,
             SUM((sc.sv / sc.n) * g.gv) AS dot,
             SUM((sc.sv / sc.n) * (sc.sv / sc.n)) AS ns2,
             SUM(g.gv * g.gv) AS ng2
      FROM sc JOIN g USING (i) GROUP BY sc.source
    )
    SELECT source, n_vecs,
           floor((dot / (sqrt(ns2) * sqrt(ng2))) * 1000000 + 0.5) / 1000000
             AS centroid_cosine
    FROM dotp
    """,
    tags=("similarity", "stats", "embeddings", "llm"),
)
def source_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE embedding drift: cosine between each source's embedding
    centroid and the corpus centroid (over the embedded subset). The
    cross-table companion to `label_centroid_cohesion` — that one QAs the
    label geometry inside `embeddings`; this one joins back to the
    `documents` provenance (vec_id ≡ doc_id in these fixtures, an inner
    join so only embedded docs count) and answers the curation question:
    which crawl source's content is drifting away from the corpus mix in
    REPRESENTATION space, catching semantic drift that token-level
    telemetry (`source_unigram_kl`) can miss when the vocabulary stays
    stable but meaning shifts.

    Plan shape at 100 TB: one hash join embeddings⋈documents on the id
    (both SF-scaled — no broadcast hint, AQE picks the strategy), one
    posexplode to the (vec, dim) incidence (n·d rows, linear, d fixed),
    folded immediately to |sources|·d partial sums (map-side partial —
    the only corpus-scale shuffle). The corpus centroid folds FROM those
    partials (Σ sv / Σ n per dim — no second pass), is d rows, and joins
    back broadcast. Output is |sources| rows. The per-(source,i) count n
    is constant across i (= the source's vector count); MAX(n) reads it
    back without a separate count pass. Centroid means and dot sums
    accumulate in engine-specific order (~1e-15 relative at fixture
    scale), rounded at 1e-6 with the margin audited by the numpy scalar
    reference in tests/test_dedup_similarity.py.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    x = (
        emb.join(docs, "vec_id")
        .select("source", F.posexplode(_as_double("embedding")).alias("i", "v"))
    )
    sc = _tracked_persist(
        x.groupBy("source", "i").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        ),
        f"source_centroid_sc:{sf_dir}",
    )
    g = sc.groupBy("i").agg((F.sum("sv") / F.sum("n")).alias("gv"))
    cv = F.col("sv") / F.col("n")
    dotp = (
        sc.join(F.broadcast(g), "i")
        .groupBy("source")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sum(cv * F.col("gv")).alias("dot"),
            F.sum(cv * cv).alias("ns2"),
            F.sum(F.col("gv") * F.col("gv")).alias("ng2"),
        )
    )
    return dotp.select(
        "source",
        "n_vecs",
        rnd(
            F.col("dot") / (F.sqrt("ns2") * F.sqrt("ng2")), 6
        ).alias("centroid_cosine"),
    )


@query(
    "embedding_norm_profile",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, label,
             sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
      FROM e
    ), mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS cnt, SUM(nrm) AS s, SUM(nrm * nrm) AS s2
      FROM n
    )
    SELECT vec_id, label,
           floor(nrm * 1000000 + 0.5) / 1000000 AS norm,
           CASE WHEN s2 / cnt - (s / cnt) * (s / cnt) > 1e-18
                THEN floor(((nrm - s / cnt)
                            / sqrt(s2 / cnt - (s / cnt) * (s / cnt)))
                           * 1000000 + 0.5) / 1000000
                ELSE 0.0 END AS z
    FROM n CROSS JOIN mom
    """,
    tags=("similarity", "stats", "embeddings", "llm"),
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm and its corpus z-score — the unnormalized-
    magnitude QA pass run before any cosine-based tier: near-zero norms
    are dead/failed encodes (their cosines are noise), extreme norms
    dominate dot-product retrieval and signal encoder saturation or
    corrupt rows. Downstream consumers threshold the z column (|z| > 3
    is the usual cut); the operator returns ALL vectors rather than
    pre-filtering so the cut is the consumer's choice and no
    float-boundary row-membership flip can exist between engines.

    Plan shape at 100 TB: norms are one scan-speed JVM fold per row (no
    explode — the array folds in place); the corpus moments (n, Σ, Σ²)
    are one scalar aggregate re-attached as a 1-row broadcast crossJoin
    (keys=[] partial — passes the single-partition plan guard); output
    is one row per vector, linear. Degenerate-dispersion guard: when the
    population norm variance is ≤ 1e-18 (an already-unit-normalized
    corpus — exactly these fixtures — where the "variance" is pure
    float-rounding noise ~1e-32), z is pinned to 0.0 in BOTH engines:
    no dispersion means nothing is an outlier, and dividing by noise
    would amplify engine-specific last-ulp differences into garbage.
    The 1e-18 cutoff compares a corpus-wide SCALAR, 14+ orders of
    magnitude from either regime, so engines cannot straddle it. The
    array fold accumulates in index order in Spark and DuckDB alike,
    but the corpus moment sums are shuffle-order-dependent (~1e-15
    relative); both outputs round at 1e-6, margin audited by the numpy
    reference in tests/test_dedup_similarity.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select(
        "vec_id", "label", _as_double("embedding").alias("d")
    ).select("vec_id", "label", _norm("d").alias("nrm"))
    mom = n.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("nrm").alias("s"),
        F.sum(F.col("nrm") * F.col("nrm")).alias("s2"),
    )
    mean = F.col("s") / F.col("cnt")
    var = F.col("s2") / F.col("cnt") - mean * mean
    z = F.when(
        var > 1e-18, rnd((F.col("nrm") - mean) / F.sqrt(var), 6)
    ).otherwise(F.lit(0.0))
    return n.crossJoin(F.broadcast(mom)).select(
        "vec_id",
        "label",
        rnd(F.col("nrm"), 6).alias("norm"),
        z.alias("z"),
    )


_PCA_TOP_K = 4


def _gram_partials(vectors: DataFrame) -> DataFrame:
    """ONE (n, Σx, flat ΣxxT) partial sufficient-statistics row per
    non-empty PARTITION for the covariance of `vectors.v` — the
    RowMatrix/Gramian reduction: the fold accumulates across the
    partition's entire Arrow-batch iterator with vectorized numpy and
    yields a single O(d²) row at the end, so the job output is
    #partitions rows regardless of how many Arrow batches each
    partition decodes (a per-BATCH yield would be data-linear: batch
    count grows with rows, partition count is an explicit knob)."""

    def fold(batches):
        import numpy as np
        import pandas as pd

        n = 0
        s = g = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            n += len(m)
            if s is None:
                s = m.sum(axis=0)
                g = m.T @ m
            else:
                s += m.sum(axis=0)
                g += m.T @ m
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    return vectors.mapInPandas(fold, "n long, s array<double>, g array<double>")


def _gram_reduce(parts: DataFrame):
    """Distributed tree reduction of the per-partition Gram partials:
    ``treeAggregate`` (depth 2) element-wise-sums the (n, Σx, ΣxxᵀT)
    triples on the EXECUTORS, so the driver receives exactly ONE triple
    — never a row count proportional to partitions or batches. Returns
    ``(n, Σx as np.ndarray, flat ΣxxᵀT as np.ndarray)`` or None if the
    input is empty. Float-sum reassociation vs a single-pass sum is
    below the repo's 1e-6 rounding pin (audited by the numpy-reference
    test)."""
    import numpy as np

    def seq(acc, row):
        s = np.asarray(row.s, dtype=np.float64)
        g = np.asarray(row.g, dtype=np.float64)
        if acc is None:
            return (row.n, s, g)
        return (acc[0] + row.n, acc[1] + s, acc[2] + g)

    def comb(a, b):
        if a is None:
            return b
        if b is None:
            return a
        return (a[0] + b[0], a[1] + b[1], a[2] + b[2])

    return parts.rdd.treeAggregate(None, seq, comb, depth=2)


@query("embedding_pca_top_components", tags=("similarity", "embeddings", "stats", "llm"))
def embedding_pca_top_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-4 principal components of the embedding covariance with
    explained-variance ratios — the anisotropy DIRECTIONS behind
    `embedding_dim_variance`'s per-axis shares: which linear combination
    of dimensions carries the mass (whitening/OPQ-rotation input, and
    the axis to inspect when `source_embedding_centroid_drift` moves).
    Output: (component, dim, loading, eigenvalue, explained_var_ratio),
    top-4 × d rows, components orthonormal, sign fixed so each
    component's largest-|loading| entry is positive.

    Distributed shape (the MLlib RowMatrix Gramian pattern): ONE
    shuffle-free pass folds each PARTITION's full Arrow-batch iterator
    into a single (n, Σx, ΣxxT) partial — this is the legitimate
    Pandas-tier use, a per-partition matrix reduction no built-in
    expression covers — then a depth-2 ``treeAggregate`` element-wise
    sums the partials on the executors, so the driver receives exactly
    ONE O(d²) triple (d=64 ⇒ ~33 KB) no matter the data volume or
    partition count. It forms cov = ΣxxT/n − μμᵀ and runs an exact d×d
    eigh. No iterations, so a near-flat spectrum (exactly these
    fixtures: λ2/λ1 ≈ 0.99, where power iteration needs ~300 passes)
    costs nothing extra. At 100 TB the pass is scan-bound and the
    driver work is genuinely constant: tests assert the fold emits one
    row per partition (not per batch) and that the driver-side result
    of the reduction is a single triple.

    No SQL oracle (eigendecomposition is not SQL-expressible); driver
    row is rows-only, and tests assert the numpy ground truth: loading
    matrix matches full-data eigh up to the eigengap's angular
    tolerance, orthonormality, eigenvalue equality, and ratio
    consistency with `embedding_dim_variance`'s total variance.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        _as_double("embedding").alias("v")
    )
    reduced = _gram_reduce(_gram_partials(emb))
    if reduced is None:
        raise ValueError(
            "embedding_pca_top_components: embeddings table is empty — "
            "no covariance to decompose"
        )
    n, s, g_flat = reduced
    d = len(s)
    g = np.asarray(g_flat).reshape(d, d)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    w, v = np.linalg.eigh(cov)  # ascending
    total = float(np.trace(cov))
    rows = []
    for k in range(1, _PCA_TOP_K + 1):
        lam = float(w[-k])
        vec = v[:, -k]
        if vec[int(np.argmax(np.abs(vec)))] < 0:  # deterministic sign
            vec = -vec
        # A constant corpus has zero total variance — every ratio is
        # defined as 0.0 rather than nan (no dominant direction exists).
        ratio = lam / total if total > 0.0 else 0.0
        for i in range(d):
            rows.append(
                (
                    k,
                    i + 1,
                    round(float(vec[i]), 6),
                    round(lam, 6),
                    round(ratio, 6),
                )
            )
    return spark.createDataFrame(
        rows,
        "component int, dim int, loading double, eigenvalue double, "
        "explained_var_ratio double",
    )


# --------------------------------------------------------------------------
# ANN method calibration: recall vs exact ground truth
# --------------------------------------------------------------------------

@query(
    "ann_recall_report",
    # No SQL oracle (the approximate tiers are engine-specific by
    # construction), but the report carries a pure-python partial
    # oracle (round-16 graduation, tests/test_dedup_similarity.py::
    # test_ann_recall_report_full_partial_oracle_pure_python): the
    # sign_lsh/ivf/pq rows are fully re-derived by composing the
    # proven round-15 references (helpers.py: py_ann_*_topk) with the
    # pure-python knn truth (py_knn_truth, doubly pinned by
    # knn_bruteforce's DuckDB oracle); the opq row keeps its documented
    # why-not (engine-side batched BLAS rotation) with its arithmetic
    # pinned against the engine's own candidate set. The ivf row also
    # inherits the >= 0.4 recall floor asserted in the older recount.
    tags=("similarity", "ann", "calibration"),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of every ANN tier (sign-LSH, IVF, PQ, OPQ) against the
    exact knn_bruteforce top-3 — the sketch-calibration pattern
    (minhash_estimate_error, approx_vs_exact_quantile_error) applied to
    the similarity tier: the operator a pipeline runs before trusting an
    index, and re-runs after refitting it on drifted data.

    Plan: each method's candidate set is aggregate-sized (|Q| queries ×
    3), so the union + hit-join + per-method count is a few KB of data
    regardless of corpus size — the expensive part is the index passes
    themselves, each of which keeps its own scale shape (bucket join /
    cell probe / ADC scan). The truth total joins in as a broadcast
    1-row scalar aggregate; recall is a division of two exact int64
    counts, IEEE-deterministic."""
    truth = (
        knn_bruteforce(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    methods = [
        ("sign_lsh", ann_lsh_topk),
        ("ivf", ann_ivf_topk),
        ("pq", ann_pq_topk),
        ("opq", ann_opq_topk),
    ]
    per = None
    for name, fn in methods:
        cand = fn(spark, sf_dir).select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        per = cand if per is None else per.unionByName(cand)
    hits = per.join(truth, ["query_id", "neighbor_id"]).groupBy("method").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    base = per.groupBy("method").agg(F.count(F.lit(1)).alias("n_returned"))
    tot = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nh = F.coalesce("n_hits", F.lit(0))
    return (
        base.join(hits, "method", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "method",
            "n_returned",
            nh.alias("n_hits"),
            "n_truth",
            (nh.cast("double") / F.col("n_truth")).alias("recall_at_3"),
        )
    )


# --------------------------------------------------------------------------
# Pairwise-cosine histogram over a fixed-size sample
# --------------------------------------------------------------------------

_PDH_K = 128  # fixed sample size -> at most K(K-1)/2 = 8128 pairs at ANY corpus size


@query(
    "embedding_cosine_histogram",
    oracle=_ORACLE_VECTORS
    + f"""
    , s AS (
      SELECT vec_id, d, nrm FROM n
      ORDER BY md5('pdh:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_PDH_K}
    ),
    pairs AS (
      SELECT floor((list_sum(list_transform(generate_series(1, len(a.d)),
                                            i -> a.d[i] * b.d[i]))
                    / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS cosine
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    SELECT CAST(floor(cosine * 10) AS INTEGER) AS bucket,
           COUNT(*) AS n_pairs,
           MIN(cosine) AS min_cos,
           MAX(cosine) AS max_cos
    FROM pairs GROUP BY 1
    """,
    tags=("similarity", "calibration", "histogram"),
)
def embedding_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of pairwise cosines over a FIXED-SIZE content-addressed
    sample — the telemetry that picks near-dup/clustering thresholds: where
    the corpus's similarity mass sits tells you whether 0.4 is a dedup
    threshold or background noise.

    The sample is the md5-order top-K (`sample_fixed_k`'s reservoir
    equivalent, full-hash comparator), so the pair count is bounded at
    K(K-1)/2 = 8128 at ANY corpus size — the all-pairs step can never
    re-grow quadratically as data scales, unlike a rate-based sample whose
    pair count is (r·N)². Plan: TakeOrderedAndProject for the sample (K
    rows cross the wire), then a broadcast self-join over K rows — the
    corpus scan is the only data-sized stage."""
    vecs = _vectors(spark, sf_dir)
    h = F.md5(
        F.concat_ws(":", F.lit("pdh"), F.col("vec_id").cast("string")).cast(
            "binary"
        )
    )
    s = (
        vecs.select("vec_id", "d", "nrm", h.alias("_h"))
        .orderBy(F.col("_h"), F.col("vec_id"))
        .limit(_PDH_K)
        .select("vec_id", "d", "nrm")
    )
    a = s.select(
        F.col("vec_id").alias("ida"), F.col("d").alias("da"), F.col("nrm").alias("na")
    )
    b = s.select(
        F.col("vec_id").alias("idb"), F.col("d").alias("db"), F.col("nrm").alias("nb")
    )
    cosine = rnd(_dot("da", "db") / (F.col("na") * F.col("nb")), 4)
    pairs = a.join(F.broadcast(b), F.col("ida") < F.col("idb")).select(
        cosine.alias("cosine")
    )
    return pairs.groupBy(
        F.floor(F.col("cosine") * 10).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("cosine").alias("min_cos"),
        F.max("cosine").alias("max_cos"),
    )


_RECIP_K = 3  # kNN-graph fanout for the reciprocity telemetry


@query(
    "knn_graph_reciprocity",
    oracle=_ORACLE_VECTORS
    + f"""
    , s AS (
      SELECT vec_id, d, nrm FROM n
      ORDER BY md5('pdh:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_PDH_K}
    ),
    cand AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             floor((list_sum(list_transform(generate_series(1, len(a.d)),
                                            i -> a.d[i] * b.d[i]))
                    / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS cosine
      FROM s a JOIN s b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT src, dst,
             CAST(row_number() OVER (PARTITION BY src
                                     ORDER BY cosine DESC, dst) AS BIGINT)
               AS rnk
      FROM cand
    ),
    eg AS (SELECT src, dst, rnk FROM ranked WHERE rnk <= {_RECIP_K}),
    per_k AS (
      SELECT k.k AS k,
             CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_mutual
      FROM (SELECT unnest(generate_series(1, {_RECIP_K})) AS k) k
      JOIN eg a ON a.rnk <= k.k
      LEFT JOIN eg r ON r.src = a.dst AND r.dst = a.src AND r.rnk <= k.k
      GROUP BY 1
    )
    SELECT k, n_edges, n_mutual,
           CAST(n_mutual AS DOUBLE) / n_edges AS reciprocity
    FROM per_k
    """,
    tags=("similarity", "knn", "calibration", "graph"),
)
def knn_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the exact kNN graph over a FIXED-SIZE
    content-addressed sample: for each k ≤ 3, the share of directed
    top-k edges whose REVERSE edge is also a top-k edge. Low reciprocity
    is the classic hubness symptom (a few vectors appear in everyone's
    top-k but reciprocate almost nobody) — the embedding-health telemetry
    a similarity pipeline checks before trusting kNN-graph construction
    (mutual-kNN clustering, kNN-graph ANN indexes, dedup via mutual
    pairs), next to `ann_recall_report` (index quality) and
    `embedding_cosine_histogram` (threshold placement).

    Same boundedness contract as the histogram: the md5-order top-K
    sample (K = 128) caps the candidate join at K(K−1) rows at ANY
    corpus size, so the all-pairs step can never re-grow as data scales;
    the corpus scan is the only data-sized stage (TakeOrderedAndProject).
    Counts are exact int64; reciprocity is one IEEE division. Ranking
    ties break on (rounded cosine DESC, dst id) — deterministic across
    engines. The scale path to a FULL-corpus kNN graph is the IVF/LSH
    bucketing of the ann_* tier with this exact ranking as the per-bucket
    verify; the sampled telemetry here estimates the same statistic at
    fixed cost."""
    from pyspark.sql import Window

    vecs = _vectors(spark, sf_dir)
    h = F.md5(
        F.concat_ws(":", F.lit("pdh"), F.col("vec_id").cast("string")).cast(
            "binary"
        )
    )
    s = (
        vecs.select("vec_id", "d", "nrm", h.alias("_h"))
        .orderBy(F.col("_h"), F.col("vec_id"))
        .limit(_PDH_K)
        .select("vec_id", "d", "nrm")
    )
    a = s.select(
        F.col("vec_id").alias("src"), F.col("d").alias("da"), F.col("nrm").alias("na")
    )
    b = s.select(
        F.col("vec_id").alias("dst"), F.col("d").alias("db"), F.col("nrm").alias("nb")
    )
    cosine = rnd(_dot("da", "db") / (F.col("na") * F.col("nb")), 4)
    cand = a.join(F.broadcast(b), F.col("src") != F.col("dst")).select(
        "src", "dst", cosine.alias("cosine")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.col("dst"))
    e = (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _RECIP_K)
        .select("src", "dst", "rnk")
    )
    ks = spark.range(1, _RECIP_K + 1).select(F.col("id").alias("k"))
    rev = e.select(
        F.col("src").alias("rsrc"), F.col("dst").alias("rdst"),
        F.col("rnk").alias("rrnk"),
    )
    per_k = (
        ks.join(e, e.rnk <= F.col("k"))
        .join(
            rev,
            (F.col("rsrc") == F.col("dst"))
            & (F.col("rdst") == F.col("src"))
            & (F.col("rrnk") <= F.col("k")),
            "left",
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum(
                F.when(F.col("rsrc").isNotNull(), 1).otherwise(0)
            ).alias("n_mutual"),
        )
    )
    return per_k.select(
        "k",
        "n_edges",
        "n_mutual",
        (F.col("n_mutual").cast("double") / F.col("n_edges")).alias(
            "reciprocity"
        ),
    )


def _labeled_nn_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared labeled 1-NN edge set: (src, src_label, dst, dst_label),
    one row per vector of the fixed-_PDH_K md5-ordered sample, dst = its
    exact-cosine nearest neighbor under the deterministic
    (cosine DESC, dst) tie-break. knn_label_purity,
    knn_purity_vs_reciprocity_compare and knn_label_confusion_matrix are
    documented and test-pinned as sharing ONE sample/tie-break — this
    helper is the single place that construction lives, so a drift (e.g.
    in the tie-break or the 1e-4 cosine rounding) cannot silently
    decouple them (mirrors the _part_cooccur_edges refactor in the graph
    tier).

    Boundedness: the candidate join is capped at K(K−1) rows at ANY
    corpus size; the returned edge set is exactly K rows."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    d = _as_double("embedding")
    vecs = emb.select("vec_id", d.alias("d"), _norm(d).alias("nrm"), "label")
    h = F.md5(
        F.concat_ws(":", F.lit("pdh"), F.col("vec_id").cast("string")).cast(
            "binary"
        )
    )
    s = (
        vecs.select("vec_id", "d", "nrm", "label", h.alias("_h"))
        .orderBy(F.col("_h"), F.col("vec_id"))
        .limit(_PDH_K)
        .select("vec_id", "d", "nrm", "label")
    )
    a = s.select(
        F.col("vec_id").alias("src"),
        F.col("d").alias("da"),
        F.col("nrm").alias("na"),
        F.col("label").alias("src_label"),
    )
    b = s.select(
        F.col("vec_id").alias("dst"),
        F.col("d").alias("db"),
        F.col("nrm").alias("nb"),
        F.col("label").alias("dst_label"),
    )
    cosine = rnd(_dot("da", "db") / (F.col("na") * F.col("nb")), 4)
    cand = a.join(F.broadcast(b), F.col("src") != F.col("dst")).select(
        "src", "src_label", "dst", "dst_label", cosine.alias("cosine")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.col("dst"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("src", "src_label", "dst", "dst_label")
    )


@query(
    "knn_label_purity",
    oracle=_ORACLE_VECTORS
    + f"""
    , lbl AS (SELECT vec_id, label FROM embeddings),
    s AS (
      SELECT n.vec_id, n.d, n.nrm, l.label
      FROM n JOIN lbl l ON n.vec_id = l.vec_id
      ORDER BY md5('pdh:' || CAST(n.vec_id AS VARCHAR)), n.vec_id
      LIMIT {_PDH_K}
    ),
    cand AS (
      SELECT a.vec_id AS src, a.label AS src_label, b.label AS dst_label,
             floor((list_sum(list_transform(generate_series(1, len(a.d)),
                                            i -> a.d[i] * b.d[i]))
                    / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS cosine,
             b.vec_id AS dst
      FROM s a JOIN s b ON a.vec_id <> b.vec_id
    ),
    nn AS (
      SELECT src, src_label, dst_label
      FROM (
        SELECT src, src_label, dst_label,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cosine DESC, dst) AS rnk
        FROM cand
      ) WHERE rnk = 1
    )
    SELECT src_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN dst_label = src_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nn_same,
           CAST(SUM(CASE WHEN dst_label = src_label THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS purity
    FROM nn GROUP BY 1
    """,
    tags=("similarity", "knn", "quality", "labels"),
)
def knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label purity per class over the fixed-128 md5-ordered sample:
    for each sampled vector, does its nearest neighbor (exact cosine,
    deterministic tie-break) carry the same label? The classic
    embedding-quality probe — high purity means the space clusters by
    label (classifier-by-retrieval, cluster-assignment, and dedup-by-
    label workflows can trust it); a label whose purity sits at chance is
    one the embedding can't separate. Completes the sampled kNN-health
    trio: recall (`ann_recall_report`), reciprocity
    (`knn_graph_reciprocity`), purity (this).

    Same boundedness contract as its siblings: the candidate join is
    capped at K(K−1) rows at ANY corpus size; counts exact, one IEEE
    division per label row. The sample/1-NN construction lives in
    `_labeled_nn_sample`, shared verbatim with the compare and
    confusion-matrix queries."""
    nn = _labeled_nn_sample(spark, sf_dir).select("src_label", "dst_label")
    same = (F.col("dst_label") == F.col("src_label")).cast("int")
    return nn.groupBy(F.col("src_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(same).alias("n_nn_same"),
        (F.sum(same).cast("double") / F.count(F.lit(1))).alias("purity"),
    )


@query(
    "knn_purity_vs_reciprocity_compare",
    oracle=_ORACLE_VECTORS
    + f"""
    , lbl AS (SELECT vec_id, label FROM embeddings),
    s AS (
      SELECT n.vec_id, n.d, n.nrm, l.label
      FROM n JOIN lbl l ON n.vec_id = l.vec_id
      ORDER BY md5('pdh:' || CAST(n.vec_id AS VARCHAR)), n.vec_id
      LIMIT {_PDH_K}
    ),
    cand AS (
      SELECT a.vec_id AS src, a.label AS src_label,
             b.vec_id AS dst, b.label AS dst_label,
             floor((list_sum(list_transform(generate_series(1, len(a.d)),
                                            i -> a.d[i] * b.d[i]))
                    / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS cosine
      FROM s a JOIN s b ON a.vec_id <> b.vec_id
    ),
    nn AS (
      SELECT src, src_label, dst, dst_label FROM (
        SELECT src, src_label, dst, dst_label,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cosine DESC, dst) AS rnk
        FROM cand
      ) WHERE rnk = 1
    ),
    j AS (
      SELECT a.src_label,
             CASE WHEN a.dst_label = a.src_label THEN 1 ELSE 0 END AS same,
             CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS mutual
      FROM nn a LEFT JOIN nn r ON r.src = a.dst AND r.dst = a.src
    )
    SELECT src_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(same) AS BIGINT) AS n_nn_same,
           CAST(SUM(mutual) AS BIGINT) AS n_mutual,
           CAST(SUM(same) AS DOUBLE) / COUNT(*) AS purity,
           CAST(SUM(mutual) AS DOUBLE) / COUNT(*) AS reciprocity1,
           CAST(SUM(same) AS DOUBLE) / COUNT(*)
             - CAST(SUM(mutual) AS DOUBLE) / COUNT(*)
             AS purity_minus_reciprocity
    FROM j GROUP BY 1
    """,
    tags=("similarity", "knn", "quality", "labels", "graph"),
)
def knn_purity_vs_reciprocity_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label comparison of the two sampled kNN-health statistics —
    the composition the round-11 verdict queued: for every label, 1-NN
    purity (does my nearest neighbor share my label?) NEXT TO 1-NN
    reciprocity (am I my nearest neighbor's nearest neighbor?), from the
    SAME fixed-128 md5-ordered sample, same exact cosine, same
    deterministic tie-break as `knn_graph_reciprocity` /
    `knn_label_purity`. The joint read is the diagnostic: high purity +
    low reciprocity per label = hubness inside a class (retrieval works,
    mutual-kNN clustering won't); low purity + high reciprocity =
    well-formed pairs of the WRONG class (label noise or entangled
    classes). purity_minus_reciprocity > 0 is the hubness direction.

    Boundedness contract inherited from its parents: the candidate join
    is capped at K(K−1) rows at ANY corpus size; the 1-NN edge set is
    exactly K rows, the mutual check a K-row self-join. Counts exact
    int64; purity/reciprocity are one IEEE division each and the delta
    one subtraction of those two doubles, stated token-for-token in the
    oracle. The sample/1-NN construction lives in `_labeled_nn_sample`,
    shared verbatim with the purity and confusion-matrix queries."""
    nn = _labeled_nn_sample(spark, sf_dir)
    rev = nn.select(F.col("src").alias("rsrc"), F.col("dst").alias("rdst"))
    j = nn.join(
        F.broadcast(rev),
        (F.col("rsrc") == F.col("dst")) & (F.col("rdst") == F.col("src")),
        "left",
    )
    same = (F.col("dst_label") == F.col("src_label")).cast("int")
    mutual = F.col("rsrc").isNotNull().cast("int")
    n = F.count(F.lit(1))
    return j.groupBy(F.col("src_label").alias("label")).agg(
        n.alias("n_sampled"),
        F.sum(same).alias("n_nn_same"),
        F.sum(mutual).alias("n_mutual"),
        (F.sum(same).cast("double") / n).alias("purity"),
        (F.sum(mutual).cast("double") / n).alias("reciprocity1"),
        (
            F.sum(same).cast("double") / n - F.sum(mutual).cast("double") / n
        ).alias("purity_minus_reciprocity"),
    )


@query(
    "knn_label_confusion_matrix",
    oracle=_ORACLE_VECTORS
    + f"""
    , lbl AS (SELECT vec_id, label FROM embeddings),
    s AS (
      SELECT n.vec_id, n.d, n.nrm, l.label
      FROM n JOIN lbl l ON n.vec_id = l.vec_id
      ORDER BY md5('pdh:' || CAST(n.vec_id AS VARCHAR)), n.vec_id
      LIMIT {_PDH_K}
    ),
    cand AS (
      SELECT a.vec_id AS src, a.label AS src_label,
             b.vec_id AS dst, b.label AS dst_label,
             floor((list_sum(list_transform(generate_series(1, len(a.d)),
                                            i -> a.d[i] * b.d[i]))
                    / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS cosine
      FROM s a JOIN s b ON a.vec_id <> b.vec_id
    ),
    nn AS (
      SELECT src_label, dst_label FROM (
        SELECT src_label, dst_label,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cosine DESC, dst) AS rnk
        FROM cand
      ) WHERE rnk = 1
    ),
    tot AS (
      SELECT src_label, CAST(COUNT(*) AS BIGINT) AS n_src
      FROM nn GROUP BY 1
    )
    SELECT g.src_label, g.dst_label, g.n, t.n_src,
           CAST(g.n AS DOUBLE) / t.n_src AS row_share
    FROM (SELECT src_label, dst_label, CAST(COUNT(*) AS BIGINT) AS n
          FROM nn GROUP BY 1, 2) g
    JOIN tot t ON g.src_label = t.src_label
    """,
    tags=("similarity", "knn", "quality", "labels"),
)
def knn_label_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label CONFUSION MATRIX over the fixed-128 md5-ordered sample:
    for every (source label, nearest-neighbor label) pair, the count and
    its share of the source label's row — the full matrix behind
    `knn_label_purity`'s diagonal. Off-diagonal mass names WHICH classes
    an embedding entangles (purity says "label 3 is impure"; this says
    "label 3's neighbors are mostly label 7"), the input to
    merge-or-relabel decisions and hard-negative mining.

    Same sample, same exact cosine, same deterministic (cosine DESC,
    dst) tie-break as the purity/reciprocity family; output is at most
    |labels|² rows, counts exact int64, row_share one IEEE division.
    Only observed (src, dst) cells are emitted — absent cells are zero
    by construction, and the diagonal cells reproduce
    knn_label_purity's (n_nn_same, n_sampled) exactly (test-pinned).
    The sample/1-NN construction lives in `_labeled_nn_sample`, shared
    verbatim with the purity and compare queries."""
    nn = _labeled_nn_sample(spark, sf_dir).select("src_label", "dst_label")
    g = nn.groupBy("src_label", "dst_label").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = nn.groupBy("src_label").agg(F.count(F.lit(1)).alias("n_src"))
    return g.join(F.broadcast(tot), "src_label").select(
        "src_label",
        "dst_label",
        "n",
        "n_src",
        (F.col("n").cast("double") / F.col("n_src")).alias("row_share"),
    )


@query(
    "label_centroid_distance_matrix",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS d FROM embeddings
    ), x AS (
      SELECT label,
             unnest(generate_series(1, len(d))) AS i,
             unnest(d) AS v
      FROM e
    ), c AS (
      SELECT label, i, AVG(v) AS cv FROM x GROUP BY label, i
    ), n2 AS (
      SELECT label, SUM(cv * cv) AS nc2 FROM c GROUP BY label
    ), p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(a.cv * b.cv) AS dot
      FROM c a JOIN c b ON a.i = b.i AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT p.label_a, p.label_b,
           floor(p.dot / (sqrt(na.nc2) * sqrt(nb.nc2)) * 1000000 + 0.5)
             / 1000000 AS cosine,
           floor(sqrt(greatest(0, na.nc2 + nb.nc2 - 2 * p.dot)) * 1000000
                 + 0.5) / 1000000 AS euclidean
    FROM p
    JOIN n2 na ON p.label_a = na.label
    JOIN n2 nb ON p.label_b = nb.label
    """,
    tags=("similarity", "embeddings", "labels", "matrix"),
)
def label_centroid_distance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise label-centroid geometry: cosine and euclidean distance
    between every pair of label centroids — the class-separation map
    read NEXT TO `knn_label_confusion_matrix` (confusion says which
    classes' MEMBERS entangle; this says whose CENTROIDS sit close —
    close centroids + high mutual confusion = merge candidates, distant
    centroids + high confusion = label noise) and
    `label_centroid_cohesion` (within-class tightness vs between-class
    separation is the Davies-Bouldin-style read).

    Plan: one posexplode pass (n·d rows, the cohesion query's shape),
    ONE |labels|·d centroid aggregate, then all pairwise work happens on
    the ≤|labels|·d centroid table (self-join on dimension, ≤labels²·d
    rows) — nothing pairwise ever touches corpus-sized data. Float note:
    centroid means accumulate in engine-specific order; the 1e-6
    rounding leaves the same wide margin the cohesion query documents
    (audited by its scalar reference)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        F.posexplode(_as_double("embedding")).alias("i", "v"),
    )
    c = x.groupBy("label", "i").agg(F.avg("v").alias("cv"))
    n2 = c.groupBy("label").agg(F.sum(F.col("cv") * F.col("cv")).alias("nc2"))
    a = c.select(
        F.col("label").alias("label_a"), "i", F.col("cv").alias("ca")
    )
    b = c.select(
        F.col("label").alias("label_b"),
        F.col("i").alias("ib"),
        F.col("cv").alias("cb"),
    )
    p = (
        a.join(
            F.broadcast(b),
            (F.col("i") == F.col("ib")) & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = n2.select(F.col("label").alias("label_a"), F.col("nc2").alias("na2"))
    nb = n2.select(F.col("label").alias("label_b"), F.col("nc2").alias("nb2"))
    return (
        p.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            rnd(
                F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2")), 6
            ).alias("cosine"),
            rnd(
                # Clamp the radicand: for near-coincident centroids FP
                # can make na2 + nb2 − 2·dot slightly negative (NaN on
                # one engine, not the other — a differential flake the
                # 1e-6 rounding alone does not guard); greatest(0, ·) is
                # stated in the oracle SQL too.
                F.sqrt(
                    F.greatest(
                        F.lit(0.0),
                        F.col("na2") + F.col("nb2") - 2 * F.col("dot"),
                    )
                ),
                6,
            ).alias("euclidean"),
        )
    )
