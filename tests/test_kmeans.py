"""Invariants + plan shape for the distributed k-means (llm/kmeans.py).
Exact cross-engine correctness is covered by the oracle test; these pin the
algorithmic properties the oracle can't see."""

from __future__ import annotations



from pyspark.sql import functions as F

from mapreduce_infrastructure_spark.catalog import load_table
from mapreduce_infrastructure_spark.llm.kmeans import K, kmeans_embeddings
from mapreduce_infrastructure_spark.plans import checks


def test_kmeans_assignment_invariants(spark, sf_dir):
    rows = kmeans_embeddings(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n  # every vector assigned exactly once
    assert all(0 <= r.cid < K for r in rows)
    assert all(r.dist >= 0 for r in rows)


def test_kmeans_improves_over_random_partition(spark, sf_dir):
    """Within-cluster scatter after 3 Lloyd iterations must beat assigning
    each vector to a hash-random centroid — i.e. the iterations actually
    descend the objective."""
    emb = load_table(spark, sf_dir, "embeddings")
    got = kmeans_embeddings(spark, sf_dir)
    kmeans_cost = got.agg(F.sum("dist")).first()[0]

    seeds = emb.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("c"),
    )
    random_cost = (
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("x"),
            (F.crc32(F.col("vec_id").cast("string")) % K).alias("cid"),
        )
        .join(F.broadcast(seeds), "cid")
        .select(
            F.expr(
                "aggregate(zip_with(x, c, (a,b) -> (a-b)*(a-b)),"
                " 0.0D, (acc,v) -> acc + v)"
            ).alias("d2")
        )
        .agg(F.sum("d2"))
        .first()[0]
    )
    assert kmeans_cost < random_cost


def test_kmeans_matches_exact_numpy_reference(spark, sf_dir):
    """Independent re-implementation of the grain-rounded recipe in numpy.

    Because every squared difference is rounded to the 1e-9 grain before the
    sum, a distance is an exact INTEGER number of grains — so the reference
    can accumulate in int64 and reproduce the engine's decimal sums bit-for-
    bit, and every IEEE step (grain-round, subtract, square, mean) is the
    same operation sequence the Spark/DuckDB expressions perform. The full
    final assignment must agree exactly."""
    import numpy as np
    import pyarrow.parquet as pq

    from mapreduce_infrastructure_spark.llm.kmeans import N_ITERS

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    X = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    vec_ids = np.array(t["vec_id"].to_pylist())
    order = np.argsort(vec_ids)
    X, vec_ids = X[order], vec_ids[order]
    G = 1e9
    Xr = np.floor(X * G + 0.5) / G

    cids = list(range(K))
    C = Xr[vec_ids < K].copy()
    assign = None
    for it in range(1, N_ITERS + 1):
        diff = Xr[:, None, :] - C[None, :, :]
        grains = np.floor(diff * diff * G + 0.5).astype(np.int64)
        dist = grains.sum(axis=-1)  # exact: integer grains
        assign = dist.argmin(axis=1)  # first minimum = smallest cid
        if it < N_ITERS:
            new_cids, rows = [], []
            for j, cid in enumerate(cids):
                members = Xr[assign == j]
                if len(members) == 0:
                    continue  # cluster vanishes, as in the engine
                s_int = np.floor(members * G + 0.5).astype(np.int64).sum(axis=0)
                s_d = s_int.astype(np.float64) / G  # == CAST(decimal AS DOUBLE)
                rows.append(np.floor(s_d / len(members) * G + 0.5) / G)
                new_cids.append(cid)
            cids, C = new_cids, np.array(rows)

    want = {int(v): int(cids[a]) for v, a in zip(vec_ids, assign)}
    got = {
        r.vec_id: r.cid for r in kmeans_embeddings(spark, sf_dir).collect()
    }
    assert got == want


def test_kmeans_iterations_descend_objective(spark, sf_dir):
    """Lloyd's algorithm monotonically decreases within-cluster scatter;
    with the 1e-9 grain the engine trajectory must still descend."""
    cost1 = (
        kmeans_embeddings(spark, sf_dir, iters=1).agg(F.sum("dist")).first()[0]
    )
    cost3 = (
        kmeans_embeddings(spark, sf_dir, iters=3).agg(F.sum("dist")).first()[0]
    )
    assert cost3 < cost1


def test_kmeans_plan_broadcasts_and_single_source_scan(spark, sf_dir):
    """Assignment must be broadcast (centroids are K rows), never a shuffled
    join or cartesian over the corpus; the persisted points table keeps the
    corpus read to one materialization."""
    df = kmeans_embeddings(spark, sf_dir)
    plan = checks.explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan  # pts persisted, not re-scanned


def test_grain_dist_kernel_exact_past_int64_edge(spark):
    """Coordinate differences of 7e4 make each grain term 4.9e18, so a
    two-term row sums past 2**63: the int64 sum would wrap. Both the
    vectorized batch path and the per-row path (forced by a NaN row in
    the same Arrow batch) must return the exact DECIMAL sum."""
    from decimal import Decimal

    from mapreduce_infrastructure_spark.llm import kmeans as K

    rows = [
        (1, [70000.0, 70000.0], [0.0, 0.0]),
        (2, [0.0, 100000.0], [100000.0, 0.0]),
        (3, [1.5, 70000.0], [0.5, 0.0]),
    ]

    def exact(x, c):
        s = sum((Decimal(a) - Decimal(b)) ** 2 for a, b in zip(x, c))
        return (s * Decimal(10) ** 9).to_integral_value() / Decimal(10) ** 9

    want = {i: exact(x, c) for i, x, c in rows}
    assert want[1] > Decimal(2**63) / Decimal(10) ** 9  # past the edge
    nan_row = [(4, [float("nan"), 0.0], [0.0, 0.0])]
    for data in (rows, rows + nan_row):
        df = spark.createDataFrame(
            data, "vec_id int, x array<double>, c array<double>"
        ).coalesce(1)
        got = {
            r.vec_id: r.dist
            for r in df.select("vec_id", K._dist_col().alias("dist")).collect()
        }
        assert {i: got[i] for i in want} == want
