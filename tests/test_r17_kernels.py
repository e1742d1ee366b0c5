"""Round-17 optimization equivalence pins.

The round-17 optimization pass (OPTIMIZATION_r17.md) rewrote two pieces of
`ann_ivf_topk`'s construction:

- the probe-cell ranking — crossJoin(broadcast(centroids)) + interpreted
  zip_with squared-L2 + row_number window — now reuses the corpus
  assignment's Arrow kernel (`_cells_topk_udf(C, _IVF_PROBES)` + explode),
  which computes the identical (dist, cell) ordering (same left-to-right
  IEEE accumulation; sqrt is strictly monotone so ranking by sqrt(dist)
  equals ranking by dist);
- the fit='auto' corpus-row count comes from the parquet FOOTER metadata
  (driver-side, no Spark job) instead of a distributed count().

These tests pin both claims directly against the original formulations.
The query-level pure-python partial oracle
(test_dedup_similarity.py::test_ann_ivf_topk_partial_oracle_pure_python)
stands alongside, re-deriving the end-to-end result token-for-token.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from mapreduce_infrastructure_spark.llm import similarity as S

SF = "/root/testdata/sf0.01"


def _old_probes(spark, vecs, C):
    """The pre-round-17 probe formulation, verbatim."""
    centroids = spark.createDataFrame(
        [(j, [float(x) for x in C[j]]) for j in range(len(C))],
        "cell int, center array<double>",
    )
    q = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("d").alias("qd"),
        F.col("nrm").alias("qnrm"),
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with("qd", "center", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cell")
    return (
        q.crossJoin(F.broadcast(centroids))
        .select("query_id", "qd", "qnrm", "cell", l2.alias("dist"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= S._IVF_PROBES)
        .select("query_id", "qd", "qnrm", F.col("cell").alias("pcell"))
    )


def test_probe_cells_kernel_matches_crossjoin_window(spark):
    """The Arrow-kernel probe ranking is row-for-row identical (probe cell
    SET and order-insensitive multiset, qd/qnrm payload included) to the
    crossJoin + window formulation it replaced."""
    vecs = S._vectors(spark, SF)
    C = S._fit_centroids_sample(vecs)
    old = _old_probes(spark, vecs, C)
    new = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("d").alias("qd"),
        F.col("nrm").alias("qnrm"),
        F.explode(S._cells_topk_udf(C, S._IVF_PROBES)("d")).alias("pcell"),
    )
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_ivf_fit_slot_consumers_build_identical_fits(spark):
    """ADVICE (r16): ann_ivf_topk and neardup_cosine_ivf share the
    shared_value slot `ivf_fit_sample:{sf_dir}` — correct only while both
    call sites fit the SAME matrix. Pin the coupling: populate the slot
    from each query in isolation and assert the cached fits are bit-equal,
    so a drift at either call site (e.g. one moving to unit vectors) fails
    here instead of silently serving wrong centroids to the other."""
    import numpy as np

    from mapreduce_infrastructure_spark.catalog import table_paths
    from mapreduce_infrastructure_spark.llm.cache import input_fingerprint
    from mapreduce_infrastructure_spark.registry import all_queries
    from mapreduce_infrastructure_spark.session import _STORE, store_key

    qs = all_queries()
    emb = input_fingerprint(table_paths(SF, "embeddings"))
    key = store_key(spark, f"ivf_fit_sample:{SF}", emb)
    fits = {}
    for name in ("ann_ivf_topk", "neardup_cosine_ivf"):
        _STORE.pop(key, None)
        _STORE.pop(store_key(spark, f"ivf_fit_kind:{SF}", emb), None)
        qs[name].fn(spark, SF).write.format("noop").mode("overwrite").save()
        assert key in _STORE, f"{name} no longer populates {key}"
        fits[name] = np.asarray(_STORE[key])
    assert fits["ann_ivf_topk"].tobytes() == fits["neardup_cosine_ivf"].tobytes()


def test_shared_value_freezes_numpy_results(spark):
    """Cached shared_value ndarrays are non-writable: an in-place edit by
    one consumer must raise, not corrupt every other query's fit."""
    import numpy as np
    import pytest

    from mapreduce_infrastructure_spark.llm.cache import shared_value
    from mapreduce_infrastructure_spark.session import _STORE, store_key

    key = "r17_freeze_probe"
    _STORE.pop(store_key(spark, key, ()), None)
    v = shared_value(spark, lambda: np.ones((2, 2)), key, ())
    with pytest.raises(ValueError):
        v[0, 0] = 5.0
    t = shared_value(spark, lambda: (np.ones(3), "sample"), key + "_t", ())
    with pytest.raises(ValueError):
        t[0][1] = 2.0
    assert t[1] == "sample"


def _old_jaccard_family(t):
    """The pre-round-17 all-pairs formulations of the exact-Jaccard tier,
    verbatim: ngram_jaccard_pairs, containment_pairs,
    minhash_estimate_error."""
    from mapreduce_infrastructure_spark.functions.exact import rnd
    from mapreduce_infrastructure_spark.llm import dedup as D

    a, b = t.alias("a"), t.alias("b")
    jac = rnd(
        F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
        / F.size(F.array_union("a.sh", "b.sh")),
        4,
    )
    old_ngram = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.lang").alias("lang"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.05)
    )
    cont = rnd(
        F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
        / F.size(F.col("a.sh")),
        4,
    )
    old_cont = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("contained_doc"),
            F.col("b.doc_id").alias("container_doc"),
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= 0.8)
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(D._CAL_PERMS - 1)),
        lambda i: F.array_min(
            F.transform(
                "sh",
                lambda s: F.conv(
                    F.substring(
                        F.md5(
                            F.concat(i.cast("string"), F.lit(":"), s).cast(
                                "binary"
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ),
    )
    sigt = t.select("doc_id", "lang", "sh", sig.alias("sig"))
    aa, bb = sigt.alias("a"), sigt.alias("b")
    jac2 = rnd(
        F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
        / F.size(F.array_union("a.sh", "b.sh")),
        4,
    )
    matches = F.aggregate(
        F.zip_with(
            "a.sig", "b.sig", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = matches.cast("double") / F.lit(D._CAL_PERMS)
    old_est = (
        aa.join(
            bb,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.lang").alias("lang"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac2.alias("jaccard"),
            est.alias("est_jaccard"),
            rnd(F.abs(est - jac2), 4).alias("abs_err"),
        )
        .filter(F.col("jaccard") >= 0.05)
    )
    return old_ngram, old_cont, old_est


def test_inverted_index_jaccard_family_matches_allpairs(spark):
    """The round-17 inverted-index rewrite of the exact-Jaccard tier
    (ngram_jaccard_pairs / containment_pairs / minhash_estimate_error via
    `_pair_intersections`) is row-for-row identical to the all-pairs
    array_intersect/array_union formulation it replaced, on the real
    fixture corpus."""
    from mapreduce_infrastructure_spark.llm import dedup as D

    t = D._shingle_table(spark, SF)
    old_ngram, old_cont, old_est = _old_jaccard_family(t)
    for old, new in (
        (old_ngram, D.ngram_jaccard_pairs(spark, SF)),
        (old_cont, D.containment_pairs(spark, SF)),
        (old_est, D.minhash_estimate_error(spark, SF)),
    ):
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0


def test_inverted_index_jaccard_family_edge_corpus(spark, tmp_path):
    """Edge corpus for the inverted-index rewrite: identical docs in the
    same lang (jaccard 1), identical text in DIFFERENT langs (must NOT
    pair — the lang block), a contained excerpt (directed containment),
    a too-short doc (no shingles — absent everywhere), and an unrelated
    doc (zero intersection — absent from output in both forms)."""
    from mapreduce_infrastructure_spark.llm import dedup as D

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base, "en"),
        (1, base, "en"),                    # dup of 0, same lang
        (2, base, "de"),                    # dup text, other lang: no pair
        (3, "alpha beta gamma delta", "en"),  # contained in 0/1
        (4, "xx yy", "en"),                 # < 3 tokens: no shingles
        (5, "one two three four five six seven", "en"),  # unrelated
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, t_, lg, "s", len(t_)) for i, t_, lg in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    t = D._doc_shingles(spark, sf)
    old_ngram, old_cont, old_est = _old_jaccard_family(t)
    new_ngram = D.ngram_jaccard_pairs(spark, sf)
    new_cont = D.containment_pairs(spark, sf)
    new_est = D.minhash_estimate_error(spark, sf)
    for old, new in (
        (old_ngram, new_ngram),
        (old_cont, new_cont),
        (old_est, new_est),
    ):
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0
    ng = {(r.doc_a, r.doc_b): r.jaccard for r in new_ngram.collect()}
    assert ng[(0, 1)] == 1.0
    assert (0, 2) not in ng and (1, 2) not in ng
    cont = {
        (r.contained_doc, r.container_doc): r.containment
        for r in new_cont.collect()
    }
    assert cont[(3, 0)] == 1.0 and cont[(3, 1)] == 1.0
    assert (0, 3) not in cont  # containment is directed
    assert not any(4 in p or 5 in p for p in list(ng) + list(cont))


def test_grain_dist_udf_matches_expression(spark):
    """The Arrow grain-distance kernel equals the DECIMAL(28,9) HOF fold
    bit-for-bit on real corpus pairs and on degenerate rows (null array,
    length mismatch, null element)."""
    from mapreduce_infrastructure_spark.llm import kmeans as K

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pts = emb.select(
        "vec_id",
        F.expr(
            f"transform(CAST(embedding AS ARRAY<DOUBLE>),"
            f" e -> floor(e * {K._G} + 0.5) / {K._G})"
        ).alias("x"),
    )
    cpts = pts.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("cid"), F.col("x").alias("c")
    )
    pairs = pts.crossJoin(F.broadcast(cpts))
    old = pairs.select("vec_id", "cid", F.expr(K._DIST_EXPR).alias("dist"))
    new = pairs.select("vec_id", "cid", K._dist_col().alias("dist"))
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0

    deg = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [1.5, 0.5]),
            (2, None, [1.0, 2.0]),
            (3, [1.0, 2.0], None),
            (4, [1.0, 2.0, 3.0], [1.0, 2.0]),   # length mismatch
            (5, [1.0, None], [1.0, 2.0]),        # null element
            (6, [], []),                          # empty arrays -> 0
        ],
        "vec_id int, x array<double>, c array<double>",
    )
    old_d = deg.select("vec_id", F.expr(K._DIST_EXPR).alias("dist"))
    new_d = deg.select("vec_id", K._dist_col().alias("dist"))
    assert old_d.exceptAll(new_d).count() == 0
    assert new_d.exceptAll(old_d).count() == 0


def test_kmeans_seeds_greedy_driver_matches_spark(spark):
    """The round-17 driver-side greedy weighted-farthest-first selection in
    kmeans_parallel_seeds must pick the exact seed sequence the Spark
    limit(1)-per-step formulation picked. Re-derive the Spark sequence from
    the same persisted candw/cdist frames and compare to the query output."""
    from mapreduce_infrastructure_spark.llm import kmeans as K

    out = {
        int(r["step"]): (int(r["cid"]), int(r["weight"]))
        for r in K.kmeans_parallel_seeds(spark, SF).collect()
    }
    # the tracked persists are still registered; rebuild the Spark-side
    # greedy from them (the pre-round-17 formulation, verbatim)
    from mapreduce_infrastructure_spark.session import _STORE, store_key

    candw = _STORE[store_key(spark, f"kmeans_seeds_candw:{SF}", ())]
    cdist = _STORE[store_key(spark, f"kmeans_seeds_cdist:{SF}", ())]
    first = candw.orderBy(F.col("w").desc(), "cid").limit(1).collect()
    chosen = [(int(first[0]["cid"]), 1)]
    for k in range(2, K.K + 1):
        ids = [c for c, _ in chosen]
        nxt = (
            candw.filter(~F.col("cid").isin(ids))
            .join(
                cdist.filter(F.col("cb").isin(ids)),
                F.col("cid") == F.col("ca"),
            )
            .groupBy("cid", "w")
            .agg(F.min("dist").alias("md"))
            .orderBy((F.col("md").cast("double") * F.col("w")).desc(), "cid")
            .limit(1)
            .collect()
        )
        if not nxt:
            break
        chosen.append((int(nxt[0]["cid"]), k))
    assert {s: c for c, s in chosen} == {s: c for s, (c, _w) in out.items()}


def test_parquet_footer_rows_matches_spark_count(spark, tmp_path):
    """Footer-metadata row count equals the distributed count for both
    fixture layouts: a single parquet file and a directory of part files."""
    from mapreduce_infrastructure_spark.catalog import parquet_footer_rows

    n_spark = S._vectors(spark, SF).count()
    assert parquet_footer_rows(SF, "embeddings") == n_spark

    # directory-of-parts layout (the tools/scale_check.py replica shape)
    d = tmp_path / "embeddings.parquet"
    spark.range(137).selectExpr("id AS vec_id").repartition(4).write.mode(
        "overwrite"
    ).parquet(str(d))
    assert parquet_footer_rows(str(tmp_path), "embeddings") == 137
