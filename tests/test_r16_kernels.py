"""Round-16 optimization equivalence pins.

The round-16 optimization pass replaced three interpreted
higher-order-function formulations with whole-stage-codegen'd equivalents
(see OPTIMIZATION_r16.md):

- `similarity._dot` on named columns → guarded unrolled product/sum chain,
- `similarity._cell_dists` → one parsed SQL expression with inlined
  centroid literals and guarded unrolled squared-L2 folds,
- `dedup._signatures` → explode + codegen'd xxhash64 + partial-agg min.

and the wave-3 pass moved the corpus-side IVF cell assignment and PQ
encoding onto Arrow kernels (`similarity._cells_topk_udf` /
`_pq_codes_udf`) that replicate the `_cell_dists` / `_sub_dists`
expression semantics per row.

Each claims BIT-IDENTICAL results (same IEEE ops, same fold order). These
tests pin that claim directly against the original HOF formulations, so a
future Spark upgrade or kernel edit that drifts by one ulp fails here, not
in a driver hash mismatch. The query-level partial oracles
(test_dedup_similarity.py) stand alongside, pinning the same values
against pure-python re-derivations.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mapreduce_infrastructure_spark.llm import dedup as D
from mapreduce_infrastructure_spark.llm import similarity as S


def _hof_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _hof_cell_dists(C, col):
    return F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        col,
                        F.array(*[F.lit(float(x)) for x in C[j]]),
                        lambda x, c: (x - c) * (x - c),
                    ),
                    F.lit(0.0),
                    lambda s, x: s + x,
                ).alias("dist"),
                F.lit(j).alias("cell"),
            )
            for j in range(len(C))
        ]
    )


def _hof_signatures(t, n_hashes=D.N_HASHES):
    hashed = t.select(
        "doc_id", "sh", F.transform("sh", lambda x: F.xxhash64(x)).alias("hs")
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda s: F.array_min(
            F.transform(F.col("hs"), lambda h: F.xxhash64(h, s))
        ),
    )
    return hashed.select("doc_id", sig.alias("sig"))


def _assert_same(a, b):
    """Exact multiset equality (bit-level for doubles: exceptAll compares
    binary row images)."""
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == b.count()


def test_unrolled_dot_matches_hof_fold_bitwise(spark, sf_dir):
    vecs = S._vectors(spark, sf_dir)
    a = vecs.select(
        F.col("vec_id").alias("ia"), F.col("d").alias("da")
    )
    b = vecs.select(F.col("vec_id").alias("ib"), F.col("d").alias("db"))
    j = a.join(b, F.col("ia") < F.col("ib"))
    fast = j.select("ia", "ib", S._dot("da", "db").alias("dot"))
    slow = j.select(
        "ia", "ib", _hof_dot(F.col("da"), F.col("db")).alias("dot")
    )
    _assert_same(fast, slow)


def test_unrolled_dot_guard_falls_back_on_short_arrays(spark):
    # A 3-wide array is not _EMB_DIM wide: the guard must route to the HOF
    # fold, whose null-padding semantics the unrolled chain cannot mimic.
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "id long, x array<double>, y array<double>"
    )
    fast = df.select(S._dot("x", "y").alias("dot"))
    slow = df.select(_hof_dot(F.col("x"), F.col("y")).alias("dot"))
    _assert_same(fast, slow)


def test_dot_lit_matches_hof_fold_bitwise(spark, sf_dir):
    vecs = S._vectors(spark, sf_dir)
    plane = S._hyperplanes()[0]
    plane_col = F.array(*[F.lit(v) for v in plane])
    fast = vecs.select("vec_id", S._dot_lit("d", plane).alias("m"))
    slow = vecs.select(
        "vec_id", _hof_dot(F.col("d"), plane_col).alias("m")
    )
    _assert_same(fast, slow)


def test_cell_dists_matches_hof_formulation_bitwise(spark, sf_dir):
    vecs = S._vectors(spark, sf_dir)
    C = S._fit_centroids_sample(vecs)
    fast = vecs.select("vec_id", S._cell_dists(C, "d").alias("cd"))
    slow = vecs.select("vec_id", _hof_cell_dists(C, "d").alias("cd"))
    _assert_same(fast, slow)


def test_cell_dists_literals_round_trip_exactly():
    # _lit_d must reproduce the exact double bits F.lit would have shipped.
    rng = np.random.default_rng(3)
    for v in list(rng.standard_normal(50)) + [0.0, -0.0, 1e-300, -1.5e17]:
        assert float(S._lit_d(float(v))[:-1]) == float(v)


def _hof_sub_dists(books, col):
    m_count, k_count, sub_dim = (int(s) for s in books.shape)
    B = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in books[m][c]])
                    for c in range(k_count)
                ]
            )
            for m in range(m_count)
        ]
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(m_count - 1)),
        lambda m: F.transform(
            F.element_at(B, m + 1),
            lambda cb, c: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.slice(F.col(col), m * sub_dim + 1, sub_dim),
                        cb,
                        lambda x, cc: (x - cc) * (x - cc),
                    ),
                    F.lit(0.0),
                    lambda s, x: s + x,
                ).alias("dist"),
                c.alias("code"),
            ),
        ),
    )


def test_sub_dists_matches_hof_formulation_bitwise(spark, sf_dir):
    vecs = S._vectors(spark, sf_dir)
    unit = vecs.select(
        "vec_id", F.transform("d", lambda x: x / F.col("nrm")).alias("u")
    )
    books = S._fit_pq_codebooks(unit)
    fast = unit.select("vec_id", S._sub_dists(books, "u").alias("sd"))
    slow = unit.select("vec_id", _hof_sub_dists(books, "u").alias("sd"))
    _assert_same(fast, slow)


def test_exploded_signatures_match_hof_formulation(spark, sf_dir):
    t = D._shingle_table(spark, sf_dir)
    fast = D._signatures(t)
    slow = _hof_signatures(t).select("doc_id", "sig")
    fa = fast.select("doc_id", F.posexplode("sig").alias("i", "v"))
    sl = slow.select("doc_id", F.posexplode("sig").alias("i", "v"))
    _assert_same(fa, sl)


def _zipwith_shingles(toks, n=3):
    m = F.size(toks) - (n - 1)
    zipped = F.slice(toks, 1, m)
    for j in range(1, n):
        zipped = F.zip_with(
            zipped, F.slice(toks, j + 1, m), lambda x, y: F.concat_ws(" ", x, y)
        )
    return F.array_distinct(
        F.when(F.size(toks) >= n, zipped).otherwise(
            F.array().cast("array<string>")
        )
    )


def test_regex_shingles_match_zipwith_formulation(spark, sf_dir):
    from mapreduce_infrastructure_spark.catalog import load_table
    from mapreduce_infrastructure_spark.llm.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    fast = docs.select(
        "doc_id", D.shingles_col(tokens_col()).alias("sh")
    )
    slow = docs.select("doc_id", _zipwith_shingles(tokens_col()).alias("sh"))
    _assert_same(fast, slow)


def test_regex_shingles_edge_cases(spark):
    # short docs (0/1/2 tokens), exact-n docs, repeated shingles, and a
    # token set exercising digits — all under the tokens_col contract
    # (space-free [a-z0-9]+ tokens).
    rows = [
        (1, []),
        (2, ["a"]),
        (3, ["a", "b"]),
        (4, ["a", "b", "c"]),
        (5, ["a", "b", "a", "b", "a", "b"]),
        (6, ["x1", "y2", "z3", "x1", "y2", "z3"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    fast = df.select("doc_id", D.shingles_col(F.col("toks")).alias("sh"))
    slow = df.select("doc_id", _zipwith_shingles(F.col("toks")).alias("sh"))
    _assert_same(fast, slow)
    got = {r.doc_id: r.sh for r in fast.collect()}
    assert got[1] == got[2] == got[3] == []
    assert got[4] == ["a b c"]
    assert got[5] == ["a b a", "b a b"]
    assert got[6] == ["x1 y2 z3", "y2 z3 x1", "z3 x1 y2"]


def test_regex_shingles_null_token_array_yields_empty(spark):
    # Wave 4 replaced the when(size(toks) >= n, ...) short-doc guard with
    # coalesce(rx, []) so the interpreted tokens_col expression is evaluated
    # once per document, not twice. The only input where the two forms could
    # diverge is a NULL token array (NULL propagates through array_join /
    # regexp_extract_all and must coalesce back to the guard's empty array).
    rows = [(1, None), (2, ["a", "b", "c"])]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    for n in (2, 3, 5):
        fast = df.select("doc_id", D.shingles_col(F.col("toks"), n).alias("sh"))
        guarded = df.select(
            "doc_id",
            F.array_distinct(
                F.when(
                    F.size("toks") >= n,
                    D.shingles_col(F.col("toks"), n),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("sh"),
        )
        _assert_same(fast, guarded)
        got = {r.doc_id: r.sh for r in fast.collect()}
        assert got[1] == []


def test_regex_shingles_n_param_matches_zipwith(spark):
    rows = [(1, ["a", "b", "c", "d", "e", "f"])]
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    for n in (2, 4, 5):
        fast = df.select(D.shingles_col(F.col("toks"), n).alias("sh"))
        slow = df.select(_zipwith_shingles(F.col("toks"), n).alias("sh"))
        _assert_same(fast, slow)


def test_sample_matrix_matches_row_collect(spark, sf_dir):
    vecs = S._vectors(spark, sf_dir)
    X = S._sample_matrix(vecs, "d")
    rows = vecs.orderBy("vec_id").limit(S._IVF_SAMPLE).select("d").collect()
    ref = np.array([r.d for r in rows])
    assert np.array_equal(X, ref) and X.dtype == ref.dtype


def _hof_as_double(col):
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _hof_norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x
        )
    )


def test_as_double_cast_matches_transform_bitwise(spark, sf_dir):
    from mapreduce_infrastructure_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    fast = emb.select("vec_id", S._as_double("embedding").alias("d"))
    slow = emb.select("vec_id", _hof_as_double("embedding").alias("d"))
    _assert_same(fast, slow)


def test_as_double_cast_null_and_empty_semantics(spark):
    df = spark.createDataFrame(
        [(1, [1.5, None, 3.25]), (2, None), (3, [])],
        "id long, e array<float>",
    )
    fast = df.select("id", S._as_double("e").alias("d"))
    slow = df.select("id", _hof_as_double("e").alias("d"))
    _assert_same(fast, slow)
    got = {r.id: r.d for r in fast.collect()}
    assert got[1] == [1.5, None, 3.25] and got[2] is None and got[3] == []


def test_unrolled_norm_matches_hof_fold_bitwise(spark, sf_dir):
    from mapreduce_infrastructure_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", S._as_double("embedding").alias("d"))
    fast = base.select("vec_id", S._norm("d").alias("nrm"))
    slow = base.select("vec_id", _hof_norm(F.col("d")).alias("nrm"))
    _assert_same(fast, slow)


def test_unrolled_norm_guard_falls_back_on_short_arrays(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, None), (3, [])], "id long, d array<double>"
    )
    fast = df.select("id", S._norm("d").alias("nrm"))
    slow = df.select("id", _hof_norm(F.col("d")).alias("nrm"))
    _assert_same(fast, slow)


def test_unrolled_unit_matches_transform_bitwise(spark, sf_dir):
    vecs = S._vectors(spark, sf_dir)
    fast = vecs.select("vec_id", S._unit().alias("u"))
    slow = vecs.select(
        "vec_id", F.transform("d", lambda x: x / F.col("nrm")).alias("u")
    )
    _assert_same(fast, slow)


def test_unrolled_unit_guard_falls_back_on_short_arrays(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0], 5.0), (2, None, 1.0), (3, [1.0], None)],
        "id long, d array<double>, nrm double",
    )
    fast = df.select("id", S._unit().alias("u"))
    slow = df.select(
        "id", F.transform("d", lambda x: x / F.col("nrm")).alias("u")
    )
    _assert_same(fast, slow)


def _kmeanspp_recompute(X, k, rng):
    # The pre-round-16 seeding loop: min-distance recomputed against the
    # full centroid list per draw.
    C = [X[rng.integers(len(X))]]
    for _ in range(k - 1):
        d2 = np.min(
            ((X[:, None, :] - np.array(C)[None, :, :]) ** 2).sum(axis=2),
            axis=1,
        )
        p = d2 / d2.sum() if d2.sum() > 0 else None
        C.append(X[rng.choice(len(X), p=p)])
    return np.array(C)


def test_kmeanspp_incremental_matches_recompute_bitwise(spark, sf_dir):
    vecs = S._vectors(spark, sf_dir)
    X = S._sample_matrix(vecs, "d")
    for k, seed in ((S._IVF_CELLS, 7), (S._PQ_K, 11)):
        a = _kmeanspp_recompute(X, k, np.random.default_rng(seed))
        b = S._kmeanspp_seeds(X, k, np.random.default_rng(seed))
        assert np.array_equal(a, b)
    # subspace shape (PQ/OPQ), duplicate rows, and the all-identical
    # degenerate corpus (d2 sums to 0 → uniform draw) — same rng stream.
    rng = np.random.default_rng(5)
    Xs = rng.standard_normal((513, 8))
    Xs[7] = Xs[3]
    assert np.array_equal(
        _kmeanspp_recompute(Xs, 16, np.random.default_rng(1)),
        S._kmeanspp_seeds(Xs, 16, np.random.default_rng(1)),
    )
    Xc = np.ones((64, 4))
    assert np.array_equal(
        _kmeanspp_recompute(Xc, 5, np.random.default_rng(2)),
        S._kmeanspp_seeds(Xc, 5, np.random.default_rng(2)),
    )


def test_signatures_row_count_and_width(spark, sf_dir):
    t = D._shingle_table(spark, sf_dir)
    sig = D._signatures(t)
    assert sig.count() == t.count()  # the added groupBy drops no documents
    widths = sig.select(F.size("sig").alias("w")).distinct().collect()
    assert [r.w for r in widths] == [D.N_HASHES]


# --- wave-3 Arrow kernels: IVF cell assignment and PQ encoding -----------
#
# _cells_topk_udf / _pq_codes_udf (llm/similarity.py) claim bit-identical
# results to the _cell_dists / _sub_dists expression formulations they
# replaced on the corpus side: same per-dimension IEEE fold order, stable
# (dist, cell/code) argsort = array_min/array_sort struct order, and the
# same cell-0 fallback on rows the expressions null out. Pin both the real
# corpus and the degenerate shapes.


def _expr_cells_topn(C, col, n):
    return F.transform(
        F.slice(F.array_sort(S._cell_dists(C, col)), 1, n), lambda s: s["cell"]
    )


def _expr_pq_codes(books, col):
    return F.transform(
        S._sub_dists(books, col), lambda per_m: F.array_min(per_m)["code"]
    )


def test_cells_topk_udf_matches_expression(spark, sf_dir):
    vecs = S._vectors(spark, sf_dir)
    C = S._fit_centroids_sample(vecs)
    for n in (1, 2, 3):
        fast = vecs.select("vec_id", S._cells_topk_udf(C, n)("d").alias("c"))
        slow = vecs.select("vec_id", _expr_cells_topn(C, "d", n).alias("c"))
        _assert_same(fast, slow)
    # n=1 must also equal the array_min form ann_ivf/Lloyd actually use.
    one = vecs.select(
        "vec_id", F.element_at(S._cells_topk_udf(C, 1)("d"), 1).alias("c")
    )
    amin = vecs.select(
        "vec_id", F.array_min(S._cell_dists(C, "d"))["cell"].alias("c")
    )
    _assert_same(one, amin)


def test_cells_topk_udf_degenerate_rows(spark):
    # Rows the expression form nulls out (null array, wrong length, null or
    # NaN element) must fall through to the same cell-order tiebreak.
    C = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.5, 0.5, 0.5]])
    rows = [
        (1, [1.0, 0.0, 0.0]),          # clean: nearest cell 0
        (2, None),                      # null array
        (3, [1.0, 0.0]),                # short
        (4, [1.0, 0.0, 0.0, 9.0]),      # long
        (5, [1.0, None, 0.0]),          # null element
        (6, [1.0, float("nan"), 0.0]),  # NaN element
        (7, []),                        # empty
        (8, [0.4, 0.6, 0.5]),           # clean: nearest cell 2
    ]
    df = spark.createDataFrame(rows, "id long, x array<double>")
    for n in (1, 2, 3):
        fast = df.select("id", S._cells_topk_udf(C, n)("x").alias("c"))
        slow = df.select("id", _expr_cells_topn(C, "x", n).alias("c"))
        _assert_same(fast, slow)
    got = {r.id: r.c for r in df.select(
        "id", S._cells_topk_udf(C, 2)("x").alias("c")).collect()}
    assert got[1][0] == 0 and got[8][0] == 2
    for bad in (2, 3, 4, 5, 6, 7):
        assert got[bad] == [0, 1]  # the expression family's tiebreak order


def test_pq_codes_udf_matches_expression(spark, sf_dir):
    vecs = S._vectors(spark, sf_dir)
    unit = vecs.select("vec_id", S._unit().alias("u"))
    books = S._fit_pq_codebooks(unit)
    fast = unit.select("vec_id", S._pq_codes_udf(books)("u").alias("codes"))
    slow = unit.select("vec_id", _expr_pq_codes(books, "u").alias("codes"))
    _assert_same(fast, slow)


def test_pq_codes_udf_degenerate_rows(spark):
    # Per-subspace semantics: a short row still encodes its complete lower
    # subspaces (code 0 only for the truncated ones); null/NaN elements
    # poison exactly their own subspace; extra elements are ignored.
    books = np.array(
        [
            [[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]],   # m=0: 3 codes, dim 2
            [[0.0, 1.0], [1.0, 0.0], [5.0, 5.0]],   # m=1
        ]
    )
    rows = [
        (1, [1.0, 1.0, 1.0, 0.0]),           # clean → [1, 1]
        (2, None),                            # null array
        (3, []),                              # empty
        (4, [2.0, 2.0, 5.0]),                 # short: m0 full, m1 truncated
        (5, [0.0, 0.0, None, 5.0]),           # null element in m1
        (6, [float("nan"), 0.0, 5.0, 5.0]),   # NaN in m0
        (7, [1.0, 1.0, 1.0, 0.0, 99.0]),      # long: extra dim ignored
    ]
    df = spark.createDataFrame(rows, "id long, u array<double>")
    fast = df.select("id", S._pq_codes_udf(books)("u").alias("codes"))
    slow = df.select("id", _expr_pq_codes(books, "u").alias("codes"))
    _assert_same(fast, slow)
    got = {r.id: list(r.codes) for r in fast.collect()}
    assert got[1] == [1, 1]
    assert got[2] == got[3] == [0, 0]
    assert got[4] == [2, 0]      # m0 encodes, truncated m1 → code 0
    assert got[5] == [0, 0]      # m1 poisoned by its null
    assert got[6][0] == 0 and got[6][1] == 2  # only m0 poisoned by NaN
    assert got[7] == [1, 1]


# --- wave-5: single-parse plan construction and session-shared fits ------


def test_sql_band_explode_matches_column_api(spark, sf_dir):
    # minhash_lsh_pairs builds its band explode as one parsed SQL string
    # (wave 5); pin it against the Column-API lambda formulation it
    # replaced — same transform/struct/slice tree, same xxhash64 values.
    sig = D._signatures(D._shingle_table(spark, sf_dir))
    fast = sig.selectExpr(
        "doc_id",
        f"explode(transform(sequence(0, {D.LSH_BANDS - 1}), "
        f"b -> struct(b AS band_id, xxhash64(slice(sig, "
        f"b * {D.LSH_ROWS} + 1, {D.LSH_ROWS})) AS band_hash))) AS band",
    ).selectExpr("doc_id", "band.band_id AS band_id",
                 "band.band_hash AS band_hash")
    slow = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(D.LSH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(
                        F.slice(F.col("sig"), b * D.LSH_ROWS + 1, D.LSH_ROWS)
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", F.col("band.band_id").alias("band_id"),
             F.col("band.band_hash").alias("band_hash"))
    _assert_same(fast, slow)


def test_shared_value_computes_once_per_slot_and_app(spark):
    from mapreduce_infrastructure_spark.llm import cache as C
    from mapreduce_infrastructure_spark.session import _STORE, store_key

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return object()

    slot = "test_shared_value_slot_r16w5"
    key = store_key(spark, slot)
    _STORE.pop(key, None)
    try:
        a = C.shared_value(spark, build, slot)
        b = C.shared_value(spark, build, slot)
        assert a is b
        assert calls["n"] == 1
        # a different slot builds independently
        key2 = store_key(spark, slot + "2")
        _STORE.pop(key2, None)
        c = C.shared_value(spark, build, slot + "2")
        assert calls["n"] == 2
        assert c is not a
    finally:
        _STORE.pop(key, None)
        _STORE.pop(store_key(spark, slot + "2"), None)


def test_shared_value_caches_a_none_result(spark):
    """A build() that returns None is a value, not a miss: it runs once
    per slot and application id like any other build."""
    from mapreduce_infrastructure_spark.llm import cache as C
    from mapreduce_infrastructure_spark.session import _STORE, store_key

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return None

    slot = "test_shared_value_none_slot"
    key = store_key(spark, slot)
    _STORE.pop(key, None)
    try:
        assert C.shared_value(spark, build, slot) is None
        assert C.shared_value(spark, build, slot) is None
        assert calls["n"] == 1
    finally:
        _STORE.pop(key, None)


def test_shared_persist_builds_once_for_racing_threads(spark):
    """Two driver threads asking for one fresh shared_persist slot at once
    build and persist it once and get the same frame: a second persisted
    copy would sit in the session cache with no slot to unpersist it."""
    import threading
    import time

    from mapreduce_infrastructure_spark.llm import cache as C
    from mapreduce_infrastructure_spark.session import _STORE, store_key

    slot = "test_shared_persist_race_slot"
    _STORE.pop(store_key(spark, slot), None)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    calls = []
    out = [None, None]
    barrier = threading.Barrier(2, timeout=60)

    def build():
        calls.append(1)
        time.sleep(0.5)
        # a distinct plan per building thread, so the cache manager cannot
        # fold two persisted copies into one entry
        return spark.range(8).withColumn("t", F.lit(threading.get_ident()))

    def worker(i):
        barrier.wait()
        out[i] = C.shared_persist(spark, build, slot)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    try:
        assert not any(t.is_alive() for t in threads)
        for df in out:
            df.count()
        assert len(calls) == 1
        assert out[0] is out[1]
        assert jsc.getPersistentRDDs().size() - before <= 1
    finally:
        for df in out:
            if df is not None:
                df.unpersist()
        _STORE.pop(store_key(spark, slot), None)
