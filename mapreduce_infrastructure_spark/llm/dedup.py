"""Deduplication operators over `documents` (north-star, BASELINE.json).

Four tiers, as a training-data pipeline needs them:

- exact          — fingerprint group-by (`dedup_exact`, oracle-checked)
- n-gram Jaccard — exact pairwise similarity within blocking keys
                   (`ngram_jaccard_pairs`, oracle-checked)
- MinHash + LSH  — the 100 TB scale path: signature → band → bucket join →
                   verify (`minhash_lsh_pairs`, self-validated in tests)
- SimHash        — bitwise fingerprints + banded Hamming search
                   (`simhash_neardup_pairs`, self-validated in tests)

Scale design: nothing here is O(n²) except the *verification* of
LSH-generated candidates (and the explicitly-exact ngram query, which
documents its blocking key). All joins shuffle on band/bucket hashes; all
hashing is seeded and deterministic (Spark's xxhash64 with per-signature
seed columns), so results are stable across runs and cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..catalog import load_table, table_paths
from ..functions.exact import rnd
from ..functions.ranks import bucketed_prefix_sum, ntile_from_rank
from ..registry import query
from .text import quality_keep_col, quality_keep_sql, tokens_col

# Persisted working sets and candidate indexes, one slot per (query,
# sf_dir), keyed by the fingerprint of the table they read (see
# llm/cache.py).
from .cache import shared_persist, tracked_persist as _tracked_persist

# --------------------------------------------------------------------------
# Shingling
# --------------------------------------------------------------------------


def shingles_col(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token-array column (empty array for
    docs shorter than n). Pure codegen'd expression — no UDF.

    Round 16: one overlapping-window regex pass over the space-joined token
    string — at each token start a zero-width lookahead captures the next n
    tokens, then the match consumes one token, so windows overlap. The
    regexp runs inside whole-stage codegen; the previous zip_with-over-
    n-slices formulation went through the interpreted higher-order-function
    evaluator per element and measured 2.3× slower warm (0.71 s vs 0.31 s
    per sf0.1 corpus pass) and 5× slower on the session's first pass.
    Output strings, order and the final array_distinct are bit-identical
    (pinned vs the zip_with reference in tests/test_r16_kernels.py; the
    shared DuckDB oracle fragments state the same concatenation).

    CONTRACT (newly explicit, satisfied by every call site): tokens are
    non-empty and contain no whitespace — true by construction for
    `tokens_col` ([a-z0-9]+ runs). A token column violating that must use a
    joiner character that cannot appear in tokens.

    ``toks`` is referenced exactly ONCE (round 16 wave 4): call sites pass
    the ``tokens_col()`` expression — an interpreted higher-order
    ``filter`` — and codegen's subexpression elimination does not merge a
    conditional guard's ``size(toks)`` with the branch's ``array_join(toks)``,
    so the old ``when(size(toks) >= n, rx)`` short-doc guard tokenized every
    document twice. ``coalesce(rx, [])`` is exactly equivalent: with fewer
    than n tokens the lookahead can never match (rx = []), and a NULL token
    array propagates NULL through array_join/regexp_extract_all which
    coalesce maps to the same empty array the guard produced. Pinned on
    edge corpora (null/empty/punctuation-only/1..n-1 tokens) under both
    ANSI modes for n∈{2..5}; measured 0.33→0.26 s per sf0.1 corpus pass
    (one fewer interpreted tokenize per document).

    (History: a per-index transform(sequence(...)) form was rejected first
    — it embeds ``toks`` once per element with no common-subexpression
    elimination inside HOF lambdas, O(tokens²) re-splitting per document;
    then the zip_with form, now replaced by the regex.)
    """
    window = " ".join([r"\S+"] * n)
    rx = F.regexp_extract_all(
        F.array_join(toks, " "), F.lit(f"(?=({window}))\\S+( |$)"), 1
    )
    return F.array_distinct(F.coalesce(rx, F.array().cast("array<string>")))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", shingles_col(tokens_col()).alias("sh")
    ).filter(F.size("sh") > 0)


def _shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, lang, sh) distinct-shingle table, get-or-created under
    ONE sf_dir-keyed slot (shared_persist) so the dedup tier's consumers
    (Jaccard/containment pairs, MinHash, cluster edges, PPJoin) share a
    single cached copy per version of ``documents`` — tracked_persist
    under a common slot would unpersist the materialized copy and force
    every consumer to re-tokenize and re-shingle the corpus."""
    return shared_persist(
        spark,
        lambda: _doc_shingles(spark, sf_dir),
        f"shingles:{sf_dir}",
        table_paths(sf_dir, "documents"),
    )


def _gram_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded (doc_id, source, gram) distinct-3-gram incidence table,
    get-or-created under ONE sf_dir-keyed slot so its consumers
    (``ngram_novelty_ratio``, ``source_novelty_trend``,
    ``ngram_idf_weighted_novelty``) genuinely share a single corpus-scale
    cached copy per session: the second and later consumers receive the
    already-materialized frame instead of re-registering (and therefore
    recomputing) an identical cold plan."""
    return shared_persist(
        spark,
        lambda: load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", shingles_col(tokens_col()).alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", "source", F.explode("sh").alias("g")),
        f"gram_incidence:{sf_dir}",
        table_paths(sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def content_fp() -> F.Column:
    """THE content fingerprint: md5 over the text's UTF-8 bytes — one
    definition for every dedup-tier consumer (exact dedup, dup-mass
    attribution, cross-source matrix, cluster histogram, incremental
    batch dedup), byte-identical to the oracles' ``md5(text)``. A
    future change (e.g. normalizing text first) lands everywhere at
    once instead of silently desynchronizing the keeper conventions the
    docstrings promise to share."""
    return F.md5(F.col("text").cast("binary"))



@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a content fingerprint, keeping the
    smallest doc_id per group (deterministic, unlike dropDuplicates' pick).
    One shuffle on the fingerprint; at 100 TB this is the cheapest dedup
    tier and runs before any near-dup pass."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(content_fp().alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (blocked)
# --------------------------------------------------------------------------

_NGRAM_ORACLE = """
    WITH t AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc_id, lang,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents)
    )
    SELECT a.lang,
           a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh)))) * 10000 + 0.5) / 10000 AS jaccard
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(a.sh) > 0 AND len(b.sh) > 0
      AND floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / len(list_distinct(list_concat(a.sh, b.sh)))) * 10000 + 0.5) / 10000 >= 0.05
"""


@query("ngram_jaccard_pairs", oracle=_NGRAM_ORACLE, tags=("dedup", "join"))
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard similarity for document pairs within a
    blocking key (lang). Deliberately exact — the ground truth the LSH tier
    is validated against. The `lang` block bounds the quadratic term; at
    100 TB the blocking key must be finer (LSH buckets — see
    minhash_lsh_pairs) but the verify step is this same expression.

    Shape (round 17): intersection counts via the exploded INVERTED-INDEX
    join (`_pair_intersections`) instead of the all-pairs self-join that
    shipped both documents' full shingle arrays through the join and ran
    array_intersect/array_union per pair — 172 s → ~2 s at sf0.1, same
    rows bit-for-bit (set algebra on distinct arrays:
    |A∪B| = |A| + |B| − |A∩B|; zero-intersection pairs have jaccard 0 and
    can never pass the 0.05 floor, so dropping them is exact)."""
    pairs = _pair_intersections(_shingle_table(spark, sf_dir))
    jac = rnd(
        F.col("inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("inter")),
        4,
    )
    return pairs.select(
        "lang", "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= 0.05)


def _pair_intersections(t: DataFrame, directed: bool = False) -> DataFrame:
    """Per-pair DISTINCT-shingle intersection counts via the inverted-index
    join (guide §8: shuffle postings, not payloads): explode each document's
    distinct shingles to (lang, doc, n, shingle) rows, self-join on
    (lang, shingle), and count rows per pair — exactly
    ``size(array_intersect(a.sh, b.sh))`` because the arrays are distinct,
    so each shared shingle contributes exactly one joined row. Returns
    (lang, doc_a, doc_b, na, nb, inter); pairs with an EMPTY intersection
    do not appear (every caller's threshold excludes them anyway).

    vs the previous all-pairs formulation (self-join on lang with
    array_intersect/array_union per pair): the exchange carries one small
    posting row per (doc, shingle) instead of two full shingle-array
    payloads per PAIR, and total work is output-sensitive
    (Σ_shingle cnt²) instead of unconditionally quadratic in the lang
    block. The boilerplate-shingle skew class this introduces is the same
    one the LSH band tier already handles; at 100 TB the candidate
    generator is the LSH path, and this exact tier runs on sampled blocks.
    ``directed=True`` emits both (a,b) and (b,a) for containment."""
    ex = t.select(
        "lang", "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    a = ex.select(
        "lang",
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        "s",
    )
    b = ex.select(
        F.col("lang").alias("lang_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("s_b"),
    )
    pair_cond = (
        (F.col("doc_a") != F.col("doc_b"))
        if directed
        else (F.col("doc_a") < F.col("doc_b"))
    )
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("s") == F.col("s_b"))
            & pair_cond,
        )
        .groupBy("lang", "doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


_CAL_PERMS = 16  # independently md5-salted calibration permutations (see below)


@query(
    "minhash_estimate_error",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc_id, lang,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents)
    ), sig AS (
      SELECT doc_id, lang, sh,
             list_transform(range(0, 16), i ->
               list_min(list_transform(sh, s ->
                 CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || s), 1, 15)
                      AS BIGINT)))) AS sig
      FROM t WHERE len(sh) > 0
    ), pairs AS (
      SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
             floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.sh, b.sh)))) * 10000 + 0.5)
               / 10000 AS jaccard,
             CAST(len(list_filter(range(1, 17), k -> a.sig[k] = b.sig[k]))
                  AS DOUBLE) / 16 AS est_jaccard
      FROM sig a JOIN sig b ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT lang, doc_a, doc_b, jaccard, est_jaccard,
           floor(abs(est_jaccard - jaccard) * 10000 + 0.5) / 10000 AS abs_err
    FROM pairs WHERE jaccard >= 0.05
    """,
    tags=("dedup", "minhash", "stats", "llm"),
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration telemetry: for every exact-Jaccard ground-truth
    pair (the `ngram_jaccard_pairs` set), the MinHash ESTIMATE of the
    same Jaccard (matching-position share of a 16-permutation signature)
    and its absolute error — the per-pair evidence behind choosing
    N_HASHES/band geometry: if errors at the 0.5 verify threshold exceed
    the binomial envelope, the LSH tier's recall math is off.

    Unlike the production signatures (xxhash64-seeded,
    `_signatures` — not reproducible in SQL), these permutations
    are 16 INDEPENDENTLY-SALTED md5 hashes — h_i(s) = first 15 hex
    digits of md5(i || ':' || s) as a 60-bit integer — which BOTH
    engines compute bit-identically, making this the repo's only
    hash-certifiable MinHash: the estimator itself is under the
    differential oracle, not just under recall tests. (A one-md5
    Kirsch-Mitzenmacher variant h1 + i·h2 was tried first and REJECTED:
    min over linear combinations correlates across i — one shingle with
    small h1 AND h2 wins every permutation, and a measured 0.03-Jaccard
    pair estimated at 0.56. KM is fine for Bloom membership, not for
    minwise agreement.) Estimates are exact multiples of 1/16
    (representable doubles), so est, jaccard (rounded 1e-4) and their
    difference are bit-stable.

    Scale shape: the signature pass is linear (16 md5s per shingle, all
    codegen'd HOFs — no UDF, no shuffle; the honest price of SQL-
    mirrorable independence); the pair set is the deliberately-exact
    lang-blocked ground-truth tier (same bound as `ngram_jaccard_pairs`
    — at 100 TB calibration runs on a sampled block, production
    candidates come from the xxhash64 LSH path)."""
    t = _shingle_table(spark, sf_dir)
    # Round 17: the exact-Jaccard pair set comes from the inverted-index
    # plan (see ngram_jaccard_pairs / _pair_intersections — this query
    # previously paid the same all-pairs payload join, 194 s at sf0.1),
    # and the 16-permutation signatures are computed ONLY for documents
    # that survive the 0.05 floor (a semi-join on the tiny qualified-pair
    # set) instead of for the whole corpus — the md5 bank and the
    # zip_with match-count fold are the ORIGINAL expressions verbatim,
    # evaluated on strictly fewer rows, so every emitted value is
    # bit-identical.
    pairs = _pair_intersections(t)
    jac_val = rnd(
        F.col("inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("inter")),
        4,
    )
    qualified = pairs.select(
        "lang", "doc_a", "doc_b", jac_val.alias("jaccard")
    ).filter(F.col("jaccard") >= 0.05)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(_CAL_PERMS - 1)),
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
    members = qualified.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sigt = t.join(members, "doc_id").select(
        "doc_id", sig.alias("sig")
    )
    sig_a = sigt.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    sig_b = sigt.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    matches = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = matches.cast("double") / F.lit(_CAL_PERMS)
    return (
        qualified.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "lang",
            "doc_a",
            "doc_b",
            "jaccard",
            est.alias("est_jaccard"),
            rnd(F.abs(est - F.col("jaccard")), 4).alias("abs_err"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# --------------------------------------------------------------------------

N_HASHES = 32
LSH_BANDS = 16  # r = 2 rows/band: P(candidate) = 1-(1-j^2)^16 (~0.99 at j=0.5)
LSH_ROWS = N_HASHES // LSH_BANDS
VERIFY_THRESHOLD = 0.5
# Hot-band cap: a band bucket with > HOT_BAND_CAP docs (boilerplate corpora
# — headers, licenses, templated pages — collapse into a handful of band
# hashes) would make the bucket self-join emit O(bucket²) candidate pairs;
# AQE skew-split spreads the shuffle but cannot shrink the join's OUTPUT.
# Each bucket keeps its HOT_BAND_CAP lowest doc_ids (deterministic), the
# rest are dropped from THAT band only — the same pair usually re-forms in
# one of the other 15 bands, and the drop is reported loudly (warning with
# bucket/doc counts), never silent.
HOT_BAND_CAP = 1_000


def _signatures(t: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """doc_id, sig: array<long> of N_HASHES minhash values.

    sig[i] = min over shingles s of xxhash64(xxhash64(s), i): each shingle
    string is hashed to a long exactly once, and the n "permutations" are
    cheap fixed-width long re-hashes (xxhash64 with the signature index as
    the second argument) — no 64-bit multiply overflow under ANSI mode.

    Shape (round 16): explode the shingle array and fold the n mins as ONE
    partial+final HashAggregate instead of evaluating a nested
    higher-order-function expression per document. Higher-order functions
    (transform/array_min) are interpreted, not codegen'd — the per-row HOF
    form cost ~1.3 s at sf0.1 (5k docs × 260k shingles × 32 hashes through
    the expression interpreter) vs ~0.3 s for this exploded form, whose
    xxhash64 calls and min() updates are all whole-stage-codegen'd
    (measured bit-identical, tools-gated). The min() aggregates combine
    map-side, so the added shuffle carries only docs × n longs — strictly
    fewer bytes than the shingle arrays it replaces on the wire at 100 TB.
    (An earlier n-aliased-HOF variant made codegen emit a ~megabyte method
    whose Janino compile dominated small-scale runtime; the n plain min()
    columns here each codegen a single call, so the method stays small.)

    Wave 5: the n min() aggregates and the array re-assembly are generated
    as ONE SQL string and parsed in a single round-trip instead of ~4·n
    py4j Column calls — the parsed tree is the identical Aggregate (the
    array is built in the aggregate's result expressions rather than a
    collapsed-away Project; integer literals parse to the same IntegerType
    F.lit produced), measured 0.49–0.62 s → 0.06–0.22 s of plan
    construction per invocation at n=32 and pinned exceptAll-equal to the
    Column-API form (tests/test_r16_kernels.py).
    """
    hashed = t.select("doc_id", F.explode("sh").alias("s")).selectExpr(
        "doc_id", "xxhash64(s) AS h"
    )
    sig = (
        "array("
        + ", ".join(f"min(xxhash64(h, {i}))" for i in range(n_hashes))
        + ") AS sig"
    )
    return hashed.groupBy("doc_id").agg(F.expr(sig))


@query("minhash_signatures", tags=("dedup", "minhash"))
def minhash_signatures(
    spark: SparkSession, sf_dir: str, include_array: bool = False
) -> DataFrame:
    """Per-document 32-hash MinHash signature (first 4 exposed, plus a
    single-long ``sig_digest`` = xxhash64 of the full array). The raw
    ``array<long>`` column is NOT in the default projection: the driver's
    canonicalizer sorts rows column-wise and array cells are unhashable
    there; the digest pins full-array equality up to 64-bit hash collisions
    (xxhash64 is non-cryptographic — digest equality is necessary, not
    sufficient, for element-wise equality). Tests pass ``include_array=True``
    to assert determinism over every element directly.
    Deterministic but engine-specific hashing → no SQL oracle (DuckDB has no
    xxhash64 builtin); since round 14 a PARTIAL ORACLE pins the full chain
    anyway: a pure-python XXH64 reference (spec-vector-validated) recomputes
    40 docs' signatures from the raw parquet text and matches every element,
    mh column and digest token-for-token
    (tests/test_dedup_similarity.py::test_minhash_signatures_partial_oracle_pure_python_xxh64);
    invariants (signature equality tracks Jaccard) are asserted alongside."""
    sig = _signatures(_doc_shingles(spark, sf_dir))
    cols = [
        F.col("doc_id"),
        F.element_at("sig", 1).alias("mh_0"),
        F.element_at("sig", 2).alias("mh_1"),
        F.element_at("sig", 3).alias("mh_2"),
        F.element_at("sig", 4).alias("mh_3"),
        F.xxhash64("sig").alias("sig_digest"),
    ]
    if include_array:
        cols.append(F.col("sig").alias("signature"))
    return sig.select(*cols)


def _cap_hot_bands(bands: DataFrame, cap: int) -> tuple[DataFrame, tuple]:
    """Bound every (band_id, band_hash) bucket to ``cap`` docs before the
    bucket self-join (SURVEY §7's "salted keys for skew" risk, applied to
    LSH): keep the ``cap`` lowest doc_ids per bucket (deterministic under
    any partitioning) and drop the rest FROM THAT BAND ONLY. Returns the
    capped band table and the truncation census ``(buckets, dropped)``.
    The one extra aggregation runs on the already-persisted band table and
    collects a single row; it runs once per version of the corpus, as part
    of the band index (`_band_index`), and `_warn_hot_bands` reports a
    non-zero census on every call that reads it, so recall loss is
    visible, never silent."""
    if not cap or cap <= 0:
        return bands, (0, 0)
    # Detection first, via groupBy count (map-side partial agg on the
    # persisted band table — far cheaper than a window sort); the window
    # row_number pass runs ONLY when a hot bucket actually exists, so the
    # common healthy-corpus case pays one cheap aggregate and no re-sort.
    [hot] = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.coalesce(F.sum(F.col("n") - cap), F.lit(0)).alias("dropped"),
        )
        .collect()
    )
    census = (int(hot.buckets), int(hot.dropped))
    if not hot.dropped:
        return bands, census
    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_hash").orderBy("doc_id")
    capped = (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    # The caller self-joins this result; without a persist the row_number
    # window recomputes for BOTH join sides. Only reached when truncation
    # actually occurred, so the healthy-corpus path pays nothing.
    return capped.persist(), census


def _warn_hot_bands(census: tuple, cap: int) -> None:
    """The truncation RuntimeWarning of a band index whose census dropped
    rows, raised for the caller of the query that reads the index."""
    buckets, dropped = census
    if not dropped:
        return
    import warnings

    warnings.warn(
        f"LSH hot-band cap: dropping {dropped} doc-band rows across "
        f"{buckets} buckets over cap={cap}; pairs in those buckets "
        "are found only if another band re-pairs them",
        RuntimeWarning,
        stacklevel=3,
    )


def _band_index(
    spark: SparkSession, sf_dir: str, cap: int
) -> tuple[DataFrame, DataFrame, tuple]:
    """The MinHash band index of ``documents``: (band table, band table
    capped at ``cap`` docs per bucket, truncation census). One store entry
    per version of the corpus and cap: a warm call runs no Spark job (the
    signatures, band explode and census all ran in the build), and a
    rewritten corpus evicts the entry, unpersisting both tables. The band
    table carries only (doc_id, band_id, band_hash) — the heavy shingle
    arrays are joined back solely for the (small) candidate set."""

    def build():
        # Wave 5: the band explode is one parsed SQL string — the
        # identical transform/struct/slice tree the Column-API lambda
        # built (python lambdas route through py4j named-lambda
        # scaffolding on every call), pinned exceptAll-equal in
        # tests/test_r16_kernels.py.
        bands = (
            _signatures(_shingle_table(spark, sf_dir))
            .selectExpr(
                "doc_id",
                f"explode(transform(sequence(0, {LSH_BANDS - 1}), "
                f"b -> struct(b AS band_id, xxhash64(slice(sig, "
                f"b * {LSH_ROWS} + 1, {LSH_ROWS})) AS band_hash))) AS band",
            )
            .selectExpr("doc_id", "band.band_id AS band_id",
                        "band.band_hash AS band_hash")
            .persist()
        )
        return (bands, *_cap_hot_bands(bands, cap))

    return shared_persist(
        spark,
        build,
        f"minhash_band_index:{sf_dir}:{cap}",
        table_paths(sf_dir, "documents"),
    )


@query("minhash_lsh_pairs", tags=("dedup", "minhash", "lsh"))
def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, hot_band_cap: int = HOT_BAND_CAP
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH: signature → 16 bands of 2 →
    band-hash bucket self-join → exact-Jaccard verification ≥ 0.5.

    This is the 100 TB dedup plan: candidate generation is a shuffle on
    (band_id, band_hash) — linear in corpus size — and only candidates pay
    the exact comparison. The band table carries only (doc_id, band) — the
    heavy shingle arrays are joined back solely for the (small) candidate
    set. The band table with its hot-band census (`_band_index`) and the
    shingle table are session-store entries keyed by the corpus
    fingerprint: the census runs once per version of ``documents``, a warm
    call runs no Spark job before its action, and a rewritten corpus is
    re-indexed. Band buckets over ``hot_band_cap`` docs are truncated
    (deterministically, lowest doc_ids kept) with a loud warning, raised on
    every call whose index dropped rows, so boilerplate corpora cannot push
    the self-join quadratic — see HOT_BAND_CAP. No SQL oracle (DuckDB has
    no xxhash64), but since round 15 the ENTIRE pair set + jaccard values
    are re-derived from raw text by the pure-python XXH64 reference
    (tests/test_dedup_similarity.py partial oracle — signatures, band
    hashes, cap, verify all recomputed outside the engine); recall-vs-exact
    tests stand alongside.
    """
    t = _shingle_table(spark, sf_dir)
    _, bands, census = _band_index(spark, sf_dir, hot_band_cap)
    _warn_hot_bands(census, hot_band_cap)

    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = t.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = t.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = rnd(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")),
        4,
    )
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= VERIFY_THRESHOLD)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


@pandas_udf(LongType())
def _simhash64(tokens: pd.Series) -> pd.Series:
    """64-bit SimHash of a token array (Arrow-batched AND numpy-vectorized
    within the batch: each token is blake2b-hashed once, then bit-unpacking,
    per-bit voting, per-row vote totals (cumsum + offset differences), the
    sign step, and the bit re-pack all run as whole-batch matrix ops — no
    per-token or per-bit Python loop). blake2b keeps the fingerprints
    engine-independent; output is bit-identical to the scalar definition:
    bit i of the fingerprint is set iff sum over tokens of
    (±1 by bit i of the token's big-endian 8-byte blake2b digest) > 0,
    reinterpreted as a signed 64-bit long.

    Why not a pure-JVM expression: an xxhash64 + nested
    aggregate/zip_with/transform higher-order-function formulation was
    measured 2.6× SLOWER than this Arrow path at sf0.1 (HOFs are
    interpreted and allocate a 64-wide vote array per token); after the
    numpy rewrite the batch cost here is dominated by the blake2b calls
    themselves (~1.7M tokens/s/core), which is the right bottleneck."""
    import hashlib

    lens = np.fromiter(
        (0 if t is None else len(t) for t in tokens), dtype=np.int64, count=len(tokens)
    )
    n = len(lens)
    if n == 0 or lens.sum() == 0:
        return pd.Series(np.zeros(n, dtype=np.int64))
    digests = b"".join(
        hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest()
        for toks in tokens
        if toks is not None
        for t in toks
    )
    H = np.frombuffer(digests, dtype=np.uint8).reshape(-1, 8)
    # Column j = bit j of the big-endian digest integer ((h >> j) & 1):
    # reverse the bytes so byte 0 holds bits 0-7, then unpack little-endian.
    bits = np.unpackbits(H[:, ::-1], axis=1, bitorder="little").astype(np.int32)
    # Per-row ±1 vote totals as 2·(set-bit count) − n_tokens; the set-bit
    # counts come from one reduceat over the nonempty rows' token segments
    # (reduceat needs strictly valid segment starts, so empty rows — whose
    # votes are all zero — are filled in separately).
    ends = lens.cumsum()
    nonempty = lens > 0
    row_votes = np.zeros((n, 64), dtype=np.int64)
    row_votes[nonempty] = (
        2 * np.add.reduceat(bits, (ends - lens)[nonempty], axis=0)
        - lens[nonempty, None]
    )
    # Sign bits → uint64 little-endian bytes → reinterpret as signed long
    # (exactly the two's-complement mapping Spark's LongType expects).
    packed = np.packbits(row_votes > 0, axis=1, bitorder="little")
    return pd.Series(packed.ravel().view("<i8").copy())


@query("simhash_neardup_pairs", tags=("dedup", "simhash"))
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, banded into 8×8-bit
    chunks (pigeonhole: a pair within Hamming distance 7 must agree on ≥1
    chunk), bucket join per chunk, Hamming verify via bit_count(xor) ≤ 7.

    Same LSH shape as minhash_lsh_pairs but constant-size state per doc —
    the cheapest near-dup tier at 100 TB. (On a shared-vocabulary corpus
    like this fixture, simhashes crowd together — hence the tight verify
    radius; the banding guarantee matches it exactly.) No SQL oracle
    (DuckDB has no blake2b), but since round 15 the FULL pair set +
    Hamming distances are re-derived from raw text by a pure-python
    blake2b reference (tests/test_dedup_similarity.py partial oracle —
    fingerprint, banding, verify and dedup all recomputed outside the
    engine); recall-vs-exact tests stand alongside."""

    def build() -> DataFrame:
        fp = load_table(spark, sf_dir, "documents").select(
            "doc_id", _simhash64(tokens_col()).alias("simhash")
        )
        return fp.select(
            "doc_id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("chunk_id"),
                            F.shiftrightunsigned(F.col("simhash"), 8 * i)
                            .bitwiseAND(F.lit(0xFF))
                            .alias("chunk"),
                        )
                        for i in range(8)
                    ]
                )
            ).alias("c"),
        ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")

    # The chunk table is the SimHash candidate index: one store entry per
    # version of the corpus, read by both sides of the bucket self-join.
    chunks = shared_persist(
        spark, build, f"simhash_chunks:{sf_dir}", table_paths(sf_dir, "documents")
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 7)
        .dropDuplicates(["doc_a", "doc_b"])
    )


@query(
    "containment_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc_id, lang,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents)
    )
    SELECT a.doc_id AS contained_doc,
           b.doc_id AS container_doc,
           floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)) * 10000 + 0.5) / 10000 AS containment
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE len(a.sh) > 0 AND len(b.sh) > 0
      AND floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)) * 10000 + 0.5) / 10000 >= 0.8
    """,
    tags=("dedup", "containment"),
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment |A∩B| / |A| ≥ 0.8 — doc A is
    (close to) a sub-document of B. Catches quote-inclusion and
    excerpt-of-longer-document duplication that symmetric Jaccard misses
    (a short doc fully inside a long one has low Jaccard but containment 1).
    The dedup policy keeps the container and drops the contained.

    Same blocked-pair plan as ngram_jaccard_pairs (the candidate generator
    at 100 TB is the MinHash LSH bucketer; this is the verify expression).
    Directed pairs: (contained, container) with doc_a ≠ doc_b, both
    directions evaluated.

    Shape (round 17): intersection counts via the inverted-index join
    (`_pair_intersections(directed=True)`) — 73 s → ~2 s at sf0.1, rows
    bit-identical (containment ≥ 0.8 with |A| ≥ 1 implies at least one
    shared shingle, so intersection-free pairs can never qualify)."""
    pairs = _pair_intersections(_shingle_table(spark, sf_dir), directed=True)
    containment = rnd(F.col("inter").cast("double") / F.col("na"), 4)
    return pairs.select(
        F.col("doc_a").alias("contained_doc"),
        F.col("doc_b").alias("container_doc"),
        containment.alias("containment"),
    ).filter(F.col("containment") >= 0.8)


def min_label_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by min-label propagation to fixpoint.

    ``nodes``: one column ``node_id`` (one row per vertex, including
    isolated ones). ``edges``: columns ``src``, ``dst`` — must contain BOTH
    directions of every undirected edge. Returns (node_id, cluster) where
    cluster is the smallest node_id in the component.

    Driver loop of DataFrame self-joins: each iteration is one shuffle and
    lineage is truncated via localCheckpoint; iterations ≈ graph diameter
    (tiny for dedup graphs). The 100 TB upgrade is large-star/small-star
    contraction — same loop shape, fewer rounds. Raises on non-convergence
    rather than returning a split component."""
    edges = edges.persist()
    labels = nodes.select("node_id", F.col("node_id").alias("cluster"))
    converged = False
    for _ in range(64):  # safety cap far above any dedup graph's diameter
        neighbor_min = (
            labels.join(edges, labels.node_id == edges.src)
            .groupBy("dst")
            .agg(F.min("cluster").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node_id == neighbor_min.dst, "left")
            .select(
                "node_id",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))
                ).alias("cluster"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # truncate lineage
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "node_id")
            .filter(F.col("o.cluster") != F.col("n.cluster"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            "min_label_components: label propagation did not converge in 64 "
            "iterations; use star-contraction for this graph"
        )
    return labels


def star_contraction_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the 100 TB upgrade of ``min_label_components``:
    O(log² n) rounds regardless of graph DIAMETER, where label propagation
    pays one round per diameter hop (a pathological duplicate chain can be
    thousands of hops deep at corpus scale).

    large-star(u): every neighbor v > u re-attaches to m = min(N(u) ∪ {u});
    small-star(u): every neighbor v < u (and u itself) attaches to m.
    Each operation is one groupBy-min plus one explode — two linear
    shuffles per round. At fixpoint every component is a star centered at
    its minimum node, so labels read directly off the edges.

    Same contract as min_label_components: ``nodes`` (node_id), ``edges``
    (src, dst — both directions), returns (node_id, cluster)."""

    def canon(e: DataFrame) -> DataFrame:
        """Undirected edge set as (lo, hi) pairs, self-loops dropped."""
        return (
            e.select(
                F.least("src", "dst").alias("lo"),
                F.greatest("src", "dst").alias("hi"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )

    def neighborhoods(e: DataFrame) -> DataFrame:
        """(u, v, m) for the full symmetric adjacency, m = min(N(u) ∪ {u})."""
        sym = e.selectExpr("lo AS u", "hi AS v").unionByName(
            e.selectExpr("hi AS u", "lo AS v")
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return sym.join(m, "u")

    cur = canon(edges).localCheckpoint(eager=True)
    converged = False
    for _ in range(40):  # ~log²(n) rounds; far beyond any realistic need
        adj = neighborhoods(cur)
        large = adj.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("src"), F.col("m").alias("dst")
        )
        after_large = canon(large).localCheckpoint(eager=True)

        adj2 = neighborhoods(after_large)
        small = (
            adj2.filter(F.col("v") < F.col("u"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .unionByName(adj2.select(F.col("u").alias("src"), F.col("m").alias("dst")))
        )
        after_small = canon(small).localCheckpoint(eager=True)

        changed = (
            after_small.exceptAll(cur).count() + cur.exceptAll(after_small).count()
        )
        cur = after_small
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "star_contraction_components did not converge in 40 rounds"
        )
    # Fixpoint edges are stars (member, center): member labels from edges,
    # centers and isolated nodes label themselves.
    member_labels = cur.select(
        F.col("hi").alias("node_id"), F.col("lo").alias("cluster")
    )
    return (
        nodes.join(member_labels, "node_id", "left")
        .select(
            "node_id",
            F.coalesce(F.col("cluster"), F.col("node_id")).alias("cluster"),
        )
    )


def prefix_filter_candidates(
    t: DataFrame, threshold: float, block_col: str | None = "lang"
) -> DataFrame:
    """EXACT candidate pairs for Jaccard ≥ ``threshold`` via prefix
    filtering (the AllPairs / PPJoin principle): order every document's
    shingles by a single global total order (ascending document frequency,
    rarest first, ties by shingle value) and emit only the first
    ``|A| - ceil(t*|A|) + 1`` shingles as join keys. Any pair with Jaccard
    ≥ t must share at least one prefix shingle under a common total order,
    so recall is 1.0 — deterministic, unlike LSH banding — while candidate
    generation stays an equi-join on (shingle, block), linear shuffles only.

    Rarest-first ordering is what makes this scale: prefixes are made of
    low-frequency shingles, so join buckets stay tiny even on a corpus
    whose common shingles appear everywhere. At 100 TB this is the
    published AllPairs plan: one df aggregation, one window per doc, one
    equi-join — no all-pairs term anywhere.

    On top of AllPairs this applies PPJoin's two sound pruning filters
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW 2008), so fewer candidates reach the exact verify:

    - **length filter** (in the join condition): jaccard ≥ t forces
      ``min(|A|,|B|) ≥ t·max(|A|,|B|)`` — size-mismatched pairs never
      materialize past the probe.
    - **positional filter**: shingle ranks follow one global total order,
      so for the globally FIRST shingle shared by both prefixes — at rank
      i in A and j in B — every other common shingle sits after it in
      both lists, giving ``overlap ≤ 1 + min(|A|-i, |B|-j)``. jaccard ≥ t
      needs ``overlap ≥ ceil(t/(1+t)·(|A|+|B|))``; pairs whose bound
      can't reach that are dropped. Both filters only remove pairs that
      provably fail the threshold — recall stays exactly 1.0.

    Input ``t``: (doc_id, [block_col,] sh: array<string>). Output:
    (doc_a, doc_b) distinct candidate pairs with doc_a < doc_b, same block.

    All three bounds are computed in INTEGER arithmetic from the
    threshold's exact rational form: float ceil(sz·t) rounds UP on
    exact-integer products (double(0.07)·100 = 7.000…001 → ceil 8),
    which would shorten the prefix by one and silently void the
    recall-1.0 contract for general thresholds.
    """
    from fractions import Fraction

    from pyspark.sql import Window

    frac = Fraction(threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator
    sz = t.select("doc_id", *( [block_col] if block_col else [] ),
                  F.size("sh").alias("sz"), F.explode("sh").alias("s"))
    df_freq = (
        t.select(F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ranked = sz.join(df_freq, "s").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
        ),
    )
    # prefix_len = sz − ⌈sz·num/den⌉ + 1, integer-exact
    prefix_len = (
        F.col("sz") - F.expr(f"(sz * {num} + {den - 1}) div {den}") + 1
    ).cast("int")
    prefix = ranked.filter(F.col("rn") <= prefix_len)
    a, b = prefix.alias("a"), prefix.alias("b")
    cond = (
        (F.col("a.s") == F.col("b.s"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # PPJoin length filter: min(sz) ≥ t·max(sz) ⇔ den·min ≥ num·max
        # (integer-exact, no float boundary).
        & (
            F.lit(den) * F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(num) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    # One aggregation replaces dropDuplicates (same single shuffle on the
    # pair key): min(rn_a) picks the globally-first shared prefix shingle
    # (common prefix shingles are ordered identically in both docs, so
    # min rn_a and min rn_b land on the SAME shingle), carrying the ranks
    # the positional filter needs.
    first_match = (
        a.join(b, cond)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.min(
                F.struct(
                    F.col("a.rn").alias("rn_a"),
                    F.col("b.rn").alias("rn_b"),
                    F.col("a.sz").alias("sz_a"),
                    F.col("b.sz").alias("sz_b"),
                )
            ).alias("m")
        )
    )
    ubound = F.lit(1) + F.least(
        F.col("m.sz_a") - F.col("m.rn_a"), F.col("m.sz_b") - F.col("m.rn_b")
    )
    # overlap ≥ ⌈(sa+sb)·t/(1+t)⌉ with t/(1+t) = num/(num+den), integer-exact
    nd = num + den
    min_overlap = F.expr(
        f"((m.sz_a + m.sz_b) * {num} + {nd - 1}) div {nd}"
    )
    return first_match.filter(ubound >= min_overlap).select("doc_a", "doc_b")


# Exact-substring dedup: character k-gram fingerprints selected by
# winnowing (Schleimer et al., "Winnowing: Local Algorithms for Document
# Fingerprinting", SIGMOD 2003 — the MOSS scheme; also the candidate step of
# suffix-array dedup a la Lee et al. 2022 "Deduplicating Training Data Makes
# Language Models Better", done here without the non-distributable global
# suffix array).
_SUB_K = 50  # window (k-gram) length in characters
_SUB_W = 20  # winnowing radius: ~2/(w+1) of positions selected

_SUBSTRING_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             md5(substr(text, CAST(i AS INT), {_SUB_K})) AS fp
      FROM documents
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(text) - {_SUB_K - 1})) AS i) t
      WHERE len(text) >= {_SUB_K}
    ), sel AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, fp,
               MIN(fp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN {_SUB_W - 1} PRECEDING
                                      AND {_SUB_W - 1} FOLLOWING) AS wmin
        FROM w)
      WHERE fp = wmin
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_fps
    FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
"""


@query("substring_dedup", oracle=_SUBSTRING_ORACLE, tags=("dedup", "substring"))
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup: document pairs sharing verbatim 50-character
    runs — the copy/paste and boilerplate duplication that token-level
    Jaccard dilutes away. Every position's 50-char window is fingerprinted
    (md5 — engine-independent, so the oracle computes the identical value);
    winnowing keeps a fingerprint only where it is the minimum of the
    surrounding 2w-1 positions, thinning positions to ~2/(w+1) ≈ 10% while
    guaranteeing that any shared run long enough to contain a full
    winnowing window (≥ k + 2w chars) is detected in BOTH documents — the
    selection depends only on the shared bytes.

    Scale shape: explode positions → per-doc window min (one shuffle on
    doc_id) → distinct fingerprints → equi-join on fingerprint (one
    shuffle, linear) → pair count. No quadratic term; at 100 TB you would
    additionally cap fingerprint document-frequency (drop boilerplate fps
    seen in >X docs) before the join — the standard skew guard, noted here
    rather than applied since the fixture has no such fps."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    wins = (
        docs.filter(F.length("text") >= _SUB_K)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - (_SUB_K - 1))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(
                F.col("text").substr(F.col("pos"), F.lit(_SUB_K)).cast("binary")
            ).alias("fp"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_SUB_W - 1), _SUB_W - 1)
    )
    sel = (
        wins.withColumn("wmin", F.min("fp").over(w))
        .filter(F.col("fp") == F.col("wmin"))
        .select("doc_id", "fp")
        .distinct()
    )
    a, b = sel.alias("a"), sel.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


_CLUSTERS_ORACLE = """
    WITH RECURSIVE pairs AS (
      WITH t AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                 generate_series(1, greatest(len(toks) - 2, 0)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, lang,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> x <> '') AS toks
              FROM documents)
      )
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(a.sh) > 0 AND len(b.sh) > 0
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    ), edges AS (
      SELECT src, dst FROM pairs
      UNION SELECT dst, src FROM pairs
    ), reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster
    FROM reach GROUP BY node
    """


def _cluster_edges(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(nodes, symmetric edges) of the jaccard ≥ 0.5 near-dup graph, with
    prefix-filtered candidate generation (exact recall — see
    prefix_filter_candidates) and the exact verify on the UNROUNDED jaccard
    (the oracle's predicate: filtering the display-rounded value would
    admit boundary pairs, e.g. raw 0.49996 rounds to 0.5000, that the
    oracle rejects)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    t = _shingle_table(spark, sf_dir)
    candidates = prefix_filter_candidates(t, threshold=0.5, block_col="lang")
    sh_a = t.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = t.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    raw_jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b"))
    )
    pairs = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .filter(raw_jac >= 0.5)
        .select("doc_a", "doc_b")
    )
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    return docs.select(F.col("doc_id").alias("node_id")), edges


@query(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "clusters", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the jaccard ≥ 0.5
    near-dup graph, labeled by the smallest doc_id in each component — the
    actual dedup output (keep `cluster`, drop the rest), closing the gap
    between pairwise similarity and a usable keep-list when duplicates
    chain (A~B, B~C, but A≁C).

    ITERATIVE algorithm: min-label propagation to fixpoint, a driver loop
    of DataFrame self-joins (each iteration one shuffle; iterations ≈ graph
    diameter, which for dedup graphs is tiny). The 100 TB upgrade is
    large-star/small-star contraction — same loop shape, fewer rounds. The
    DuckDB oracle states the same fixpoint as a recursive CTE.

    Edge generation is prefix-filtered (AllPairs), NOT an all-pairs join:
    candidates come from an equi-join on rarest-prefix shingles (exact
    recall at the 0.5 threshold by the prefix-filter theorem), and only
    candidates pay the exact-Jaccard verify. LSH banding was considered for
    this slot but its recall is probabilistic — one missed borderline edge
    would split a component and diverge from the oracle's exact fixpoint —
    whereas prefix filtering is deterministic with the same linear-shuffle
    shape."""
    nodes, edges = _cluster_edges(spark, sf_dir)
    labels = min_label_components(nodes, edges)
    return labels.select(F.col("node_id").alias("doc_id"), "cluster")


@query(
    "dedup_clusters_star",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "clusters", "iterative", "star"),
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate-cluster fixpoint as ``dedup_clusters`` (identical
    oracle), computed by large-star/small-star contraction instead of label
    propagation — the round-count-bound algorithm for corpus-scale graphs
    whose duplicate chains can be arbitrarily deep. See
    star_contraction_components for the algorithm and citation."""
    nodes, edges = _cluster_edges(spark, sf_dir)
    labels = star_contraction_components(nodes, edges)
    return labels.select(F.col("node_id").alias("doc_id"), "cluster")


_CANONICAL_ORACLE = _CLUSTERS_ORACLE.replace(
    """
    SELECT node AS doc_id, MIN(label) AS cluster
    FROM reach GROUP BY node
    """,
    """
    , clusters AS (
      SELECT node AS doc_id, MIN(label) AS cluster FROM reach GROUP BY node
    ), j AS (
      SELECT c.doc_id, c.cluster, d.n_chars
      FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster,
           CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_cluster_docs,
           first_value(doc_id) OVER (PARTITION BY cluster
                                     ORDER BY n_chars DESC, doc_id) AS canonical_doc,
           CASE WHEN row_number() OVER (PARTITION BY cluster
                                        ORDER BY n_chars DESC, doc_id) = 1
                THEN 'keep' ELSE 'drop' END AS decision
    FROM j
    """,
)


@query(
    "dedup_canonical_docs",
    oracle=_CANONICAL_ORACLE,
    tags=("dedup", "clusters", "canonical"),
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization — the step that turns duplicate CLUSTERS into an
    actionable keep/drop list: within each near-dup component, keep the
    single best representative (longest document, doc_id as the exact
    tie-break) and mark the rest for dropping, carrying the canonical
    doc_id so dropped rows can be re-pointed (URL aliasing, provenance).

    Selection keys are integers (n_chars DESC, doc_id ASC), so the chosen
    representative is engine- and partitioning-stable — never pick a
    float score as the only sort key. Cost on top of the cluster fixpoint:
    one broadcast-sized join to fetch n_chars and one window over the
    cluster key the labels are already partitioned by."""
    nodes, edges = _cluster_edges(spark, sf_dir)
    labels = min_label_components(nodes, edges).select(
        F.col("node_id").alias("doc_id"), "cluster"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = labels.join(docs, "doc_id")
    w_all = Window.partitionBy("cluster")
    w_rank = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return j.select(
        "doc_id",
        "cluster",
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_cluster_docs"),
        F.first("doc_id").over(w_rank).alias("canonical_doc"),
        F.when(F.row_number().over(w_rank) == 1, "keep")
        .otherwise("drop")
        .alias("decision"),
    )


# --------------------------------------------------------------------------
# Prefix-filtering set-similarity join (PPJoin-style): EXACT at scale
# --------------------------------------------------------------------------

PPJOIN_TAU = 0.5  # Jaccard threshold; same bar as the MinHash verify step

_PPJOIN_ORACLE = """
    WITH t AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents)
    )
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh)))) * 10000 + 0.5) / 10000 AS jaccard
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE len(a.sh) > 0 AND len(b.sh) > 0
      AND 2 * least(len(a.sh), len(b.sh)) >= greatest(len(a.sh), len(b.sh))
      AND 2 * len(list_intersect(a.sh, b.sh))
          >= len(list_distinct(list_concat(a.sh, b.sh)))
"""


@query("ppjoin_pairs", oracle=_PPJOIN_ORACLE, tags=("dedup", "join", "prefix-filter"))
def ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard-threshold self-join via prefix filtering (PPJoin family,
    Xiao et al., WWW'08) — the EXACT counterpart to the probabilistic
    MinHash tier: zero false negatives by construction, no all-pairs scan.

    Candidate generation is the shared ``prefix_filter_candidates`` helper
    (rarest-first prefixes + PPJoin's length AND positional filters);
    survivors get the exact intersect/union verify. The threshold test is
    INTEGER-exact on both engines — ``2·|A∩B| ≥ |A∪B|`` — never a test on
    the rounded display value: the prefix theorem guarantees recall only
    for RAW jaccard ≥ τ, so a rounded-value filter could admit a
    [0.49995, 0.5) pair in the quadratic oracle that candidate generation
    is allowed to miss (the `_cluster_edges` lesson). With the raw test
    the pruned plan returns IDENTICAL rows to brute force.

    Scale (100 TB): two linear shuffles (df counts, per-doc rank), one
    equi-join on prefix tokens whose fan-out concentrates on RARE tokens by
    construction (frequency-ascending prefixes), then verification of
    candidates only. The oracle stays quadratic — it is the spec, not the
    plan.
    """
    t = _shingle_table(spark, sf_dir)
    cand = prefix_filter_candidates(
        t.select("doc_id", "sh"), PPJOIN_TAU, block_col=None
    )
    sa = t.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = t.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.lit(2) * inter >= union)
        .select(
            "doc_a",
            "doc_b",
            rnd(inter.cast("double") / union, 4).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# N-gram novelty (contribution telemetry)
# --------------------------------------------------------------------------


@query(
    "ngram_novelty_ratio",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents)
    ), f AS (
      SELECT g, MIN(doc_id) AS first_doc FROM t GROUP BY g
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           floor((CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                       AS DOUBLE) / COUNT(*)) * 1000000 + 0.5)
             / 1000000 AS novelty_ratio
    FROM t JOIN f USING (g)
    GROUP BY t.doc_id
    """,
    tags=("dedup", "text", "llm"),
)
def ngram_novelty_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document share of its distinct 3-gram shingles that NO earlier
    document (by doc_id) contains — "what does this doc contribute that
    the corpus prefix didn't already have?". The soft, per-doc companion
    to the hard dedup tier: exact/near duplicates score ~0, boilerplate
    scores low, genuinely new text scores high — the ordering is the same
    keep-first convention as `dedup_exact`/`dedup_canonical_docs`
    (MIN(doc_id) wins), so novelty here predicts survival there.

    Plan shape at 100 TB: the shared persisted (doc, gram) incidence
    (`_gram_incidence` — one cached copy serves every novelty-telemetry
    consumer in a session), then
    a gram-keyed MIN(doc_id) aggregation (shuffle on gram, map-side
    partial MIN) and one gram-keyed join back, finishing with a per-doc
    fold. Strictly linear — the gram table is the corpus's distinct
    (doc, gram) incidence, the same asymptotics as `minhash_signatures`'
    input; no pairwise term anywhere. Docs with <3 tokens have no
    shingles and produce no row (mirrored by the oracle). Counts are
    exact integers; the single ratio division is correctly rounded and
    rounded at 1e-6.
    """
    grams = _gram_incidence(spark, sf_dir)
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
            rnd(
                novel.cast("double") / F.count(F.lit(1)),
                6,
            ).alias("novelty_ratio"),
        )
    )


def _dup_mass_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (source, lang, doc_id, fp, n_tokens) scan table behind the
    dup-mass attribution operators, get-or-created under ONE sf_dir-keyed
    slot so ``source_dup_mass`` and ``dup_mass_by_lang_cross`` share a
    single cached copy per session — fingerprint and token count are the
    expensive scan-speed expressions; neither consumer should recompute
    them."""
    return shared_persist(
        spark,
        lambda: load_table(spark, sf_dir, "documents").select(
            "source",
            "lang",
            "doc_id",
            content_fp().alias("fp"),
            F.size(tokens_col()).cast("long").alias("n_tokens"),
        ),
        f"dup_mass_base:{sf_dir}",
        table_paths(sf_dir, "documents"),
    )


def _dup_mass_report(spark: SparkSession, sf_dir: str, keys: list[str]) -> DataFrame:
    """ONE dup-mass attribution body shared by `source_dup_mass` and
    `dup_mass_by_lang_cross`, parameterized by the grouping grain: reads
    the shared ``_dup_mass_base`` scan, computes the corpus-global
    keep-MIN(doc_id) winners, and folds count/token/dup-token mass per
    key tuple — so an edit to the dup-token convention (keep tie-break,
    NULL-ratio guard) cannot desynchronize the cross-tab from the
    per-source attribution it marginalizes to."""
    t = _dup_mass_base(spark, sf_dir)
    keep = t.groupBy("fp").agg(F.min("doc_id").alias("keep_doc_id"))
    dup_toks = F.sum(
        F.when(F.col("doc_id") != F.col("keep_doc_id"), F.col("n_tokens")).otherwise(
            F.lit(0)
        )
    )
    return (
        t.join(keep, "fp")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            dup_toks.alias("dup_tokens"),
            rnd(
                dup_toks.cast("double")
                / F.nullif(F.sum("n_tokens"), F.lit(0)),
                6,
            ).alias("dup_mass_ratio"),
        )
    )


def _dup_mass_oracle(keys_sql: str) -> str:
    """Oracle-SQL twin of :func:`_dup_mass_report`, parameterized by the
    same grouping grain (a comma-separated column list)."""
    return f"""
    WITH t AS (
      SELECT source, lang, doc_id, md5(text) AS fp,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), keep AS (
      SELECT fp, MIN(doc_id) AS keep_doc_id FROM t GROUP BY fp
    )
    SELECT {keys_sql},
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN t.doc_id <> k.keep_doc_id THEN t.n_tokens
                         ELSE 0 END) AS BIGINT) AS dup_tokens,
           floor((CAST(SUM(CASE WHEN t.doc_id <> k.keep_doc_id THEN t.n_tokens
                               ELSE 0 END) AS DOUBLE)
                  / nullif(SUM(t.n_tokens), 0)) * 1000000 + 0.5)
             / 1000000 AS dup_mass_ratio
    FROM t JOIN keep k USING (fp)
    GROUP BY {keys_sql}
    """


@query(
    "source_dup_mass",
    oracle=_dup_mass_oracle("t.source"),
    tags=("dedup", "stats", "llm"),
)
def source_dup_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source share of token mass sitting in documents exact dedup
    would DROP (same md5-fingerprint + keep-MIN(doc_id) convention as
    `dedup_exact`) — "where do the dedup savings actually come from?",
    the number a corpus team uses to decide which crawl source to
    throttle. Token mass, not doc count: a source duplicating its
    longest pages wastes more than one duplicating stubs.

    Plan shape at 100 TB: one scan computing (source, lang, doc_id, fp,
    n_tokens) — fingerprint and token count are scan-speed expressions,
    persisted under the shared ``_dup_mass_base`` slot that
    ``dup_mass_by_lang_cross`` also reads —
    then a fp-keyed MIN aggregation (map-side partial) and one fp-keyed
    join back, finishing in a |sources|-row fold. Same asymptotics as
    `dedup_exact` itself plus one join; nothing pairwise. The ratio is a
    single correctly-rounded division of exact integer sums, rounded at
    1e-6; zero-token sources yield a NULL ratio in both engines.
    """
    return _dup_mass_report(spark, sf_dir, ["source"])


@query(
    "source_quality_dup_interaction",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, md5(text) AS fp,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), keep AS (
      SELECT fp, MIN(doc_id) AS keep_doc_id FROM t GROUP BY fp
    ), flagged AS (
      SELECT t.source,
             CASE WHEN t.doc_id <> k.keep_doc_id THEN 1 ELSE 0 END AS is_dup,
             CASE WHEN {quality_keep_sql("t.toks")} THEN 0 ELSE 1 END AS is_lowq
      FROM t JOIN keep k USING (fp)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dup,
           CAST(SUM(is_lowq) AS BIGINT) AS n_lowq,
           CAST(SUM(is_dup * is_lowq) AS BIGINT) AS n_dup_lowq,
           floor((CAST(SUM(is_dup * is_lowq) AS DOUBLE) * COUNT(*)
                  / nullif(CAST(SUM(is_dup) AS BIGINT)
                           * CAST(SUM(is_lowq) AS BIGINT), 0))
                 * 1000000 + 0.5) / 1000000 AS lift
    FROM flagged GROUP BY source
    """,
    tags=("dedup", "quality", "stats", "llm"),
)
def source_quality_dup_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are a source's duplicates ALSO its low-quality docs? Per source, the
    2×2 of (exact-dup? × low-quality?) plus the association LIFT
    P(dup ∧ lowq) / (P(dup)·P(lowq)) — the number that decides whether
    running dedup before quality filtering changes the surviving mix:
    lift ≈ 1 means the two filters are independent (order doesn't
    matter); lift ≫ 1 means boilerplate is both duplicated and junky, so
    dedup already removes most of what quality filtering would, and the
    pipeline can run the cheap tier first. Dup convention = `dedup_exact`
    (keep-MIN per content fingerprint); quality = the shared
    `quality_keep_col` predicate.

    Plan shape at 100 TB: one scan (fingerprint + the integer-exact
    quality flag are scan-speed), one fp-keyed MIN aggregate + join back
    (same asymptotics as `dedup_exact`), one |sources|-row fold. The
    lift is one correctly-rounded division of exact integer products
    (counts < 2^31 per source keep n_dup·n_lowq < 2^62 — no overflow);
    a source with no dups or no low-quality docs yields NULL in both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        content_fp().alias("fp"),
        (~quality_keep_col(tokens_col())).cast("int").alias("is_lowq"),
    )
    keep = t.groupBy("fp").agg(F.min("doc_id").alias("keep_doc_id"))
    flagged = t.join(keep, "fp").select(
        "source",
        (F.col("doc_id") != F.col("keep_doc_id")).cast("int").alias("is_dup"),
        "is_lowq",
    )
    n = F.count(F.lit(1))
    nd = F.sum("is_dup")
    nl = F.sum("is_lowq")
    ndl = F.sum(F.col("is_dup") * F.col("is_lowq"))
    return flagged.groupBy("source").agg(
        n.alias("n_docs"),
        nd.alias("n_dup"),
        nl.alias("n_lowq"),
        ndl.alias("n_dup_lowq"),
        rnd(
            ndl.cast("double") * n / F.nullif(nd * nl, F.lit(0)), 6
        ).alias("lift"),
    )


@query(
    "dedup_keeper_policy_sensitivity",
    oracle=f"""
    WITH clusters AS ({_CLUSTERS_ORACLE}),
    q AS (
      SELECT doc_id, source,
             CASE WHEN {quality_keep_sql("list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')")}
                  THEN 0 ELSE 1 END AS is_lowq
      FROM documents
    ), c AS (
      SELECT cl.cluster, CAST(COUNT(*) AS BIGINT) AS k,
             (min({{'id': q.doc_id, 'src': q.source}})).src AS keeper_src,
             (min({{'id': q.doc_id, 'src': q.source}})).id AS intake_id,
             (min({{'lq': q.is_lowq, 'id': q.doc_id}})).id AS quality_id
      FROM clusters cl JOIN q ON q.doc_id = cl.doc_id
      GROUP BY cl.cluster
    )
    SELECT keeper_src AS source,
           CAST(COUNT(*) AS BIGINT) AS n_multi_clusters,
           CAST(SUM(CASE WHEN quality_id <> intake_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keeper_changed,
           floor((CAST(SUM(CASE WHEN quality_id <> intake_id THEN 1 ELSE 0 END)
                       AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000
             AS changed_share
    FROM c WHERE k >= 2 GROUP BY keeper_src
    """,
    tags=("dedup", "quality", "clusters", "stats", "llm"),
)
def dedup_keeper_policy_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the dedup KEEPER POLICY matter? For every NEAR-DUP cluster
    (`dedup_clusters`' jaccard ≥ 0.5 connected components — exact-dup
    clusters would be vacuous here: byte-identical copies share the
    quality flag, so the policies can never disagree on them), compare
    the intake keeper (keep-MIN doc_id — the convention every dedup
    operator here shares) against a quality-first keeper (keep the
    best-quality member, doc_id tiebreak): per source of the intake
    keeper, how many multi-member clusters exist and in how many the two
    policies pick DIFFERENT documents. A high changed_share says the
    crawl's first near-copy is often its worst one (truncated first
    fetch, boilerplate-wrapped variant) and the pipeline should rank
    cluster members by quality before keeping — the policy-decision
    telemetry behind the keep-MIN convention.

    Both keepers are lexicographic struct-MIN aggregates over cluster
    members ((doc_id, source) and (is_lowq, doc_id)) — engine-exact
    (both engines compare structs field-by-field). Plan: the cluster
    fixpoint is `dedup_clusters`' own iterative shape (its cost
    dominates), then one cluster-keyed aggregation and a |sources|-row
    fold — no join-back, nothing new at scale."""
    docs = load_table(spark, sf_dir, "documents")
    labels = dedup_clusters(spark, sf_dir)
    t = docs.select(
        "doc_id",
        "source",
        (~quality_keep_col(tokens_col())).cast("int").alias("is_lowq"),
    )
    c = labels.join(t, "doc_id").groupBy("cluster").agg(
        F.count(F.lit(1)).alias("k"),
        F.min(F.struct(F.col("doc_id").alias("id"), F.col("source").alias("src")))
        .alias("intake"),
        F.min(F.struct(F.col("is_lowq").alias("lq"), F.col("doc_id").alias("id")))
        .getField("id")
        .alias("quality_id"),
    )
    changed = F.sum(
        F.when(F.col("quality_id") != F.col("intake.id"), 1).otherwise(0)
    )
    return (
        c.filter(F.col("k") >= 2)
        .groupBy(F.col("intake.src").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_multi_clusters"),
            changed.alias("n_keeper_changed"),
            rnd(
                changed.cast("double") / F.count(F.lit(1)), 6
            ).alias("changed_share"),
        )
    )


@query(
    "source_dedup_order_sensitivity",
    oracle=f"""
    WITH clusters AS ({_CLUSTERS_ORACLE}),
    q AS (
      SELECT doc_id, source,
             CASE WHEN {quality_keep_sql("list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')")}
                  THEN 0 ELSE 1 END AS is_lowq
      FROM documents
    ), c AS (
      SELECT cl.cluster,
             MIN(q.doc_id) AS intake_id,
             (min({{'lq': q.is_lowq, 'id': q.doc_id}})).id AS quality_id
      FROM clusters cl JOIN q ON q.doc_id = cl.doc_id
      GROUP BY cl.cluster
    ), m AS (
      SELECT q.source,
             CASE WHEN q.doc_id = c.intake_id THEN 1 ELSE 0 END AS kept_intake,
             CASE WHEN q.doc_id = c.quality_id THEN 1 ELSE 0 END AS kept_quality
      FROM q JOIN clusters cl ON cl.doc_id = q.doc_id
             JOIN c ON c.cluster = cl.cluster
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept_intake) AS BIGINT) AS n_kept_intake,
           CAST(SUM(kept_quality) AS BIGINT) AS n_kept_quality,
           CAST(SUM(kept_intake * kept_quality) AS BIGINT) AS n_kept_both,
           CAST(SUM(CASE WHEN kept_intake <> kept_quality THEN 1 ELSE 0 END)
                AS BIGINT) AS n_order_sensitive
    FROM m GROUP BY source
    """,
    tags=("dedup", "quality", "clusters", "stats", "llm"),
)
def source_dedup_order_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level KEEP-SET delta between the two keeper orders, per source
    — the companion to `dedup_keeper_policy_sensitivity` (which counts
    clusters whose keeper CHANGES; this one counts the DOCUMENTS whose
    keep/drop decision flips, attributed to the source that gains or
    loses them). For every near-dup cluster (`dedup_clusters`' jaccard ≥
    0.5 components), keeper A = intake order (min doc_id), keeper B =
    quality-first order (min (is_lowq, doc_id)); per source: total docs,
    docs kept under each policy, kept under both, and the symmetric
    difference (`n_order_sensitive` — kept under exactly one). Singleton
    clusters keep their doc under both policies, so the deltas isolate
    genuinely contested near-dup members; a source with a high
    n_order_sensitive share is one whose survival in the corpus depends
    on a curation-policy choice, not on its content.

    Scale: the cluster fixpoint is `dedup_clusters`' own iterative shape
    (its cost dominates); then one cluster-keyed aggregate, one
    cluster-keyed join back to members, and a |sources|-row fold —
    nothing new at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    labels = dedup_clusters(spark, sf_dir)
    q = docs.select(
        "doc_id",
        "source",
        (~quality_keep_col(tokens_col())).cast("int").alias("is_lowq"),
    )
    members = labels.join(q, "doc_id")
    keepers = members.groupBy("cluster").agg(
        F.min("doc_id").alias("intake_id"),
        F.min(F.struct(F.col("is_lowq").alias("lq"), F.col("doc_id").alias("id")))
        .getField("id")
        .alias("quality_id"),
    )
    m = members.join(keepers, "cluster").select(
        "source",
        (F.col("doc_id") == F.col("intake_id")).cast("int").alias("kept_intake"),
        (F.col("doc_id") == F.col("quality_id")).cast("int").alias("kept_quality"),
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept_intake").alias("n_kept_intake"),
        F.sum("kept_quality").alias("n_kept_quality"),
        F.sum(F.col("kept_intake") * F.col("kept_quality")).alias("n_kept_both"),
        F.sum(
            F.when(F.col("kept_intake") != F.col("kept_quality"), 1).otherwise(0)
        ).alias("n_order_sensitive"),
    )


@query(
    "dup_cluster_size_histogram",
    oracle="""
    WITH c AS (
      SELECT md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM documents GROUP BY md5(text)
    ), tot AS (SELECT CAST(SUM(cluster_size) AS BIGINT) AS n_total FROM c)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           floor((CAST(cluster_size * COUNT(*) AS DOUBLE) / n_total)
                 * 1000000 + 0.5) / 1000000 AS share_of_docs
    FROM c CROSS JOIN tot
    GROUP BY cluster_size, n_total
    """,
    tags=("dedup", "stats", "llm"),
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of exact-duplicate cluster sizes (same md5-fingerprint
    groups as `dedup_exact`): how much of the corpus sits in singletons
    vs 2-copies vs boilerplate blasted hundreds of times — the shape
    that decides both the dedup savings (Σ (s−1)·n_clusters) and the
    hot-key risk of the dedup shuffle itself (a cluster of millions is a
    skewed fingerprint key; see the salting tier).

    Plan shape at 100 TB: one scan → fp-keyed count (map-side partial) →
    a second aggregation over the CLUSTER table (one row per distinct
    document text — far below corpus size) keyed by cluster_size, whose
    distinct values are at most ~log-range many. The single-row total
    folds from the cluster table, not from a second corpus pass. Counts
    are exact integers; the share division is correctly rounded, rounded
    at 1e-6. Exact sizes, not log buckets, deliberately: bucketing via
    floor(ln s/ln 2) is float-unsafe at exact powers of two and the
    distinct-size cardinality is already tiny.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(content_fp().alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    h = c.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))
    tot = h.agg(F.sum(F.col("cluster_size") * F.col("n_clusters")).alias("n_total"))
    n_docs = F.col("cluster_size") * F.col("n_clusters")
    return (
        h.join(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            n_docs.alias("n_docs"),
            rnd(n_docs.cast("double") / F.col("n_total"), 6).alias(
                "share_of_docs"
            ),
        )
    )


@query(
    "source_novelty_trend",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
      FROM (SELECT doc_id, source,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents)
    ), f AS (
      SELECT g, MIN(doc_id) AS first_doc FROM t GROUP BY g
    ), per_doc AS (
      SELECT t.source, t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM t JOIN f USING (g)
      GROUP BY t.source, t.doc_id
    ), dec AS (
      SELECT source, doc_id, n_grams, n_novel,
             CAST(ntile(4) OVER (PARTITION BY source ORDER BY doc_id)
                  AS BIGINT) AS quartile
      FROM per_doc
    )
    SELECT source, quartile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS n_grams,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           floor((CAST(SUM(n_novel) AS DOUBLE) / SUM(n_grams))
                 * 1000000 + 0.5) / 1000000 AS novelty_rate
    FROM dec
    GROUP BY source, quartile
    """,
    tags=("dedup", "stats", "llm"),
)
def source_novelty_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is a source's marginal contribution decaying? `ngram_novelty_ratio`
    pooled per (source, intake quartile): docs are split into 4 ntile
    buckets by doc_id within each source (doc_id order = intake order in
    this corpus) and each bucket reports its POOLED novelty rate
    Σ n_novel / Σ n_grams — pooled, not mean-of-ratios, so the output is
    a single correctly-rounded division of exact integer sums (engine-
    stable) and long docs weigh what they weigh. A monotonically falling
    curve is the signature of a crawl source exhausting its value —
    the trigger for the throttle decision `source_dup_mass` prices.

    Plan shape at 100 TB: the same persisted (doc, gram) incidence and
    gram-keyed MIN/join as `ngram_novelty_ratio`, one per-doc fold, then
    the ntile CLOSED FORM over a distributed rank: the doc's intake rank
    comes from the two-pass prefix sum (`bucketed_prefix_sum` of 1s over
    doc_id-range buckets — never an ntile window that would route every
    doc of a source through ONE task), the stratum size from a
    |sources|-row broadcast aggregate, and `ntile_from_rank` reproduces
    ntile(4)'s bucket-size split with integer arithmetic. Deterministic
    (rank orders by the unique doc_id), then a |sources|×4-row final
    aggregate.
    """
    grams = _gram_incidence(spark, sf_dir)
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "g")
        .groupBy("source", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    sizes = per_doc.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    ranked = bucketed_prefix_sum(
        per_doc, ["source"], "doc_id", F.lit(1), cum_alias="_rank"
    ).join(F.broadcast(sizes), "source")
    dec = ranked.withColumn(
        "quartile", ntile_from_rank(F.col("_rank"), F.col("_n"), 4)
    )
    return dec.groupBy("source", "quartile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").alias("n_grams"),
        F.sum("n_novel").alias("n_novel"),
        rnd(
            F.sum("n_novel").cast("double") / F.sum("n_grams"), 6
        ).alias("novelty_rate"),
    )


@query(
    "ngram_idf_weighted_novelty",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents)
    ), f AS (
      SELECT g, MIN(doc_id) AS first_doc, COUNT(*) AS df FROM t GROUP BY g
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           floor(SUM(ln(CAST(n.n_docs AS DOUBLE) / f.df)) * 1000000 + 0.5)
             / 1000000 AS idf_mass,
           floor(SUM(CASE WHEN f.first_doc = t.doc_id
                          THEN ln(CAST(n.n_docs AS DOUBLE) / f.df)
                          ELSE 0 END) * 1000000 + 0.5) / 1000000
             AS novel_idf_mass,
           floor((SUM(CASE WHEN f.first_doc = t.doc_id
                           THEN ln(CAST(n.n_docs AS DOUBLE) / f.df)
                           ELSE 0 END)
                  / nullif(SUM(ln(CAST(n.n_docs AS DOUBLE) / f.df)), 0))
                 * 1000000 + 0.5) / 1000000 AS weighted_novelty
    FROM t JOIN f USING (g) CROSS JOIN n
    GROUP BY t.doc_id
    """,
    tags=("dedup", "text", "llm", "novelty"),
)
def ngram_idf_weighted_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ngram_novelty_ratio` with rarity weighting: each first-seen 3-gram
    counts its corpus IDF ln(N_docs / df_g) instead of 1, so a doc whose
    novel grams are RARE scores higher than one whose novelty is shared
    boilerplate that merely arrived first. weighted_novelty = novel IDF
    mass / total IDF mass ∈ [0, 1]; a doc whose every gram appears in
    every doc has zero IDF mass and reports NULL (pinned via nullif on
    both engines).

    Plan shape at 100 TB: the shared persisted (doc, gram) incidence
    (`_gram_incidence`), ONE gram-keyed aggregation producing BOTH
    MIN(doc_id) and df (first-seen and document frequency share the
    shuffle), the corpus doc count as a scalar-agg 1-row broadcast
    crossJoin (keys=[] partial — passes the single-partition plan guard),
    then one gram-keyed join back and a per-doc fold. Same linear
    asymptotics as `ngram_novelty_ratio` — the df column rides along for
    free. Float note: the per-doc IDF sums add hundreds of O(1) doubles
    whose accumulation order differs between engines (~1e-13 relative
    error); rounding at 1e-6 leaves a >1e6× margin, audited in
    tests/test_text_telemetry.py.
    """
    grams = _gram_incidence(spark, sf_dir)
    stats = grams.groupBy("g").agg(
        F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("df")
    )
    n = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs_corpus")
    )
    idf = F.log(F.col("n_docs_corpus").cast("double") / F.col("df"))
    novel_idf = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), idf).otherwise(F.lit(0.0))
    )
    total_idf = F.sum(idf)
    return (
        grams.join(stats, "g")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            rnd(total_idf, 6).alias("idf_mass"),
            rnd(novel_idf, 6).alias("novel_idf_mass"),
            rnd(novel_idf / F.nullif(total_idf, F.lit(0.0)), 6).alias(
                "weighted_novelty"
            ),
        )
    )


@query(
    "cross_source_dup_matrix",
    oracle="""
    WITH fpc AS (
      SELECT md5(text) AS fp, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ), srcs AS (SELECT DISTINCT source FROM documents),
    cross_p AS (
      SELECT a.source AS s1, b.source AS s2, CAST(SUM(a.c * b.c) AS BIGINT) AS n
      FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2
    ), diag AS (
      SELECT source AS s1, source AS s2,
             CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS n
      FROM fpc GROUP BY source
    ), grid AS (
      SELECT x.source AS s1, y.source AS s2
      FROM srcs x JOIN srcs y ON x.source <= y.source
    )
    SELECT g.s1, g.s2,
           COALESCE(CASE WHEN g.s1 = g.s2 THEN d.n ELSE c.n END, 0)
             AS n_dup_pairs
    FROM grid g
    LEFT JOIN cross_p c ON c.s1 = g.s1 AND c.s2 = g.s2
    LEFT JOIN diag d ON d.s1 = g.s1 AND g.s1 = g.s2
    """,
    tags=("dedup", "stats", "llm"),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate PAIR counts per source pair (diagonal = within-
    source): for each content fingerprint with c_s copies in source s,
    cross-source cells count c_s1·c_s2 pairs and diagonal cells
    c·(c−1)/2. The companion to `source_pair_jaccard` one tier down:
    vocabulary overlap says two sources *cover* the same language; this
    matrix says they *ship the same bytes* — the direct evidence for a
    scraper-overlap throttle. The full |sources|²/2 grid is emitted with
    zeros so the matrix shape is stable whatever the corpus (the fixture
    has no exact dups; the duplicated-corpus path is pinned in
    tests/test_text_telemetry.py alongside the dup-histogram test).

    Plan shape at 100 TB: one corpus scan to (fp, source) counts (the
    `dedup_exact` shuffle with a source key), a fingerprint-keyed
    self-join whose per-fp fanout is bounded by |sources| (never
    pairwise in documents), and an intentional |sources|² broadcast
    grid. All counts exact integers — no floats anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    fpc = (
        docs.select(content_fp().alias("fp"), "source")
        .groupBy("fp", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fpc = _tracked_persist(fpc, f"cross_source_fpc:{sf_dir}")
    srcs = docs.select("source").distinct()
    a, b = fpc.alias("a"), fpc.alias("b")
    cross_p = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("n"))
    )
    diag = fpc.groupBy(F.col("source").alias("s1")).agg(
        F.sum(F.expr("(c * (c - 1)) div 2")).alias("n")
    )
    x = srcs.select(F.col("source").alias("s1"))
    y = srcs.select(F.col("source").alias("s2"))
    grid = x.join(F.broadcast(y), F.col("s1") <= F.col("s2"))
    return (
        grid.join(F.broadcast(cross_p), ["s1", "s2"], "left")
        .join(F.broadcast(diag.withColumnRenamed("n", "n_diag")), ["s1"], "left")
        .select(
            "s1",
            "s2",
            F.coalesce(
                F.when(F.col("s1") == F.col("s2"), F.col("n_diag")).otherwise(
                    F.col("n")
                ),
                F.lit(0),
            ).alias("n_dup_pairs"),
        )
    )


@query(
    "doc_repeated_ngram_ratio",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS gs
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents)
    ), g AS (
      SELECT doc_id, unnest(gs) AS g FROM t
    ), c AS (
      SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS repeated_mass,
           floor((CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                  / SUM(c)) * 1000000 + 0.5) / 1000000 AS repeated_ratio
    FROM c GROUP BY doc_id
    """,
    tags=("dedup", "text", "quality", "llm"),
)
def doc_repeated_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition: the share of a doc's 3-gram instances
    (positional, NOT distinct) whose gram occurs at least twice in the
    same doc. The template-stamping signal the cross-doc dedup tier and
    `doc_bigram_cond_entropy` both miss at the extremes: a doc that
    repeats one paragraph five times scores ~1 here while its bigram
    entropy can stay moderate. Docs with <3 tokens have no grams and
    produce no row (mirrored by the oracle).

    Plan shape at 100 TB: one scan explodes positional 3-grams (the
    slice/zip_with construction of `shingles_col` WITHOUT the distinct —
    constant re-splitting per row), one (doc, gram) count shuffle, one
    per-doc fold. Linear in token count; counts exact, one correctly-
    rounded division at 1e-6.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    m = F.size(toks) - 2
    z = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m), lambda x, y: F.concat_ws(" ", x, y)
    )
    z = F.zip_with(
        z, F.slice(toks, 3, m), lambda x, y: F.concat_ws(" ", x, y)
    )
    grams = F.when(F.size(toks) >= 3, z).otherwise(
        F.array().cast("array<string>")
    )
    c = (
        docs.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rep = F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
    return c.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        rep.alias("repeated_mass"),
        rnd(rep.cast("double") / F.sum("c"), 6).alias("repeated_ratio"),
    )


@query(
    "dup_mass_by_lang_cross",
    oracle=_dup_mass_oracle("t.source, t.lang"),
    tags=("dedup", "stats", "llm"),
)
def dup_mass_by_lang_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-savings attribution on the (source × lang) grid — the
    cross-tab refinement of `source_dup_mass` (same md5-fingerprint +
    keep-MIN(doc_id) convention as `dedup_exact`): a source can look
    healthy in aggregate while one of its language slices is pure
    boilerplate — this is the drill-down that finds WHICH (source, lang)
    cell to throttle, the same composition idiom as
    `cross_source_dup_matrix` applied to token mass instead of pair
    counts. Note the keep-winner is still corpus-global (a dup whose
    keeper lives in another cell still counts as dup mass HERE — the
    cell pays for shipping redundant bytes regardless of who keeps them).

    Plan shape at 100 TB: reads the SAME persisted ``_dup_mass_base``
    scan table as `source_dup_mass` (one cached copy per session serves
    both), then an fp-keyed MIN aggregation (map-side partial) and one
    fp-keyed join back, finishing in a |sources|×|langs|-row fold. Same
    asymptotics as `dedup_exact` plus one join; nothing pairwise. The
    ratio is one correctly-rounded division of exact integer sums,
    rounded at 1e-6; zero-token cells yield a NULL ratio in both
    engines.
    """
    return _dup_mass_report(spark, sf_dir, ["source", "lang"])


_INCR_OLD_MAX = 250  # doc_id < 250 stands in for the previously-ingested corpus


# Shared by the batch operator and its streaming twin
# (streaming/stream.py:stream_ingest_dedup_status) — ONE statement of the
# incremental-classification semantics, so the two forms can never drift.
INCR_DEDUP_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, md5(text) AS fp FROM documents
    ), old_fp AS (
      SELECT DISTINCT fp FROM t WHERE doc_id < {_INCR_OLD_MAX}
    ), batch AS (
      SELECT doc_id, fp FROM t WHERE doc_id >= {_INCR_OLD_MAX}
    ), first_in_batch AS (
      SELECT fp, MIN(doc_id) AS first_doc FROM batch GROUP BY fp
    )
    SELECT b.doc_id,
           CASE WHEN o.fp IS NOT NULL THEN 'dup_of_old'
                WHEN b.doc_id <> f.first_doc THEN 'dup_in_batch'
                ELSE 'novel' END AS status
    FROM batch b
    JOIN first_in_batch f USING (fp)
    LEFT JOIN old_fp o USING (fp)
    """


@query(
    "dedup_incremental_new_batch",
    oracle=INCR_DEDUP_ORACLE,
    tags=("dedup", "incremental", "llm"),
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup — the shape a continuously-ingesting
    pipeline actually runs: classify each document of the NEW batch
    (doc_id ≥ 250; the boundary stands in for "everything ingested
    before this crawl") as `dup_of_old` (its fingerprint already exists
    in the ingested corpus — drop, the keeper is already stored),
    `dup_in_batch` (first seen within this batch by another doc —
    keep-MIN(doc_id), same convention as `dedup_exact`), or `novel`
    (enters the corpus and its fingerprint joins the index).
    `dedup_exact` answers "dedup the whole corpus at once"; this
    answers "what does TODAY'S crawl add" without re-fingerprinting
    history — at 100 TB the old side is a stored fingerprint INDEX
    (16-byte keys), not the corpus.

    Plan shape at 100 TB: fingerprints are scan-speed; the old side
    reduces to a distinct-fp projection (in production: a pre-built
    fingerprint table, read directly); the batch side folds its own
    keep-first MIN in one fp-keyed aggregation; one fp-keyed left join
    against the index. The join is new-batch-sized vs index-sized —
    both shuffle hash joins on 16-byte keys, nothing pairwise, and
    daily batch ≪ corpus makes the batch side the small one (AQE
    decides broadcast; no hard hint, the index is SF-scaled). Statuses
    are exact string facts — no floats anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", content_fp().alias("fp"))
    return incremental_dedup_classify(t, _INCR_OLD_MAX)


def incremental_dedup_classify(t: DataFrame, boundary: int) -> DataFrame:
    """The classification core of `dedup_incremental_new_batch` over any
    (doc_id, fp) frame and old/batch boundary — factored out so the
    property test can drive hypothesis-generated corpora through the
    REAL plan and prove the keep-MIN convention provably consistent
    with `dedup_exact` (union of old keepers and incremental 'novel'
    docs == the batch keep-set), not just fixture-consistent."""
    old_fp = (
        t.filter(F.col("doc_id") < boundary)
        .select("fp")
        .distinct()
        .withColumn("in_old", F.lit(True))
    )
    batch = t.filter(F.col("doc_id") >= boundary)
    first = batch.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    return (
        batch.join(first, "fp")
        .join(old_fp, "fp", "left")
        .select(
            "doc_id",
            F.when(F.col("in_old"), "dup_of_old")
            .when(F.col("doc_id") != F.col("first_doc"), "dup_in_batch")
            .otherwise("novel")
            .alias("status"),
        )
    )


# --------------------------------------------------------------------------
# LSH candidate-generation calibration: precision/recall vs exact pairs
# --------------------------------------------------------------------------

@query(
    "lsh_precision_recall_report",
    # No SQL oracle (the LSH side is xxhash64 banding, which DuckDB
    # cannot express), but the ENTIRE report row carries a pure-python
    # partial oracle (round-16 graduation,
    # tests/test_dedup_similarity.py::
    # test_lsh_report_full_partial_oracle_pure_python): the LSH pair set
    # comes from the proven round-15 XXH64 reference
    # (helpers.py:py_minhash_shingles_and_lsh_pairs), the lang-blocked
    # ground truth is re-derived pure-python (and doubly pinned — the
    # DENOMINATORS are additionally recounted by DuckDB re-running
    # ngram_jaccard_pairs' registered oracle, the round-11 split), and
    # every count/flag/recall is recomputed outside the engine.
    tags=("dedup", "lsh", "calibration"),
)
def lsh_precision_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the MinHash-LSH dedup tier against the exact
    lang-blocked Jaccard ground truth — `ann_recall_report`'s twin for
    the text side, and the number a pipeline owner checks before
    trusting a band configuration on new data.

    The comparison has a real asymmetry the report names instead of
    hiding: the exact side blocks on lang (its quadratic bound), while
    LSH buckets by SIGNATURE — so LSH legitimately finds cross-lang
    near-dups the ground truth cannot see (19 of 25 pairs on the
    fixtures: identical boilerplate recurring across languages).
    Within the shared block, every LSH pair is exact-verified
    ≥ VERIFY_THRESHOLD, so same-block consistency must be exact
    (n_hits = n_lsh_same_block; a shortfall means the verify step
    regressed), recall@0.8 should sit at ~1.0 (P(miss) ≈ (1−0.8²)¹⁶ ≈
    1e-7 per pair), and recall@threshold is legitimately < 1 (banding
    is designed to miss weak pairs). Both candidate sets are the
    REGISTERED plans — the report composes, never re-implements, the
    tier it measures.

    Scale: both inputs are the pair lists (output-sized, far smaller
    than the corpus); the joins/aggregates here are trivial next to
    producing them. At 100 TB ground truth comes from a sampled block;
    same report shape."""
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    exact = ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.col("jaccard").alias("j_exact")
    )
    lsh = (
        minhash_lsh_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        # langs is the SF-scaled side: no broadcast hint (AQE broadcasts
        # the output-sized pair list at runtime instead).
        .join(
            langs.select(
                F.col("doc_id").alias("doc_a"), F.col("lang").alias("la")
            ),
            "doc_a",
        )
        .join(
            langs.select(
                F.col("doc_id").alias("doc_b"), F.col("lang").alias("lb")
            ),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b", (F.col("la") == F.col("lb")).alias("same_block")
        )
    )
    truth = exact.filter(F.col("j_exact") >= VERIFY_THRESHOLD)
    strong = exact.filter(F.col("j_exact") >= 0.8)
    c_lsh = lsh.agg(
        F.count(F.lit(1)).alias("n_lsh"),
        F.sum(F.col("same_block").cast("long")).alias("n_lsh_same_block"),
    )
    c_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    c_strong = strong.agg(F.count(F.lit(1)).alias("n_strong"))
    c_hits = (
        lsh.join(truth, ["doc_a", "doc_b"])
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    c_sh = (
        lsh.join(strong, ["doc_a", "doc_b"])
        .agg(F.count(F.lit(1)).alias("n_strong_hits"))
    )
    return (
        c_lsh.crossJoin(F.broadcast(c_truth))
        .crossJoin(F.broadcast(c_strong))
        .crossJoin(F.broadcast(c_hits))
        .crossJoin(F.broadcast(c_sh))
        .select(
            "n_lsh",
            "n_lsh_same_block",
            (F.col("n_lsh") - F.col("n_lsh_same_block")).alias(
                "n_lsh_cross_block"
            ),
            "n_truth",
            "n_strong",
            "n_hits",
            "n_strong_hits",
            (F.col("n_hits") == F.col("n_lsh_same_block")).alias(
                "same_block_consistent"
            ),
            (F.col("n_hits").cast("double") / F.col("n_truth")).alias(
                "recall_at_threshold"
            ),
            (
                F.col("n_strong_hits").cast("double") / F.col("n_strong")
            ).alias("recall_at_strong"),
        )
    )


_PREFIX_BLOCK_K = 32


@query(
    "prefix_dup_pairs",
    oracle="""
    SELECT a.doc_id AS prefix_doc_id,
           b.doc_id AS super_doc_id,
           CAST(length(a.text) AS BIGINT) AS prefix_len,
           CAST(length(b.text) AS BIGINT) AS super_len
    FROM documents a JOIN documents b
      ON a.doc_id <> b.doc_id
     AND length(a.text) <= length(b.text)
     AND a.text = substring(b.text, 1, length(a.text))
    """,
    tags=("dedup", "prefix", "llm"),
)
def prefix_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-crawl detection: pairs where one document's text is a
    byte-prefix of another's (the classic partial-fetch/boilerplate-cut
    duplicate the exact-fingerprint tier misses because the bytes
    differ). Emits (prefix_doc, super_doc, lengths); equal-text pairs
    would qualify in both directions, matching the oracle's symmetric
    predicate.

    Scale shape — EXACT recall by theorem: if a is a prefix of b then
    the two share their first K' bytes for every K' ≤ len(a), so
    blocking both sides on md5 of the first K = min(32, global-min-len)
    bytes (one 1-row broadcast aggregate decides K) can never separate
    a true pair; within a block the verify is a codegen'd substring
    equality. No all-pairs term — the quadratic form is the oracle's.
    Caveat for boilerplate-heavy corpora at 100 TB: documents sharing a
    32-byte header collapse into one hot block (quadratic WITHIN the
    block); raise K or add a second-level (2K-prefix) block before the
    verify there — the fixture's blocks are singleton-to-small, asserted
    in tests."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").cast("long").alias("len")
    )
    kmin = docs.agg(
        F.least(F.lit(_PREFIX_BLOCK_K), F.min("len")).cast("int").alias("_k")
    )
    blocked = docs.crossJoin(F.broadcast(kmin)).select(
        "doc_id",
        "text",
        "len",
        F.md5(F.expr("substring(text, 1, _k)")).alias("blk"),
    )
    a = blocked.select(
        F.col("doc_id").alias("prefix_doc_id"),
        F.col("text").alias("ta"),
        F.col("len").alias("prefix_len"),
        "blk",
    )
    b = blocked.select(
        F.col("doc_id").alias("super_doc_id"),
        F.col("text").alias("tb"),
        F.col("len").alias("super_len"),
        "blk",
    )
    return (
        a.join(b, "blk")
        .filter(
            (F.col("prefix_doc_id") != F.col("super_doc_id"))
            & (F.col("prefix_len") <= F.col("super_len"))
            & (F.expr("substring(tb, 1, prefix_len)") == F.col("ta"))
        )
        .select("prefix_doc_id", "super_doc_id", "prefix_len", "super_len")
    )


@query(
    "prefix_dup_keep_policy",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM documents a JOIN documents b
        ON a.doc_id <> b.doc_id
       AND length(a.text) <= length(b.text)
       AND a.text = substring(b.text, 1, length(a.text))
    ), edges AS (
      SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ), reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ), cc AS (
      SELECT node AS doc_id, MIN(label) AS cluster FROM reach GROUP BY node
    ), k AS (
      SELECT cc.cluster,
             (min({'nl': -length(d.text), 'id': d.doc_id})).id AS keeper_id,
             CAST(COUNT(*) AS BIGINT) AS n_members
      FROM cc JOIN documents d ON d.doc_id = cc.doc_id
      GROUP BY cc.cluster
    )
    SELECT cc.doc_id, k.keeper_id, cc.doc_id = k.keeper_id AS is_keeper,
           k.n_members
    FROM cc JOIN k ON cc.cluster = k.cluster
    """,
    tags=("dedup", "prefix", "canonical", "llm"),
)
def prefix_dup_keep_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-LONGEST canonicalization over the prefix-duplicate graph: the
    truncation-mode companion to `dedup_canonical_docs` — when a cluster
    of documents are byte-prefixes of one another (partial fetches of
    the same page), the curation policy keeps the LONGEST member (the
    most complete fetch; doc_id breaks exact-length ties) and drops the
    truncations, the opposite preference from exact-dup keep-MIN where
    all members are byte-identical. Emits every doc with its cluster
    keeper, a keep flag, and the cluster size (singletons keep
    themselves, n_members 1).

    Plan: `prefix_dup_pairs`' exact-recall blocked pair join supplies the
    edges, `min_label_components` propagates min labels to fixpoint
    (diameter-bounded rounds), keeper selection is one struct-MIN
    aggregate ((-len, id) — engine-exact lexicographic compare), and the
    verdict join back is cluster-keyed. Nothing quadratic; the oracle's
    recursive CTE is."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("len")
    )
    pairs = prefix_dup_pairs(spark, sf_dir).select(
        F.col("prefix_doc_id").alias("src"), F.col("super_doc_id").alias("dst")
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    cc = min_label_components(
        docs.select(F.col("doc_id").alias("node_id")), edges
    ).select(F.col("node_id").alias("doc_id"), "cluster")
    members = cc.join(docs, "doc_id")
    keepers = members.groupBy("cluster").agg(
        F.min(
            F.struct((-F.col("len")).alias("nl"), F.col("doc_id").alias("id"))
        )
        .getField("id")
        .alias("keeper_id"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return members.join(keepers, "cluster").select(
        "doc_id",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
        "n_members",
    )
