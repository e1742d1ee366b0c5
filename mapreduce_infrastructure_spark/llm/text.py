"""Text analysis operators over the `documents` table.

The flagship `wordcount` is the reference's one shipped query
(``test/user_tasks.cc:9-35``: strtok on ``" ,.\"'"`` → emit(token, 1) →
per-key sum), re-expressed as explode/split/groupBy — one scan, one shuffle,
partial aggregation map-side, no Python.

The rest is the text-quality toolkit a training-data pipeline needs
(token counting, quality scoring, language-ID heuristic, fingerprinting),
all as codegen'd column expressions: at 100 TB these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.exact import rnd
from ..functions.ranks import bucketed_prefix_sum, hist_percent_rank, ntile_from_rank
from ..registry import TableReader, query
from .cache import tracked_persist

# Tokenizer contract shared by Spark and the DuckDB oracle. Equivalent to the
# reference's strtok delimiter set on this corpus (lowercase words joined by
# single spaces), but robust to punctuation.
#
# Cross-engine premise (pinned by tests/test_text_telemetry.py::
# test_tokenizer_cross_engine_parity_and_dotted_i_premise): Spark's lower()
# (Java) and DuckDB's lower() agree through this delimiter class for every
# probed script EXCEPT Turkish dotted capital İ (U+0130), which Java maps to
# "i"+U+0307 (the combining dot is a delimiter → token split) while DuckDB
# maps it to plain "i" (no split). The differential gate therefore requires a
# corpus free of U+0130; the fixture corpus is pure ASCII, asserted in the
# same test. A corpus that may contain it needs an NFKC/strip-accents
# normalization pass ahead of this tokenizer in BOTH engines.
TOKEN_DELIM = "[^a-z0-9]+"


def tokens_col(text_col: str = "text") -> F.Column:
    """Non-empty lowercase tokens of a text column."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_DELIM), lambda t: t != F.lit("")
    )


# --------------------------------------------------------------------------
# Shared classifier builders (single source of truth)
#
# The quality keep/drop heuristic and the marker-vocabulary language ID are
# referenced by SIX operators (quality_scores, corpus_clean_pipeline,
# lang_id_heuristic, doc_lang_confusion, quality_flag_transition_by_source,
# sampling.sample_weighted_by_quality), each needing BOTH a Column
# expression and the equivalent DuckDB oracle fragment. Both sides are
# built here once, so editing a threshold or marker list cannot silently
# desynchronize the telemetry operators that claim to mirror the
# classifiers.
# --------------------------------------------------------------------------

# Marker vocabularies for the language-ID heuristic (argmax of marker hits
# with a fixed preference order — integer counts, engine-stable).
_LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "tech": ("data", "table", "row", "column", "batch"),
    "sql": ("query", "join", "filter", "agg", "sort"),
}


def quality_keep_col(toks: F.Column) -> F.Column:
    """The boolean keep predicate: ≥20 tokens AND stopwords ≤ half
    (integer-exact comparisons, so the flag is engine-stable)."""
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: (x == "the") | (x == "a")))
    return (n_tokens >= 20) & (n_stop * 2 <= n_tokens)


def quality_flag_col(toks: F.Column) -> F.Column:
    """'ok'/'low' quality flag over a token-array column."""
    return F.when(quality_keep_col(toks), "ok").otherwise("low")


def quality_keep_sql(toks: str = "toks") -> str:
    """Oracle-SQL form of :func:`quality_keep_col` over a token-list
    expression named ``toks``."""
    return (
        f"len({toks}) >= 20 AND "
        f"len(list_filter({toks}, x -> x = 'the' OR x = 'a')) * 2 <= len({toks})"
    )


def quality_flag_sql(toks: str = "toks") -> str:
    """Oracle-SQL form of :func:`quality_flag_col`."""
    return f"CASE WHEN {quality_keep_sql(toks)} THEN 'ok' ELSE 'low' END"


def lang_marker_counts(toks: F.Column) -> dict[str, F.Column]:
    """Per-class marker-hit counts over a token-array column."""
    return {
        k: F.size(F.filter(toks, lambda x: x.isin(*v)))
        for k, v in _LANG_MARKERS.items()
    }


def predicted_lang_col(toks: F.Column) -> F.Column:
    """Argmax marker class with the fixed en > tech > sql tie order."""
    c = lang_marker_counts(toks)
    return (
        F.when((c["en"] >= c["tech"]) & (c["en"] >= c["sql"]), "en")
        .when(c["tech"] >= c["sql"], "tech")
        .otherwise("sql")
    )


def marker_count_sql(lang: str, toks: str = "toks") -> str:
    """Oracle-SQL marker-hit count for one class."""
    words = ",".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"len(list_filter({toks}, x -> x IN ({words})))"


def predicted_lang_case_sql(en: str, tech: str, sql_: str) -> str:
    """Oracle-SQL argmax over three count expressions (same tie order as
    :func:`predicted_lang_col`)."""
    return (
        f"CASE WHEN {en} >= {tech} AND {en} >= {sql_} THEN 'en' "
        f"WHEN {tech} >= {sql_} THEN 'tech' ELSE 'sql' END"
    )


def predicted_lang_sql(toks: str = "toks") -> str:
    """Oracle-SQL form of :func:`predicted_lang_col`."""
    return predicted_lang_case_sql(
        *(marker_count_sql(k, toks) for k in ("en", "tech", "sql"))
    )


@query(
    "wordcount",
    oracle=f"""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(lower(text), '{TOKEN_DELIM}')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("text", "flagship"),
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count — the reference's demo query (``test/user_tasks.cc:9-35``).

    Map phase ≙ explode(split(...)); in-mapper combine (``src/mr_tasks.h:55-62``)
    ≙ partial HashAggregate; shuffle-by-key (``src/mr_tasks.h:64-80``) ≙ the
    exchange; reduce (``test/user_tasks.cc:29-33``) ≙ final HashAggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "text_stats_by_lang",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           floor((CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)) * 100 + 0.5) / 100 AS avg_chars,
           CAST(SUM(len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                    t -> t <> ''))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "agg"),
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language bucket (integer-exact aggregates)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        rnd(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 2).alias(
            "avg_chars"
        ),
        F.sum(F.size(tokens_col()).cast("long")).alias("total_tokens"),
    )


@query(
    "doc_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                t -> t <> '')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                              t -> t <> ''))) AS BIGINT) AS n_unique_tokens
    FROM documents
    """,
    tags=("text",),
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token and type counts (whitespace/regex tokenizer —
    the BPE-ish counting base; see also quality_scores)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS fp, md5(concat(lang, ':', source)) AS dim_fp
    FROM documents
    """,
    tags=("text", "dedup"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprints (md5 — identical across engines,
    unlike engine-native hash functions). The exact-dedup key."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.md5(F.concat_ws(":", "lang", "source").cast("binary")).alias("dim_fp"),
    )


@query(
    "quality_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           floor((CAST(n_chars AS DOUBLE) / nullif(len(toks), 0)) * 10000 + 0.5) / 10000 AS chars_per_token,
           floor((CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
                 / nullif(len(toks), 0)) * 10000 + 0.5) / 10000 AS stopword_ratio,
           {quality_flag_sql()} AS quality_flag
    FROM t
    """,
    tags=("text", "quality"),
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length, chars/token, stopword ratio and a
    keep/drop flag — the standard pre-training corpus filter, computed with
    integer-exact comparisons so the flag is engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    is_stop = lambda x: (x == "the") | (x == "a")  # noqa: E731
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, is_stop))
    # Zero-token guard on BOTH engines: Spark's non-ANSI divide returns NULL
    # for x/0 but DuckDB's double division can yield inf depending on
    # ieee_floating_point_ops — nullif pins one defined answer (NULL) for
    # empty/punctuation-only docs in each.
    n_tokens_nz = F.nullif(n_tokens, F.lit(0))
    return docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        rnd(F.col("n_chars").cast("double") / n_tokens_nz, 4).alias("chars_per_token"),
        rnd(n_stop.cast("double") / n_tokens_nz, 4).alias("stopword_ratio"),
        quality_flag_col(toks).alias("quality_flag"),
    )


@query(
    "lang_id_heuristic",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'), x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, lang,
             {marker_count_sql("en")} AS c_en,
             {marker_count_sql("tech")} AS c_tech,
             {marker_count_sql("sql")} AS c_sql
      FROM t
    )
    SELECT doc_id, lang AS actual_lang,
           CAST(c_en AS BIGINT) AS c_en, CAST(c_tech AS BIGINT) AS c_tech, CAST(c_sql AS BIGINT) AS c_sql,
           {predicted_lang_case_sql("c_en", "c_tech", "c_sql")} AS predicted
    FROM c
    """,
    tags=("text", "langid"),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/marker-vocabulary language ID: count marker hits per candidate
    class, argmax with fixed tie order. (On this synthetic corpus the classes
    are illustrative; the operator shape — token-set membership counting at
    scan speed — is the real deliverable.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    counts = lang_marker_counts(toks)
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        counts["en"].cast("long").alias("c_en"),
        counts["tech"].cast("long").alias("c_tech"),
        counts["sql"].cast("long").alias("c_sql"),
        predicted_lang_col(toks).alias("predicted"),
    )


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'), x -> x <> ''))) AS term,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'), x -> x <> '') AS all_toks
      FROM documents
    ), tf AS (
      SELECT doc_id, term,
             CAST(len(list_filter(all_toks, x -> x = term)) AS BIGINT) AS tf
      FROM toks
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             floor((tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)) * 10000 + 0.5) / 10000 AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY tf DESC, df ASC, term) AS INTEGER) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
    tags=("text", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF.

    Plan shape at 100 TB: one explode+groupBy for term frequencies (shuffle
    on (doc,term)), one groupBy for document frequencies (shuffle on term,
    broadcast back — the DF table is vocabulary-sized), one per-doc window
    for the top-k. Ranking uses INTEGER keys (tf desc, df asc, term) so the
    cross-engine check can't flake on float ordering; the float tfidf score
    is carried as a value column."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar, known at plan time (count at scale too)
    tf = (
        docs.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    # No hint on df: it is VOCABULARY-sized (scales with the corpus), so a
    # forced broadcast would be fatal at cluster scale; size-based planning
    # broadcasts it at test SF and shuffles on the term key at scale.
    return (
        tf.join(df, "term")
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            rnd(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4).alias(
                "tfidf"
            ),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation — the
# shape GPT-style pre-tokenization uses before merges. Same regex both
# engines (no lookaheads; Java and RE2-compatible).
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "token_counts_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS BIGINT) AS n_subwords,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '{BPE_PATTERN}'))) AS BIGINT) AS n_unique,
           CAST(len(list_filter(regexp_extract_all(lower(text), '{BPE_PATTERN}'),
                                t -> regexp_matches(t, '^[0-9]+$'))) AS BIGINT) AS n_number_runs
    FROM documents
    """,
    tags=("text", "tokenize", "bpe"),
)
def token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token counting with a BPE-ish pre-tokenizer regex
    (letter runs / digit runs / single punctuation) — the cost model for
    training-token budgets, computed at scan speed with regexp_extract_all
    (identical regex in the DuckDB oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    # idx=0 = whole match (the default idx=1 expects a capture group).
    toks = F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_subwords"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.size(
            F.filter(toks, lambda t: t.rlike("^[0-9]+$"))
        ).cast("long").alias("n_number_runs"),
    )


@query(
    "corpus_clean_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, text, n_chars,
             list_filter(regexp_split_to_array(lower(text), '{{TD}}'), x -> x <> '') AS toks,
             md5(text) AS fp
      FROM documents
    ), kept AS (
      SELECT *,
             len(toks) AS n_tokens,
             len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS n_stop
      FROM scored
      WHERE {quality_keep_sql()}
    ), deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           floor((CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*)) * 100 + 0.5) / 100 AS avg_tokens
    FROM deduped
    GROUP BY lang
    """.replace("{TD}", TOKEN_DELIM),
    tags=("text", "pipeline", "dedup", "quality"),
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline end to end as ONE declarative plan:
    quality filter (length + stopword ratio) → exact dedup (keep lowest
    doc_id per content fingerprint) → per-language token accounting.

    Catalyst fuses the filter into the scan, the dedup is one shuffle on the
    16-byte fingerprint, the final rollup one more — at 100 TB this whole
    cleanup is two shuffles over the corpus, no Python anywhere."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    kept = docs.select(
        "doc_id",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.size(toks).alias("n_tokens"),
    ).filter(quality_keep_col(toks))
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        rnd(F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 2).alias(
            "avg_tokens"
        ),
    )


_FREQ_SUPPORT = 0.005  # heavy-hitter support threshold (fraction of tokens)


@query("frequent_terms_sketch", tags=("text", "approx", "sketch"))
def frequent_terms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the token stream via Spark's freqItems — the
    Karp/Misra-Gries counter-decrement sketch family (count-min's cousin):
    single pass, fixed ~1/support counters per partition, mergeable — the
    sketch you run on 100 TB when exact wordcount's full shuffle is not
    worth it. Guarantee: every token with frequency > support·N is
    returned (false positives allowed, false negatives not — asserted
    against exact counts in tests). Results carry their EXACT counts via
    one small join back, so downstream consumers can threshold precisely.
    No SQL oracle: the admitted false-positive set is engine- and
    partitioning-specific (rows-only; the superset guarantee is the
    tested contract). Since round 14 a PARTIAL ORACLE pins the exact side:
    DuckDB recounts every returned word from the same parquet and must
    match cnt token-for-token
    (tests/test_sampling.py::test_frequent_terms_counts_match_duckdb_exact)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens_col()).alias("word"))
    sketch = words.stat.freqItems(["word"], _FREQ_SUPPORT)
    hits = sketch.select(F.explode("word_freqItems").alias("word"))
    # hits is bounded by ~1/support rows — broadcast THAT side; the exact
    # count table is vocabulary-sized and must stay distributed. The count
    # here runs only over tokens matching a heavy hitter (semi-join before
    # the shuffle), not the full vocabulary.
    return (
        words.join(F.broadcast(hits), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --------------------------------------------------------------------------
# Skip-gram co-occurrence counts (word2vec / PMI preparation)
# --------------------------------------------------------------------------

COOC_WINDOW = 3  # max token distance for a (center, context) pair


@query(
    "skipgram_cooccurrence",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                  x -> x <> '') AS toks
               FROM documents),
    tokp AS (SELECT doc_id, UNNEST(generate_series(1, len(toks))) AS pos, toks FROM t),
    tok AS (SELECT doc_id, pos, toks[pos] AS w FROM tokp),
    pairs AS (SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.pos > a.pos
               AND b.pos <= a.pos + {COOC_WINDOW})
    SELECT w1, w2, COUNT(*) AS cnt
    FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
    tags=("text", "cooccurrence", "embedding-prep"),
)
def skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered token co-occurrence counts within a ±3 skip-gram window —
    the count matrix behind word2vec negative sampling / PMI embeddings.

    The Spark side never joins: co-occurrence is document-local, so pairs
    are generated INSIDE the row with a nested sequence/transform over the
    token array and exploded once — one shuffle total (the final count).
    The oracle mirrors the semantics with a positional self-join, which is
    the plan this formulation deliberately avoids: at 100 TB a self-join on
    (doc, pos) shuffles the exploded corpus twice; the array form ships
    each document once and emits pairs in place.

    Pairs are unordered (lexicographic least/greatest) and floor-counted at
    2+ to keep the long tail of singletons out of the result.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(tokens_col().alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(f"""
                  flatten(transform(sequence(1, size(toks) - 1), i ->
                    transform(sequence(i + 1, least(i + {COOC_WINDOW}, size(toks))), j ->
                      named_struct(
                        'w1', least(element_at(toks, i), element_at(toks, j)),
                        'w2', greatest(element_at(toks, i), element_at(toks, j))))))
                """)
            ).alias("p")
        )
    )
    return (
        pairs.groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
    )


# --------------------------------------------------------------------------
# BPE merge learning (iterative, true greedy left-to-right application)
# --------------------------------------------------------------------------

BPE_MERGES = 3  # learned merge rules; fixed so the oracle can unroll


def _bpe_oracle(m: int = BPE_MERGES) -> str:
    """Unrolled BPE trainer: per level, frequency-weighted adjacent-pair
    counts → argmax pair (cnt DESC, then lexicographic — deterministic) →
    greedy left-to-right merge via a list_reduce fold (the true BPE
    application: 'banana' + (a,n) → [b, an, an, a]; a string replace()
    would drop the second merge by consuming the shared boundary)."""
    parts = ["""WITH words AS MATERIALIZED (
      SELECT word, COUNT(*) AS freq
      FROM (SELECT UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '')) AS word
            FROM documents)
      GROUP BY word
    ),
    syms0 AS MATERIALIZED (
      SELECT word, freq, regexp_split_to_array(word, '') AS syms FROM words
    )"""]
    for k in range(1, m + 1):
        parts.append(f""",
    pos{k} AS (SELECT freq, UNNEST(generate_series(1, len(syms) - 1)) AS i, syms
               FROM syms{k - 1} WHERE len(syms) >= 2),
    cnt{k} AS (SELECT syms[i] AS p1, syms[i + 1] AS p2,
                      CAST(SUM(freq) AS BIGINT) AS cnt
               FROM pos{k} GROUP BY 1, 2),
    bp{k} AS MATERIALIZED (
      SELECT p1, p2, cnt FROM cnt{k} ORDER BY cnt DESC, p1, p2 LIMIT 1)""")
        if k < m:
            parts.append(f""",
    syms{k} AS MATERIALIZED (
      SELECT s.word, s.freq,
             (list_reduce(list_prepend(['~'], list_transform(s.syms, e -> [e])),
               (acc, x) -> CASE WHEN acc[len(acc)] = bp.p1 AND x[1] = bp.p2
                           THEN list_concat(acc[1:len(acc)-1], [bp.p1 || bp.p2])
                           ELSE list_concat(acc, x) END))[2:] AS syms
      FROM syms{k - 1} s, bp{k} bp)""")
    finals = " UNION ALL ".join(
        f"SELECT {k} AS step, p1, p2, cnt FROM bp{k}" for k in range(1, m + 1)
    )
    parts.append(f" {finals}")
    return "".join(parts)


@query(
    "bpe_learn_merges",
    oracle=_bpe_oracle(),
    tags=("text", "bpe", "iterative", "tokenizer"),
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 3 BPE merge rules over the corpus vocabulary —
    actual merge LEARNING (the iterative trainer), not just pair counts.

    Each round: frequency-weighted adjacent-symbol-pair counts over the
    vocabulary, deterministic argmax (count DESC, pair lexicographic), then
    TRUE greedy left-to-right merge application as an aggregate() fold with
    a sentinel head — merging (a,n) turns banana into [b, an, an, a],
    matching the canonical Sennrich trainer (a string replace() would miss
    the second occurrence by consuming the shared separator). Returns the
    learned rules (step, p1, p2, cnt).

    Scale (100 TB): the corpus is touched ONCE (the word count); every
    iteration then runs over the vocabulary — orders of magnitude smaller
    than the corpus — with one shuffle per round for pair stats. The 1-row
    argmax collect per round is the learned rule itself (bounded by
    construction). The DuckDB oracle unrolls the identical recurrence.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # The returned rules frame is driver-local, so every persisted ``cur``
    # is released before return: a superseded iteration unpersists as soon
    # as its successor is materialized (the argmax collect scans — and
    # therefore caches — the live ``cur``), and the final one on exit.
    # Bare .persist() is correct here precisely because the lifetime is
    # function-local; cross-invocation slots (tracked_persist) are for
    # frames that must outlive their query function.
    cur = words.withColumn("syms", F.split("word", "")).persist()
    prev: DataFrame | None = None
    rules: list[tuple[int, str, str, int]] = []
    # try/finally so an exception mid-loop (empty pairs frame, analysis
    # error in the fold) cannot leak the up-to-two live persisted frames —
    # they sit outside any tracked slot, so nothing else would release
    # them.
    try:
        for step in range(1, BPE_MERGES + 1):
            pairs = cur.filter(F.size("syms") >= 2).select(
                "freq",
                F.explode(
                    F.expr(
                        "zip_with(slice(syms, 1, size(syms) - 1),"
                        " slice(syms, 2, size(syms) - 1),"
                        " (x, y) -> named_struct('p1', x, 'p2', y))"
                    )
                ).alias("p"),
            )
            top = (
                pairs.groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "p1", "p2")
                .limit(1)
                .collect()
            )
            if not top:
                # Vocabulary collapsed to single symbols before BPE_MERGES
                # rounds — return the rules learned so far, exactly like
                # the oracle's LIMIT-1-of-empty degrades to fewer rows
                # (an unguarded [0] would crash where the oracle succeeds).
                break
            best = top[0]
            if prev is not None:  # the collect above materialized ``cur``
                prev.unpersist()
                prev = None
            rules.append((step, best["p1"], best["p2"], int(best["cnt"])))
            if step < BPE_MERGES:
                # Tokens are [a-z0-9]+ so the learned symbols are safe to
                # inline.
                p1, p2 = best["p1"], best["p2"]
                fold = (
                    f"aggregate(syms, array('~'), (acc, x) ->"
                    f" CASE WHEN element_at(acc, -1) = '{p1}' AND x = '{p2}'"
                    f" THEN concat(slice(acc, 1, size(acc) - 1), array('{p1}{p2}'))"
                    f" ELSE concat(acc, array(x)) END)"
                )
                prev, cur = cur, (
                    cur.withColumn("_m", F.expr(fold))
                    .select(
                        "word",
                        "freq",
                        F.expr("slice(_m, 2, size(_m) - 1)").alias("syms"),
                    )
                    .persist()
                )
    finally:
        for df in (cur, prev):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass
    return spark.createDataFrame(rules, "step int, p1 string, p2 string, cnt bigint")


@query(
    "source_unigram_kl",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                x -> x <> '')) AS term
      FROM documents
    ), st AS (
      SELECT source, term, COUNT(*) AS c_st FROM toks GROUP BY source, term
    ), s_tot AS (
      SELECT source, CAST(SUM(c_st) AS BIGINT) AS c_s,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM st GROUP BY source
    ), g AS (
      SELECT term, CAST(SUM(c_st) AS BIGINT) AS g_t FROM st GROUP BY term
    ), tot AS (SELECT CAST(SUM(g_t) AS BIGINT) AS g_total FROM g)
    SELECT st.source, s_tot.c_s AS n_tokens, s_tot.n_terms,
           floor(SUM((CAST(c_st AS DOUBLE) / c_s)
                     * ln((CAST(c_st AS DOUBLE) / c_s)
                          / (CAST(g_t AS DOUBLE) / g_total))) * 1000000 + 0.5)
             / 1000000 AS kl_nats
    FROM st
    JOIN g USING (term)
    JOIN s_tot USING (source)
    CROSS JOIN tot
    GROUP BY st.source, s_tot.c_s, s_tot.n_terms
    """,
    tags=("text", "stats", "llm"),
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence KL(P_source || P_corpus) between each
    source's unigram term distribution and the whole-corpus distribution —
    the mixture-drift monitor a corpus team watches when a crawl source
    starts emitting off-distribution text (spam bursts, template pages).

    Beyond the reference (its text surface is word count,
    ``test/user_tasks.cc:9-35``); this is corpus telemetry for the
    training-mix tier.

    Plan shape at 100 TB: ONE explode+groupBy pass builds the
    (source, term) count table — shuffle on the composite key, partial
    aggregation map-side — which is then persisted: it is referenced by
    three consumers (the per-source totals, the global term counts, and
    the scoring join), and without the persist each one would re-tokenize
    the whole corpus. The persisted table is aggregate-sized
    (|vocabulary|·|sources| rows, orders of magnitude below the corpus).
    The scoring join on `term` is vocabulary-keyed on both sides, so it
    stays a shuffle hash join rather than a broadcast; the per-source
    totals (|sources| rows) and the single-row corpus total — derived from
    the per-source totals, not from a fourth corpus pass — broadcast.
    Every p·ln(p/q) term is an exact-integer ratio fed to `ln`, and the
    final sum is rounded at 1e-6 (`rnd`), far above the ~1e-13
    cross-engine summation-order noise, so the differential check is
    stable. KL(source‖corpus) is finite by construction: every source
    term is also a corpus term, so q > 0 always.
    """
    docs = load_table(spark, sf_dir, "documents")
    # 3 consumers below; without the persist, 3 corpus re-scans. Tracked
    # per (query, sf_dir) slot so repeated invocations don't leak copies.
    st = tracked_persist(
        docs.select("source", F.explode(tokens_col()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st")),
        f"source_unigram_kl:{sf_dir}",
    )
    s_tot = st.groupBy("source").agg(
        F.sum("c_st").alias("c_s"), F.count(F.lit(1)).alias("n_terms")
    )
    g = st.groupBy("term").agg(F.sum("c_st").alias("g_t"))
    # Corpus token total: one row, folded from the |sources|-row totals.
    tot = s_tot.agg(F.sum("c_s").alias("g_total"))
    p = F.col("c_st").cast("double") / F.col("c_s")
    q = F.col("g_t").cast("double") / F.col("g_total")
    return (
        st.join(g, "term")
        .join(F.broadcast(s_tot), "source")
        .join(F.broadcast(tot))
        .groupBy("source", "c_s", "n_terms")
        .agg(rnd(F.sum(p * F.log(p / q)), 6).alias("kl_nats"))
        .select(
            "source",
            F.col("c_s").alias("n_tokens"),
            "n_terms",
            "kl_nats",
        )
    )


@query(
    "doc_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
      FROM documents
    ), cc AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars WHERE ch <> ''
      GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS distinct_chars,
           floor((ln(CAST(SUM(c) AS DOUBLE))
                  - SUM(c * ln(CAST(c AS DOUBLE))) / SUM(c)) * 1000000 + 0.5)
             / 1000000 AS entropy_nats
    FROM cc
    GROUP BY doc_id
    """,
    tags=("text", "quality", "llm"),
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the classic
    cheap quality signal: near-zero entropy flags repeated-character junk
    and template spam, abnormally high entropy flags binary-in-text and
    encoding garbage. Complements `repetition_signals` (n-gram level) at
    the character level.

    H = ln(n) − (Σ c·ln c)/n over per-doc character counts — every input
    to `ln` is an exact integer count, so the only cross-engine noise is
    summation order, absorbed by the 1e-6 rounding.

    Plan shape at 100 TB: explode to (doc, char) pairs, two-level
    aggregation — partial map-side count per (doc_id, ch) (at most
    ~alphabet-size rows per doc survive the partial agg), shuffle on
    doc_id, final per-doc fold. No Python, whole-stage codegen throughout.
    Both engines split by CODE POINT, including supplementary-plane text:
    Java's zero-width Pattern.split never splits inside a surrogate pair
    (so Spark's split("") yields whole code points, not UTF-16 halves) and
    DuckDB's regexp_split_to_array is code-point based — pinned by the
    emoji parity test in tests/test_text_telemetry.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    cc = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    return cc.groupBy("doc_id").agg(
        n.alias("n_chars"),
        F.count(F.lit(1)).alias("distinct_chars"),
        rnd(
            F.log(n.cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
            6,
        ).alias("entropy_nats"),
    )


@query(
    "doc_unigram_logloss",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                x -> x <> '')) AS term
      FROM documents
    ), dt AS (
      SELECT doc_id, term, COUNT(*) AS c_dt FROM toks GROUP BY doc_id, term
    ), g AS (
      SELECT term, CAST(SUM(c_dt) AS BIGINT) AS g_t FROM dt GROUP BY term
    ), tot AS (SELECT CAST(SUM(g_t) AS BIGINT) AS g_total FROM g)
    SELECT dt.doc_id,
           CAST(SUM(c_dt) AS BIGINT) AS n_tokens,
           floor((-SUM(c_dt * ln(CAST(g_t AS DOUBLE) / g_total)) / SUM(c_dt))
                 * 1000000 + 0.5) / 1000000 AS logloss_nats
    FROM dt
    JOIN g USING (term)
    CROSS JOIN tot
    GROUP BY dt.doc_id
    """,
    tags=("text", "quality", "llm"),
)
def doc_unigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood (nats/token) under the
    CORPUS unigram distribution — the SQL-expressible stand-in for the
    CCNet/Wikipedia-LM perplexity quality filter (Wenzek et al., "CCNet",
    LREC 2020): documents whose token mix is far from the corpus
    distribution (rare-token soup, boilerplate IDs, encoding junk) score
    high and are prune candidates; exp(logloss) is the doc's unigram
    perplexity. Complements `doc_char_entropy` (character level, no
    corpus model) with a corpus-relative token-level signal.

    Beyond the reference (its text surface is word count,
    ``test/user_tasks.cc:9-35``).

    Plan shape at 100 TB: ONE explode+groupBy pass builds the
    (doc_id, term) count table — shuffle on the composite key with
    map-side partial aggregation — persisted because two consumers read
    it (the corpus term-count fold and the scoring join); without the
    persist each would re-tokenize the corpus. The corpus model `g` is
    vocabulary-sized and derived FROM the persisted table, not from a
    second corpus pass; the single-row total folds from `g`. The scoring
    join on `term` is vocabulary-keyed on both sides (doc×term rows vs
    vocab rows), so it stays a shuffle hash join; the final per-doc fold
    shuffles on doc_id. Every ln input is an exact integer ratio
    (IEEE division is correctly rounded in both engines) and the output
    is rounded at 1e-6, far above ~1e-13 summation-order noise.
    −ln q is finite by construction: every doc term is a corpus term.
    Zero-token docs produce no (doc_id, term) rows and hence no output
    row, mirroring the oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    dt = tracked_persist(
        docs.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c_dt")),
        f"doc_unigram_logloss:{sf_dir}",
    )
    g = dt.groupBy("term").agg(F.sum("c_dt").alias("g_t"))
    tot = g.agg(F.sum("g_t").alias("g_total"))
    q = F.col("g_t").cast("double") / F.col("g_total")
    return (
        dt.join(g, "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c_dt").alias("n_tokens"),
            rnd(-F.sum(F.col("c_dt") * F.log(q)) / F.sum("c_dt"), 6).alias(
                "logloss_nats"
            ),
        )
    )


@query(
    "source_js_divergence",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                x -> x <> '')) AS term
      FROM documents
    ), st AS (
      SELECT source, term, COUNT(*) AS c_st FROM toks GROUP BY source, term
    ), s_tot AS (
      SELECT source, CAST(SUM(c_st) AS BIGINT) AS c_s FROM st GROUP BY source
    ), g AS (
      SELECT term, CAST(SUM(c_st) AS BIGINT) AS g_t FROM st GROUP BY term
    ), tot AS (SELECT CAST(SUM(g_t) AS BIGINT) AS g_total FROM g
    ), scored AS (
      SELECT st.source, s_tot.c_s,
             CAST(c_st AS DOUBLE) / c_s AS p,
             CAST(g_t AS DOUBLE) / g_total AS q
      FROM st
      JOIN g USING (term)
      JOIN s_tot USING (source)
      CROSS JOIN tot
    )
    SELECT source, c_s AS n_tokens,
           floor((0.5 * SUM(p * ln(2 * p / (p + q)) + q * ln(2 * q / (p + q)))
                  + 0.5 * ln(2) * (1 - SUM(q))) * 1000000 + 0.5)
             / 1000000 AS jsd_nats
    FROM scored
    GROUP BY source, c_s
    """,
    tags=("text", "stats", "llm"),
)
def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen–Shannon divergence JSD(P_source, P_corpus) —
    the symmetric, bounded-[0, ln 2] companion to `source_unigram_kl`
    (Lin, IEEE Trans. IT 37(1), 1991): a dashboard-friendly mixture-drift
    metric that cannot blow up on a divergent source the way KL can.

    The sum runs ONLY over terms present in the source. With
    M = (P+Q)/2, terms outside the source's support have p = 0 and
    contribute q·ln(q/(q/2)) = q·ln 2 to the Q-side KL, and their total
    corpus mass is 1 − Σ_(t∈supp P) q — so
      JSD = ½·Σ_(t∈supp P) [p·ln(2p/(p+q)) + q·ln(2q/(p+q))]
            + ½·ln 2·(1 − Σ_(t∈supp P) q),
    and no (source × full-vocabulary) expansion is ever materialized.
    (Source terms are always corpus terms, so there is no p-only case.)

    Plan shape at 100 TB: identical machinery to `source_unigram_kl` —
    one explode+groupBy corpus pass into a persisted (source, term)
    count table (aggregate-sized), vocabulary-keyed shuffle join for the
    corpus counts, broadcast per-source totals and single-row corpus
    total, one final |sources|-row fold. The closed-form correction term
    keeps the absent-term mass exact instead of densifying. The 1e-6
    rounding absorbs cross-engine summation-order noise and the ≤1-ulp
    ln(2) difference between libm and Math.log.
    """
    docs = load_table(spark, sf_dir, "documents")
    st = tracked_persist(
        docs.select("source", F.explode(tokens_col()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st")),
        f"source_js_divergence:{sf_dir}",
    )
    s_tot = st.groupBy("source").agg(F.sum("c_st").alias("c_s"))
    g = st.groupBy("term").agg(F.sum("c_st").alias("g_t"))
    tot = s_tot.agg(F.sum("c_s").alias("g_total"))
    p = F.col("c_st").cast("double") / F.col("c_s")
    q = F.col("g_t").cast("double") / F.col("g_total")
    two = F.lit(2.0)
    inside = p * F.log(two * p / (p + q)) + q * F.log(two * q / (p + q))
    return (
        st.join(g, "term")
        .join(F.broadcast(s_tot), "source")
        .join(F.broadcast(tot))
        .groupBy("source", "c_s")
        .agg(
            rnd(
                F.lit(0.5) * F.sum(inside)
                + F.lit(0.5) * F.log(two) * (F.lit(1.0) - F.sum(q)),
                6,
            ).alias("jsd_nats")
        )
        .select("source", F.col("c_s").alias("n_tokens"), "jsd_nats")
    )


# Stopword profile vocabulary: the union of the language-ID marker sets —
# small, fixed, and guaranteed present in the fixture corpus. The drift
# metric is over the CONDITIONAL distribution "which stopword, given the
# token is one", so it is insensitive to overall stopword density (that
# signal is `quality_scores.stopword_ratio`).
# Derived, not hand-copied: the drift vocabulary IS the union of the
# language-ID marker sets, so editing _LANG_MARKERS automatically keeps
# stopword_profile_drift (Column AND oracle, which interpolates this
# tuple) measuring the stated vocabulary.
_DRIFT_WORDS: tuple[str, ...] = tuple(
    w for ws in _LANG_MARKERS.values() for w in ws
)


@query(
    "stopword_profile_drift",
    oracle=f"""
    WITH sw AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                x -> x IN {_DRIFT_WORDS!r})) AS w
      FROM documents
    ), c AS (
      SELECT source, w, COUNT(*) AS c_sw FROM sw GROUP BY source, w
    ), s_tot AS (
      SELECT source, CAST(SUM(c_sw) AS BIGINT) AS t_s FROM c GROUP BY source
    ), g AS (
      SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM c GROUP BY w
    ), tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS t_all FROM g
    ), scored AS (
      SELECT c.source, s_tot.t_s,
             CAST(c_sw AS DOUBLE) / t_s AS p,
             CAST(c_w AS DOUBLE) / t_all AS q
      FROM c
      JOIN g USING (w)
      JOIN s_tot USING (source)
      CROSS JOIN tot
    )
    SELECT source, t_s AS n_stop_tokens,
           floor((SUM(abs(p - q)) + (1 - SUM(q))) * 1000000 + 0.5)
             / 1000000 AS l1_drift
    FROM scored
    GROUP BY source, t_s
    """,
    tags=("text", "stats", "llm"),
)
def stopword_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source L1 (total-variation ×2) distance between the source's
    stopword-usage profile and the corpus profile, over a small fixed
    stopword vocabulary — the cheapest style-drift monitor there is:
    machine-generated or templated text shifts its function-word mix long
    before its topic vocabulary shifts, and a 13-word profile is
    computable at scan speed with no per-source vocabulary state.

    Same absent-term trick as `source_js_divergence`: the sum runs only
    over (source, word) pairs that OCCUR; a vocabulary word absent from
    the source contributes |0 − q| = q, and those q sum to
    1 − Σ_(present) q, so the closed form
      L1 = Σ_(present) |p − q| + (1 − Σ_(present) q)
    never materializes the source × vocabulary grid. Range [0, 2].

    Plan shape at 100 TB: the token filter (`isin` over 13 literals) is
    a codegen'd scan-speed predicate; everything after it aggregates a
    table bounded by |sources| × 13 rows. One corpus pass, period.
    Sources with zero stopword tokens yield no rows (profile undefined).
    Every p, q is one correctly-rounded division of exact integers; abs
    and the 1e-6 rounding make the differential check engine-stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    sw = docs.select(
        "source",
        F.explode(
            F.filter(tokens_col(), lambda x: x.isin(*_DRIFT_WORDS))
        ).alias("w"),
    )
    c = tracked_persist(
        sw.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c_sw")),
        f"stopword_profile_drift:{sf_dir}",
    )
    s_tot = c.groupBy("source").agg(F.sum("c_sw").alias("t_s"))
    g = c.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    tot = s_tot.agg(F.sum("t_s").alias("t_all"))
    p = F.col("c_sw").cast("double") / F.col("t_s")
    q = F.col("c_w").cast("double") / F.col("t_all")
    return (
        c.join(F.broadcast(g), "w")
        .join(F.broadcast(s_tot), "source")
        .join(F.broadcast(tot))
        .groupBy("source", "t_s")
        .agg(
            rnd(F.sum(F.abs(p - q)) + (F.lit(1.0) - F.sum(q)), 6).alias(
                "l1_drift"
            )
        )
        .select("source", F.col("t_s").alias("n_stop_tokens"), "l1_drift")
    )


# Token budgets at which the Heaps-law (type/token) curve is sampled.
# Budget membership is WHOLE-DOC granular: a doc is inside budget b iff the
# per-source running token total through that doc (doc_id order) is <= b —
# the same prefix a packing pass would actually take.
_HEAPS_BUDGETS: tuple[int, ...] = (500, 2000, 8000)
# Oracle-side VALUES list, interpolated into both consuming oracles so a
# budget edit can never desynchronize the Spark plans from the SQL.
_HEAPS_BUDGETS_SQL = ", ".join(f"({b})" for b in _HEAPS_BUDGETS)


@query(
    "source_type_token_curve",
    oracle=f"""
    WITH dt AS (
      SELECT source, doc_id,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                         x -> x <> '') AS toks
      FROM documents
    ), cum AS (
      SELECT source, doc_id,
             CAST(len(toks) AS BIGINT) AS n_toks,
             SUM(CAST(len(toks) AS BIGINT))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM dt
    ), term AS (
      SELECT source, doc_id, unnest(toks) AS term FROM dt
    ), first AS (
      SELECT t.source, t.term, MIN(c.cum) AS fc
      FROM term t JOIN cum c ON t.doc_id = c.doc_id
      GROUP BY t.source, t.term
    ), b(budget) AS (VALUES {_HEAPS_BUDGETS_SQL}
    ), docstats AS (
      SELECT source, budget,
             CAST(COUNT(CASE WHEN cum <= budget THEN 1 END) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(CASE WHEN cum <= budget THEN n_toks END), 0) AS BIGINT) AS n_tokens
      FROM cum CROSS JOIN b GROUP BY source, budget
    ), types AS (
      SELECT source, budget,
             CAST(COUNT(CASE WHEN fc <= budget THEN 1 END) AS BIGINT) AS n_types
      FROM first CROSS JOIN b GROUP BY source, budget
    )
    SELECT d.source, CAST(d.budget AS BIGINT) AS budget,
           d.n_docs, d.n_tokens, t.n_types,
           floor((CAST(t.n_types AS DOUBLE) / nullif(d.n_tokens, 0))
                 * 1000000 + 0.5) / 1000000 AS type_token_ratio
    FROM docstats d
    JOIN types t ON d.source = t.source AND d.budget = t.budget
    """,
    tags=("text", "stats", "llm"),
)
def source_type_token_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type/token ratio sampled at fixed token budgets — a
    three-point Heaps-law curve (Heaps, "Information Retrieval", 1978:
    vocabulary grows ~ tokens^beta). A source whose curve is abnormally
    flat is repeating itself (templates, boilerplate); abnormally steep
    flags ID-soup or encoding junk. Complements `doc_unigram_logloss`
    (per-doc) with a per-source growth signal.

    Budget membership is whole-doc granular (running per-source token
    total through each doc, doc_id order) — the same prefix a packing
    pass takes, and deterministic on both engines.

    Plan shape at 100 TB: the running totals live on the DOC-level table
    (|docs| rows, ~3 orders below the corpus) and come from the two-pass
    distributed prefix sum (`bucketed_prefix_sum` — per-(source,
    id-range-bucket) subtotals + offset window over the tiny subtotal
    table; never a per-source window that would serialize each source's
    docs through one task). The corpus-sized work is ONE explode into
    (source, doc, term), one join against the doc-level cum column
    (doc_id-keyed), and one (source, term) aggregation taking MIN(cum) —
    each term's first-appearance position, from which every budget's
    type count is a conditional count over the vocabulary-sized result.
    No count-distinct expand, no per-budget corpus rescan: the budgets
    multiply only vocabulary- and doc-level rows. All counts are exact
    integers; the single ratio division is correctly rounded, rounded at
    1e-6. Sources with zero docs inside a budget get n_docs = 0 and a
    NULL ratio in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    cum = tracked_persist(
        bucketed_prefix_sum(
            docs.select(
                "source", "doc_id", F.size(toks).cast("long").alias("n_toks")
            ),
            ["source"],
            "doc_id",
            "n_toks",
        ),
        f"source_type_token_curve:{sf_dir}",
    )
    term = docs.select("source", "doc_id", F.explode(toks).alias("term"))
    first = (
        term.join(cum.select("doc_id", "cum"), "doc_id")
        .groupBy("source", "term")
        .agg(F.min("cum").alias("fc"))
    )
    doc_aggs, type_aggs, stack_parts = [], [], []
    for b in _HEAPS_BUDGETS:
        doc_aggs += [
            F.count(F.when(F.col("cum") <= b, F.lit(1))).alias(f"d{b}"),
            F.coalesce(
                F.sum(F.when(F.col("cum") <= b, F.col("n_toks"))), F.lit(0)
            ).alias(f"t{b}"),
        ]
        type_aggs.append(
            F.count(F.when(F.col("fc") <= b, F.lit(1))).alias(f"y{b}")
        )
        stack_parts.append(f"CAST({b} AS BIGINT), d{b}, t{b}, y{b}")
    docstats = cum.groupBy("source").agg(*doc_aggs)
    types = first.groupBy("source").agg(*type_aggs)
    stack = (
        f"stack({len(_HEAPS_BUDGETS)}, "
        + ", ".join(stack_parts)
        + ") as (budget, n_docs, n_tokens, n_types)"
    )
    return (
        docstats.join(types, "source")
        .selectExpr("source", stack)
        .select(
            "source",
            "budget",
            "n_docs",
            "n_tokens",
            "n_types",
            rnd(
                F.col("n_types").cast("double")
                / F.nullif(F.col("n_tokens"), F.lit(0)),
                6,
            ).alias("type_token_ratio"),
        )
    )


@query(
    "budget_pack_efficiency",
    oracle=f"""
    WITH dt AS (
      SELECT source, doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                  x -> x <> '')) AS BIGINT) AS n_toks
      FROM documents
    ), cum AS (
      SELECT source, doc_id, n_toks,
             SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM dt
    ), b(budget) AS (VALUES {_HEAPS_BUDGETS_SQL})
    SELECT source, CAST(budget AS BIGINT) AS budget,
           CAST(COUNT(CASE WHEN cum <= budget THEN 1 END) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN cum <= budget THEN n_toks END), 0)
                AS BIGINT) AS n_tokens,
           CAST(budget - COALESCE(SUM(CASE WHEN cum <= budget THEN n_toks END), 0)
                AS BIGINT) AS waste,
           CAST(COUNT(CASE WHEN cum > budget THEN 1 END) AS BIGINT) AS n_overflow_docs,
           floor((CAST(budget - COALESCE(SUM(CASE WHEN cum <= budget THEN n_toks END), 0)
                       AS DOUBLE) / budget) * 1000000 + 0.5)
             / 1000000 AS waste_ratio
    FROM cum CROSS JOIN b
    GROUP BY source, budget
    """,
    tags=("sampling", "stats", "llm"),
)
def budget_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing waste under the whole-doc prefix budget the engine's
    budget-aware operators use (`source_type_token_curve`,
    `pack_sequences`): per (source, budget), how many tokens of the
    budget go UNUSED because the next doc doesn't fit — the
    bin-packing-efficiency dashboard a token-budgeted mix is tuned
    against (waste_ratio near 1 with overflow docs present = the
    source's docs are too big for the budget granularity).

    Plan shape at 100 TB: runs ENTIRELY on the doc-level metadata table
    (per-source running totals over |docs| rows via the two-pass
    distributed prefix sum — the corpus text is touched only by the
    scan-speed token count; no per-source window over volume-scaled
    rows); budgets multiply
    doc-level rows only. waste = budget − Σ(prefix tokens) is exact
    integer arithmetic; the single ratio division is correctly rounded,
    rounded at 1e-6. A source with no overflow docs simply has
    n_overflow_docs = 0 (its waste is real slack, not granularity loss).
    """
    docs = load_table(spark, sf_dir, "documents")
    cum = bucketed_prefix_sum(
        docs.select(
            "source", "doc_id", F.size(tokens_col()).cast("long").alias("n_toks")
        ),
        ["source"],
        "doc_id",
        "n_toks",
    )
    rows = cum.withColumn(
        "budget",
        F.explode(F.array(*[F.lit(b).cast("long") for b in _HEAPS_BUDGETS])),
    )
    packed = F.coalesce(
        F.sum(F.when(F.col("cum") <= F.col("budget"), F.col("n_toks"))),
        F.lit(0),
    )
    waste = F.first("budget") - packed
    return rows.groupBy("source", "budget").agg(
        F.count(F.when(F.col("cum") <= F.col("budget"), F.lit(1))).alias("n_docs"),
        packed.alias("n_tokens"),
        waste.alias("waste"),
        F.count(F.when(F.col("cum") > F.col("budget"), F.lit(1))).alias(
            "n_overflow_docs"
        ),
        rnd(waste.cast("double") / F.first("budget"), 6).alias("waste_ratio"),
    )


@query(
    "doc_lang_confusion",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                         x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT lang AS actual_lang,
             {predicted_lang_sql()} AS predicted
      FROM t
    ), m AS (
      SELECT actual_lang, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM c GROUP BY actual_lang, predicted
    ), tot AS (
      SELECT actual_lang, CAST(SUM(n_docs) AS BIGINT) AS n_actual
      FROM m GROUP BY actual_lang
    )
    SELECT m.actual_lang, m.predicted, m.n_docs, t.n_actual,
           floor((CAST(m.n_docs AS DOUBLE) / t.n_actual) * 1000000 + 0.5)
             / 1000000 AS share_of_actual
    FROM m JOIN tot t USING (actual_lang)
    """,
    tags=("text", "langid", "stats", "llm"),
)
def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the `lang_id_heuristic` classifier: per
    (actual_lang, predicted marker class) doc counts and row-normalized
    shares — the drift monitor for ANY cheap classifier in the pipeline
    (when a source's share mass moves between predicted classes, either
    the corpus or the classifier shifted). Label spaces intentionally
    differ (fixture langs vs the 3 illustrative marker classes), so the
    matrix is the right telemetry — not precision/recall, which would
    need a shared label space.

    Plan shape at 100 TB: the marker counts are the same scan-speed
    `isin`-filter expressions `lang_id_heuristic` certifies; the matrix
    aggregate is bounded by |langs| × |classes| rows and its row totals
    fold from the matrix itself (no second corpus pass). Counts are
    exact integers; the share division is correctly rounded, rounded at
    1e-6.
    """
    docs = load_table(spark, sf_dir, "documents")
    m = (
        docs.select(
            F.col("lang").alias("actual_lang"),
            predicted_lang_col(tokens_col()).alias("predicted"),
        )
        .groupBy("actual_lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = m.groupBy("actual_lang").agg(F.sum("n_docs").alias("n_actual"))
    return (
        m.join(F.broadcast(tot), "actual_lang")
        .select(
            "actual_lang",
            "predicted",
            "n_docs",
            "n_actual",
            rnd(
                F.col("n_docs").cast("double") / F.col("n_actual"), 6
            ).alias("share_of_actual"),
        )
    )


@query(
    "quality_flag_transition_by_source",
    oracle=f"""
    WITH t AS (
      SELECT source,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                         x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT source,
             {quality_flag_sql()} AS quality_flag,
             {predicted_lang_sql()} AS predicted
      FROM t
    ), m AS (
      SELECT source, quality_flag, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM c GROUP BY source, quality_flag, predicted
    ), tot AS (
      SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_source FROM m GROUP BY source
    )
    SELECT m.source, m.quality_flag, m.predicted, m.n_docs,
           floor((CAST(m.n_docs AS DOUBLE) / t.n_source) * 1000000 + 0.5)
             / 1000000 AS share_of_source
    FROM m JOIN tot t USING (source)
    """,
    tags=("text", "quality", "stats", "llm"),
)
def quality_flag_transition_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint distribution of the two scan-speed classifiers per source —
    (quality_scores flag × lang_id_heuristic class) shares. The corpus
    team's drift cross-tab: a source whose mass moves from (ok, en) to
    (low, sql) changed either its content or its scraper, and the joint
    view catches correlated shifts the two marginals
    (`quality_quantile_filter` coverage, `doc_lang_confusion`) hide.

    Plan shape at 100 TB: both classifiers are codegen'd `isin`/size
    expressions over one shared token split (Spark CSEs the split across
    the CASE branches within a projection); one shuffle on the composite
    key into an aggregate bounded by |sources| × 2 × 3 rows; per-source
    totals fold from the matrix itself. Counts exact; the share division
    is correctly rounded, rounded at 1e-6.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    m = (
        docs.select(
            "source",
            quality_flag_col(toks).alias("quality_flag"),
            predicted_lang_col(toks).alias("predicted"),
        )
        .groupBy("source", "quality_flag", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = m.groupBy("source").agg(F.sum("n_docs").alias("n_source"))
    return m.join(F.broadcast(tot), "source").select(
        "source",
        "quality_flag",
        "predicted",
        "n_docs",
        rnd(F.col("n_docs").cast("double") / F.col("n_source"), 6).alias(
            "share_of_source"
        ),
    )


@query(
    "source_pair_jaccard",
    oracle=f"""
    WITH st AS (
      SELECT DISTINCT source, term FROM (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                  x -> x <> '')) AS term
        FROM documents)
    ), sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM st GROUP BY source
    ), inter AS (
      SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT x.source AS s1, y.source AS s2,
           x.v AS v1, y.v AS v2,
           COALESCE(i.n_inter, 0) AS n_inter,
           floor((CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                  / (x.v + y.v - COALESCE(i.n_inter, 0))) * 1000000 + 0.5)
             / 1000000 AS jaccard
    FROM sizes x JOIN sizes y ON x.source < y.source
    LEFT JOIN inter i ON i.s1 = x.source AND i.s2 = y.source
    """,
    tags=("text", "stats", "llm", "dedup"),
)
def source_pair_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level vocabulary overlap matrix: Jaccard similarity of the
    distinct-token vocabularies of every unordered source pair. The corpus
    team's mirror detector — two crawl sources whose vocabularies are
    near-identical are duplicating each other's content upstream of any
    per-document dedup, and the pair belongs on the `source_dup_mass`
    throttle list.

    Plan shape at 100 TB: one corpus scan builds the distinct
    (source, term) incidence (shuffle on the pair); per-source vocabulary
    sizes are a |sources|-row aggregate (broadcast). The intersection
    self-join is TERM-keyed: each term joins only the ≤|sources| sources
    containing it, so the fanout is bounded by |sources|²/2 per term —
    linear in vocabulary with a tiny constant, never pairwise in
    documents. The final |sources|²/2 dense grid is an intentional
    broadcast crossJoin of two |sources|-row frames. All counts exact
    integers; the single Jaccard division is correctly rounded at 1e-6.
    """
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(tokens_col()).alias("term"))
        .distinct()
    )
    st = tracked_persist(st, f"source_term_vocab:{sf_dir}")
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    x = sizes.select(F.col("source").alias("s1"), F.col("v").alias("v1"))
    y = sizes.select(F.col("source").alias("s2"), F.col("v").alias("v2"))
    grid = x.join(F.broadcast(y), F.col("s1") < F.col("s2"))
    n_inter = F.coalesce(F.col("n_inter"), F.lit(0))
    return (
        grid.join(F.broadcast(inter), ["s1", "s2"], "left")
        .select(
            "s1",
            "s2",
            "v1",
            "v2",
            n_inter.alias("n_inter"),
            rnd(
                n_inter.cast("double") / (F.col("v1") + F.col("v2") - n_inter),
                6,
            ).alias("jaccard"),
        )
    )


def bigram_pairs_col(toks: F.Column) -> F.Column:
    """Adjacent-token bigram structs of a token-array column — zip_with
    over two shifted slice views (constant re-splitting per row, the
    `shingles_col` lesson). Docs with <2 tokens yield an empty array.
    Shared by `doc_bigram_cond_entropy`, `ngram_lm_bigram_logloss`, and
    `source_bigram_js_divergence` (the latter two via
    `_bigram_incidence`) so the bigram convention cannot desynchronize
    between the per-doc entropy, the corpus-LM scorer, and the
    source-drift metric."""
    m = F.size(toks) - 1
    return F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, m),
            F.slice(toks, 2, m),
            lambda x, y: F.struct(x.alias("x"), y.alias("y")),
        ),
    ).otherwise(F.array().cast("array<struct<x:string,y:string>>"))


def bigram_sql(key: str = "doc_id") -> str:
    """Oracle-SQL form of :func:`bigram_pairs_col` — two aligned unnests
    over generate_series from a CTE ``t(key, toks)``, parameterized by
    the carried key column so every bigram oracle (doc-keyed entropy/LM,
    source-keyed JSD) interpolates the SAME convention."""
    return f"""
      SELECT {key},
             unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                                   i -> toks[i])) AS x,
             unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                                   i -> toks[i+1])) AS y
      FROM t
"""


# Backward-compatible doc-keyed form (existing oracles interpolate this).
BIGRAM_SQL = bigram_sql("doc_id")


def _bigram_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, source, x, y, c) adjacent-bigram count table,
    get-or-created under ONE sf_dir-keyed slot (the `_dup_mass_base` /
    `_gram_incidence` discipline) so `ngram_lm_bigram_logloss` and
    `source_bigram_js_divergence` share a single corpus-scale cached
    copy per session instead of each paying its own tokenize+explode
    pass. doc_id determines source, so the (doc_id, x, y) grouping
    grain is unchanged by carrying source."""
    from .cache import shared_persist

    return shared_persist(
        spark,
        lambda: load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.explode(bigram_pairs_col(tokens_col())).alias("p"),
        )
        .select("doc_id", "source", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("doc_id", "source", "x", "y")
        .agg(F.count(F.lit(1)).alias("c")),
        f"bigram_incidence:{sf_dir}",
    )


@query(
    "doc_bigram_cond_entropy",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                         x -> x <> '') AS toks
      FROM documents
    ), bg AS ({BIGRAM_SQL}
    ), cxy AS (
      SELECT doc_id, x, y, CAST(COUNT(*) AS BIGINT) AS c FROM bg
      GROUP BY doc_id, x, y
    ), cx AS (
      SELECT doc_id, x, CAST(SUM(c) AS BIGINT) AS c_x FROM cxy
      GROUP BY doc_id, x
    )
    SELECT cxy.doc_id,
           CAST(SUM(cxy.c) AS BIGINT) AS n_bigrams,
           floor((-SUM(cxy.c * ln(CAST(cxy.c AS DOUBLE) / cx.c_x))
                  / SUM(cxy.c)) * 1000000 + 0.5) / 1000000 AS cond_entropy
    FROM cxy JOIN cx USING (doc_id, x)
    GROUP BY cxy.doc_id
    """,
    tags=("text", "stats", "quality", "llm"),
)
def doc_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document conditional entropy H(next | current) of adjacent token
    bigrams, in nats: -Σ p(x,y)·ln(p(x,y)/p(x)) over the doc's own bigram
    distribution. The predictability quality signal `doc_char_entropy`
    can't see: template/boilerplate text repeats the same continuations
    (low H(Y|X)) even when its character distribution looks healthy,
    while natural prose keeps many next-token options open. Docs with <2
    tokens have no bigrams and produce no row (mirrored by the oracle).

    Plan shape at 100 TB: one scan explodes positional bigrams (zip_with
    over two shifted slice views — constant re-splitting per row, the
    `shingles_col` lesson); (doc, x, y) counts shuffle once, the (doc, x)
    marginals fold FROM those counts (no second corpus pass), one
    (doc, x)-keyed join back, one per-doc fold. Linear in token count.
    Float note: the entropy sum adds O(tokens) doubles whose accumulation
    order differs between engines (~1e-13 relative); rounding at 1e-6
    leaves a wide margin, audited in tests/test_text_telemetry.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select("doc_id", F.explode(bigram_pairs_col(tokens_col())).alias("p")).select(
        "doc_id", F.col("p.x").alias("x"), F.col("p.y").alias("y")
    )
    cxy = bg.groupBy("doc_id", "x", "y").agg(F.count(F.lit(1)).alias("c"))
    cx = cxy.groupBy("doc_id", "x").agg(F.sum("c").alias("c_x"))
    return (
        cxy.join(cx, ["doc_id", "x"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            rnd(
                -F.sum(
                    F.col("c")
                    * F.log(F.col("c").cast("double") / F.col("c_x"))
                )
                / F.sum("c"),
                6,
            ).alias("cond_entropy"),
        )
    )


@query(
    "source_vocab_gini",
    oracle=f"""
    WITH tc AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source,
                   unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                      x -> x <> '')) AS term
            FROM documents)
      GROUP BY source, term
    ), hist AS (
      SELECT source, c, CAST(COUNT(*) AS BIGINT) AS m
      FROM tc GROUP BY source, c
    ), ranked AS (
      SELECT source, c, m,
             CAST(COALESCE(SUM(m) OVER (PARTITION BY source ORDER BY c
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS BIGINT) AS cumb
      FROM hist
    ), agg AS (
      SELECT source,
             CAST(SUM(m) AS BIGINT) AS n_terms,
             CAST(SUM(m * c) AS BIGINT) AS total_tokens,
             SUM(CAST(c AS DOUBLE) * (m * cumb + (m * (m + 1)) // 2))
               AS s_rank
      FROM ranked GROUP BY source
    )
    SELECT source, n_terms, total_tokens,
           floor((2.0 * s_rank / (CAST(n_terms AS DOUBLE) * total_tokens)
                  - (n_terms + 1.0) / n_terms) * 1000000 + 0.5)
             / 1000000 AS gini
    FROM agg
    """,
    tags=("text", "stats", "llm"),
)
def source_vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini concentration of the term-frequency distribution:
    0 = every term used equally, →1 = a handful of terms carry all the
    mass. The boilerplate detector at the SOURCE level — a crawl source
    whose Gini jumps started stamping the same template text onto every
    page, before per-doc dedup ever sees a pair.

    Exactness/scale design: the textbook Gini needs terms RANKED by
    frequency — a per-source sort of the whole vocabulary. This
    implementation never ranks terms: within a tie-block of m terms
    sharing count c the ranks are consecutive whatever the tiebreak, so
    Σ rank·count folds per COUNT-VALUE block as c·(m·cum_before +
    m(m+1)/2). The per-source window therefore runs over the count-value
    HISTOGRAM (|distinct frequency values| rows — log-scale cardinality,
    Zipf corpora have thousands of distinct counts, not billions), and
    the result is deterministic with NO term-order tiebreak; counts stay
    exact BIGINT while the rank-sum and the n·T denominator convert to
    DOUBLE before multiplying (their integer products would pass 2^63 at
    extreme SF — see the inline overflow note), rounded 1e-6. One
    vocabulary-bounded shuffle for (source, term) counts, one
    histogram-sized aggregate; nothing sorts data-volume-scaled rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tokens_col()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hist = tc.groupBy("source", "c").agg(F.count(F.lit(1)).alias("m"))
    w = (
        Window.partitionBy("source")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = hist.withColumn(
        "cumb", F.coalesce(F.sum("m").over(w), F.lit(0)).cast("long")
    )
    agg = ranked.groupBy("source").agg(
        F.sum("m").alias("n_terms"),
        F.sum(F.col("m") * F.col("c")).alias("total_tokens"),
        # The rank-sum and the n·T denominator go DOUBLE before any
        # multiply: at extreme SF (n_terms ~1e9, total_tokens ~1e13) their
        # BIGINT products pass 2^63, where Spark (ANSI off) wraps silently
        # while DuckDB errors — the one place the engines would diverge
        # invisibly to the fixture-scale gate. The inner block term stays
        # integer (bounded ~1e18); the double sums accumulate at 1e-15
        # relative, far inside the 1e-6 rounding margin.
        F.sum(
            F.col("c").cast("double")
            * (
                F.col("m") * F.col("cumb")
                + F.expr("(m * (m + 1)) div 2")
            )
        ).alias("s_rank"),
    )
    return agg.select(
        "source",
        "n_terms",
        "total_tokens",
        rnd(
            F.lit(2.0) * F.col("s_rank")
            / (F.col("n_terms").cast("double") * F.col("total_tokens"))
            - (F.col("n_terms") + F.lit(1.0)) / F.col("n_terms"),
            6,
        ).alias("gini"),
    )


@query(
    "source_quality_trend",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                         x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, source,
             CASE WHEN {quality_keep_sql()} THEN 1 ELSE 0 END AS ok,
             CAST(ntile(4) OVER (PARTITION BY source ORDER BY doc_id)
                  AS BIGINT) AS quartile
      FROM t
    )
    SELECT source, quartile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ok) AS BIGINT) AS n_ok,
           floor((CAST(SUM(ok) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5)
             / 1000000 AS ok_share
    FROM c GROUP BY source, quartile
    """,
    tags=("text", "quality", "stats", "llm"),
)
def source_quality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is a source's QUALITY decaying over intake? The `quality_scores`
    keep-rate per (source, intake quartile) — docs split into 4 ntile
    buckets by doc_id within each source (doc_id order = intake order in
    this corpus). The quality-axis companion to `source_novelty_trend`:
    novelty decay says a crawl source is exhausting its value; a falling
    keep-rate says its scraper or upstream content is degrading — the
    two trends together separate "mined out" from "broken".

    Plan shape at 100 TB: the flag is the shared scan-speed
    `quality_keep_col` expression; the quartile is the ntile CLOSED FORM
    over the two-pass distributed rank (`bucketed_prefix_sum` of 1s +
    `ntile_from_rank` — never an ntile window routing each source's
    docs through one task), and the final aggregate is bounded at
    |sources|×4 rows. Counts exact; one correctly-rounded division at
    1e-6. The rank is deterministic (ordered by the unique doc_id).
    """
    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(
        "doc_id",
        "source",
        quality_keep_col(tokens_col()).cast("int").alias("ok"),
    )
    sizes = flagged.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    ranked = bucketed_prefix_sum(
        flagged, ["source"], "doc_id", F.lit(1), cum_alias="_rank"
    ).join(F.broadcast(sizes), "source")
    q = ranked.withColumn(
        "quartile", ntile_from_rank(F.col("_rank"), F.col("_n"), 4)
    )
    return q.groupBy("source", "quartile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ok").alias("n_ok"),
        rnd(F.sum("ok").cast("double") / F.count(F.lit(1)), 6).alias(
            "ok_share"
        ),
    )


@query(
    "ngram_lm_bigram_logloss",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                         x -> x <> '') AS toks
      FROM documents
    ), bg AS ({BIGRAM_SQL}
    ), dbg AS (
      SELECT doc_id, x, y, CAST(COUNT(*) AS BIGINT) AS c FROM bg
      GROUP BY doc_id, x, y
    ), cxy AS (
      SELECT x, y, CAST(SUM(c) AS BIGINT) AS c_xy FROM dbg GROUP BY x, y
    ), cx AS (
      SELECT x, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM cxy GROUP BY x
    ), v AS (
      SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS vocab
      FROM (SELECT unnest(toks) AS term FROM t)
    )
    SELECT dbg.doc_id,
           CAST(SUM(dbg.c) AS BIGINT) AS n_bigrams,
           floor((-SUM(dbg.c * ln(CAST(c_xy + 1 AS DOUBLE) / (c_x + vocab)))
                  / SUM(dbg.c)) * 1000000 + 0.5) / 1000000 AS logloss_nats
    FROM dbg
    JOIN cxy USING (x, y)
    JOIN cx USING (x)
    CROSS JOIN v
    GROUP BY dbg.doc_id
    """,
    tags=("text", "quality", "stats", "llm"),
)
def ngram_lm_bigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood (nats/bigram) under an
    add-one-smoothed CORPUS bigram language model: the conditional-order
    upgrade of `doc_unigram_logloss` — p(y|x) = (C(x,y)+1)/(C(x)+V) with
    corpus-wide bigram counts C(x,y), context totals C(x) = Σ_y C(x,y),
    and unigram vocabulary size V. A doc can look unigram-typical yet
    bigram-surprising (shuffled-word soup, concatenated fragments); this
    catches exactly that, the CCNet-style LM perplexity filter one
    conditioning order up. exp(logloss) is the doc's bigram perplexity.

    Beyond the reference (its text surface is word count,
    ``test/user_tasks.cc:9-35``).

    Plan shape at 100 TB: ONE explode pass builds the (doc, x, y) bigram
    count table (shuffle on the composite key, map-side partial) — the
    shared `_bigram_incidence` slot, one cached copy per session serving
    this query AND `source_bigram_js_divergence` — read here by three
    consumers: the corpus C(x,y) fold, (via that) the C(x) fold, and the
    scoring join. Both corpus models derive FROM the persisted table,
    never from a second bigram pass; V
    is one extra scan-speed distinct-count over tokens (the only thing
    the bigram table can't supply: tokens of 1-token docs and the
    corpus-initial/final positions) folded to a 1-row broadcast. The
    scoring joins on (x, y) then (x) are vocabulary-keyed shuffle hash
    joins; the final per-doc fold shuffles on doc_id. Strictly linear in
    bigram incidence. Every ln input is an exact integer ratio (add-one
    keeps it finite and positive by construction — any doc bigram has
    C(x,y) ≥ 1); the per-doc double sum accumulates in engine-specific
    order (~1e-13 relative), rounded at 1e-6 with the margin audited in
    tests/test_text_telemetry.py. Docs with <2 tokens have no bigrams
    and produce no row (mirrored by the oracle).
    """
    docs = load_table(spark, sf_dir, "documents")
    dbg = _bigram_incidence(spark, sf_dir).select("doc_id", "x", "y", "c")
    cxy = dbg.groupBy("x", "y").agg(F.sum("c").alias("c_xy"))
    cx = cxy.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    v = docs.select(F.explode(tokens_col()).alias("term")).agg(
        F.count_distinct("term").alias("vocab")
    )
    p = (F.col("c_xy") + 1).cast("double") / (F.col("c_x") + F.col("vocab"))
    return (
        dbg.join(cxy, ["x", "y"])
        .join(cx, "x")
        .join(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            rnd(-F.sum(F.col("c") * F.log(p)) / F.sum("c"), 6).alias(
                "logloss_nats"
            ),
        )
    )


@query(
    "source_char_class_profile",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(length(text) AS BIGINT) AS n,
             CAST(length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS not_alpha,
             CAST(length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS not_digit,
             CAST(length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS BIGINT) AS not_space
      FROM documents
    ), agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS n_chars,
             CAST(SUM(n - not_alpha) AS BIGINT) AS alpha_chars,
             CAST(SUM(n - not_digit) AS BIGINT) AS digit_chars,
             CAST(SUM(n - not_space) AS BIGINT) AS space_chars
      FROM t GROUP BY source
    )
    SELECT source, n_docs, n_chars, alpha_chars, digit_chars, space_chars,
           n_chars - alpha_chars - digit_chars - space_chars AS other_chars,
           floor((CAST(alpha_chars AS DOUBLE) / nullif(n_chars, 0)) * 1000000 + 0.5)
             / 1000000 AS alpha_share,
           floor((CAST(digit_chars AS DOUBLE) / nullif(n_chars, 0)) * 1000000 + 0.5)
             / 1000000 AS digit_share,
           floor((CAST(n_chars - alpha_chars - digit_chars - space_chars AS DOUBLE)
                  / nullif(n_chars, 0)) * 1000000 + 0.5) / 1000000 AS symbol_share
    FROM agg
    """,
    tags=("text", "quality", "stats", "llm"),
)
def source_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class composition: alpha / digit / whitespace /
    other totals and shares. The encoding-junk detector at the SOURCE
    level — a crawl source whose symbol_share jumps started emitting
    mojibake, markup soup, or base64 blobs; digit_share separates
    numeric-table dumps from prose. Complements the per-doc
    `doc_char_entropy` (distribution shape) with interpretable absolute
    class masses a dashboard can threshold.

    Plan shape at 100 TB: pure scan-speed expressions — each class count
    is length(text) − length(regexp_replace(text, class, '')), computed
    per row inside whole-stage codegen, folded in ONE map-side-partial
    aggregation to |sources| rows; no joins, no second pass, nothing
    driver-side. Counts are exact integers (both engines count code
    points); the three share divisions are correctly rounded at 1e-6;
    zero-char sources yield NULL shares in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text").cast("long")

    def _cnt(pat: str) -> F.Column:
        return n - F.length(F.regexp_replace(F.col("text"), pat, "")).cast("long")

    agg = docs.select(
        "source",
        n.alias("n"),
        _cnt("[A-Za-z]").alias("alpha"),
        _cnt("[0-9]").alias("digit"),
        _cnt("[ \t\n\r]").alias("space"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("n_chars"),
        F.sum("alpha").alias("alpha_chars"),
        F.sum("digit").alias("digit_chars"),
        F.sum("space").alias("space_chars"),
    )
    other = (
        F.col("n_chars")
        - F.col("alpha_chars")
        - F.col("digit_chars")
        - F.col("space_chars")
    )
    nz = F.nullif(F.col("n_chars"), F.lit(0))
    return agg.select(
        "source",
        "n_docs",
        "n_chars",
        "alpha_chars",
        "digit_chars",
        "space_chars",
        other.alias("other_chars"),
        rnd(F.col("alpha_chars").cast("double") / nz, 6).alias("alpha_share"),
        rnd(F.col("digit_chars").cast("double") / nz, 6).alias("digit_share"),
        rnd(other.cast("double") / nz, 6).alias("symbol_share"),
    )


@query(
    "source_zipf_alpha_mle",
    oracle=f"""
    WITH tc AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source,
                   unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                      x -> x <> '')) AS term
            FROM documents)
      GROUP BY source, term
    ), hist AS (
      SELECT source, c, CAST(COUNT(*) AS BIGINT) AS m
      FROM tc GROUP BY source, c
    )
    SELECT source,
           CAST(SUM(m) AS BIGINT) AS n_terms,
           CAST(SUM(m * c) AS BIGINT) AS total_tokens,
           floor((1.0 + CAST(SUM(m) AS DOUBLE) / SUM(m * ln(2.0 * c)))
                 * 1000000 + 0.5) / 1000000 AS zipf_alpha
    FROM hist GROUP BY source
    """,
    tags=("text", "stats", "llm"),
)
def source_zipf_alpha_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf/power-law exponent of the term-frequency
    distribution via the discrete maximum-likelihood estimator of
    Clauset, Shalizi & Newman (SIAM Review 51(4), 2009, eq. 3.7 with
    x_min = 1): alpha = 1 + N / Σ_terms ln(c / (x_min − ½)) = 1 + N / Σ
    ln(2c). Natural-language sources sit near alpha ≈ 2; template or
    generated text collapses the tail (alpha drifts high), ID/log dumps
    flatten it (alpha → 1). The parametric companion to
    `source_vocab_gini`: Gini says HOW concentrated, the MLE exponent
    says WHICH power law, and tracking both across snapshots separates
    real vocabulary drift from volume effects (the MLE is
    sample-size-consistent where rank-regression slopes are biased —
    the reason this is NOT fit by regressing log-rank on log-freq,
    which would also need a vocabulary-scale sort).

    Plan shape at 100 TB: one vocabulary-bounded (source, term) count
    shuffle (map-side partial), folded through the count-value HISTOGRAM
    (same |distinct frequency values| cardinality trick as
    `source_vocab_gini` — Σ m·ln(2c) needs no per-term rows, no ranks,
    no sort at any scale). Counts exact BIGINT; ln(2c) of an exact
    integer is correctly rounded in both engines, the weighted sum
    accumulates in engine-specific order (~1e-15 relative), and the
    output rounds at 1e-6. The denominator is strictly positive (every
    block contributes m·ln(2c) ≥ m·ln 2), so the division is always
    defined; a source with zero tokens produces no rows at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tokens_col()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hist = tc.groupBy("source", "c").agg(F.count(F.lit(1)).alias("m"))
    return hist.groupBy("source").agg(
        F.sum("m").alias("n_terms"),
        F.sum(F.col("m") * F.col("c")).alias("total_tokens"),
        rnd(
            F.lit(1.0)
            + F.sum("m").cast("double")
            / F.sum(F.col("m") * F.log(F.lit(2.0) * F.col("c"))),
            6,
        ).alias("zipf_alpha"),
    )


@query(
    "source_bigram_js_divergence",
    oracle=f"""
    WITH t AS (
      SELECT source,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                         x -> x <> '') AS toks
      FROM documents
    ), bg AS ({bigram_sql("source")}
    ), st AS (
      SELECT source, x, y, CAST(COUNT(*) AS BIGINT) AS c_st FROM bg
      GROUP BY source, x, y
    ), s_tot AS (
      SELECT source, CAST(SUM(c_st) AS BIGINT) AS c_s FROM st GROUP BY source
    ), g AS (
      SELECT x, y, CAST(SUM(c_st) AS BIGINT) AS g_t FROM st GROUP BY x, y
    ), tot AS (SELECT CAST(SUM(g_t) AS BIGINT) AS g_total FROM g
    ), scored AS (
      SELECT st.source, s_tot.c_s,
             CAST(c_st AS DOUBLE) / c_s AS p,
             CAST(g_t AS DOUBLE) / g_total AS q
      FROM st
      JOIN g USING (x, y)
      JOIN s_tot USING (source)
      CROSS JOIN tot
    )
    SELECT source, c_s AS n_bigrams,
           floor((0.5 * SUM(p * ln(2 * p / (p + q)) + q * ln(2 * q / (p + q)))
                  + 0.5 * ln(2) * (1 - SUM(q))) * 1000000 + 0.5)
             / 1000000 AS jsd_nats
    FROM scored
    GROUP BY source, c_s
    """,
    tags=("text", "stats", "llm"),
)
def source_bigram_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen–Shannon divergence between the source's BIGRAM
    distribution and the corpus bigram distribution — the conditional-
    order upgrade of `source_js_divergence`, exactly as
    `ngram_lm_bigram_logloss` upgrades `doc_unigram_logloss`: a source
    can keep the corpus vocabulary (unigram JSD flat) while recombining
    it into alien phrasing (template slot-filling, shuffled-word spam) —
    visible only at bigram order. Same truncated-support identity (Lin
    1991): the sum runs only over bigrams in the source's support, with
    the absent-bigram corpus mass folded in closed form as
    ½·ln 2·(1 − Σ q); bounded [0, ln 2].

    Plan shape at 100 TB: folds its (source, x, y) counts FROM the
    shared persisted `_bigram_incidence` table (one cached copy per
    session also serving `ngram_lm_bigram_logloss` — no tokenize or
    explode pass of its own); the corpus bigram model and the
    single-row total fold from the same table (no second corpus pass);
    one bigram-keyed shuffle join + broadcast
    per-source totals; |sources|-row output. Same machinery and
    asymptotics as the unigram JSD with the key widened to (x, y) —
    bigram-type-bounded, never corpus-scale after the first fold. 1e-6
    rounding absorbs summation-order noise and the ≤1-ulp ln(2)
    difference between libm and Math.log.
    """
    st = (
        _bigram_incidence(spark, sf_dir)
        .groupBy("source", "x", "y")
        .agg(F.sum("c").alias("c_st"))
    )
    s_tot = st.groupBy("source").agg(F.sum("c_st").alias("c_s"))
    g = st.groupBy("x", "y").agg(F.sum("c_st").alias("g_t"))
    tot = s_tot.agg(F.sum("c_s").alias("g_total"))
    p = F.col("c_st").cast("double") / F.col("c_s")
    q = F.col("g_t").cast("double") / F.col("g_total")
    two = F.lit(2.0)
    inside = p * F.log(two * p / (p + q)) + q * F.log(two * q / (p + q))
    return (
        st.join(g, ["x", "y"])
        .join(F.broadcast(s_tot), "source")
        .join(F.broadcast(tot))
        .groupBy("source", "c_s")
        .agg(
            rnd(
                F.lit(0.5) * F.sum(inside)
                + F.lit(0.5) * F.log(two) * (F.lit(1.0) - F.sum(q)),
                6,
            ).alias("jsd_nats")
        )
        .select("source", F.col("c_s").alias("n_bigrams"), "jsd_nats")
    )


@query(
    "doc_length_percentile_by_source",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           floor(percent_rank() OVER (PARTITION BY source
                                      ORDER BY n_tokens, doc_id)
                 * 1000000 + 0.5) / 1000000 AS length_pct
    FROM t
    """,
    tags=("text", "quality", "stats", "llm"),
)
def doc_length_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document's exact token-count percentile WITHIN its source —
    the per-doc length feature curation rules consume ("drop the bottom
    decile per source", "sample long-tail docs at higher weight")
    exported as telemetry, normalized per source because length
    distributions differ wildly between crawl sources and a global
    percentile would just encode source identity. Deterministic: ranks
    order by (n_tokens, doc_id) — a unique key — so they are
    engine-stable; (rank−1)/(n−1) is one IEEE division computed
    identically by both engines, rounded 1e-6.

    Plan shape at 100 TB: token count is a scan-speed expression; the
    exact percent_rank comes from the count-value HISTOGRAM closed form
    (`hist_percent_rank`): cumulative counts run over the distinct
    token-count histogram (|token-count domain| rows per source — small
    ints, domain-bounded) and the only data-scale window is the
    within-VALUE row_number keyed by (source, n_tokens), whose group
    sizes shrink as 1/|domain|. A per-source percent_rank window would
    instead route every doc of a source through ONE task — 20 sources ⇒
    20 tasks for the whole corpus. Output is one row per document,
    linear.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens_col()).cast("long").alias("n_tokens")
    )
    ranked = hist_percent_rank(t, ["source"], "n_tokens", "doc_id")
    return ranked.select(
        "doc_id",
        "source",
        "n_tokens",
        rnd(F.col("pr"), 6).alias("length_pct"),
    )


@query(
    "source_length_lognormal_fit",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             SUM(ln(CAST(n_tokens AS DOUBLE))) AS sl,
             SUM(ln(CAST(n_tokens AS DOUBLE)) * ln(CAST(n_tokens AS DOUBLE))) AS sl2
      FROM t WHERE n_tokens >= 1 GROUP BY source
    )
    SELECT source, n_docs,
           floor((sl / n_docs) * 1000000 + 0.5) / 1000000 AS mu_log,
           floor(sqrt(greatest(sl2 / n_docs - (sl / n_docs) * (sl / n_docs), 0.0))
                 * 1000000 + 0.5) / 1000000 AS sigma_log,
           floor(exp(sl / n_docs) * 1000000 + 0.5) / 1000000 AS median_est
    FROM s
    """,
    tags=("text", "stats", "llm"),
)
def source_length_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lognormal fit of the document-length distribution —
    the MLE (μ, σ) of ln(token count) plus the implied median exp(μ).
    Document lengths are canonically lognormal-ish; a source whose σ
    collapses is stamping fixed-size templates, one whose μ drifts down
    is fragmenting pages — the LENGTH-distribution companion to
    `source_zipf_alpha_mle` (term frequencies) and the model behind
    choosing `pack_sequences`' budget (a 2048-token bin holds
    ~2048/exp(μ) median docs). Zero-token docs carry no length
    information and are excluded (both engines).

    Plan shape at 100 TB: token count and its log are scan-speed
    expressions folded in ONE map-side-partial aggregation to |sources|
    rows — same shape as `source_char_class_profile`, no joins, no
    second pass. ln of an exact integer is correctly rounded in both
    engines; the moment sums accumulate in engine-specific order
    (~1e-15 relative) and every output rounds at 1e-6; the variance is
    computed from the sums in one double expression with identical
    operand order in both engines, clamped ≥ 0 against last-ulp
    cancellation (population σ, the MLE).
    """
    docs = load_table(spark, sf_dir, "documents")
    ln_n = F.log(F.size(tokens_col()).cast("double"))
    s = (
        docs.select("source", F.size(tokens_col()).alias("nt"), ln_n.alias("l"))
        .filter(F.col("nt") >= 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("l").alias("sl"),
            F.sum(F.col("l") * F.col("l")).alias("sl2"),
        )
    )
    mu = F.col("sl") / F.col("n_docs")
    var = F.greatest(F.col("sl2") / F.col("n_docs") - mu * mu, F.lit(0.0))
    return s.select(
        "source",
        "n_docs",
        rnd(mu, 6).alias("mu_log"),
        rnd(F.sqrt(var), 6).alias("sigma_log"),
        rnd(F.exp(mu), 6).alias("median_est"),
    )


def _doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens) per document — the scan-speed tokenize
    projection shared by doc_token_concentration_by_source and
    source_token_weighted_length_percentiles. Cached via shared_persist
    (get-or-create): the slot is keyed only by sf_dir and consumed by
    two queries, so an evict-and-re-register would thrash the sibling's
    materialized copy (the round-13 cache discipline)."""
    from .cache import shared_persist

    return shared_persist(
        spark,
        lambda: _doc_token_rows(spark, sf_dir, load_table),
        f"doc_token_counts:{sf_dir}",
    )


def _doc_token_rows(
    spark: SparkSession, sf_dir: str, read: TableReader
) -> DataFrame:
    docs = read(spark, sf_dir, "documents")
    return docs.select(
        "source", F.size(tokens_col()).cast("long").alias("n_tokens")
    )


# Shared with the streaming twin in streaming/stream.py: one statement of
# the tokenize convention, the percentile_disc rank and the concentration
# fold, so batch and stream cannot drift.
DOC_TOKEN_CONCENTRATION_ORACLE = f"""
    WITH t AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(lower(text),
                                                         '{TOKEN_DELIM}'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT source, n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY n_tokens) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM t
    ),
    th AS (
      SELECT source,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT))
                      THEN n_tokens END) AS threshold_tokens
      FROM r GROUP BY 1
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           h.threshold_tokens,
           CAST(SUM(CASE WHEN t.n_tokens >= h.threshold_tokens
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
           CAST(SUM(CASE WHEN t.n_tokens >= h.threshold_tokens
                         THEN t.n_tokens ELSE 0 END) AS BIGINT) AS top_tokens,
           CAST(CAST(SUM(CASE WHEN t.n_tokens >= h.threshold_tokens
                              THEN t.n_tokens ELSE 0 END) AS BIGINT)
                AS DOUBLE)
             / CAST(SUM(t.n_tokens) AS BIGINT) AS top_token_share
    FROM t JOIN th h ON t.source = h.source
    GROUP BY 1, 3
    """


def _token_concentration_report(cells: DataFrame, th: DataFrame) -> DataFrame:
    """The concentration fold over (source, n_tokens, m) cells — m docs
    with n_tokens tokens — against the |sources|-row (source,
    threshold_tokens) grid: the shared tail of
    doc_token_concentration_by_source (per-doc rows, m = 1) and its
    streaming twin (histogram cells). Counts and token masses are exact
    int64; the share is one IEEE division."""
    top = F.col("n_tokens") >= F.col("threshold_tokens")
    g = (
        cells.join(F.broadcast(th), "source")
        .groupBy("source", "threshold_tokens")
        .agg(
            F.sum("m").alias("n_docs"),
            F.sum(F.when(top, F.col("m")).otherwise(0)).cast("long").alias("n_top"),
            F.sum(
                F.when(top, F.col("n_tokens") * F.col("m")).otherwise(0)
            ).alias("top_tokens"),
            F.sum(F.col("n_tokens") * F.col("m")).alias("_total"),
        )
    )
    return g.select(
        "source",
        "n_docs",
        "threshold_tokens",
        "n_top",
        "top_tokens",
        (F.col("top_tokens").cast("double") / F.col("_total")).alias(
            "top_token_share"
        ),
    )


@query(
    "doc_token_concentration_by_source",
    oracle=DOC_TOKEN_CONCENTRATION_ORACLE,
    tags=("text", "llm", "percentile", "iterative"),
)
def doc_token_concentration_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source TOKEN-MASS concentration: the exact p90 token-count
    threshold (stratified narrower) and the share of the source's total
    token mass sitting in its top-decile documents — the token-budget
    skew read behind corpus curation (a source whose token mass is
    dominated by a few giant documents needs chunking or length caps
    before its sampling weight means anything; the documents twin of
    `event_value_concentration_by_type`).

    Token counts use the SAME tokenize convention as `wordcount` (split
    on '[^a-z0-9]+', drop empties — the oracle states it with
    regexp_split_to_array + list_filter), folded to ONE int64 per doc at
    scan speed; the per-source thresholds all narrow together over the
    cached (source, n_tokens) projection (strata = |sources|,
    driver-small at any SF; token-count domain row-scale, no histogram
    closed form), then the concentration is ONE partial-aggregatable
    fold against the broadcast |sources|-row threshold grid. Counts and
    token masses exact int64 (2^53-safe: total tokens per source —
    ~10¹² tokens before the share division would need re-graining, and
    the oracle casts its HUGEINT sums through BIGINT first); the share
    is one IEEE division stated identically in both engines."""
    from ..functions.ranks import kth_order_statistics_by

    tc = _doc_token_counts(spark, sf_dir)
    th = kth_order_statistics_by(tc, "source", "n_tokens", q=0.9, n_buckets=256)
    grid = spark.createDataFrame(
        sorted(th.items()), "source string, threshold_tokens long"
    )
    return _token_concentration_report(
        tc.select("source", "n_tokens", F.lit(1).alias("m")), grid
    )


DOC_LEN_QUALITY_ORACLE = f"""
    WITH t AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    d AS (
      SELECT CAST(len(toks) AS BIGINT) AS n_tokens,
             {quality_flag_sql()} AS quality_flag
      FROM t
    ),
    r AS (
      SELECT n_tokens, cume_dist() OVER (ORDER BY n_tokens) AS cd
      FROM d
    ),
    th AS (
      SELECT MIN(CASE WHEN cd >= 0.1 THEN n_tokens END) AS t1,
             MIN(CASE WHEN cd >= 0.2 THEN n_tokens END) AS t2,
             MIN(CASE WHEN cd >= 0.3 THEN n_tokens END) AS t3,
             MIN(CASE WHEN cd >= 0.4 THEN n_tokens END) AS t4,
             MIN(CASE WHEN cd >= 0.5 THEN n_tokens END) AS t5,
             MIN(CASE WHEN cd >= 0.6 THEN n_tokens END) AS t6,
             MIN(CASE WHEN cd >= 0.7 THEN n_tokens END) AS t7,
             MIN(CASE WHEN cd >= 0.8 THEN n_tokens END) AS t8,
             MIN(CASE WHEN cd >= 0.9 THEN n_tokens END) AS t9
      FROM r
    ),
    m AS (
      SELECT 1 + (CASE WHEN d.n_tokens > th.t1 THEN 1 ELSE 0 END)
               + (CASE WHEN d.n_tokens > th.t2 THEN 1 ELSE 0 END)
               + (CASE WHEN d.n_tokens > th.t3 THEN 1 ELSE 0 END)
               + (CASE WHEN d.n_tokens > th.t4 THEN 1 ELSE 0 END)
               + (CASE WHEN d.n_tokens > th.t5 THEN 1 ELSE 0 END)
               + (CASE WHEN d.n_tokens > th.t6 THEN 1 ELSE 0 END)
               + (CASE WHEN d.n_tokens > th.t7 THEN 1 ELSE 0 END)
               + (CASE WHEN d.n_tokens > th.t8 THEN 1 ELSE 0 END)
               + (CASE WHEN d.n_tokens > th.t9 THEN 1 ELSE 0 END)
               AS token_decile,
             d.quality_flag
      FROM d CROSS JOIN th
    ),
    g AS (
      SELECT token_decile, quality_flag, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM m GROUP BY 1, 2
    ),
    tot AS (
      SELECT token_decile, CAST(SUM(n_docs) AS BIGINT) AS decile_total
      FROM g GROUP BY 1
    )
    SELECT CAST(g.token_decile AS BIGINT) AS token_decile, g.quality_flag,
           g.n_docs, tot.decile_total,
           CAST(g.n_docs AS DOUBLE) / tot.decile_total AS row_share
    FROM g JOIN tot ON g.token_decile = tot.token_decile
    """


@query(
    "doc_length_vs_quality_interaction_matrix",
    oracle=DOC_LEN_QUALITY_ORACLE,
    tags=("text", "llm", "quality", "matrix", "percentile"),
)
def doc_length_vs_quality_interaction_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-count DECILE × quality-flag interaction matrix: per (exact
    length decile, keep/drop flag) the document count, the decile's
    total, and the cell's share of its decile row — the
    does-my-length-filter-proxy-for-quality read behind corpus curation
    (the quality rule already has a hard length clause, so the LOW band
    of the matrix shows where the stopword clause bites BEYOND the
    length cut; a row_share cliff between adjacent deciles locates the
    length regime where the two filters decouple). Completes the
    interaction family: `source_quality_dup_interaction` crossed quality
    with DUPLICATION, this crosses it with LENGTH.

    Composition: the per-doc (n_tokens, quality_flag) pair folds at scan
    speed with the shared tokenize/flag builders (same single source of
    truth as `quality_scores` — the oracle states both via the same SQL
    fragments). The nine decile thresholds use the count-value HISTOGRAM
    closed form (`hist_cume_counts` — token-count domain is bounded by
    the corpus length-cap policy however large the corpus grows, the
    `doc_token_concentration_by_source` premise; one global stratum, so
    the cumulative window runs over |distinct token counts| rows), with
    the threshold selection stated as cume_dist ≥ q — the SAME exact
    integers and one IEEE division `hist_disc_percentile` computes.
    Decile assignment is value-based (1 + Σ n_tokens > tₖ over literal
    thresholds — the migration-matrix discipline, so boundary ties land
    deterministically in both engines and tied values share a decile),
    then ONE partial-aggregatable fold over the cached doc-count-sized
    projection to the ≤20-cell grid and a broadcast ≤10-row total join.
    Counts exact int64; the share is one IEEE division per cell."""
    from ..functions.ranks import hist_cume_counts, hist_disc_percentile

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    tc = tracked_persist(
        docs.select(
            F.size(toks).cast("long").alias("n_tokens"),
            quality_flag_col(toks).alias("quality_flag"),
        ),
        f"doc_len_quality:{sf_dir}",
    )
    hist = hist_cume_counts(tc.withColumn("g", F.lit(1)), ["g"], "n_tokens")
    rows = hist.groupBy("g").agg(
        *[
            hist_disc_percentile("n_tokens", k / 10.0, f"t{k}")
            for k in range(1, 10)
        ]
    ).collect()
    if not rows:
        raise ValueError(
            "doc_length_vs_quality_interaction_matrix: empty documents "
            "table — no rows to compute decile thresholds over"
        )
    row = rows[0]
    decile = F.lit(1)
    for k in range(1, 10):
        decile = decile + F.when(
            F.col("n_tokens") > F.lit(row[f"t{k}"]), 1
        ).otherwise(0)
    g = (
        tc.select(decile.cast("long").alias("token_decile"), "quality_flag")
        .groupBy("token_decile", "quality_flag")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = g.groupBy("token_decile").agg(F.sum("n_docs").alias("decile_total"))
    return g.join(F.broadcast(tot), "token_decile").select(
        "token_decile",
        "quality_flag",
        "n_docs",
        "decile_total",
        (F.col("n_docs").cast("double") / F.col("decile_total")).alias(
            "row_share"
        ),
    )


@query(
    "source_token_weighted_length_percentiles",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(lower(text),
                                                         '{TOKEN_DELIM}'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT source, n_tokens,
             CAST(COUNT(*) OVER (PARTITION BY source ORDER BY n_tokens
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_cnt,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS tot_cnt,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY n_tokens
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_mass,
             CAST(SUM(n_tokens) OVER (PARTITION BY source) AS BIGINT)
               AS tot_mass
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(tot_mass) AS BIGINT) AS total_tokens,
           MIN(CASE WHEN CAST(cum_cnt AS DOUBLE) / tot_cnt >= 0.5
                    THEN n_tokens END) AS p50_len,
           MIN(CASE WHEN CAST(cum_mass AS DOUBLE) / tot_mass >= 0.5
                    THEN n_tokens END) AS w50_len,
           MIN(CASE WHEN CAST(cum_mass AS DOUBLE) / tot_mass >= 0.9
                    THEN n_tokens END) AS w90_len
    FROM r GROUP BY 1
    """,
    tags=("text", "llm", "percentile", "weighted"),
)
def source_token_weighted_length_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source TOKEN-WEIGHTED length percentiles — the exact
    WEIGHTED-rank form: w50/w90 are the smallest doc lengths below which
    50%/90% of the source's token MASS sits (each doc weighted by its
    own token count), published next to the plain doc-count median
    p50_len. The gap between p50 and w50 is the budget-vs-census skew
    read in one number: w50 ≫ p50 says the token budget lives in docs
    far longer than the typical one, so per-DOC sampling rates and
    per-TOKEN budget plans diverge (`doc_token_concentration_by_source`
    reports the same skew as top-decile mass; this turns it into the
    percentile grid chunk-size policies are written against).

    The weighted selection generalizes percentile_disc: min value whose
    cumulative weight share reaches q, ties block-inclusive — stated in
    the oracle as RANGE-framed window sums over raw rows, computed
    engine-side over the (source, n_tokens) HISTOGRAM (cells from the
    shared cached projection; ties are single rows, so the histogram
    cumulative IS the tie-inclusive RANGE sum — same exact int64s, same
    one IEEE division per comparison). The per-source windows run over
    |distinct token counts| rows (domain-bounded by length-cap policy),
    never per-doc rows. Zero-token docs carry zero mass but count in
    n_docs and p50_len; a source that is ENTIRELY zero-token would yield
    NULL weighted ranks on both engines (0/0 NaN compares false) —
    fixture-excluded, noted for completeness."""
    from ..functions.ranks import (
        hist_cume_counts,
        hist_disc_percentile,
        hist_disc_weighted_percentile,
    )

    tc = _doc_token_counts(spark, sf_dir)
    h = tc.groupBy("source", "n_tokens").agg(F.count(F.lit(1)).alias("cnt"))
    cells = h.withColumn(
        "mass", (F.col("n_tokens") * F.col("cnt")).cast("long")
    )
    r = hist_cume_counts(
        cells, ["source"], "n_tokens", m_col="cnt", weight_col="mass"
    )
    return r.groupBy("source").agg(
        F.sum("m").alias("n_docs"),
        F.sum("wm").alias("total_tokens"),
        hist_disc_percentile("n_tokens", 0.5, "p50_len"),
        hist_disc_weighted_percentile("n_tokens", 0.5, "w50_len"),
        hist_disc_weighted_percentile("n_tokens", 0.9, "w90_len"),
    )


@query(
    "source_quality_flag_share_drift",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(text), '{TOKEN_DELIM}'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    r AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM t
    ),
    mid AS (
      SELECT MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                      THEN doc_id END) AS d
      FROM r
    ),
    h AS (
      SELECT source, {quality_flag_sql()} AS quality_flag,
             CASE WHEN doc_id <= mid.d THEN 1 ELSE 2 END AS half
      FROM t CROSS JOIN mid
    ),
    c AS (
      SELECT half, source, quality_flag, CAST(COUNT(*) AS BIGINT) AS n
      FROM h GROUP BY 1, 2, 3
    ),
    st AS (
      SELECT half, source, CAST(SUM(n) AS BIGINT) AS s_total
      FROM c GROUP BY 1, 2
    )
    SELECT c2.source, c2.quality_flag, c2.n AS n2,
           t2.s_total AS source_total2,
           CAST(c2.n AS DOUBLE) / t2.s_total AS share2,
           c1.n AS n1,
           CASE WHEN c1.n IS NOT NULL THEN
             (c2.n - CAST(c1.n AS DOUBLE) * t2.s_total / t1.s_total)
             * (c2.n - CAST(c1.n AS DOUBLE) * t2.s_total / t1.s_total)
             / (CAST(c1.n AS DOUBLE) * t2.s_total / t1.s_total)
           END AS chi2_term
    FROM c c2
    JOIN st t2 ON t2.half = 2 AND t2.source = c2.source
    LEFT JOIN c c1 ON c1.half = 1 AND c1.source = c2.source
                  AND c1.quality_flag = c2.quality_flag
    LEFT JOIN st t1 ON t1.half = 1 AND t1.source = c2.source
    WHERE c2.half = 2
    """,
    tags=("text", "quality", "drift", "llm", "iterative"),
)
def source_quality_flag_share_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CORPUS-side half-split drift of the quality-flag mix: split the
    corpus at its exact median doc_id (by doc count — ingest-order proxy,
    the same whole-corpus split `source_length_lognormal_fit`'s family
    reads), count (source, quality_flag) cells per half, and report each
    half-2 cell's count, its share of the source's half-2 docs, the
    half-1 count, and the chi-square term against the expectation
    extrapolated from half-1's per-source flag mix
    (e = p₁(flag|source) · half-2 source total). Pairs with
    `quality_flag_transition_by_source` the way the transition drift
    pairs with the transition matrix: the cross-tab says what the joint
    mix IS, this says whether each source's keep-rate is MOVING — the
    scraper-regression alarm (a source whose 'low' share doubles between
    halves changed its extraction, whatever the current mix looks like).
    Flags absent from a source's half 1 get NULL n1/chi2 (first-observed
    — the family's NULL convention); flags that vanished by half 2 drop
    (the report covers the CURRENT mix).

    Plan: ONE narrower pass for the median doc_id
    (`kth_order_statistic` over the cached (doc_id, source, flag)
    projection — 1–3 census rounds of pushed-filter scans), then one
    fold to the ≤2·|sources|·2-cell table; every remaining join is
    broadcast over bounded cell tables. The flag itself is the shared
    codegen'd classifier (`quality_flag_col`), stated once for both
    engines. Per-cell IEEE chi2 terms over exact int64 counts, never
    summed engine-side."""
    from ..functions.ranks import kth_order_statistics

    docs = load_table(spark, sf_dir, "documents")
    base = tracked_persist(
        docs.select(
            "doc_id", "source", quality_flag_col(tokens_col()).alias("quality_flag")
        ),
        f"source_flag_half_base:{sf_dir}",
    )
    # max(1, ceil(0.5·n)) derives INSIDE the narrower (doc_id non-null),
    # so the separate full-scan count() job is gone (review finding r14).
    mid = kth_order_statistics(base, "doc_id", {"mid": 0.5})["mid"]
    c = (
        base.select(
            "source",
            "quality_flag",
            F.when(F.col("doc_id") <= mid, 1).otherwise(2).alias("half"),
        )
        .groupBy("half", "source", "quality_flag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = tracked_persist(c, f"source_flag_halves:{sf_dir}")
    st = c.groupBy("half", "source").agg(F.sum("n").alias("s_total"))
    c2 = c.filter(F.col("half") == 2).select(
        "source", "quality_flag", F.col("n").alias("n2")
    )
    t2 = st.filter(F.col("half") == 2).select(
        "source", F.col("s_total").alias("source_total2")
    )
    c1 = c.filter(F.col("half") == 1).select(
        "source", "quality_flag", F.col("n").alias("n1")
    )
    t1 = st.filter(F.col("half") == 1).select(
        "source", F.col("s_total").alias("s_total1")
    )
    ex = (
        F.col("n1").cast("double")
        * F.col("source_total2")
        / F.col("s_total1")
    )
    return (
        c2.join(F.broadcast(t2), "source")
        .join(F.broadcast(c1), ["source", "quality_flag"], "left")
        .join(F.broadcast(t1), "source", "left")
        .select(
            "source",
            "quality_flag",
            "n2",
            "source_total2",
            (F.col("n2").cast("double") / F.col("source_total2")).alias(
                "share2"
            ),
            "n1",
            F.when(
                F.col("n1").isNotNull(),
                (F.col("n2") - ex) * (F.col("n2") - ex) / ex,
            ).alias("chi2_term"),
        )
    )



def _with_source_length_quintile(base: DataFrame) -> DataFrame:
    """Attach each row's within-source length quintile graded against the
    WHOLE-frame per-source exact n_chars distribution: thresholds via the
    count-value histogram closed form (`hist_cume_counts` +
    `hist_disc_percentile`'s cume_dist >= k/5 selection — windows run
    over histogram cells, never docs), broadcast back (|sources|-row
    table), then the strict-greater 4-step ladder. Shared by
    source_flag_vs_length_matrix and source_length_drift so the ruler
    cannot drift between the grid and its drift read (both oracles state
    the same cd/th/ladder CTEs). Requires ``source`` and long
    ``n_chars`` columns; every other column rides through."""
    from ..functions.ranks import hist_cume_counts, hist_disc_percentile

    th = (
        hist_cume_counts(base, ["source"], "n_chars")
        .groupBy("source")
        .agg(
            *[
                hist_disc_percentile("n_chars", k / 5.0, f"t{k}")
                for k in (1, 2, 3, 4)
            ]
        )
    )
    lq = F.lit(1)
    for k in (1, 2, 3, 4):
        lq = lq + F.when(F.col("n_chars") > F.col(f"t{k}"), 1).otherwise(0)
    return (
        base.join(F.broadcast(th), "source")
        .withColumn("len_quintile", lq.cast("long"))
        .drop("t1", "t2", "t3", "t4")
    )


@query(
    "source_flag_vs_length_matrix",
    oracle=f"""
    WITH b AS (
      SELECT source, CAST(n_chars AS BIGINT) AS n_chars,
             {quality_flag_sql("list_filter(regexp_split_to_array(lower(text), '" + TOKEN_DELIM + "'), x -> x <> '')")}
               AS quality_flag
      FROM documents
    ),
    r AS (
      SELECT source, n_chars,
             cume_dist() OVER (PARTITION BY source ORDER BY n_chars) AS cd
      FROM b
    ),
    th AS (
      SELECT source,
             MIN(CASE WHEN cd >= 0.2 THEN n_chars END) AS t1,
             MIN(CASE WHEN cd >= 0.4 THEN n_chars END) AS t2,
             MIN(CASE WHEN cd >= 0.6 THEN n_chars END) AS t3,
             MIN(CASE WHEN cd >= 0.8 THEN n_chars END) AS t4
      FROM r GROUP BY 1
    ),
    m AS (
      SELECT b.source,
             1 + (CASE WHEN b.n_chars > th.t1 THEN 1 ELSE 0 END)
               + (CASE WHEN b.n_chars > th.t2 THEN 1 ELSE 0 END)
               + (CASE WHEN b.n_chars > th.t3 THEN 1 ELSE 0 END)
               + (CASE WHEN b.n_chars > th.t4 THEN 1 ELSE 0 END)
               AS len_quintile,
             b.quality_flag
      FROM b JOIN th ON b.source = th.source
    ),
    g AS (
      SELECT source, CAST(len_quintile AS BIGINT) AS len_quintile,
             quality_flag, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM m GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT source, len_quintile, CAST(SUM(n_docs) AS BIGINT) AS cell_total
      FROM g GROUP BY 1, 2
    )
    SELECT g.source, g.len_quintile, g.quality_flag, g.n_docs,
           tot.cell_total,
           CAST(g.n_docs AS DOUBLE) / tot.cell_total AS flag_share
    FROM g JOIN tot ON g.source = tot.source
                   AND g.len_quintile = tot.len_quintile
    """,
    tags=("text", "llm", "quality", "matrix", "percentile"),
)
def source_flag_vs_length_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-flag share per (source, WITHIN-SOURCE length quintile):
    each document gets a length quintile against its OWN source's exact
    n_chars distribution (quintile 1 = that source's shortest fifth),
    and the ≤|sources|·5·2-cell matrix reports per-cell doc counts and
    the flag share within each (source, quintile) cell. The within-
    source normalization is the point — the GLOBAL length×quality
    matrix (`doc_length_vs_quality_interaction_matrix`) confounds
    source identity with length (a short-doc source drags the global
    low band); normalizing per source isolates whether length predicts
    quality INSIDE each scraper's own regime, which is the cut a
    per-source length filter would actually apply. Composes the r14
    drift family: the drift query says a source's flag mix is MOVING,
    this localizes WHERE in the source's length spectrum the 'low' mass
    sits.

    Plan: per-source quintile thresholds via the count-value HISTOGRAM
    closed form (`hist_cume_counts` over (source, n_chars) — n_chars
    domain bounded by the corpus length-cap policy, so the cumulative
    window runs over histogram cells; threshold selection is
    `hist_disc_percentile`'s cume_dist ≥ q, the SAME integers and one
    IEEE division the oracle states). Thresholds broadcast back
    (|sources|-row table), then ONE fold over the doc-count-sized
    projection to the bounded grid and a broadcast cell-total join.
    The flag is the shared codegen'd classifier (`quality_flag_col`),
    stated once for both engines; counts exact int64; the share is one
    IEEE division per cell."""
    docs = load_table(spark, sf_dir, "documents")
    base = tracked_persist(
        docs.select(
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            quality_flag_col(tokens_col()).alias("quality_flag"),
        ),
        f"source_flag_len_base:{sf_dir}",
    )
    g = (
        _with_source_length_quintile(base)
        .select("source", "len_quintile", "quality_flag")
        .groupBy("source", "len_quintile", "quality_flag")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = g.groupBy("source", "len_quintile").agg(
        F.sum("n_docs").alias("cell_total")
    )
    return g.join(F.broadcast(tot), ["source", "len_quintile"]).select(
        "source",
        "len_quintile",
        "quality_flag",
        "n_docs",
        "cell_total",
        (F.col("n_docs").cast("double") / F.col("cell_total")).alias(
            "flag_share"
        ),
    )


@query(
    "source_length_drift",
    oracle="""
    WITH b AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    ),
    r AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM b
    ),
    mid AS (
      SELECT MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                      THEN doc_id END) AS d
      FROM r
    ),
    cd AS (
      SELECT source, n_chars,
             cume_dist() OVER (PARTITION BY source ORDER BY n_chars) AS cd
      FROM b
    ),
    th AS (
      SELECT source,
             MIN(CASE WHEN cd >= 0.2 THEN n_chars END) AS t1,
             MIN(CASE WHEN cd >= 0.4 THEN n_chars END) AS t2,
             MIN(CASE WHEN cd >= 0.6 THEN n_chars END) AS t3,
             MIN(CASE WHEN cd >= 0.8 THEN n_chars END) AS t4
      FROM cd GROUP BY 1
    ),
    m AS (
      SELECT b.source,
             CASE WHEN b.doc_id <= mid.d THEN 1 ELSE 2 END AS half,
             1 + (CASE WHEN b.n_chars > th.t1 THEN 1 ELSE 0 END)
               + (CASE WHEN b.n_chars > th.t2 THEN 1 ELSE 0 END)
               + (CASE WHEN b.n_chars > th.t3 THEN 1 ELSE 0 END)
               + (CASE WHEN b.n_chars > th.t4 THEN 1 ELSE 0 END)
               AS len_quintile
      FROM b CROSS JOIN mid JOIN th ON b.source = th.source
    ),
    c AS (
      SELECT half, source, CAST(len_quintile AS BIGINT) AS len_quintile,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM m GROUP BY 1, 2, 3
    ),
    st AS (
      SELECT half, source, CAST(SUM(n) AS BIGINT) AS s_total
      FROM c GROUP BY 1, 2
    )
    SELECT c2.source, c2.len_quintile, c2.n AS n2,
           t2.s_total AS source_total2,
           CAST(c2.n AS DOUBLE) / t2.s_total AS share2,
           c1.n AS n1,
           CASE WHEN c1.n IS NOT NULL THEN
             (c2.n - CAST(c1.n AS DOUBLE) * t2.s_total / t1.s_total)
             * (c2.n - CAST(c1.n AS DOUBLE) * t2.s_total / t1.s_total)
             / (CAST(c1.n AS DOUBLE) * t2.s_total / t1.s_total)
           END AS chi2_term
    FROM c c2
    JOIN st t2 ON t2.half = 2 AND t2.source = c2.source
    LEFT JOIN c c1 ON c1.half = 1 AND c1.source = c2.source
                  AND c1.len_quintile = c2.len_quintile
    LEFT JOIN st t1 ON t1.half = 1 AND t1.source = c2.source
    WHERE c2.half = 2
    """,
    tags=("text", "llm", "drift", "percentile", "iterative"),
)
def source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-split drift of each source's LENGTH mix (round-15 NEXT
    item) — the flag-share drift's read applied to the within-source
    length quintiles the r15 matrix introduced: split the corpus at its
    exact median doc_id (by doc count — ingest-order proxy, the drift
    family's split), give every document a length quintile against its
    OWN source's WHOLE-CORPUS exact n_chars distribution (thresholds
    from both halves together, so the two halves grade on the SAME
    ruler — per-half thresholds would re-balance each half to 20% by
    construction and erase the signal), and report each half-2
    (source, quintile) cell's count, within-source share, half-1 count,
    and the chi-square term against the expectation extrapolated from
    half-1's per-source quintile mix (e = p₁(q|source) · half-2 source
    total). The flag drift says a source's QUALITY mix is moving; this
    says its LENGTH REGIME is moving (a scraper that started truncating
    — or concatenating — shifts mass across its own quintile cuts long
    before the quality classifier reacts). Quintiles absent from a
    source's half 1 get NULL n1/chi2_term (first-observed, the family's
    convention); quintiles that vanished by half 2 drop (the report
    covers the current mix).

    Plan: ONE narrower pass for the median doc_id
    (`kth_order_statistics` over the cached (doc_id, source, n_chars)
    projection), per-source thresholds via the count-value HISTOGRAM
    closed form (`hist_cume_counts` over (source, n_chars) — the
    cumulative window runs over histogram cells, never docs; selection
    is `hist_disc_percentile`'s cume_dist ≥ q, the same integers and
    IEEE division the oracle's cume_dist states). Thresholds broadcast
    back (|sources|-row table), then ONE fold over the doc-count-sized
    projection to the ≤2·|sources|·5-cell table; every remaining join
    is broadcast over bounded cell tables. Counts exact int64; per-cell
    IEEE chi2 terms, never summed engine-side."""
    from ..functions.ranks import kth_order_statistics

    docs = load_table(spark, sf_dir, "documents")
    base = tracked_persist(
        docs.select(
            "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
        ),
        f"source_len_half_base:{sf_dir}",
    )
    mid = kth_order_statistics(base, "doc_id", {"mid": 0.5})["mid"]
    c = (
        _with_source_length_quintile(base)
        .select(
            "source",
            F.when(F.col("doc_id") <= mid, 1).otherwise(2).alias("half"),
            "len_quintile",
        )
        .groupBy("half", "source", "len_quintile")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = tracked_persist(c, f"source_len_halves:{sf_dir}")
    st = c.groupBy("half", "source").agg(F.sum("n").alias("s_total"))
    c2 = c.filter(F.col("half") == 2).select(
        "source", "len_quintile", F.col("n").alias("n2")
    )
    t2 = st.filter(F.col("half") == 2).select(
        "source", F.col("s_total").alias("source_total2")
    )
    c1 = c.filter(F.col("half") == 1).select(
        "source", "len_quintile", F.col("n").alias("n1")
    )
    t1 = st.filter(F.col("half") == 1).select(
        "source", F.col("s_total").alias("s_total1")
    )
    ex = (
        F.col("n1").cast("double")
        * F.col("source_total2")
        / F.col("s_total1")
    )
    return (
        c2.join(F.broadcast(t2), "source")
        .join(F.broadcast(c1), ["source", "len_quintile"], "left")
        .join(F.broadcast(t1), "source", "left")
        .select(
            "source",
            "len_quintile",
            "n2",
            "source_total2",
            (F.col("n2").cast("double") / F.col("source_total2")).alias(
                "share2"
            ),
            "n1",
            F.when(
                F.col("n1").isNotNull(),
                (F.col("n2") - ex) * (F.col("n2") - ex) / ex,
            ).alias("chi2_term"),
        )
    )
