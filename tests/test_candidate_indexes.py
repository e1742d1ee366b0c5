"""The dedup tier's candidate indexes, and the embedding vectors every
similarity query reads, are session-store entries keyed by the fingerprint
of the table they read: a warm call reuses them, and a table rewritten
outside the session (here with pyarrow, as another process would) is
re-indexed, with the old copy unpersisted."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from mapreduce_infrastructure_spark.llm import dedup, similarity

from .helpers import jobs_in_group


def _write(table: pa.Table, sf: str, name: str) -> None:
    os.makedirs(sf, exist_ok=True)
    pq.write_table(table, os.path.join(sf, f"{name}.parquet"))


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _doc_versions(sf_dir: str) -> list[pa.Table]:
    """Three versions of ``documents`` with different near-dup pair sets:
    the fixture, its texts reversed over doc ids, and the first half of
    the docs each duplicated under a new id."""
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    i = t.schema.get_field_index("text")
    reversed_ = t.set_column(i, "text", t.column("text").take(
        pa.array(range(t.num_rows - 1, -1, -1))))
    half = t.slice(0, t.num_rows // 2)
    ids = half.column("doc_id").to_pylist()
    shift = max(t.column("doc_id").to_pylist()) + 1
    dup = half.set_column(
        half.schema.get_field_index("doc_id"),
        "doc_id",
        pa.array([x + shift for x in ids], type=t.schema.field("doc_id").type),
    )
    return [t, reversed_, pa.concat_tables([half, dup])]


def _embedding_versions(sf_dir: str) -> list[pa.Table]:
    """The fixture's embeddings, then the same vectors reassigned to the
    vec ids in reverse order (a different quantizer sample and pair set)."""
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    i = t.schema.get_field_index("embedding")
    rev = t.column("embedding").take(pa.array(range(t.num_rows - 1, -1, -1)))
    return [t, t.set_column(i, "embedding", rev)]


def test_lsh_pairs_follow_a_corpus_rewritten_outside_the_session(
    spark, sf_dir, tmp_path
):
    old, new = _doc_versions(sf_dir)[:2]
    sf, cold = str(tmp_path / "live"), str(tmp_path / "cold")
    _write(new, cold, "documents")
    expected = _rows(dedup.minhash_lsh_pairs(spark, cold))

    _write(old, sf, "documents")
    before = _rows(dedup.minhash_lsh_pairs(spark, sf))
    assert before != expected  # the rewrite changes the answer
    _write(new, sf, "documents")
    assert _rows(dedup.minhash_lsh_pairs(spark, sf)) == expected


def test_ivf_pairs_follow_embeddings_rewritten_outside_the_session(
    spark, sf_dir, tmp_path
):
    old, new = _embedding_versions(sf_dir)
    sf, cold = str(tmp_path / "live"), str(tmp_path / "cold")
    _write(new, cold, "embeddings")
    expected = _rows(similarity.neardup_cosine_ivf(spark, cold))

    _write(old, sf, "embeddings")
    before = _rows(similarity.neardup_cosine_ivf(spark, sf))
    assert before != expected
    _write(new, sf, "embeddings")
    assert _rows(similarity.neardup_cosine_ivf(spark, sf)) == expected


def test_warm_minhash_lsh_pairs_runs_no_job_at_build(spark, sf_dir):
    cold = _rows(dedup.minhash_lsh_pairs(spark, sf_dir))
    df, jobs = jobs_in_group(
        spark, "test_warm_minhash_lsh_pairs",
        lambda: dedup.minhash_lsh_pairs(spark, sf_dir),
    )
    assert jobs == []
    assert _rows(df) == cold


def test_rewrites_keep_one_persisted_copy_per_slot(spark, sf_dir, tmp_path):
    """Three out-of-session rewrites of ``documents`` and ``embeddings``:
    every call answers for the current files, as a cold computation in
    another directory does, and the session holds no more persisted RDDs
    than after the first version (one copy per slot: shingles, band
    table, SimHash chunks, vectors, IVF cells)."""
    docs = _doc_versions(sf_dir)
    docs.append(docs[0])
    embs = _embedding_versions(sf_dir)
    embs += embs

    def answers(sf):
        return (
            _rows(dedup.minhash_lsh_pairs(spark, sf)),
            _rows(dedup.simhash_neardup_pairs(spark, sf)),
            _rows(similarity.neardup_cosine_ivf(spark, sf)),
            _rows(similarity.neardup_cosine_pairs(spark, sf)),
            _rows(similarity.knn_bruteforce(spark, sf)),
        )

    expected = []
    for k, (d, e) in enumerate(zip(docs, embs)):
        cold = str(tmp_path / f"cold{k}")
        _write(d, cold, "documents")
        _write(e, cold, "embeddings")
        expected.append(answers(cold))
    # every embedding query's answer changes with the embeddings rewrite
    assert all(a != b for a, b in zip(expected[0][2:], expected[1][2:]))

    jsc = spark.sparkContext._jsc.sc()
    sf = str(tmp_path / "live")
    counts = []
    for k, (d, e) in enumerate(zip(docs, embs)):
        _write(d, sf, "documents")
        _write(e, sf, "embeddings")
        assert answers(sf) == expected[k], f"version {k}"
        counts.append(jsc.getPersistentRDDs().size())
    assert max(counts) == counts[0], counts


def _plan_leaves(df) -> set[str]:
    """Class names of the leaves of ``df``'s optimized plan, where Spark
    has already put each cached fragment's InMemoryRelation in place."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return {
        leaves.apply(i).getClass().getSimpleName() for i in range(leaves.length())
    }


def test_warm_neardup_builds_read_the_cached_vectors(spark, sf_dir):
    """A warm `neardup_cosine_pairs` or `neardup_cosine_ivf` builds with no
    Spark job, and its plan reads only cached relations (the vectors
    entry, and the IVF cell assignments), no parquet scan."""
    queries = {
        "neardup_cosine_pairs": similarity.neardup_cosine_pairs,
        "neardup_cosine_ivf": similarity.neardup_cosine_ivf,
    }
    for name, fn in queries.items():
        cold = _rows(fn(spark, sf_dir))
        df, jobs = jobs_in_group(
            spark, f"test_warm_{name}", lambda: fn(spark, sf_dir)
        )
        assert jobs == [], name
        assert _plan_leaves(df) == {"InMemoryRelation"}, name
        assert _rows(df) == cold, name
