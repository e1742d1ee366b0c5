"""MR-compat layer: word-count E2E parity with the DataFrame flagship,
jobspec parsing/validation, and the sorted R-file text sink contract
(the reference's output guarantees: description.md:56, src/master.h:110-113)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from mapreduce_infrastructure_spark.jobspec import parse_spec, read_and_validate_spec
from mapreduce_infrastructure_spark.llm.text import wordcount
from mapreduce_infrastructure_spark.mr.api import BaseMapper, BaseReducer, WordCountReducer
from mapreduce_infrastructure_spark.mr.queries import mr_wordcount
from mapreduce_infrastructure_spark.mr.registry import register_tasks
from mapreduce_infrastructure_spark.mr.runner import run_job, run_mr_job, write_sorted_text


def test_mr_wordcount_matches_dataframe_flagship(spark, sf_dir):
    """The compat path (Python mapper/reducer over RDD) and the Spark-native
    flagship must agree exactly — the reference's query, two engines."""
    mr = {r.word: r.cnt for r in mr_wordcount(spark, sf_dir).collect()}
    df = {r.word: r.cnt for r in wordcount(spark, sf_dir).collect()}
    assert mr == df


def test_custom_mapper_reducer(spark):
    """1→N emit (UDTF shape) + per-key fold over an ad-hoc task."""

    class PairMapper(BaseMapper):
        def map(self, record: str) -> None:
            for tok in record.split():
                self.emit(tok[0], tok)  # key = first letter

    class ConcatReducer(BaseReducer):
        def reduce(self, key, values) -> None:
            self.emit(key, "|".join(sorted(values)))

    register_tasks("test_firstletter", PairMapper, ConcatReducer)
    df = spark.createDataFrame([("ab cd ax",), ("cy ab",)], "text string")
    out = {r.key: r.value for r in run_mr_job(spark, df, "test_firstletter", 4).collect()}
    assert out == {"a": "ab|ab|ax", "c": "cd|cy"}


def test_mr_hot_key_single_key_million_values(spark):
    """Pin the compat tier's documented memory envelope (runner.py
    reduce_partition): ONE key carrying 10^6 values — the reference's
    all-values-of-a-key-in-RAM model (src/mr_tasks.h:101) — must complete
    with the correct fold, not die quietly. Declarative aggregations have
    no such bound (they spill); this proves the stated bound is real
    headroom, not a guess."""

    class EmitMapper(BaseMapper):
        def map(self, record: str) -> None:
            n = int(record)
            for i in range(n):
                self.emit("hot", "1")

    class CountReducer(BaseReducer):
        def reduce(self, key, values) -> None:
            self.emit(key, str(sum(int(v) for v in values)))

    register_tasks("test_hotkey", EmitMapper, CountReducer)
    # 32 input records × 31,250 emits each = 10^6 values on a single key,
    # produced across partitions so the shuffle really concentrates them.
    df = spark.createDataFrame([("31250",)] * 32, "text string").repartition(8)
    out = {r.key: r.value for r in run_mr_job(spark, df, "test_hotkey", 4).collect()}
    assert out == {"hot": "1000000"}


class _RepeatMapper(BaseMapper):
    """Record ``key<TAB>n``: emit (key, "1") n times."""

    def map(self, record: str) -> None:
        key, _, n = record.partition("\t")
        for _ in range(int(n)):
            self.emit(key, "1")


def _fold(groups) -> dict[str, int]:
    """Merge map-task groups the way the shuffle does, then reduce each
    key with the demo's sum reducer."""
    from mapreduce_infrastructure_spark.mr.runner import _extend

    merged: dict[str, list] = {}
    for key, values in groups:
        merged[key] = _extend(merged[key], values) if key in merged else values
    reducer = WordCountReducer()
    for key, values in merged.items():
        reducer.reduce(key, values)
    return {k: int(v) for k, v in reducer._drain()}


def test_map_groups_flush_at_the_memory_limit_and_fold_exactly(monkeypatch):
    """With the worker's memory growing past the limit at every check, a
    map task flushes its groups at every check: a hot key of 10^6 values
    and a task of 50,000 distinct keys, each seen four times, arrive in
    many partial groups, and both fold to the right counts. Memory that
    stays above the limit after a flush raises the limit, so the task
    flushes once and then groups again. Under the limit, a task yields one
    group per key."""
    from mapreduce_infrastructure_spark.mr import runner

    hot = ["hot\t1000"] * 1000
    spread = [f"k{i % 50_000}\t{1 + i % 3}" for i in range(200_000)]
    want_spread: dict[str, int] = {}
    for i in range(200_000):
        want_spread[f"k{i % 50_000}"] = want_spread.get(f"k{i % 50_000}", 0) + 1 + i % 3

    def growing():
        growing.mb *= 1.1
        return growing.mb

    for lines, want, min_groups in (
        (hot, {"hot": 10**6}, 100),
        (spread, want_spread, len(want_spread) + 1),
    ):
        growing.mb = 1024.0
        monkeypatch.setattr(runner, "get_used_memory", growing)
        groups = list(runner._map_groups(_RepeatMapper(), lines, 512))
        assert len(groups) >= min_groups
        assert _fold(groups) == want

    monkeypatch.setattr(runner, "get_used_memory", lambda: 1024)
    groups = list(runner._map_groups(_RepeatMapper(), hot, 512))
    assert len(groups) == 2
    assert _fold(groups) == {"hot": 10**6}

    monkeypatch.setattr(runner, "get_used_memory", lambda: 0)
    assert len(list(runner._map_groups(_RepeatMapper(), hot, 512))) == 1
    groups = list(runner._map_groups(_RepeatMapper(), spread, 512))
    assert len(groups) == len(want_spread)
    assert _fold(groups) == want_spread


def test_mr_job_folds_exactly_when_every_merger_hits_its_limit(spark, monkeypatch):
    """With a worker-memory limit of 1 MB, every map task flushes its groups
    and the shuffle's mergers spill: a hot key of 10^6 values and 20,000
    distinct keys still fold to the right counts."""
    from pyspark import RDD

    register_tasks("test_repeat", _RepeatMapper, WordCountReducer)
    monkeypatch.setattr(RDD, "_memory_limit", lambda self: 1)
    rows = [("hot\t31250",)] * 32 + [(f"k{i}\t{1 + i % 3}",) for i in range(20_000)]
    df = spark.createDataFrame(rows, "text string").repartition(8)
    out = {r.key: int(r.value) for r in run_mr_job(spark, df, "test_repeat", 4).collect()}
    assert out == {"hot": 10**6, **{f"k{i}": 1 + i % 3 for i in range(20_000)}}


def test_reducer_that_mutates_its_values_changes_no_other_key(spark):
    """The reducer owns the list it is given: appending to it, clearing it
    or sorting it in place changes only that key's result."""

    class MutatingReducer(BaseReducer):
        def reduce(self, key, values) -> None:
            n = len(values)
            values.append("extra")
            values.sort()
            self.emit(key, f"{n}|{len(values)}")
            values.clear()

    register_tasks("test_mutating", _RepeatMapper, MutatingReducer)
    rows = [(f"k{i % 50}\t{1 + i % 7}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "text string").repartition(4)
    want: dict[str, int] = {}
    for i in range(1000):
        want[f"k{i % 50}"] = want.get(f"k{i % 50}", 0) + 1 + i % 7
    for r in (1, 3):
        out = {x.key: x.value for x in run_mr_job(spark, df, "test_mutating", r).collect()}
        assert out == {k: f"{n}|{n + 1}" for k, n in want.items()}


def test_write_sorted_text_contract(spark, tmp_path):
    """Exactly R files, globally key-sorted across file sequence, reference
    line format 'key, value'."""
    df = spark.createDataFrame(
        [(f"k{i:03d}", str(i)) for i in range(100)], "key string, value string"
    )
    outputs = write_sorted_text(df, str(tmp_path / "out"), num_files=5)
    assert [os.path.basename(p) for p in outputs] == [
        f"output_{i}" for i in range(5)
    ]
    all_keys = []
    for p in outputs:
        with open(p) as fh:
            keys = [line.split(", ")[0] for line in fh.read().splitlines()]
        all_keys.extend(keys)
    assert all_keys == sorted(all_keys), "output not globally key-sorted"
    assert len(all_keys) == 100


def test_jobspec_roundtrip(tmp_path):
    """Reference INI format parses and validates (src/mapreduce_spec.h)."""
    inp = tmp_path / "in.txt"
    inp.write_text("hello world\n")
    cfg = tmp_path / "config.ini"
    cfg.write_text(
        "n_workers=2\n"
        "worker_ipaddr_ports=localhost:50051,localhost:50052\n"
        f"input_files={inp}\n"
        f"output_dir={tmp_path}/out\n"
        "n_output_files=3\n"
        "map_kilobytes=10\n"
        "user_id=cs6210\n"
    )
    spec = read_and_validate_spec(str(cfg))
    assert spec.n_workers == 2 and spec.n_output_files == 3

    bad = tmp_path / "bad.ini"
    bad.write_text(cfg.read_text().replace("n_workers=2", "n_workers=3"))
    with pytest.raises(ValueError):
        read_and_validate_spec(str(bad))
    assert parse_spec(str(bad)).n_workers == 3


def test_run_job_end_to_end(spark, tmp_path):
    """Full reference driver pipeline: config → map/reduce → sorted R files,
    with word counts matching a direct computation."""
    inp = tmp_path / "input1.txt"
    inp.write_text("the cat and the hat\nthe cat came back\n")
    cfg = tmp_path / "config.ini"
    cfg.write_text(
        "n_workers=2\n"
        "worker_ipaddr_ports=localhost:50051,localhost:50052\n"
        f"input_files={inp}\n"
        f"output_dir={tmp_path}/out\n"
        "n_output_files=4\n"
        "map_kilobytes=10\n"
        "user_id=cs6210\n"
    )
    outputs = run_job(spark, str(cfg))

    def read_counts(paths):
        counts = {}
        for p in paths:
            with open(p) as fh:
                for line in fh.read().splitlines():
                    k, v = line.split(", ")
                    counts[k] = int(v)
        return counts

    expected = {"the": 3, "cat": 2, "and": 1, "hat": 1, "came": 1, "back": 1}
    assert read_counts(outputs) == expected

    # Re-run idempotence: the reference APPENDS on re-run (ios::app,
    # src/mr_tasks.h:112-115 — its documented double-append defect); this
    # sink deliberately overwrites, so a second run must yield the SAME
    # files and counts, not doubled values. See write_sorted_text docstring.
    outputs2 = run_job(spark, str(cfg))
    assert outputs2 == outputs
    assert read_counts(outputs2) == expected


def _spec(tmp_path, inp, n_output_files: int, map_kilobytes: int):
    cfg = tmp_path / "config.ini"
    cfg.write_text(
        "n_workers=2\n"
        "worker_ipaddr_ports=localhost:50051,localhost:50052\n"
        f"input_files={inp}\n"
        f"output_dir={tmp_path}/out\n"
        f"n_output_files={n_output_files}\n"
        f"map_kilobytes={map_kilobytes}\n"
        "user_id=cs6210\n"
    )
    return str(cfg)


def _corpus(path, n_lines: int) -> None:
    import random

    rng = random.Random(7)
    path.write_text(
        "".join(
            " ".join(f"w{rng.randrange(4000):04d}" for _ in range(8)) + "\n"
            for _ in range(n_lines)
        )
    )


def test_run_job_writes_the_same_files_every_call(spark, tmp_path):
    """The split points between output files depend on the data alone:
    three run_job calls in one session write identical files, each of
    them non-empty."""
    import hashlib

    inp = tmp_path / "input.txt"
    _corpus(inp, 3000)
    cfg = _spec(tmp_path, inp, n_output_files=4, map_kilobytes=16)
    digests = []
    for _ in range(3):
        outputs = run_job(spark, cfg)
        digests.append(
            [hashlib.md5(open(p, "rb").read()).hexdigest() for p in outputs]
        )
        assert all(os.path.getsize(p) for p in outputs)
    assert digests[0] == digests[1] == digests[2]


def test_run_job_sets_no_session_conf_and_splits_by_map_kilobytes(
    spark, tmp_path, monkeypatch
):
    """run_job passes map_kilobytes to its own text read instead of setting
    a session conf: RuntimeConfig.set is never called, and a 64 KB input
    with map_kilobytes=8 is read by at least 8 map tasks."""
    from pyspark.sql.conf import RuntimeConfig

    inp = tmp_path / "input.txt"
    _corpus(inp, 1600)
    assert 60_000 < inp.stat().st_size < 80_000
    cfg = _spec(tmp_path, inp, n_output_files=2, map_kilobytes=8)
    calls = []
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, *a: calls.append(a))
    sc = spark.sparkContext
    sc.setJobGroup("test_map_kilobytes", "run_job with map_kilobytes=8")
    try:
        run_job(spark, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert calls == []
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup("test_map_kilobytes")
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s)
    ]
    assert max(tasks) >= 8


def test_run_mr_job_rejects_an_input_path_with_a_comma(spark, tmp_path):
    """The text reader takes its paths comma-joined, so a path holding a
    comma is rejected with a clear error before any job runs."""
    inp = tmp_path / "a,b.txt"
    inp.write_text("x y\n")
    with pytest.raises(ValueError, match="comma"):
        run_mr_job(spark, [str(inp)], "cs6210", 2)


def test_multimodal_features_deterministic(spark, sf_dir):
    """Stubbed decode produces exact expected features (payload-derived)."""
    from mapreduce_infrastructure_spark.llm.multimodal import (
        attach_payload,
        extract_features,
    )
    from mapreduce_infrastructure_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(5)
    rows = extract_features(attach_payload(docs)).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in rows:
        payload = texts[r.doc_id].encode("utf-8")
        assert r.n_bytes == len(payload)
        assert r.feature == [
            float(len(payload) % 256),
            float(payload[0]),
            float(payload[-1]),
            float(sum(payload) % 997),
        ]


def test_multimodal_real_mode_stubbed():
    from mapreduce_infrastructure_spark.llm.multimodal import decode_payload

    with pytest.raises(NotImplementedError):
        decode_payload(b"\x89PNG", mode="image")


def test_multimodal_f3_ascii_premise_all_gate_fixtures():
    """ADVICE r10: `multimodal_features`' oracle computes f3 as
    sum(ascii(c)) per CHARACTER, which equals the engine's UTF-8 byte sum
    only while the fixture text is pure ASCII. The premise was documented
    but enforced only at the pytest fixture SF (sf0.001); the driver's
    oracle diff and the hostile sweep run at sf0.01. Enforce it at EVERY
    gate fixture dir so a future non-ASCII corpus fails loudly here
    instead of silently diverging the oracle."""
    import pyarrow.parquet as pq

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
        bad = [t[:40] for t in texts if not t.isascii()]
        assert not bad, (
            f"{sf} corpus contains non-ASCII text ({len(bad)} docs, e.g. "
            f"{bad[0]!r}); multimodal_features' f3 oracle (char-codepoint "
            "sum) no longer equals the engine's byte sum — rewrite the "
            "oracle byte-aware before re-certifying"
        )


def test_frame_sample_ascii_premise_and_scalar_reference(spark, sf_dir):
    """Pins (1) the oracle's premise — the fixture corpus is pure ASCII,
    so the oracle's text-slice equals the operator's byte-slice — and
    (2) a scalar recomputation of the sampled frames: offsets on the
    stride grid, exact md5 per frame, short tail frames, and full
    coverage of every payload long enough for at least one frame."""
    import hashlib

    import pyarrow.parquet as pq

    from mapreduce_infrastructure_spark.llm.multimodal import (
        _FRAME_BYTES,
        _FRAME_STRIDE,
        _MAX_FRAMES,
        multimodal_frame_sample,
    )

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pydict()
    assert all(t.isascii() for t in tbl["text"]), (
        "oracle premise broken: corpus is no longer pure ASCII — "
        "the text-slice oracle must be replaced with a byte-aware one"
    )
    rows = multimodal_frame_sample(spark, sf_dir).collect()
    got = {(r.doc_id, r.frame_idx): r for r in rows}
    expect_keys = set()
    for doc_id, text in zip(tbl["doc_id"], tbl["text"]):
        payload = text.encode("utf-8")
        for idx in range(_MAX_FRAMES):
            off = idx * _FRAME_STRIDE
            if off >= len(payload):
                break
            expect_keys.add((doc_id, idx))
            frame = payload[off : off + _FRAME_BYTES]
            r = got[(doc_id, idx)]
            assert r.frame_off == off + 1
            assert r.n_frame_bytes == len(frame)
            assert r.frame_md5 == hashlib.md5(frame).hexdigest()
    assert set(got) == expect_keys


def test_mr_bigram_count_scalar_reference(spark, sf_dir):
    """Python recount of the bigram counts (same whitespace tokenizer,
    same adjacent-pair construction), plus the mass law: total bigram
    occurrences = Σ max(len(toks)−1, 0) over docs."""
    import pyarrow.parquet as pq

    from mapreduce_infrastructure_spark.mr.queries import mr_bigram_count

    got = {r.bigram: r.cnt for r in mr_bigram_count(spark, sf_dir).collect()}
    texts = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["text"]
    ).to_pydict()["text"]
    want = {}
    total = 0
    for text in texts:
        toks = [t for t in text.split(" ") if t]
        total += max(len(toks) - 1, 0)
        for a, b in zip(toks, toks[1:]):
            bg = a + " " + b
            want[bg] = want.get(bg, 0) + 1
    assert got == want
    assert sum(got.values()) == total


def test_mr_doclen_stats_algebraic_reducer(spark, sf_dir):
    """The fifth MR task's algebraic reducer: per-source count+sum folded
    in one pass and shipped as a composite integer string — recounted in
    python against the raw parquet."""
    import pyarrow.parquet as pq

    from mapreduce_infrastructure_spark.mr.queries import (
        mr_doclen_stats_by_source,
    )

    got = {
        r.source: (r.n_docs, r.total_chars)
        for r in mr_doclen_stats_by_source(spark, sf_dir).collect()
    }
    t = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["source", "n_chars"]
    ).to_pydict()
    want: dict = {}
    for s, n in zip(t["source"], t["n_chars"]):
        c, tot = want.get(s, (0, 0))
        want[s] = (c + 1, tot + n)
    assert got == want


def test_mr_doclen_mapper_splits_at_last_tab():
    """A source name containing a tab must stay intact in the KEY (the
    numeric field can never contain one) — rpartition, not partition —
    so the reducer's int() never sees key fragments."""
    from mapreduce_infrastructure_spark.mr.api import (
        DoclenStatsMapper,
        DoclenStatsReducer,
    )

    m = DoclenStatsMapper()
    m.map("a\tb\t123")
    assert m._drain() == [("a\tb", "123")]
    r = DoclenStatsReducer()
    r.reduce("a\tb", ["123", "7"])
    assert r._drain() == [("a\tb", "2|130")]


def test_mr_topk_reducer_bounded_heap_and_tie_order():
    """Selective emit: <= K outputs per key whatever streams in; order
    n_chars DESC then doc_id ASC; the heap keeps the BEST k (a later
    better candidate evicts the worst kept one); tabby source names
    survive the rsplit mapper."""
    from mapreduce_infrastructure_spark.mr.api import (
        DocTopKMapper,
        TopKDocsReducer,
    )

    m = DocTopKMapper()
    m.map("a\tb\t500\t9")
    assert m._drain() == [("a\tb", "500|9")]
    r = TopKDocsReducer()
    # ties on n_chars resolve to the SMALLEST doc_id; 10 candidates -> 3 out
    vals = [f"{n}|{d}" for n, d in
            [(5, 8), (9, 2), (5, 1), (9, 7), (1, 3), (2, 4), (9, 5),
             (9, 1), (3, 6), (4, 9)]]
    r.reduce("k", vals)
    assert r._drain() == [("k", "1|9|1"), ("k", "2|9|2"), ("k", "3|9|5")]
    # fewer than K values: emit them all, still fully ordered
    r.reduce("k2", ["7|3", "8|1"])
    assert r._drain() == [("k2", "1|8|1"), ("k2", "2|7|3")]


def test_mr_topk_per_key_scalar_reference(spark, sf_dir):
    """Python recount: top-3 longest docs per source under the stated
    (n_chars DESC, doc_id ASC) order, exactly K-or-fewer rows per
    source."""
    import pyarrow.parquet as pq

    from mapreduce_infrastructure_spark.mr.queries import mr_topk_per_key

    t = pq.read_table(
        f"{sf_dir}/documents.parquet",
        columns=["source", "n_chars", "doc_id"],
    ).to_pydict()
    by_src: dict = {}
    for s, n, d in zip(t["source"], t["n_chars"], t["doc_id"]):
        by_src.setdefault(s, []).append((-n, d))
    want = set()
    for s, items in by_src.items():
        for rank, (nn, d) in enumerate(sorted(items)[:3], start=1):
            want.add((s, rank, -nn, d))
    got = {
        (r.source, r.rank, r.n_chars, r.doc_id)
        for r in mr_topk_per_key(spark, sf_dir).collect()
    }
    assert got == want


def test_mr_distinct_count_reducer_set_fold():
    """Holistic shape: duplicates collapse (set state), count is exact;
    tabby keys survive the rpartition mapper; empty-string values count
    as a distinct value like any other."""
    from mapreduce_infrastructure_spark.mr.api import (
        DistinctCountReducer,
        KeyValuePairMapper,
    )

    m = KeyValuePairMapper()
    m.map("click\t42")
    m.map("a\tb\t7")  # tab inside the key stays in the key
    assert m._drain() == [("click", "42"), ("a\tb", "7")]
    # Round-15 advice item: a separator-less record must fail loudly
    # instead of folding into a spurious empty key.
    with pytest.raises(ValueError, match="no tab separator"):
        m.map("malformed-record-without-tab")
    r = DistinctCountReducer()
    r.reduce("k", ["1", "2", "1", "3", "2", "1"])
    assert r._drain() == [("k", "3")]
    r.reduce("k2", ["9"] * 100)
    assert r._drain() == [("k2", "1")]


def test_mr_distinct_count_per_key_scalar_reference(spark, sf_dir):
    """Python recount: distinct users per event type over the raw
    parquet must match the MR path exactly."""
    import pyarrow.parquet as pq

    from mapreduce_infrastructure_spark.mr.queries import (
        mr_distinct_count_per_key,
    )

    tbl = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_type", "user_id"]
    )
    want: dict = {}
    for et, uid in zip(
        tbl["event_type"].to_pylist(), tbl["user_id"].to_pylist()
    ):
        want.setdefault(et, set()).add(uid)
    got = {
        r.event_type: r.n_users
        for r in mr_distinct_count_per_key(spark, sf_dir).collect()
    }
    assert got == {et: len(s) for et, s in want.items()}


def test_mr_histogram_reducer_bounded_multi_emit():
    """Multi-emit algebraic shape: one reduce call emits one pair per
    NON-EMPTY bucket in ascending bucket order; values past the last
    edge fold into the terminal overflow bucket; state stays O(10)
    however many values stream through."""
    from mapreduce_infrastructure_spark.mr.api import HistogramReducer

    r = HistogramReducer()
    r.reduce("k", ["0", "63", "64", "639", "640", "100000"])
    assert r._drain() == [("k", "0|2"), ("k", "1|1"), ("k", "9|3")]
    r.reduce("k2", ["5"] * 1000)
    assert r._drain() == [("k2", "0|1000")]
    r.reduce("k3", [])
    assert r._drain() == []
    # Round-16 review item: a negative value must fail loudly instead of
    # aliasing into the top buckets via python negative indexing.
    with pytest.raises(ValueError, match="negative value"):
        r.reduce("k4", ["-1"])


def test_mr_histogram_per_key_scalar_reference(spark, sf_dir):
    """Python recount: per-source width-64 capped-bucket counts over the
    raw parquet must match the MR path exactly, and per-source bucket
    counts must sum back to the source's doc count."""
    import pyarrow.parquet as pq

    from mapreduce_infrastructure_spark.mr.queries import (
        mr_histogram_per_key,
    )

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["source", "n_chars"]
    )
    want: dict = {}
    totals: dict = {}
    for src, nc in zip(tbl["source"].to_pylist(), tbl["n_chars"].to_pylist()):
        b = min(nc // 64, 9)
        want[(src, b)] = want.get((src, b), 0) + 1
        totals[src] = totals.get(src, 0) + 1
    got = {
        (r.source, r.bucket): r.n_docs
        for r in mr_histogram_per_key(spark, sf_dir).collect()
    }
    assert got == want
    got_totals: dict = {}
    for (src, _b), n in got.items():
        got_totals[src] = got_totals.get(src, 0) + n
    assert got_totals == totals
