"""Differential-oracle comparison harness (mirrors the driver's check:
row-count + schema + order-insensitive value comparison vs DuckDB)."""

from __future__ import annotations

import math

import duckdb
from functools import lru_cache
import pandas as pd

from mapreduce_infrastructure_spark.catalog import TABLES


def jobs_in_group(spark, group, fn):
    """Run fn() in Spark job group ``group``; return its result and the ids
    of the jobs it started, read from the status tracker once the listener
    bus drains."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_cell(v):
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        # The driver's value hash is TYPE-sensitive: DuckDB SUM(INTEGER)
        # surfaces as Decimal and hash-mismatches Spark's int64 even though
        # Decimal(2) == 2 in Python (the round-1 failure mode). Refuse to
        # normalize — an oracle whose output column is DECIMAL must CAST it
        # (AS BIGINT / AS DOUBLE) instead.
        raise AssertionError(
            f"Decimal value {v!r} in compared output — cast the oracle "
            "column (CAST(... AS BIGINT/DOUBLE)); the driver's hash "
            "distinguishes Decimal from int/float"
        )
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    if isinstance(v, (int,)):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _normalize(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [
        tuple(_norm_cell(row[c]) for c in cols)
        for _, row in pdf.iterrows()
    ]
    return sorted(rows)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count mismatch spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    s_rows, o_rows = _normalize(spark_pdf), _normalize(oracle_pdf)
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        assert sr == orow, (
            f"{name}: first differing row #{i}:\n  spark : {sr}\n  oracle: {orow}"
        )


def check_query(spark, sf_dir: str, name: str, fn, oracle: str) -> None:
    spark_pdf = fn(spark, sf_dir).toPandas()
    con = duckdb_con(sf_dir)
    try:
        oracle_pdf = con.execute(oracle).df()
    finally:
        con.close()
    compare_frames(spark_pdf, oracle_pdf, name)


# ---------------------------------------------------------------------------
# Pure-python XXH64 reference (public algorithm, https://xxhash.com spec) —
# the partial oracle for Spark's engine-specific `xxhash64` expression:
# recomputes the exact chained hashes Spark produces for long/int/string
# inputs (Spark chains multi-arg calls through the seed, default seed 42).
# ---------------------------------------------------------------------------

_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h


def xxh64_long(value: int, seed: int) -> int:
    """XXH64 of one 8-byte long — Spark's hash for LongType columns."""
    value &= _M64
    h = (seed + _XXP5 + 8) & _M64
    h ^= (_rotl64((value * _XXP2) & _M64, 31) * _XXP1) & _M64
    h = (_rotl64(h, 27) * _XXP1 + _XXP4) & _M64
    return _xx_fmix(h)


def xxh64_int(value: int, seed: int) -> int:
    """XXH64 of one 4-byte int — Spark's hash for IntegerType columns."""
    h = (seed + _XXP5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _XXP1) & _M64
    h = (_rotl64(h, 23) * _XXP2 + _XXP3) & _M64
    return _xx_fmix(h)


def xxh64_bytes(data: bytes, seed: int) -> int:
    """Standard XXH64 over a byte string — Spark's hash for StringType
    columns (UTF-8 bytes)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while i <= n - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (v + lane * _XXP2) & _M64
                v = (_rotl64(v, 31) * _XXP1) & _M64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _XXP2) & _M64, 31) * _XXP1) & _M64
            h = (h * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        lane = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl64((lane * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = (_rotl64(h, 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i <= n - 4:
        lane = int.from_bytes(data[i : i + 4], "little")
        h ^= (lane * _XXP1) & _M64
        h = (_rotl64(h, 23) * _XXP2 + _XXP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _M64
        h = (_rotl64(h, 11) * _XXP1) & _M64
        i += 1
    return _xx_fmix(h)


def _to_i64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def spark_xxhash64(*values, seed: int = 42) -> int:
    """Spark's `xxhash64(...)` for a mix of python ints (hashed as
    LongType), (value, "int") tuples (IntegerType) and strs (StringType
    UTF-8): multi-arg calls CHAIN — each value's hash seeds the next.
    Returns the SIGNED int64 Spark surfaces."""
    h = seed
    for v in values:
        if isinstance(v, tuple) and v[1] == "int":
            h = xxh64_int(v[0], h)
        elif isinstance(v, str):
            h = xxh64_bytes(v.encode("utf-8"), h)
        else:
            h = xxh64_long(v, h)
    return _to_i64(h)


@lru_cache(maxsize=None)  # fixtures are immutable within a session
def py_minhash_shingles_and_lsh_pairs(sf_dir: str):
    """Pure-python XXH64 re-derivation of `minhash_lsh_pairs` (the
    round-15 partial oracle, verbatim derivation): 3-token shingles of
    the `[^a-z0-9]+` tokenizer (docs with <3 tokens dropped, the
    engine's size(sh)==0 filter), per-doc N_HASHES signature via
    seed-chained xxhash64, band hashes over LSH_ROWS-element signature
    slices, same-(band, hash) candidates under the keep-lowest-doc_ids
    HOT_BAND_CAP, exact-Jaccard verify floor-rounded to 4 decimals
    against VERIFY_THRESHOLD. Returns ``(shingles, lsh_pairs)`` —
    ``doc_id -> frozenset`` and ``(doc_a, doc_b) -> jaccard`` — so the
    report graduations can COMPOSE the proven reference instead of
    re-deriving it."""
    import math
    import re

    import pyarrow.parquet as pq

    from mapreduce_infrastructure_spark.llm import dedup

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    shingles: dict[int, frozenset] = {}
    sigs: dict[int, list] = {}
    for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        toks = [t for t in re.split("[^a-z0-9]+", (text or "").lower()) if t]
        if len(toks) < 3:
            continue  # engine filters size(sh) == 0
        sh = frozenset(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )
        hs = [spark_xxhash64(s) for s in sh]
        sigs[doc_id] = [
            min(spark_xxhash64(h, (s, "int")) for h in hs)
            for s in range(dedup.N_HASHES)
        ]
        shingles[doc_id] = sh
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sig in sigs.items():
        for b in range(dedup.LSH_BANDS):
            bh = spark_xxhash64(
                *sig[b * dedup.LSH_ROWS : (b + 1) * dedup.LSH_ROWS]
            )
            buckets.setdefault((b, bh), []).append(doc_id)
    pairs: dict[tuple[int, int], float] = {}
    for ids in buckets.values():
        ids.sort()
        kept = ids[: dedup.HOT_BAND_CAP]  # keep-lowest cap
        for i in range(len(kept)):
            for j in range(i + 1, len(kept)):
                a, b = kept[i], kept[j]
                if (a, b) in pairs:
                    continue
                inter = len(shingles[a] & shingles[b])
                union = len(shingles[a] | shingles[b])
                jac = math.floor(inter / union * 10000 + 0.5) / 10000
                if jac >= dedup.VERIFY_THRESHOLD:
                    pairs[(a, b)] = jac
    return shingles, pairs


def _py_dot(a, b):
    """Sequential left-fold dot — the `F.aggregate` accumulation order."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _py_norm(a):
    import math

    s = 0.0
    for x in a:
        s = s + x * x
    return math.sqrt(s)


def _py_fold_sq(a, c):
    s = 0.0
    for x, cc in zip(a, c):
        s = s + (x - cc) * (x - cc)
    return s


def _py_load_vecs(sf_dir: str) -> dict:
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    return {
        vid: [float(x) for x in emb]
        for vid, emb in zip(
            tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist()
        )
    }


@lru_cache(maxsize=None)  # fixtures are immutable within a session
def py_knn_truth(sf_dir: str, topk: int):
    """Pure-python re-derivation of knn_bruteforce's top-``topk`` rows
    (queries vec_id < 10, ordered IEEE folds, 4-decimal floor-round,
    (cosine DESC, neighbor_id ASC) rank): ``(qid, vid) -> (cosine,
    rank)``. knn_bruteforce is additionally DuckDB-oracle-backed, so
    this chain is doubly pinned."""
    import math

    vecs = _py_load_vecs(sf_dir)
    nrm = {v: _py_norm(d) for v, d in vecs.items()}
    want = {}
    for qid in sorted(v for v in vecs if v < 10):
        scored = []
        for v in vecs:
            if v == qid:
                continue
            c = _py_dot(vecs[qid], vecs[v]) / (nrm[qid] * nrm[v])
            scored.append((math.floor(c * 10000 + 0.5) / 10000, v))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (c, v) in enumerate(scored[:topk], start=1):
            want[(qid, v)] = (c, rank)
    return want


@lru_cache(maxsize=None)  # fixtures are immutable within a session
def py_ann_lsh_topk(sf_dir: str):
    """Pure-python re-derivation of ann_lsh_topk (the round-15 partial
    oracle, verbatim derivation): plan-literal seeded planes, ordered
    IEEE margin folds, sign buckets, margin-guided multi-probe, exact
    cosine, (cosine DESC, neighbor_id ASC) top-3. Returns
    ``(qid, vid) -> (cosine, rank)``."""
    import math

    import numpy as np

    from mapreduce_infrastructure_spark.llm import similarity as sim

    vecs = _py_load_vecs(sf_dir)
    planes = (
        np.random.default_rng(42)
        .standard_normal((sim._N_PLANES, sim._DIM))
        .round(6)
        .tolist()
    )
    nrm = {vid: _py_norm(d) for vid, d in vecs.items()}
    margins = {vid: [_py_dot(d, p) for p in planes] for vid, d in vecs.items()}
    bucket = {
        vid: sum((1 << i) for i, m in enumerate(ms) if m > 0)
        for vid, ms in margins.items()
    }
    want = {}
    for qid in sorted(v for v in vecs if v < 10):
        ranked = sorted((abs(m), i) for i, m in enumerate(margins[qid]))
        low = [int(2.0 ** ranked[k][1]) for k in range(sim._PROBE_PLANES)]
        probes = [bucket[qid]]
        probes += [bucket[qid] ^ (1 << i) for i in range(sim._N_PLANES)]
        for s in range(2**sim._PROBE_PLANES):
            if bin(s).count("1") < 2:
                continue
            p = bucket[qid]
            for k in range(sim._PROBE_PLANES):
                if s >> k & 1:
                    p ^= low[k]
            probes.append(p)
        probe_set = set(probes)
        cands = [v for v in vecs if v != qid and bucket[v] in probe_set]
        scored = []
        for v in cands:
            c = _py_dot(vecs[qid], vecs[v]) / (nrm[qid] * nrm[v])
            scored.append((math.floor(c * 10000 + 0.5) / 10000, v))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (c, v) in enumerate(scored[:3], start=1):
            want[(qid, v)] = (c, rank)
    return want


@lru_cache(maxsize=None)  # fixtures are immutable within a session
def py_ann_ivf_topk(sf_dir: str):
    """Pure-python re-derivation of ann_ivf_topk (the round-15 partial
    oracle, verbatim derivation): seeded-numpy sample fit replicated
    step for step (deterministic replication, not an independent
    engine — stated honestly), then ordered IEEE folds for assignment,
    probe ranking, exact cosine and top-3 rank. Returns
    ``(qid, vid) -> (cosine, rank)``."""
    import math

    import numpy as np

    from mapreduce_infrastructure_spark.llm import similarity as sim

    vecs = _py_load_vecs(sf_dir)
    assert len(vecs) < sim._IVF_DISTRIBUTED_MIN_ROWS  # sample-fit premise
    X = np.array([vecs[v] for v in sorted(vecs)][: sim._IVF_SAMPLE])
    rng = np.random.default_rng(7)
    k = min(sim._IVF_CELLS, len(X))
    C = [X[rng.integers(len(X))]]
    for _ in range(k - 1):
        d2 = np.min(
            ((X[:, None, :] - np.array(C)[None, :, :]) ** 2).sum(axis=2),
            axis=1,
        )
        p = d2 / d2.sum() if d2.sum() > 0 else None
        C.append(X[rng.choice(len(X), p=p)])
    C = np.array(C)
    for _ in range(sim._IVF_ITERS):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(len(C)):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(axis=0)
    cents = [[float(x) for x in C[j]] for j in range(len(C))]
    nrm = {v: _py_norm(d) for v, d in vecs.items()}
    cell = {
        v: min((_py_fold_sq(d, cents[j]), j) for j in range(len(cents)))[1]
        for v, d in vecs.items()
    }
    want = {}
    for qid in sorted(v for v in vecs if v < 10):
        ranked = sorted(
            (math.sqrt(_py_fold_sq(vecs[qid], cents[j])), j)
            for j in range(len(cents))
        )
        pcells = {j for _d, j in ranked[: sim._IVF_PROBES]}
        scored = []
        for v in vecs:
            if v == qid or cell[v] not in pcells:
                continue
            c = _py_dot(vecs[qid], vecs[v]) / (nrm[qid] * nrm[v])
            scored.append((math.floor(c * 10000 + 0.5) / 10000, v))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (c, v) in enumerate(scored[:3], start=1):
            want[(qid, v)] = (c, rank)
    return want


@lru_cache(maxsize=None)  # fixtures are immutable within a session
def py_ann_pq_topk(sf_dir: str):
    """Pure-python re-derivation of ann_pq_topk (the round-15 partial
    oracle, verbatim derivation): per-subspace seeded-numpy codebook
    fits over the unit-vector sample (rng(11) carried across subspaces
    in order), then ordered IEEE folds for encode, ADC table-sum,
    candidate rank and the exact-cosine re-rank. Returns
    ``(qid, vid) -> (cosine, rank)``."""
    import math

    import numpy as np

    from mapreduce_infrastructure_spark.llm import similarity as sim

    raw = _py_load_vecs(sf_dir)
    unit = {v: [x / _py_norm(d) for x in d] for v, d in raw.items()}
    X = np.array([unit[v] for v in sorted(unit)][: sim._IVF_SAMPLE])
    sub = X.reshape(len(X), sim._PQ_M, -1)
    rng = np.random.default_rng(11)
    books = []
    for m in range(sim._PQ_M):
        Xm = sub[:, m, :]
        k = min(sim._PQ_K, len(Xm))
        C = [Xm[rng.integers(len(Xm))]]
        for _ in range(k - 1):
            d2 = np.min(
                ((Xm[:, None, :] - np.array(C)[None, :, :]) ** 2).sum(axis=2),
                axis=1,
            )
            p = d2 / d2.sum() if d2.sum() > 0 else None
            C.append(Xm[rng.choice(len(Xm), p=p)])
        C = np.array(C)
        for _ in range(sim._IVF_ITERS):
            d2 = ((Xm[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for j in range(len(C)):
                pts = Xm[a == j]
                if len(pts):
                    C[j] = pts.mean(axis=0)
        books.append([[float(x) for x in c] for c in C])
    sub_dim = len(unit[next(iter(unit))]) // sim._PQ_M

    def sub_vec(u, m):
        return u[m * sub_dim : (m + 1) * sub_dim]

    codes = {
        v: [
            min(
                (_py_fold_sq(sub_vec(u, m), books[m][c]), c)
                for c in range(len(books[m]))
            )[1]
            for m in range(sim._PQ_M)
        ]
        for v, u in unit.items()
    }
    want = {}
    for qid in sorted(v for v in unit if v < 10):
        dtab = [
            [
                _py_fold_sq(sub_vec(unit[qid], m), books[m][c])
                for c in range(len(books[m]))
            ]
            for m in range(sim._PQ_M)
        ]
        adc = []
        for v in unit:
            if v == qid:
                continue
            s = 0.0
            for m in range(sim._PQ_M):
                s = s + dtab[m][codes[v][m]]
            adc.append((s, v))
        adc.sort()
        cands = [v for _s, v in adc[: sim._PQ_CANDIDATES]]
        scored = []
        for v in cands:
            c = _py_dot(unit[qid], unit[v])
            scored.append((math.floor(c * 10000 + 0.5) / 10000, v))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (c, v) in enumerate(scored[:3], start=1):
            want[(qid, v)] = (c, rank)
    return want
