"""Answer checks, run outside the timed passes.

- Queries with a DuckDB oracle are compared with it, normalized exactly as
  ``tests/helpers.py`` does (sorted columns, order-insensitive rows,
  floats to 6 decimals).
- Queries without one (approximate LSH/ANN joins) are compared with a pinned
  digest of the same normalized rows, kept in ``digests.json``.
- The word-count job's ``output_{i}`` files are checked against a plain
  Python count with the reference tokenizer.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import re

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def _normalize(pdf):
    from tests.helpers import _normalize as normalize

    return normalize(pdf)


def digest(pdf) -> str:
    h = hashlib.sha256("\t".join(sorted(pdf.columns)).encode())
    for row in _normalize(pdf):
        h.update(("\n" + "\t".join(row)).encode())
    return h.hexdigest()


def pinned(scale: str) -> dict[str, str]:
    with open(DIGESTS) as fh:
        return json.load(fh).get(scale, {})


def check_queries(results: dict, queries: dict, table_dir: str, scale: str) -> dict[str, str]:
    """``results`` maps query name to its collected pandas frame. Returns the
    names that failed, each with the reason."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(table_dir, f)}')")
    pins = pinned(scale)
    failed = {}
    for name, pdf in results.items():
        try:
            oracle = queries[name].oracle
            if oracle is None:
                if digest(pdf) != pins.get(name):
                    failed[name] = "digest differs from digests.json"
                continue
            want = con.execute(oracle).df()
            if sorted(pdf.columns) != sorted(want.columns):
                failed[name] = f"columns {sorted(pdf.columns)} != oracle {sorted(want.columns)}"
            elif len(pdf) != len(want):
                failed[name] = f"{len(pdf)} rows != oracle {len(want)}"
            elif _normalize(pdf) != _normalize(want):
                failed[name] = "values differ from oracle"
        except Exception as e:  # an oracle error counts as a failed check
            failed[name] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return failed


_TOKEN_SPLIT = re.compile(r"[ ,.\"'\n]+")


def wordcount_oracle(files: list[str]) -> collections.Counter:
    """Token counts with the reference mapper's tokenizer: maximal runs of
    characters outside ``" ,.\\"'"`` within a line, no case folding."""
    counts = collections.Counter()
    for path in files:
        with open(path) as fh:
            counts.update(t for t in _TOKEN_SPLIT.split(fh.read()) if t)
    return counts


def check_wordcount(outputs: list[str], n_files: int, expected: collections.Counter) -> str | None:
    """None when the job's output matches ``expected``; else the first fault.

    The job must write exactly ``n_files`` files named ``output_0..`` of
    ``key, value`` lines, keys sorted within and across files, counts equal
    to the oracle."""
    names = [os.path.basename(p) for p in outputs]
    if names != [f"output_{i}" for i in range(n_files)]:
        return f"expected output_0..output_{n_files - 1}, got {names}"
    got = {}
    prev = None
    for path in outputs:
        with open(path) as fh:
            for line in fh:
                key, sep, value = line.rstrip("\n").partition(", ")
                if not sep or not value.isdigit():
                    return f"{os.path.basename(path)}: bad line {line[:80]!r}"
                if prev is not None and key <= prev:
                    return f"{os.path.basename(path)}: key {key!r} not after {prev!r}"
                prev = key
                got[key] = int(value)
    if got != expected:
        missing = len(expected.keys() - got.keys())
        wrong = sum(got.get(k) != v for k, v in expected.items())
        return f"counts differ from oracle ({missing} keys missing, {wrong} wrong, {len(got)} got)"
    return None
