"""Benchmark inputs.

- ``fixture(scale)``: the parquet tables the query workloads read, copied
  unchanged from the engine's deterministic test fixtures (``TESTDATA.md``)
  into ``fixtures/<scale>/``. They are read-only, so the answers of the
  queries that have no DuckDB oracle can be pinned (``digests.json``);
  ``--seed`` varies the query order.
- ``corpus(dir, seed)``: the word-count job's text input, a Zipf-vocabulary
  corpus in four files. It depends on ``--seed`` and is written once per
  seed, then reused by later runs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def fixture(scale: str) -> str:
    """Directory of ``<table>.parquet`` files at ``scale`` (``sf0.01`` for
    the timed workloads, ``sf0.001`` for the self-test)."""
    return os.path.join(FIXTURES, scale)


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _finish(tmp: str, path: str) -> str:
    """Publish a fully written directory atomically: a killed run leaves a
    ``.tmp`` directory behind, never a half-written input."""
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


# Word-count corpus: about 10 MB of text in four files.
CORPUS_FILES = 4
CORPUS_TOKENS = 1_600_000
_VOCAB_SIZE = 30_000
_ZIPF_S = 1.1
_SEPARATORS = np.array([" ", " ", " ", " ", " ", ", ", ". ", ' "', '" ', " '"])


def corpus(root: str, seed: int) -> list[str]:
    """Paths of the seeded word-count input files (built if absent).

    Words are drawn from a Zipf law over a random vocabulary: the head words
    are hot keys that skew the shuffle. Separators come from the reference
    tokenizer's delimiter set, so the mapper's tokenizing is exercised."""
    path = os.path.join(root, f"corpus-{seed}")
    files = [os.path.join(path, f"input_{i}.txt") for i in range(CORPUS_FILES)]
    if _done(path):
        return files
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(2, 10, _VOCAB_SIZE)
    vocab = np.array(sorted({"".join(letters[rng.integers(0, 26, k)]) for k in lengths}))
    rng.shuffle(vocab)
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** _ZIPF_S)
    words = vocab[np.searchsorted(cdf, rng.random(CORPUS_TOKENS) * cdf[-1])]
    seps = _SEPARATORS[rng.integers(0, len(_SEPARATORS), CORPUS_TOKENS)]
    seps[rng.random(CORPUS_TOKENS) < 0.08] = "\n"  # about 12 words a line
    text = np.char.add(words, seps)
    for i, chunk in enumerate(np.array_split(text, CORPUS_FILES)):
        with open(os.path.join(tmp, f"input_{i}.txt"), "w") as fh:
            fh.write("".join(chunk.tolist()) + "\n")
    _finish(tmp, path)
    return files
