"""MapReduce-compat user API (reference parity surface).

Mirrors the reference's public UDF contract
(``external/include/mr_task_factory.h:14-43``):

- ``BaseMapper.map(record)`` is called once per input record and may call
  ``self.emit(key, value)`` zero or more times (1→N, a UDTF).
- ``BaseReducer.reduce(key, values)`` is called once per key with all its
  values (a UDAF) and may ``emit`` output pairs.

Keys and values are strings, exactly as in the reference (the only typed
structure in the whole system, ``src/mr_tasks.h:55``). Numeric semantics are
the user function's job — e.g. word count re-parses with int() like the
reference's atoi (``test/user_tasks.cc:31``).

As in the reference (``src/mr_tasks.h:44``), a map task groups its emits
by key in memory before the shuffle; the runner (``mr/runner.py``) flushes
that map under the Python worker's memory limit, the way PySpark's own
map-side merger spills, so a hot key does not grow the map task without
bound. Grouping across tasks belongs to Spark's shuffle, which spills.
"""

from __future__ import annotations

import heapq
import re
from abc import ABC, abstractmethod
from collections.abc import Iterable


class _Emitter:
    __slots__ = ("_out",)

    def __init__(self) -> None:
        self._out: list[tuple[str, str]] = []

    def emit(self, key: str, value: str) -> None:
        """Queue one output pair (reference: ``mr_task_factory.h:21,38``)."""
        self._out.append((str(key), str(value)))

    def _drain(self) -> list[tuple[str, str]]:
        out, self._out = self._out, []
        return out


class BaseMapper(_Emitter, ABC):
    """User mapper: one text record in, zero-or-more (key, value) out."""

    @abstractmethod
    def map(self, record: str) -> None: ...


class BaseReducer(_Emitter, ABC):
    """User reducer: (key, all values for key) in, zero-or-more pairs out."""

    @abstractmethod
    def reduce(self, key: str, values: Iterable[str]) -> None: ...


class WordCountMapper(BaseMapper):
    """The reference's demo mapper (``test/user_tasks.cc:12-22``): tokenize
    on the delimiter set ``" ,.\"'"`` and emit (token, "1"). One compiled
    split over delimiter runs; the empty tokens it leaves at a leading or
    trailing delimiter (and for an empty record) are dropped. Tabs and other
    whitespace are not delimiters."""

    _split = re.compile("[ ,.\"']+").split

    def map(self, record: str) -> None:
        for token in self._split(record):
            if token:
                self.emit(token, "1")


class WordCountReducer(BaseReducer):
    """The reference's demo reducer (``test/user_tasks.cc:29-33``):
    sum the integer values per token."""

    def reduce(self, key: str, values: Iterable[str]) -> None:
        self.emit(key, str(sum(int(v) for v in values)))


class InvertedIndexMapper(BaseMapper):
    """Inverted index mapper — the MapReduce paper's other canonical example
    (OSDI'04 §2.3): records are ``doc_id<TAB>text``; emit (term, doc_id) per
    occurrence. Registered as user_id "invidx" to show the registry carries
    arbitrary tasks, not just the shipped demo
    (``src/mr_task_factory.cc:28-88`` supports any number of user_ids)."""

    def map(self, record: str) -> None:
        doc_id, _, text = record.partition("\t")
        for token in text.split(" "):
            if token:
                self.emit(token.lower(), doc_id)


class InvertedIndexReducer(BaseReducer):
    """Emit (term, comma-joined ascending distinct doc ids)."""

    def reduce(self, key: str, values) -> None:
        ids = sorted({int(v) for v in values})
        self.emit(key, ",".join(str(i) for i in ids))


class GrepMapper(BaseMapper):
    """Distributed grep — the MapReduce paper's first canonical example
    (OSDI'04 §2.3): emit the record when it matches the pattern. Records
    are ``doc_id<TAB>text``; the match is a literal substring scan."""

    PATTERN = "spark"

    def map(self, record: str) -> None:
        doc_id, _, text = record.partition("\t")
        if self.PATTERN in text:
            self.emit(doc_id, text)


class IdentityReducer(BaseReducer):
    """Pass-through reducer (grep's reduce phase in the paper is the
    identity function)."""

    def reduce(self, key: str, values) -> None:
        for v in values:
            self.emit(key, v)


class BigramCountMapper(BaseMapper):
    """Bigram counter — the n-gram generalization of the shipped word-count
    demo (``test/user_tasks.cc:12-22``), registered as a fourth user_id to
    exercise a mapper with PER-RECORD SEQUENTIAL STATE (each emit depends
    on the previous token, not just the current one — the shape tokenize-
    and-emit mappers can't express). Whitespace tokenizer, no case
    folding; emits ("a b", "1") per adjacent pair."""

    def map(self, record: str) -> None:
        toks = [t for t in record.split(" ") if t]
        for a, b in zip(toks, toks[1:]):
            self.emit(a + " " + b, "1")


class DoclenStatsMapper(BaseMapper):
    """Per-source document-length stats mapper — records are
    ``source<TAB>n_chars``; emit (source, n_chars). Fifth registered
    user_id: paired with a reducer computing an ALGEBRAIC aggregate
    (count + sum in one pass), the shape the demo's distributive sum
    reducer cannot express. Splits at the LAST tab (rpartition): the
    numeric field can never contain one, so a source name that does
    stays intact in the key instead of leaking into the value and
    blowing up the reducer's int() deep inside a python worker."""

    def map(self, record: str) -> None:
        source, _, n_chars = record.rpartition("\t")
        self.emit(source, n_chars)


class DoclenStatsReducer(BaseReducer):
    """Emit (source, "count|total_chars") — a COMPOSITE value through the
    reference's string-typed value channel (``src/mr_tasks.h:55``: keys
    and values are strings; structure is the user function's job). Both
    fields are exact integers, so the output is engine-stable with no
    float formatting in the channel."""

    def reduce(self, key: str, values) -> None:
        n = 0
        total = 0
        for v in values:
            n += 1
            total += int(v)
        self.emit(key, f"{n}|{total}")


class DocTopKMapper(BaseMapper):
    """Top-k prep mapper — records are ``source<TAB>n_chars<TAB>doc_id``;
    emit (source, "n_chars|doc_id"). Splits with rsplit on the LAST two
    tabs (the DoclenStatsMapper discipline): both numeric fields can
    never contain a tab, so a source name that does stays intact in the
    key instead of corrupting the composite value."""

    def map(self, record: str) -> None:
        source, n_chars, doc_id = record.rsplit("\t", 2)
        self.emit(source, n_chars + "|" + doc_id)


class TopKDocsReducer(BaseReducer):
    """SELECTIVE-emit reducer with BOUNDED per-key state (the last reducer
    shape missing from the MR-compat coverage: distributive sum,
    dedup-and-join, identity and one-pass algebraic exist) — keep a k-item
    heap of the longest documents per key and emit ONLY those, however
    many values stream through. Order: n_chars DESC, doc_id ASC (stated,
    deterministic in both engines); the heap stores (n_chars, -doc_id) so
    its min is always the worst kept candidate, the one-pass O(n log k)
    textbook form. Emits (key, "rank|n_chars|doc_id") — an integer-only
    composite through the reference's string value channel
    (``src/mr_tasks.h:55``), rank 1-based in emit order."""

    K = 3

    def reduce(self, key: str, values) -> None:
        heap: list[tuple[int, int]] = []
        for v in values:
            n_chars, _, doc_id = v.partition("|")
            item = (int(n_chars), -int(doc_id))
            if len(heap) < self.K:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
        for rank, (n, nd) in enumerate(
            sorted(heap, key=lambda t: (-t[0], -t[1])), start=1
        ):
            self.emit(key, f"{rank}|{n}|{-nd}")


class KeyValuePairMapper(BaseMapper):
    """Generic key/value pair mapper — records are ``key<TAB>value``;
    emit (key, value) as-is. Splits at the LAST tab (rpartition, the
    DoclenStatsMapper discipline): the value field in current pairings
    is numeric and can never contain a tab, so a key that does stays
    intact instead of corrupting the value. Records MUST contain a tab
    — this mapper is registered as a reusable generic task, and a
    separator-less record would otherwise fold into a spurious empty
    key (rpartition's miss case puts the whole record in ``value``), so
    it raises instead of silently corrupting the key space."""

    def map(self, record: str) -> None:
        key, sep, value = record.rpartition("\t")
        if not sep:
            raise ValueError(
                "KeyValuePairMapper: record has no tab separator: "
                f"{record[:80]!r}"
            )
        self.emit(key, value)


class DistinctCountReducer(BaseReducer):
    """Emit (key, count of DISTINCT values) — a reducer whose state is a
    VALUE-CARDINALITY-bounded set (|distinct values| entries, however
    many duplicates stream through), the holistic-aggregate shape none
    of the other six user_ids exercise: the sum/algebraic reducers keep
    O(1) state, the top-k heap O(k), the dedup-join reducer re-emits
    every distinct value (output scales with the set) — this one folds
    the set to a single integer. The reference's reduce contract hands
    over the full value iterator per key (``mr_task_factory.h:33-38``),
    so a set fold is exactly the in-memory shape its API implies; a key
    whose distinct-value cardinality exceeded worker memory would need
    the dedup-join reducer composed with a counting pass instead
    (documented bound, not a silent cap)."""

    def reduce(self, key: str, values) -> None:
        seen: set[str] = set()
        for v in values:
            seen.add(v)
        self.emit(key, str(len(seen)))


class HistogramReducer(BaseReducer):
    """Emit a BOUNDED per-key value histogram — the MULTI-EMIT algebraic
    reducer shape (one reduce call produces up to ``N_BUCKETS`` output
    pairs, each from O(1) bucket state), which none of the other seven
    user_ids pin: sum/algebraic/distinct fold to ONE emit, top-k's
    multi-emit is SELECTIVE (data-dependent candidates), identity's is
    pass-through (output scales with input). Here the output is bounded
    by the bucket count however many values stream through — the
    zero-or-more-emit contract (``external/include/mr_task_factory.h:38``)
    exercised on the many side with constant state. Buckets are
    fixed-width (``WIDTH`` chars) with a terminal overflow bucket
    (``least(v // WIDTH, N_BUCKETS-1)``), so the state is genuinely
    bounded for ANY value domain; empty buckets are not emitted
    (sparse), emit order is ascending bucket index (stated,
    deterministic). Values are non-negative integers through the
    reference's string value channel (``src/mr_tasks.h:55``); the
    composite output is ``bucket|count``, integer-only, engine-stable."""

    WIDTH = 64
    N_BUCKETS = 10

    def reduce(self, key: str, values) -> None:
        counts = [0] * self.N_BUCKETS
        for v in values:
            iv = int(v)
            if iv < 0:
                # Stated precondition, enforced (the KeyValuePairMapper
                # discipline): a negative value would otherwise alias
                # into the top buckets via python negative indexing.
                raise ValueError(
                    f"HistogramReducer: negative value {iv} for key "
                    f"{key[:80]!r}"
                )
            b = iv // self.WIDTH
            if b >= self.N_BUCKETS:
                b = self.N_BUCKETS - 1
            counts[b] += 1
        for b, n in enumerate(counts):
            if n:
                self.emit(key, f"{b}|{n}")
