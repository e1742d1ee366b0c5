"""Session caches of the LLM-tier operators, all kept in the one session
store (``session.get_or_create``/``session.replace``).

Two kinds of entry:

- ``shared_persist`` / ``shared_value``: get-or-create, keyed by
  ``session.store_key(spark, slot, input_fingerprint(inputs))``. ``slot``
  is the string the call site chose (typically
  ``"<intermediate>:<sf_dir>"``); ``inputs`` are the table files the build
  reads (``catalog.table_paths``), a required argument, so every entry
  carries the fingerprint of what it was built from. A warm call over an
  unchanged input returns the built value; once an input is rewritten,
  even from outside the session, the next call misses, and the store
  evicts the slot's old entry (unpersisting its frames) before it
  rebuilds. The dedup tier's candidate indexes (the MinHash band table
  with its hot-band census, the SimHash chunk table, the IVF cell
  assignments) are such entries, built once per input version.
- ``tracked_persist``: replace, with no input fingerprint. A query that
  references an expensive intermediate several times persists it, but
  cannot unpersist before returning (the caller has not consumed the
  DataFrame yet). Re-invoking the query unpersists the previous occupant
  of its slot first, so session storage is bounded at one copy per slot.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from ..catalog import fingerprint
from ..session import frames, get_or_create, replace


def input_fingerprint(inputs: Iterable[str]) -> tuple:
    """The store-key fingerprint of a slot built from the files ``inputs``:
    ``catalog.fingerprint`` of each, in order."""
    return tuple(fingerprint(p) for p in inputs)


def tracked_persist(df: DataFrame, slot: str) -> DataFrame:
    def persist(prev):
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:
                pass
        return df.persist()

    return replace(df.sparkSession, slot, persist)


def _persisted(v):
    """``v``, a DataFrame or a tuple holding DataFrames (an index and its
    driver-side census), with every frame persisted; frames the build
    already persisted are left as they are."""
    for df in frames(v):
        if not df.is_cached:
            df.persist()
    return v


def shared_persist(
    spark: SparkSession,
    build: Callable[[], DataFrame | tuple],
    slot: str,
    inputs: Iterable[str],
):
    """Get-or-create of a persisted frame (or a tuple of frames and small
    driver-side values) whose plan is DETERMINISTIC in the slot and the
    contents of ``inputs``: return the existing persisted copy instead of
    rebuilding it, so several consumer queries in one session, and every
    warm call of one query, genuinely share a single cached copy.
    ``tracked_persist`` is wrong for this shape — it unconditionally
    unpersists the (already materialized) previous occupant and
    re-registers an identical cold plan, making every consumer recompute.
    The store lock makes two driver threads racing on one fresh slot build
    and persist one copy."""
    return get_or_create(
        spark, slot, lambda: _persisted(build()), input_fingerprint(inputs)
    )


def _freeze(v):
    """Make cached numpy values raise on in-place mutation instead of
    silently corrupting every other consumer in the session (round-17
    ADVICE item): ndarray → non-writable view; tuples frozen member-wise.
    Other types pass through (the only non-ndarray values cached today are
    str fit-mode decisions, which are immutable anyway)."""
    import numpy as np

    if isinstance(v, np.ndarray):
        v = v.view()
        v.setflags(write=False)
        return v
    if isinstance(v, tuple):
        return tuple(_freeze(x) for x in v)
    return v


def shared_value(
    spark: SparkSession,
    build: Callable[[], object],
    slot: str,
    inputs: Iterable[str],
):
    """``shared_persist`` for small driver-side values (quantizer fits,
    fit-mode decisions): several consumer queries in one session share one
    deterministic intermediate per input version instead of re-deriving it
    per invocation. Values are frozen (numpy write flag cleared) before
    caching, so an in-place edit by a consumer raises instead of
    corrupting shared state; a build that returns None is cached like any
    other value."""
    return get_or_create(
        spark, slot, lambda: _freeze(build()), input_fingerprint(inputs)
    )
