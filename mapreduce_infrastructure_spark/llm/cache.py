"""Session caches of the LLM-tier operators, all kept in the one session
store (``session.get_or_create``/``session.replace``).

Every entry is keyed by ``session.store_key(spark, slot)``: the slot string
the call site chose (typically ``"<intermediate>:<sf_dir>"``) and the Spark
application id. No input fingerprint is part of these keys, so an entry
lives until the process ends or the application changes. Three policies:

- ``tracked_persist``: replace. A query that references an expensive
  intermediate several times persists it, but cannot unpersist before
  returning (the caller has not consumed the DataFrame yet). Re-invoking
  the query unpersists the previous occupant of its slot first, so
  session storage is bounded at one copy per slot.
- ``shared_persist``: get-or-create of a persisted frame.
- ``shared_value``: get-or-create of a small, frozen driver-side value.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import get_or_create, replace


def tracked_persist(df: DataFrame, slot: str) -> DataFrame:
    def persist(prev):
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:
                pass
        return df.persist()

    return replace(df.sparkSession, slot, persist)


def shared_persist(
    spark: SparkSession, build: Callable[[], DataFrame], slot: str
) -> DataFrame:
    """Get-or-create for slots whose plan is DETERMINISTIC in the slot key
    (e.g. keyed only by sf_dir): return the existing persisted frame when
    present instead of rebuilding it, so several consumer queries in one
    session genuinely share a single cached copy. ``tracked_persist`` is
    wrong for this shape — it unconditionally unpersists the (already
    materialized) previous occupant and re-registers an identical cold
    plan, making every consumer recompute. The store lock makes two driver
    threads racing on one fresh slot build and persist one copy."""
    return get_or_create(spark, slot, lambda: build().persist())


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


def shared_value(spark: SparkSession, build: Callable[[], object], slot: str):
    """``shared_persist`` for small driver-side values (quantizer fits,
    fit-mode decisions): several consumer queries in one session share one
    deterministic intermediate instead of re-deriving it per invocation.
    Values are frozen (numpy write flag cleared) before caching, so an
    in-place edit by a consumer raises instead of corrupting shared state;
    a build that returns None is cached like any other value.

    Staleness: the key is (slot, application id) and covers no input, so
    the first value built in an application is served for the rest of it.
    If the parquet under the slot's sf_dir is rewritten mid-session (the
    fixtures never are), later consumers still see the first fit."""
    return get_or_create(spark, slot, lambda: _freeze(build()))
