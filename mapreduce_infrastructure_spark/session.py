"""SparkSession construction and tuning.

The reference configures its job from a flat INI (``src/mapreduce_spec.h:58-100``)
— worker count, shard size, output-file count. The Spark-native equivalents:

- ``n_workers``        → executor/thread count (``local[N]`` here)
- ``map_kilobytes``    → ``spark.sql.files.maxPartitionBytes`` (input split size)
- ``n_output_files``   → ``spark.sql.shuffle.partitions`` / explicit repartition(R)
- straggler re-exec    → ``spark.speculation`` (reference ``src/master.h:131-138``)

Scale posture (100 TB / 1000 executors): AQE is always on so skewed shuffle
partitions are split and tiny ones coalesced at runtime; Arrow is on so any
pandas-UDF boundary is vectorized, never row-at-a-time.

The session store below is the engine's one cache: parquet schemas, shared
persisted frames, shared fits and tracked persists, under one key function.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session (including one the driver
# owns). All are dynamic SQL confs — safe to set after session creation.
_RUNTIME_CONF = {
    # Deterministic timestamp semantics: parquet fixture timestamps are
    # timezone-naive; interpreting them in UTC matches the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark refuses by default;
    # read as epoch-nanos long, converted in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture timestamps are timezone-naive (isAdjustedToUTC=false). Spark 4
    # infers those as TIMESTAMP_NTZ by default, which (a) breaks
    # unix_micros() call sites and (b) silently diverges from the round-1/2
    # certified LTZ semantics. Read them as TIMESTAMP (session tz = UTC
    # above, so wall values are identical to the DuckDB oracle's).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # AQE: runtime partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / applyInPandas / mapInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Streaming state store: RocksDB with changelog checkpointing (round 17,
    # guide §5). The default HDFSBackedStateStoreProvider keeps every state
    # partition's full map on-heap and rewrites it per commit; RocksDB bounds
    # executor memory (off-heap, spills to local disk) and the changelog
    # commit uploads only the batch's delta instead of a snapshot — the
    # scale posture for 100 TB/day keyed state. Measured locally (sf0.1
    # tumbling aggregation, 32 state partitions, 3 alternating reps):
    # per-batch state commit 8.7-13.0 s cumulative -> 5.8-7.8 s, wall
    # 1.20-1.46 -> 1.17-1.30 s. Plain RocksDB WITHOUT changelog was 2-3x
    # WORSE than HDFS on commit (full snapshot sync per batch) — the pair
    # below is only correct together. State semantics are provider-
    # independent (storage backend only); results are byte-identical.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply this engine's runtime confs to an externally-created session.

    Idempotent; called at the top of every public query entry point so the
    engine behaves identically under the driver's session and its own.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static in some deployments; never fail a query
            # over a tuning knob.
            pass
    return spark


def get_spark(
    app_name: str = "mapreduce-infrastructure-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset). ``shuffle_partitions`` defaults to the core count —
    on a real cluster you would size this to data volume instead
    (~128 MB of shuffle data per partition at 100 TB scale, with AQE
    coalescing handling the long tail).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # ASCII digits AND > 0: bare isdigit() admits '0' (local[0] is rejected
    # by Spark), superscripts ('²' passes isdigit but int() raises), and
    # non-ASCII decimal digits (int() works but the master URL doesn't) —
    # each defeating this guard's promise to fall back instead of crashing.
    if cpus != "*" and not (
        cpus.isascii() and cpus.isdigit() and int(cpus) > 0
    ):
        cpus = "*"
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Straggler re-execution (reference src/master.h:131-138, MAXWORKTIME
        # re-dispatch): speculative task retry. Spark-core conf — must be set
        # at session build, not via spark.conf.set; a no-op on local[] but
        # the operative knob on a 1000-executor cluster.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "3")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark)


# The session store. Keys are store_key(...) triples; a value may be None
# (a cached None is a hit), so lookups compare against _MISSING. The lock is
# re-entrant because builds nest (a fit's build loads tables, whose schemas
# are themselves store entries) and is held across a build, so concurrent
# driver threads asking for one key build it once; a miss on another thread
# waits for the running build.
_STORE: dict[tuple, object] = {}
_LOCK = threading.RLock()
_MISSING = object()


def store_key(spark: SparkSession, slot: str, fingerprint: tuple = ()) -> tuple:
    """(slot, application id, input fingerprint): the application id keeps
    a value built on one session from being handed to another; a caller
    that supplies an input fingerprint misses (and rebuilds) as soon as
    its input changes on disk."""
    return (slot, spark.sparkContext.applicationId, fingerprint)


def get_or_create(
    spark: SparkSession, slot: str, build: Callable[[], object], fingerprint=()
):
    """The stored value under ``store_key(spark, slot, fingerprint)``,
    running ``build()`` once on a miss."""
    key = store_key(spark, slot, fingerprint)
    v = _STORE.get(key, _MISSING)
    if v is _MISSING:
        with _LOCK:
            v = _STORE.get(key, _MISSING)
            if v is _MISSING:
                v = _STORE[key] = build()
    return v


def replace(spark: SparkSession, slot: str, build: Callable[[object], object]):
    """Store ``build(previous value or None)`` under
    ``store_key(spark, slot)`` unconditionally, under the store lock."""
    key = store_key(spark, slot)
    with _LOCK:
        v = _STORE[key] = build(_STORE.get(key))
    return v
