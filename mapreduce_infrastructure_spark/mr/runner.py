"""MapReduce job runner on Spark (reference driver-pipeline parity).

The reference lifecycle — spec → newline-aligned shards → map tasks →
hash-partitioned shuffle files → sort-grouped reduce tasks → key-sorted
``output_{i}`` text files (``src/mapreduce_impl.cc:8-26``, ``src/master.h``,
``src/mr_tasks.h``) — collapses onto Spark primitives:

| reference                                  | here                                 |
|--------------------------------------------|--------------------------------------|
| shard_files / map_kilobytes                | sc.textFile, split size an argument  |
| BaseMapper::map + emit, grouped per task   | mapPartitions → (key, values) groups |
| hash(key) % R shuffle files                | combineByKey(numPartitions=R)        |
| reduce-side sort-group (std::map)          | shuffle + per-partition key sort     |
| scheduling/pings/stragglers/dedup          | Spark scheduler (built-in)           |
| sorted output_{i} append                   | write_sorted_text (hash-sample range)|

Hot-key note: the reference buffers each key's values in an in-memory map
(``src/mr_tasks.h:101``) and would OOM. Here the map task's grouping is
flushed under the worker-memory limit and the shuffle's mergers spill, but
a single key's values are still materialized per reduce call — identical
to the reference's *contract*. When the user fold is algebraic, prefer the
DataFrame path (e.g. llm.text.wordcount) — Catalyst then does map-side
partial aggregation the reference can't.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
from collections import defaultdict
from operator import itemgetter

from pyspark.shuffle import get_used_memory
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..jobspec import MapReduceSpec, read_and_validate_spec
from .registry import get_factories

KV_SCHEMA = "key string, value string"


def _map_groups(mapper, lines, limit_mb: float):
    """Run ``mapper`` over ``lines`` and yield its emits grouped by key, as
    (key, list of values) — one group per key per flush. The groups are
    flushed when the worker's resident memory reaches ``limit_mb``, checked
    the way ``pyspark.shuffle.ExternalMerger.mergeValues`` checks: after
    1000 pairs, then after 1.5× as many each time it is under the limit and
    half as many after a flush. As there, a flush raises the limit to 1.05×
    the memory still in use, so memory the process keeps after a flush
    does not make it flush (and check) at every record."""
    groups = defaultdict(list)
    count, batch = 0, 1000
    for line in lines:
        if line is None:
            continue
        mapper.map(line)
        pairs = mapper._drain()
        for key, value in pairs:
            groups[key].append(value)
        count += len(pairs)
        if count >= batch:
            if get_used_memory() >= limit_mb:
                yield from groups.items()
                groups = defaultdict(list)
                limit_mb = max(limit_mb, get_used_memory() * 1.05)
                batch /= 2
                count = 0
            else:
                batch *= 1.5
    yield from groups.items()


def _extend(values: list, more: list) -> list:
    values.extend(more)
    return values


def run_mr_job(
    spark: SparkSession,
    records: DataFrame | list[str],
    user_id: str,
    num_output_files: int = 10,
    split_bytes: int | None = None,
) -> DataFrame:
    """Execute a registered map/reduce task over text records.

    ``records``: a DataFrame whose FIRST column is the string record (extra
    columns ignored), or a list of text file paths, read newline-delimited
    like the reference's inputs in splits of about ``split_bytes`` (default:
    the session's ``spark.sql.files.maxPartitionBytes``). A path may not
    hold a comma: the Hadoop text reader takes its paths comma-joined.

    Returns DataFrame[key string, value string] — the reference's output
    pair stream (``src/mr_tasks.h:112-115``), unsorted; sorting/encoding
    belongs to the sink (write_sorted_text).
    """
    mapper_factory, reducer_factory = get_factories(user_id)

    if isinstance(records, list):
        bad = [p for p in records if "," in p]
        if bad:
            raise ValueError(f"run_mr_job: input path holds a comma: {bad[0]!r}")
        if split_bytes is None:
            split_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        # Plain files set the split count; a directory or glob is still read,
        # in splits of at most the file system's block size.
        size = sum(os.path.getsize(p) for p in records if os.path.isfile(p))
        splits = math.ceil(size / max(split_bytes, 1))
        rdd = spark.sparkContext.textFile(",".join(records), max(splits, 1))
    else:
        # Positional access, not F.col(name): a first column named e.g.
        # "doc.text" would otherwise be parsed as a nested-field reference.
        col = records[records.columns[0]].cast("string")
        rdd = records.select(col).rdd.map(itemgetter(0))

    # The map side groups like pyspark's own map-side merger, under the
    # same limit (spark.python.worker.memory × 0.9).
    limit_mb = rdd._memory_limit() * 0.9

    def map_partition(lines):
        # Fresh mapper per task, like the reference's factory.
        return _map_groups(mapper_factory(), lines, limit_mb)

    # Shuffle: hash(key) % R routing (reference src/mr_tasks.h:64-80). The
    # map-side merger sees about one group per key and task; the reduce
    # side's ExternalMerger.mergeCombiners spills instead of text files.
    grouped = rdd.mapPartitions(map_partition).combineByKey(
        lambda values: values, _extend, _extend, max(int(num_output_files), 1)
    )

    def reduce_partition(groups):
        reducer = reducer_factory()
        # Reference reducers see keys in sorted order (std::map iteration,
        # src/mr_tasks.h:117-138); preserve that per-partition contract.
        #
        # MEMORY BOUND (inherited from the reference's semantics, not an
        # accident): ``reduce(key, values)`` hands the reducer ONE KEY'S
        # complete value list, a Python list the reducer owns, and the
        # ``sorted(groups)`` needed for the sorted-key contract holds one
        # PARTITION's merged groups at once — the same
        # all-values-of-a-key-in-RAM model as the reference's
        # ``std::map<string, vector<string>>`` (src/mr_tasks.h:101). The
        # map side is bounded (its groups flush at the worker-memory
        # limit) and the reduce-side merger spills while it merges, but a
        # key with ~10^8 values will OOM the Python worker here exactly as
        # it would OOM the reference's reducer process. This bound applies
        # ONLY to this black-box-UDF compat tier; the declarative queries
        # aggregate via Spark's spilling hash/sort aggregates and have no
        # such limit. Raise ``num_output_files`` (R) to shrink partitions;
        # a hot KEY cannot be split without changing reducer semantics.
        # tests/test_mr_compat.py::test_mr_hot_key_single_key_million_values
        # pins the practical envelope (10^6 values on one key completes).
        for key, values in sorted(groups, key=itemgetter(0)):
            reducer.reduce(key, values)
            yield from reducer._drain()

    reduced = grouped.mapPartitions(reduce_partition, preservesPartitioning=True)
    return spark.createDataFrame(reduced, KV_SCHEMA)


def _range_bounds(df: DataFrame, key: str, num_files: int) -> list[str]:
    """At most R-1 ascending, distinct split keys for ``df``'s ``key``
    column, from a sample that depends on the data alone: the ~100·R rows
    lowest in (xxhash64(key), key), one small job. A key's copies share
    its hash, so the sample weighs keys by their row counts."""
    sample = [
        r[0]
        for r in df.select(key)
        .where(F.col(key).isNotNull())
        .orderBy(F.xxhash64(key), key)
        .limit(100 * num_files)
        .collect()
    ]
    # Python orders str by code point, which is the UTF-8 byte order the
    # sink's sort uses.
    sample.sort()
    n = len(sample)
    return sorted({sample[i * n // num_files] for i in range(1, num_files)} if n else ())


def write_sorted_text(
    df: DataFrame,
    output_dir: str,
    num_files: int,
    key: str = "key",
    value: str = "value",
) -> list[str]:
    """Key-sorted, exactly-R-file text sink (reference guarantees:
    key-sorted output ``description.md:56``, R files named ``output_{i}``
    ``src/master.h:110-113``, line format ``key, value``
    ``src/mr_tasks.h:112-115``).

    Rows go to file i by key range — the number of split keys below the
    row's key — and are sorted by (key, value) within it, so the files
    concatenated in order are *globally* sorted without a single-partition
    global sort (orderBy().repartition(R) would destroy order;
    orderBy().coalesce(1) would serialize). The split keys come from
    `_range_bounds`, a sample job over ``df`` that depends on the data
    alone, so the same rows always give the same files. An unpersisted
    ``df`` is computed twice (the sample and the write).

    DELIBERATE DEVIATION from the reference: ``src/mr_tasks.h:112-115``
    opens ``output_{i}`` with ``ios::app``, so a re-run against the same
    output_dir APPENDS a second copy of every record (the double-append
    defect documented in SURVEY §2A). This sink instead deletes prior
    ``output_*`` files and overwrites — re-running a job is idempotent,
    which is the behavior a retrying scheduler needs (Spark task retries
    assume re-executable, overwrite-safe sinks). Asserted by the re-run
    test in tests/test_mr_compat.py.
    """
    num_files = max(int(num_files), 1)
    bounds = _range_bounds(df, key, num_files)
    # File i holds the keys k with bounds[i-1] < k <= bounds[i]; a null key
    # is below every bound and sorts first, so it goes to file 0.
    below = F.filter(F.array(*map(F.lit, bounds)), lambda b: b < F.col(key))
    pid = F.size(below) if bounds else F.lit(0)
    tmp = output_dir.rstrip("/") + "__spark_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        df.select(pid.alias("pid"), key, value)
        .repartition(num_files, "pid")
        .sortWithinPartitions("pid", key, value)
        .select("pid", F.concat_ws(", ", F.col(key), F.col(value)).alias("line"))
        .write.partitionBy("pid")
        .mode("overwrite")
        .text(tmp)
    )
    os.makedirs(output_dir, exist_ok=True)
    for old in glob.glob(os.path.join(output_dir, "output_*")):
        os.remove(old)
    # Exactly-R contract (reference: R files named output_{i},
    # src/master.h:110-113): a key range with no rows writes no part file,
    # so it gets an empty one — a reducer with no keys still creates its
    # (empty) output in the reference.
    outputs: list[str] = []
    for i in range(num_files):
        dest = os.path.join(output_dir, f"output_{i}")
        parts = glob.glob(os.path.join(tmp, f"pid={i}", "part-*"))
        if parts:
            (part,) = parts
            shutil.move(part, dest)
        else:
            open(dest, "w").close()
        outputs.append(dest)
    shutil.rmtree(tmp, ignore_errors=True)
    return outputs


def run_job(spark: SparkSession, config_path: str) -> list[str]:
    """Full reference driver pipeline (``MapReduce::run``,
    ``src/mapreduce.cc:17-19`` → ``src/mapreduce_impl.cc:8-26``):
    parse+validate spec → shard-sized text scan → map/shuffle/reduce →
    sorted R-file sink. Returns the output file paths."""
    spec: MapReduceSpec = read_and_validate_spec(config_path)
    # The sink's split keys come from a sample job over its input.
    # Persisted, the Python reduce (and its shuffle read) runs once for
    # that job and the write, not once per job. map_kilobytes is the input
    # split size (reference shard planning, src/file_shard.h:37-114; text
    # splits are newline-aligned natively), passed to this job alone.
    result = run_mr_job(
        spark,
        spec.input_files,
        spec.user_id,
        spec.n_output_files,
        split_bytes=max(spec.map_kilobytes, 1) * 1024,
    ).persist()
    try:
        return write_sorted_text(result, spec.output_dir, spec.n_output_files)
    finally:
        result.unpersist()
