"""MapReduce job runner on Spark (reference driver-pipeline parity).

The reference lifecycle — spec → newline-aligned shards → map tasks →
hash-partitioned shuffle files → sort-grouped reduce tasks → key-sorted
``output_{i}`` text files (``src/mapreduce_impl.cc:8-26``, ``src/master.h``,
``src/mr_tasks.h``) — collapses onto Spark primitives:

| reference                                  | here                              |
|--------------------------------------------|-----------------------------------|
| shard_files / map_kilobytes                | text scan + maxPartitionBytes     |
| BaseMapper::map + emit                     | rdd.mapPartitions (1→N)           |
| hash(key) % R shuffle files                | groupByKey(numPartitions=R)       |
| reduce-side sort-group (std::map)          | shuffle + per-partition key sort  |
| scheduling/pings/stragglers/dedup          | Spark scheduler (built-in)        |
| sorted output_{i} append                   | write_sorted_text (range + sort)  |

Hot-key note: the reference buffers each key's values in an in-memory map
(``src/mr_tasks.h:101``) and would OOM; groupByKey spills to disk during the
shuffle, but a single key's values are still materialized per reduce call —
identical to the reference's *contract*. When the user fold is algebraic,
prefer the DataFrame path (e.g. llm.text.wordcount) — Catalyst then does
map-side partial aggregation the reference can't.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..jobspec import MapReduceSpec, read_and_validate_spec
from .registry import get_factories

KV_SCHEMA = "key string, value string"


def run_mr_job(
    spark: SparkSession,
    records: DataFrame | list[str],
    user_id: str,
    num_output_files: int = 10,
) -> DataFrame:
    """Execute a registered map/reduce task over text records.

    ``records``: a DataFrame whose FIRST column is the string record (extra
    columns ignored), or a list of text file paths (read newline-delimited,
    like the reference's inputs).

    Returns DataFrame[key string, value string] — the reference's output
    pair stream (``src/mr_tasks.h:112-115``), unsorted; sorting/encoding
    belongs to the sink (write_sorted_text).
    """
    mapper_factory, reducer_factory = get_factories(user_id)

    if isinstance(records, list):
        df = spark.read.text(records)  # newline records, split planning built in
    else:
        df = records
    # Positional access, not F.col(name): a first column named e.g.
    # "doc.text" would otherwise be parsed as a nested-field reference.
    rdd = df.select(df[df.columns[0]].cast("string")).rdd.map(lambda r: r[0])

    def map_partition(lines):
        mapper = mapper_factory()  # fresh instance per task, like the factory
        for line in lines:
            if line is None:
                continue
            mapper.map(line)
            yield from mapper._drain()

    mapped = rdd.mapPartitions(map_partition)

    # Shuffle: hash(key) % R routing (reference src/mr_tasks.h:64-80);
    # groupByKey spills via external aggregation instead of text files.
    grouped = mapped.groupByKey(numPartitions=max(int(num_output_files), 1))

    def reduce_partition(pairs):
        reducer = reducer_factory()
        # Reference reducers see keys in sorted order (std::map iteration,
        # src/mr_tasks.h:117-138); preserve that per-partition contract.
        #
        # MEMORY BOUND (inherited from the reference's semantics, not an
        # accident): ``reduce(key, values)`` hands the reducer ONE KEY'S
        # complete value list as an in-memory Python list, and the
        # ``sorted(pairs)`` needed for the sorted-key contract holds one
        # PARTITION's (key, iterable) groups at once — the same
        # all-values-of-a-key-in-RAM model as the reference's
        # ``std::map<string, vector<string>>`` (src/mr_tasks.h:101). A key
        # with ~10^8 values will OOM the Python worker here exactly as it
        # would OOM the reference's reducer process. This bound applies
        # ONLY to this black-box-UDF compat tier; the declarative queries
        # aggregate via Spark's spilling hash/sort aggregates and have no
        # such limit. Raise ``num_output_files`` (R) to shrink partitions;
        # a hot KEY cannot be split without changing reducer semantics.
        # tests/test_mr_compat.py::test_mr_hot_key_single_key_million_values
        # pins the practical envelope (10^6 values on one key completes).
        for key, values in sorted(pairs, key=lambda kv: kv[0]):
            reducer.reduce(key, list(values))
            yield from reducer._drain()

    reduced = grouped.mapPartitions(reduce_partition, preservesPartitioning=True)
    return spark.createDataFrame(reduced, KV_SCHEMA)


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

    repartitionByRange + sortWithinPartitions gives *globally* sorted output
    across the R files without a single-partition global sort — the plan
    that survives at scale (orderBy().repartition(R) would destroy order;
    orderBy().coalesce(1) would serialize). The range bounds come from a
    sample job over ``df``, so an unpersisted ``df`` is computed twice.

    DELIBERATE DEVIATION from the reference: ``src/mr_tasks.h:112-115``
    opens ``output_{i}`` with ``ios::app``, so a re-run against the same
    output_dir APPENDS a second copy of every record (the double-append
    defect documented in SURVEY §2A). This sink instead deletes prior
    ``output_*`` files and overwrites — re-running a job is idempotent,
    which is the behavior a retrying scheduler needs (Spark task retries
    assume re-executable, overwrite-safe sinks). Asserted by the re-run
    test in tests/test_mr_compat.py.
    """
    tmp = output_dir.rstrip("/") + "__spark_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        df.repartitionByRange(max(int(num_files), 1), F.col(key))
        .sortWithinPartitions(key, value)
        .select(F.concat_ws(", ", F.col(key), F.col(value)).alias("line"))
        .write.mode("overwrite")
        .text(tmp)
    )
    os.makedirs(output_dir, exist_ok=True)
    for old in glob.glob(os.path.join(output_dir, "output_*")):
        os.remove(old)
    outputs: list[str] = []
    for i, part in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*")))):
        dest = os.path.join(output_dir, f"output_{i}")
        shutil.move(part, dest)
        outputs.append(dest)
    # Exactly-R contract (reference: R files named output_{i},
    # src/master.h:110-113): range partitions with no keys produce no part
    # file, so pad with empty trailing files — a reducer with no keys still
    # creates its (empty) output in the reference.
    for i in range(len(outputs), max(int(num_files), 1)):
        dest = os.path.join(output_dir, f"output_{i}")
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
    # map_kilobytes → input split size (reference shard planning,
    # src/file_shard.h:37-114; Spark splits are newline-aligned natively).
    # Save the caller's setting and RESTORE it — not a hardcoded default.
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(max(spec.map_kilobytes, 1) * 1024)
    )
    try:
        # The sink's range bounds come from a sample job over its input.
        # Persisted, the Python reduce (and its shuffle read) runs once for
        # that job and the write, not once per job.
        result = run_mr_job(
            spark, spec.input_files, spec.user_id, spec.n_output_files
        ).persist()
        try:
            return write_sorted_text(result, spec.output_dir, spec.n_output_files)
        finally:
            result.unpersist()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
