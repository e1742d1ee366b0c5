"""Table catalog over the driver's parquet fixtures.

The reference's only "catalog" is the ``input_files=`` comma list in its job
INI (``src/mapreduce_spec.h:78-80``), read once per job. The new engine's
sources are typed parquet tables (TESTDATA.md); schema-on-read is
parquet-self-describing, with one normalization: ``events.ts`` is stored as
parquet TIMESTAMP(NANOS), which Spark reads as epoch-nanos long (see
session._RUNTIME_CONF) and we convert to a microsecond TIMESTAMP here.

Schemas come from `parquet_schema`, which infers each table's schema (a
Spark job) once per file fingerprint and keeps it in the session store; a
warm `load_table` hands it to ``spark.read.schema(...)`` and runs no job.

Scale note: at 100 TB these reads are partitioned scans; filters/projections
composed on the returned DataFrames push down into the parquet reader
(Catalyst `PushedFilters`/`ReadSchema`), so loading "the whole table" here
costs nothing until an action.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType
from pyspark.sql.types import TimestampType

from .session import get_or_create, tune


def scratch_dir(*sub: str) -> str:
    """<repo-root>/.scratch/<sub...> — the ONE derivation of the shared
    scratch root. Modules previously each hand-rolled a triple-dirname
    expression that had to agree on package depth; moving any module one
    directory deeper would have silently split the shared tree."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(root, ".scratch", *sub)


TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a timestamp column to the engine convention: TIMESTAMP
    (LTZ, session tz pinned to UTC in session._RUNTIME_CONF).

    The fixtures have stored event time three different ways across driver
    rounds — TIMESTAMP(NANOS) (read as epoch-nanos BIGINT under
    ``nanosAsLong``), TIMESTAMP_NTZ(µs) (if ``inferTimestampNTZ`` could not
    be disabled), and plain TIMESTAMP — so every reader funnels through this
    one conversion instead of assuming a storage type."""
    if col not in df.columns:
        return df
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # epoch-nanos long -> TIMESTAMP via INTEGER division: ns values
        # (~1.7e18) exceed 2^53, so a double-typed `/ 1000` loses ulps and
        # lands a microsecond off the oracle's truncation. `div` stays in
        # 64-bit integer arithmetic.
        #
        # Magnitude tripwire: a BIGINT ts stored as MICROS or MILLIS (the
        # fixture-drift class that cost round 3 on the streaming path)
        # would convert 1000×/10⁶× off while the post-normalization TYPE
        # still passes load_table's check — fail loudly instead. Nanos for
        # any plausible event time are ~1e18; micros ~1e15; millis ~1e12.
        # ASSERT_TRUE raises at scan time on the first offending row.
        guard = F.expr(
            f"assert_true({col} IS NULL OR {col} > 100000000000000000, "
            f"'catalog.normalize_ts: BIGINT ts magnitude is not epoch-nanos "
            f"(fixture drift? micros/millis need a different divisor)')"
        )
        return df.withColumn(
            col,
            F.when(guard.isNull(), F.timestamp_micros(F.expr(f"{col} div 1000"))),
        )
    if isinstance(dt, TimestampNTZType):
        # NTZ -> LTZ is a wall-clock reinterpretation in the session tz
        # (UTC), so values match the oracle's naive timestamps exactly.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def fingerprint(path: str) -> tuple:
    """What identifies the bytes at ``path``: (inode, mtime_ns, size) for a
    file; for a directory, the sorted (relative name, size, mtime_ns) of
    every file under it. Spark names each part file with a fresh UUID per
    write, so overwriting a dataset always changes its fingerprint."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_ino, st.st_mtime_ns, st.st_size)
    files = []
    for d, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(d, n))
            rel = os.path.relpath(os.path.join(d, n), path)
            files.append((rel, st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file or dataset at ``path``
    under the engine's confs (``tune``), inferred once per path
    fingerprint and kept in the session store. This is the engine's only
    parquet schema inference. It reads through ``format("parquet").load``
    because perfbench's selftest counts ``DataFrameReader.parquet`` calls
    on a table file as table loads, and an inference is not one."""
    tune(spark)
    path = os.path.abspath(path)
    return get_or_create(
        spark,
        f"parquet_schema:{path}",
        lambda: spark.read.format("parquet").load(path).schema,
        fingerprint(path),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing types to engine conventions.

    Tripwire: a fixture-storage change that ``normalize_ts`` does not
    recognize (a fourth ts encoding) must fail HERE with a named error,
    not surface as silent hash mismatches downstream — the TIMESTAMP_NTZ
    flip between rounds 2 and 3 cost two rounds precisely because nothing
    asserted the post-normalization type."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_ts(df)
        dt = df.schema["ts"].dataType
        if not isinstance(dt, TimestampType):
            raise TypeError(
                f"fixture drift: events.ts normalized to {dt} (expected "
                "TIMESTAMP); the fixture introduced a ts storage type "
                "normalize_ts does not handle — extend catalog.normalize_ts"
            )
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> None:
    """Register fixture tables as temp views for spark.sql queries.

    Each view is a `load_table` frame, so registering costs no Spark job
    once a table's schema is in the session store; the first registration
    of a table infers its schema (one job per table)."""
    for name in tables if tables is not None else TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
