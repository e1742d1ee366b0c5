"""The engine's Python worker daemon (mapreduce_infrastructure_spark.pyworker).

Inside a worker task, `importlib.invalidate_caches()` (which PySpark runs at
the start of every task) must not re-read an archive that did not change,
and must still re-read one that did. Workers must be able to import the
daemon and the engine whatever the cwd and environment Spark starts from.

The probes are closures, so the worker unpickles them by value.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_in_worker(spark, probe):
    [result] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    return result


def test_unchanged_archives_are_not_reread(spark):
    def probe(_):
        import importlib
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        archives = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        yield reads, sorted(archives), sys.modules["__main__"].__spec__.name

    reads, archives, daemon = _run_in_worker(spark, probe)
    assert daemon == "mapreduce_infrastructure_spark.pyworker"
    assert any(a.endswith("pyspark.zip") for a in archives), archives
    assert reads == []


def test_a_rewritten_archive_is_reread(spark):
    def probe(_):
        import importlib
        import shutil
        import tempfile
        import zipfile
        import zipimport

        tmp = tempfile.mkdtemp()
        archive = os.path.join(tmp, "mods.zip")

        def write(**modules):
            with zipfile.ZipFile(archive, "w") as z:
                for name, value in modules.items():
                    z.writestr(f"{name}.py", f"VALUE = {value!r}\n")

        names = ("pyworker_probe_m1", "pyworker_probe_m2")
        reads = []
        read = zipimport._read_directory
        write(pyworker_probe_m1=1)
        sys.path.insert(0, archive)
        try:
            m1 = importlib.import_module(names[0]).VALUE
            # Rewritten in place: same inode, new size and mtime.
            write(pyworker_probe_m1=1, pyworker_probe_m2=2)
            zipimport._read_directory = lambda a: reads.append(a) or read(a)
            importlib.invalidate_caches()
            zipimport._read_directory = read
            m2 = importlib.import_module(names[1]).VALUE
        finally:
            zipimport._read_directory = read
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            zipimport._zip_directory_cache.pop(archive, None)
            for n in names:
                sys.modules.pop(n, None)
            shutil.rmtree(tmp)
        yield m1, m2, reads, archive

    m1, m2, reads, archive = _run_in_worker(spark, probe)
    assert (m1, m2) == (1, 2)
    # The rewritten archive, once; no other archive.
    assert reads == [archive]


_ANY_CWD_JOB = """
import sys
sys.path.insert(0, {repo!r})
from mapreduce_infrastructure_spark import catalog
from mapreduce_infrastructure_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1)
try:
    sc = spark.sparkContext
    sums = sc.parallelize(range(8), 2).mapPartitions(lambda it: [sum(it)]).collect()
    # catalog.fingerprint pickles by reference: the worker imports it.
    stamps = sc.parallelize([catalog.__file__], 1).map(catalog.fingerprint).collect()
    print(sums, stamps == [catalog.fingerprint(catalog.__file__)])
finally:
    spark.stop()
"""


def test_workers_import_the_engine_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _ANY_CWD_JOB.format(repo=_REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "[6, 22] True"
