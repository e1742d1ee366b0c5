"""The engine's Python worker daemon (``spark.python.daemon.module``).

Why it exists. PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. On CPython
3.11 a ``zipimport.zipimporter`` answers that by re-reading its archive's
whole directory, and a worker holds one importer per package path it has
searched: 13 into ``pyspark.zip`` (1,328 entries, about 9 ms a read) and 2
into the spark-core jar (5,359 entries, about 37 ms a read). That made
every Python task pay about 0.22 s (4-core host) before it read a row.

What it changes. Before it hands over to ``pyspark.daemon.manager()``, the
daemon puts `ZipImporter` in place of every zipimporter in
``sys.path_importer_cache`` and of ``zipimporter`` in ``sys.path_hooks``.
`ZipImporter.invalidate_caches` re-reads its archive only when the
archive's ``catalog.fingerprint`` (inode, mtime_ns, size) differs from the
one taken before its last read, and the importers of one archive share
that read.

What it keeps. Directory finders are still invalidated on every task; a
zip added later (``SparkContext.addPyFile``) gets a fresh importer through
the path hook; an archive rewritten in place is re-read at the next
invalidation; forked workers inherit the patched importers from the
daemon, which forks them.
"""

from __future__ import annotations

import sys
import zipimport

from .catalog import fingerprint

# archive path -> (fingerprint taken before the read, directory read).
_READS: dict[str, tuple[tuple, dict]] = {}


def _directory(archive: str) -> dict:
    """The directory of ``archive``, read again only if its fingerprint
    moved since the last read. The fingerprint is taken before the read,
    so a rewrite racing the read shows as a change next time."""
    try:
        stamp = fingerprint(archive)
        last = _READS.get(archive)
        if last is not None and last[0] == stamp:
            return last[1]
        files = zipimport._read_directory(archive)
    except (OSError, zipimport.ZipImportError):
        # As zipimporter.invalidate_caches: a gone or broken archive
        # imports nothing.
        zipimport._zip_directory_cache.pop(archive, None)
        _READS.pop(archive, None)
        return {}
    zipimport._zip_directory_cache[archive] = files
    _READS[archive] = (stamp, files)
    return files


class ZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` skips an unchanged
    archive."""

    def invalidate_caches(self):
        self._files = _directory(self.archive)


def install() -> None:
    """Route every zip path entry, present and future, through
    `ZipImporter`, and read each archive once so its fingerprint is
    known."""
    sys.path_hooks[:] = [
        ZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            finder = sys.path_importer_cache[path] = ZipImporter(path)
            finder.invalidate_caches()


if __name__ == "__main__":
    install()
    import pyspark.daemon

    pyspark.daemon.manager()
