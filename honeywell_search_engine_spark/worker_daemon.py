"""The engine's Spark Python worker daemon: pyspark's own daemon without
the per-task re-read of every zip archive on the worker's ``sys.path``.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``). Python 3.11's
``zipimporter.invalidate_caches`` then re-parses the central directory of
its archive, and a worker holds one importer per package path inside
``pyspark.zip`` plus the spark-core jar: 135-280 ms of CPU per task,
measured inside a worker on a 4-vCPU host (Spark 4.1.2) — more than the
shard kernels of a point query cost.

``invalidate_caches`` below re-reads an archive only when it changed: it
keeps the ``(st_mtime_ns, st_size, st_ino)`` the archive had when its
directory was last read, and skips the read while the file still has it
and its directory is still in ``zipimport._zip_directory_cache``. A new or
rewritten archive (``addPyFile``, a redeployed zip) is read as before. A
rewrite that keeps the size and the inode within one tick of the file
system's timestamp clock is not seen.

``python -m honeywell_search_engine_spark.worker_daemon`` is what Spark
runs when ``spark.python.daemon.module`` names this module
(``session.get_spark`` sets it): ``main`` installs the patch, reads every
zip and jar on ``sys.path`` once, then hands over to
``pyspark.daemon.manager()``. Every worker is forked from the daemon, so
the state must be seeded before the fork: state filled in a worker alone
would be lost with it. How long a worker lives depends on the task: on a
4-vCPU host (Spark 4.1.2) each RDD ``mapPartitions`` task ran in a freshly
forked worker (4 new pids in 4 tasks), while the ``spark.range(0, 1, 1,
1).mapInArrow`` tasks of Spark point queries reused one worker across 6
queries, with ``query.wand`` already imported at task start. Run as
``__main__`` this file imports itself by its module name, so the patch
and its counters live in the module a task can import and read
(``counts``, ``installed``).
"""

from __future__ import annotations

import os
import sys
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size, st_ino) of the file whose
# directory zipimport._zip_directory_cache holds
_read_at: dict[str, tuple] = {}

# invalidate_caches calls that kept the cached directory ("skipped") and
# those that read the archive ("reread"), in this process
counts = {"skipped": 0, "reread": 0}


def _signature(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when the file changed since its directory was read."""
    archive = self.archive
    sig = _signature(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if sig is not None and files is not None and _read_at.get(archive) == sig:
        self._files = files
        counts["skipped"] += 1
        return
    # the signature is taken before the read: a rewrite during the read
    # leaves an older signature, so the next call reads again
    _original_invalidate(self)
    counts["reread"] += 1
    if sig is not None and archive in zipimport._zip_directory_cache:
        _read_at[archive] = sig
    else:
        _read_at.pop(archive, None)


def installed() -> bool:
    """Whether this process runs the patched ``invalidate_caches``."""
    return zipimport.zipimporter.invalidate_caches is invalidate_caches


def seed() -> None:
    """Read every zip and jar on ``sys.path`` once and record it as read,
    so that a worker forked afterwards skips them. Not counted."""
    for entry in sys.path:
        if not os.path.isfile(entry):
            continue
        try:
            importer = zipimport.zipimporter(entry)
        except zipimport.ZipImportError:
            continue
        invalidate_caches(importer)
    counts.update(skipped=0, reread=0)


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    seed()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    from honeywell_search_engine_spark import worker_daemon

    worker_daemon.main()
