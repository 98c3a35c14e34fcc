"""Python-worker daemon for sessions built by ``session.get_spark``.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``).  On CPython 3.11 that
makes every ``zipimporter`` on ``sys.path`` re-parse its archive's whole
central directory, and pyspark itself is imported from ``pyspark.zip``
(~1,300 entries, one importer per imported subpackage): a fixed
0.2-0.4 s per task on a 4-core x86 host, even on a reused worker.

This module swaps in an ``invalidate_caches`` that re-reads an archive
only when its ``(st_mtime_ns, st_size)`` changed since the last read,
reads every archive once, then runs ``pyspark.daemon.manager()``.
Workers are forked from the daemon, so every worker and task inherits
both the patch and the directories already read.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) at its last directory read
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    while the archive file is unchanged since the last read."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and cached is not None
            and _read_stamps.get(self.archive) == stamp):
        self._files = cached  # another importer may have done the re-read
        return
    _eager_invalidate(self)
    _read_stamps[self.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
    from pyspark import daemon
    importlib.invalidate_caches()  # one read per archive, before the forks
    daemon.manager()


if __name__ == "__main__":
    main()
