"""Stat-guarded zip-importer cache invalidation (CPython < 3.13).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before CPython 3.13 that
makes every ``zipimporter`` on ``sys.path`` re-parse its archive's whole
central directory, once per importer: each pyspark sub-package has its
own importer over ``pyspark.zip``, and ``SPARK_HOME`` also puts py4j's
zip and the spark-core jar (~5k entries) on the worker path. In a
reused worker on a 4-core host that cost 170-200 ms of CPU per task,
against ~0.1 ms with this guard (BENCH_NOTES). CPython 3.13 made the
invalidation lazy; this module backports the effect: an archive is
re-read only when its ``(st_mtime_ns, st_size)`` differs from the last
read, or when it cannot be stat'ed. A re-shipped ``--py-files`` zip is
therefore still picked up; ``FileFinder`` invalidation is untouched.

The package ``__init__`` installs the guard, so each Python worker gets
it on the first task that unpickles an engine function.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stamp at the last read, directory dict of that read);
# only successful reads of a stat-able archive are recorded
_READS: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; True if this call did.
    A no-op when already installed, on CPython >= 3.13 (lazy already)
    and before 3.10 (no such method, so nothing re-reads)."""
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if (
        sys.version_info >= (3, 13)
        or original is None
        or getattr(original, "_stat_guarded", False)
    ):
        return False

    def invalidate_caches(self):
        archive = self.archive
        # stat before reading: an archive rewritten mid-read is recorded
        # under its older stamp and so is read again next time
        stamp = _stamp(archive)
        last = _READS.get(archive)
        if last is not None and last[0] == stamp:
            self._files = last[1]
            zipimport._zip_directory_cache[archive] = last[1]
            return
        original(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            _READS[archive] = (stamp, self._files)
        else:
            _READS.pop(archive, None)

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
