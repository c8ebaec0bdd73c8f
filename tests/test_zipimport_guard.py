"""The stat-guarded zip-importer cache (`_zipimport_guard`): an
unchanged archive is not re-read by `importlib.invalidate_caches()`, a
changed or vanished one is, and Python workers run the guard, not just
the process that builds the session."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import kafka_streams_learning_spark  # noqa: F401  (installs the guard)
from kafka_streams_learning_spark import _zipimport_guard

# 3.10-3.12: zipimporter.invalidate_caches exists and re-reads eagerly
GUARDED = sys.version_info < (3, 13) and hasattr(
    zipimport.zipimporter, "invalidate_caches"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A temp zip at the front of sys.path plus a per-archive counter of
    `zipimport._read_directory` calls; sys.path, the importer caches and
    the imported modules are restored afterwards."""
    archive = str(tmp_path / "ksl_zipguard.zip")
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    saved_path = list(sys.path)
    sys.path.insert(0, archive)
    try:
        yield archive, reads
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        _zipimport_guard._READS.pop(archive, None)
        for name in ("ksl_zipguard_a", "ksl_zipguard_b"):
            sys.modules.pop(name, None)


def test_guard_installed_once_and_only_before_313():
    method = zipimport.zipimporter.invalidate_caches
    assert getattr(method, "_stat_guarded", False) == GUARDED
    assert _zipimport_guard.install() is False  # second install: no-op
    assert zipimport.zipimporter.invalidate_caches is method


def test_unchanged_archive_not_reread_changed_archive_is(zip_on_path):
    archive, reads = zip_on_path
    _write_zip(archive, {"ksl_zipguard_a": "X = 1\n"})
    import ksl_zipguard_a

    assert ksl_zipguard_a.X == 1
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    if GUARDED:
        # nothing on sys.path changed, so no existing archive is re-read
        assert [p for p in reads if os.path.exists(p)] == []

    # a re-shipped archive (new module b) must be seen on every version
    _write_zip(archive, {"ksl_zipguard_a": "X = 1\n", "ksl_zipguard_b": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    if GUARDED:
        assert reads.count(archive) == 1
    import ksl_zipguard_b

    assert ksl_zipguard_b.Y == 2
    assert reads.count(archive) >= 1


@pytest.mark.skipif(not GUARDED, reason="the guard installs only on 3.10-3.12")
def test_vanished_archive_falls_through_to_reread(zip_on_path):
    archive, reads = zip_on_path
    _write_zip(archive, {"ksl_zipguard_a": "X = 1\n"})
    import ksl_zipguard_a  # noqa: F401

    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    assert importer._files
    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()
    # stat fails -> the original path runs, finds nothing, drops the cache
    assert reads.count(archive) == 1
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _zipimport_guard._READS


def test_python_worker_runs_the_guard(spark):
    """Each reused worker installs the guard when it first imports the
    engine package (as unpickling any engine UDF does); the second
    `invalidate_caches()` in a task then re-reads no archive."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        import kafka_streams_learning_spark  # noqa: F401

        reads = []
        original = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "reads": [len([p for p in reads if os.path.exists(p)])],
                "guarded": [
                    getattr(
                        zipimport.zipimporter.invalidate_caches,
                        "_stat_guarded",
                        False,
                    )
                ],
                "needs_guard": [
                    sys.version_info < (3, 13)
                    and hasattr(zipimport.zipimporter, "invalidate_caches")
                ],
            }
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "reads long, guarded boolean, needs_guard boolean")
        .collect()
    )
    assert len(rows) == 1
    row = rows[0]
    assert row.guarded == row.needs_guard
    if row.needs_guard:
        assert row.reads == 0
