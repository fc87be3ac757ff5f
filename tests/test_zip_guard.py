"""The package's guard against per-task zip directory re-reads.

PySpark's worker runs ``importlib.invalidate_caches()`` before every task;
on CPython < 3.13 that makes every ``zipimporter`` re-read its archive's
central directory. Importing ``fhirflat_spark`` makes the re-read happen
only when the archive changed on disk.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import fhirflat_spark

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ zipimporter.invalidate_caches only drops its cache",
)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path plus the list of archives
    ``zipimport._read_directory`` reads from then on."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zg_first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("zg_first", "zg_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@needs_guard
def test_unchanged_zip_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("zg_first").VALUE == 1
    importlib.invalidate_caches()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("zg_first").VALUE == 1
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zg_first.py", "VALUE = 1\n")
        z.writestr("zg_second.py", "VALUE = 2\n")
    reads.clear()
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zg_second").VALUE == 2


@needs_guard
def test_guard_reaches_python_workers(spark):
    """Workers that unpickle engine code run with the guard installed,
    and it stays installed across the tasks a reused worker runs."""
    import pyarrow as pa

    pkg = fhirflat_spark

    def report(batches):
        for _ in batches:
            pass
        guard = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {"guarded": [guard.__module__ == pkg.__name__]}
        )

    df = spark.range(0, 64, numPartitions=8)
    jobs = [
        [r.guarded for r in df.mapInArrow(report, "guarded boolean").collect()]
        for _ in range(2)
    ]
    assert len(jobs[1]) == 8
    assert all(jobs[1]), jobs
