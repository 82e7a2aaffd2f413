"""The zipimporter guard that `blink_reloaded_spark.session` installs: an
unchanged archive on the import path is not re-read by
`importlib.invalidate_caches()`, which every reused PySpark worker calls at
the start of every task; a changed one still is."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from blink_reloaded_spark import session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ re-reads zip directories lazily; the guard is not installed",
)


def _count_reads(monkeypatch) -> list[str]:
    """Archive paths passed to zipimport._read_directory from now on."""
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipguard_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for m in ("zipguard_a", "zipguard_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    try:
        assert importlib.import_module("zipguard_a").X == 1
        # an importer not yet stamped is re-read once, as before
        importlib.invalidate_caches()
        reads = _count_reads(monkeypatch)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        # rewritten in place: same inode, new size and mtime
        _write_zip(archive, {"zipguard_a": "X = 1\n", "zipguard_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zipguard_b").Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        for m in ("zipguard_a", "zipguard_b"):
            sys.modules.pop(m, None)


def test_second_install_does_not_wrap_twice():
    guarded = zipimport.zipimporter.invalidate_caches
    session._reread_zips_only_when_changed()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_worker_task_does_not_reread_unchanged_archives(spark):
    """Inside a Python task that references an engine function (so the
    worker has imported the package), importlib.invalidate_caches() — the
    call pyspark.worker_util.setup_spark_files makes per task — reads no
    archive directory. The first call stamps importers that last read before
    the guard was installed, which happens in a fresh worker."""
    import pyarrow as pa

    from blink_reloaded_spark.functions import hashing

    def probe(batches):
        for _ in batches:
            pass
        assert hashing.xxhash64_mod is not None  # the engine reference
        importlib.invalidate_caches()
        reads: list[str] = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({"zips": [zips], "reads": [len(reads)]})

    row = spark.range(1).coalesce(1).mapInArrow(
        probe, "zips long, reads long"
    ).collect()[0]
    if row.zips == 0:
        pytest.skip("the worker's import path holds no zip archive")
    assert row.reads == 0
