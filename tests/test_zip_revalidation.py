"""Stat-keyed zip revalidation (installed by importing ``ocr_spark``):
``importlib.invalidate_caches()`` must skip re-reading an unchanged
archive's central directory, still re-read a rewritten one, and stay
installed in a reused Python worker across tasks."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import ocr_spark  # noqa: F401 — installs the stat-keyed method

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ zipimport re-reads lazily; nothing is installed",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zrv_alpha": "X = 1\n"})
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zrv_alpha").X == 1
        importlib.invalidate_caches()   # first: no stat recorded yet
        n = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == n, "unchanged archive was re-read"

        _write_zip(archive, {"zrv_alpha": "X = 1\n", "zrv_beta": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == n + 1, "rewritten archive was not re-read"
        assert importlib.import_module("zrv_beta").Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("zrv_alpha", "zrv_beta"):
            sys.modules.pop(name, None)


def test_reused_python_worker_keeps_stat_keyed_revalidation(spark):
    """Each task reports whether the stat-keyed method was installed
    when it started (after PySpark's own per-task invalidate_caches),
    then imports ocr_spark as unpickling any engine function does.  A
    later task on the same worker process must find it installed."""
    import pandas as pd

    def probe(batches):
        import os
        import zipimport

        installed = getattr(
            zipimport.zipimporter.invalidate_caches, "stat_keyed", False
        )
        import ocr_spark  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "installed": [installed]})

    seen: set[int] = set()
    for _ in range(16):
        (row,) = spark.range(1, numPartitions=1).mapInPandas(
            probe, "pid long, installed boolean"
        ).collect()
        if row.pid in seen:
            assert row.installed, row
            return
        seen.add(row.pid)
    pytest.fail(f"no Python worker was reused across 16 tasks: {seen}")
