"""Engine worker daemon: the change-guarded zip directory re-read.

pyspark calls ``importlib.invalidate_caches()`` before every Python
task; on CPython < 3.13 each zipimporter then re-reads its whole archive
directory. The guard keeps the re-read only for archives that changed.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from alertsage_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 zipimporters already re-read their directory lazily",
)


def _write_zip(path, v: int, pad: str = "") -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("m.py", f"v = {v}\n{pad}")


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    zp = str(tmp_path / "mods.zip")
    _write_zip(zp, 1)
    monkeypatch.syspath_prepend(zp)
    monkeypatch.delitem(sys.modules, "m", raising=False)
    m = importlib.import_module("m")
    assert m.v == 1
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == zp
    ]
    assert importers

    # restored at teardown, whatever install() puts there
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    importlib.invalidate_caches()
    assert reads.count(zp) == 0

    _write_zip(zp, 2, pad="# a longer file\n")
    importlib.invalidate_caches()
    assert reads.count(zp) == len(importers)
    assert importlib.reload(m).v == 2

    importlib.invalidate_caches()
    assert reads.count(zp) == len(importers)
    monkeypatch.delitem(sys.modules, "m")


def test_daemon_conf_reaches_the_workers(spark):
    def probe(_it):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == ["alertsage_spark.worker_daemon"]
