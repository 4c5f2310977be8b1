"""The Python worker daemon (``worker_daemon``): its zip importer keeps an
archive's directory across ``importlib.invalidate_caches()`` until the
archive changes, and ``get_spark``'s workers run under it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from gmall_211027_flink_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="zipimport re-reads lazily from Python 3.12 on")
def test_gated_zipimporter_rereads_only_a_changed_archive(tmp_path,
                                                          monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"gated_mod_a": "X = 1\n"})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "path", [str(archive), *sys.path])
    for name in ("gated_mod_a", "gated_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    assert worker_daemon.install()
    assert worker_daemon.installed()
    assert importlib.import_module("gated_mod_a").X == 1
    finder = sys.path_importer_cache[str(archive)]
    assert type(finder) is worker_daemon._GatedZipImporter
    n = len(reads)
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == n, "an unchanged archive was re-read"

    _write_zip(archive, {"gated_mod_a": "X = 1\n", "gated_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads[n:] == [str(archive)]
    assert importlib.import_module("gated_mod_b").Y == 2


def test_workers_run_under_the_gated_daemon(spark):
    def probe(batches):
        import sys
        import zipimport

        from gmall_211027_flink_spark import worker_daemon as wd
        zips = {type(f).__name__ for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)}
        for _ in batches:
            yield pd.DataFrame({"installed": [wd.installed()],
                                "zip_finders": [",".join(sorted(zips))]})

    rows = (spark.range(4).repartition(2)
            .mapInPandas(probe, "installed boolean, zip_finders string")
            .collect())
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") \
        == "gmall_211027_flink_spark.worker_daemon"
    want = sys.version_info < (3, 12)
    assert rows and all(r.installed is want for r in rows)
    if want:
        assert {r.zip_finders for r in rows} == {"_GatedZipImporter"}
