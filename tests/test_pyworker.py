"""The Python-worker daemon module: zip archives are re-read only when
they change, and Spark's workers run with the patch installed."""

from __future__ import annotations

import importlib.util
import zipfile
import zipimport

import pandas as pd

from mapreduceimpl_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            for prefix in ("", "pkg/"):
                z.writestr(f"{prefix}{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread_and_rewrite_is_seen(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["a"])
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_if_changed)
    # two importers share the archive: its root and a package prefix
    importers = [zipimport.zipimporter(str(archive)), zipimport.zipimporter(str(archive / "pkg"))]
    for imp in importers:
        imp.invalidate_caches()  # first call stamps the importer
    reads.clear()
    for _ in range(2):
        for imp in importers:
            imp.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["a", "b"])
    for imp in importers:
        assert imp.find_spec("b") is None
        imp.invalidate_caches()
        spec = imp.find_spec("b")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.NAME == "b"
    assert len(reads) == 2


def test_spark_workers_run_the_patched_daemon(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {r["m"] for r in spark.range(1).mapInPandas(probe, "m string").collect()}
    assert got == {"mapreduceimpl_spark.pyworker"}
