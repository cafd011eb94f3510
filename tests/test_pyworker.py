"""The engine's Python worker daemon (log_agent_spark/pyworker.py).

PySpark calls ``importlib.invalidate_caches()`` before every Python task;
the daemon's stat-checked ``zipimporter.invalidate_caches`` must skip the
re-parse of an unchanged archive and still re-read a rewritten one.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from log_agent_spark import pyworker


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a.py": "VALUE = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches
    )
    monkeypatch.setattr(pyworker, "_read_stamps", {})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zmod_a").VALUE == 1
        importlib.invalidate_caches()  # first call records the stamp
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"zmod_a.py": "VALUE = 1\n", "zmod_b.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("zmod_b").VALUE == 2
        importlib.invalidate_caches()
        assert reads == [archive]
    finally:
        for name in ("zmod_a", "zmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_engine_session_workers_run_under_engine_daemon(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
            )

    rows = spark.range(2, numPartitions=2).mapInPandas(probe, "m string").collect()
    assert {r.m for r in rows} == {"log_agent_spark.pyworker"}
