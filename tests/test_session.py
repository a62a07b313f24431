"""The session's Python daemon (``rag_database_spark.pyworker``): its
zipimporter guard skips re-reading an unchanged archive and re-reads a
rewritten one, and the session's workers start from it. The driver
heap's default fits the host."""

from __future__ import annotations

import importlib
import zipfile
import zipimport

import pandas as pd

from rag_database_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


def test_guard_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["guarded_a"])
    # recorded so teardown puts the unguarded method back
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    pyworker.install()
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("guarded_a").NAME == "guarded_a"

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    importlib.invalidate_caches()  # the new importer has no stamp yet
    assert reads == [archive]
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, ["guarded_a", "guarded_b"])
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("guarded_b").NAME == "guarded_b"


def test_workers_start_from_the_engine_daemon(spark):
    def guard_module(batches):
        import zipimport

        for _ in batches:
            yield pd.DataFrame(
                {"module": [zipimport.zipimporter.invalidate_caches.__module__]}
            )

    rows = spark.range(1).mapInPandas(guard_module, "module string").collect()
    assert [r.module for r in rows] == [pyworker.__name__]


def test_default_driver_memory_is_half_the_host_at_most_48g(monkeypatch):
    from rag_database_spark import session

    sizes = {"SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    sizes["SC_PHYS_PAGES"] = 16 * 2**30 // 4096  # a 16 GB host
    assert session.default_driver_memory() == "8192m"
    sizes["SC_PHYS_PAGES"] = 512 * 2**30 // 4096  # a 512 GB host
    assert session.default_driver_memory() == "49152m"
