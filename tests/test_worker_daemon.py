"""The Python worker daemon (``worker_daemon.py``): the sessions from
``get_spark`` run their workers under it, and its gate re-reads a zip
archive's index only when the archive changed."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from gpu_entity_resolver_spark import worker_daemon

DAEMON = "gpu_entity_resolver_spark.worker_daemon"


def test_get_spark_workers_run_the_gate(spark):
    """The session names the daemon, and a worker sees the patched method."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "m string").collect()
    assert [r["m"] for r in rows] == [DAEMON]


def test_import_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches.__module__ != DAEMON


def _write_zip(path, name, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", body)


def test_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "_zipgate_m", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("_zipgate_m", "_zipgate_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    # monkeypatch restores the original method when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install_zip_index_gate()
    assert importlib.import_module("_zipgate_m").X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # the first call after install has no recorded stat and re-reads once
    importlib.invalidate_caches()
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1

    # a new size and mtime: the next call re-reads, and the new module imports
    _write_zip(archive, "_zipgate_m2", "Y = 22\n")
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("_zipgate_m2").Y == 22
