"""The worker daemon (rabbithole_spark/worker_daemon.py): sessions from
get_spark use it, reused workers keep Spark's own archive directories
across tasks, and archives shipped later still become importable."""

from __future__ import annotations

import os
import uuid
import zipfile
import zipimport

import rabbithole_spark
from rabbithole_spark.worker_daemon import skip_rereads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_get_spark_sets_worker_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "rabbithole_spark.worker_daemon"
    # the daemon must be importable whatever the driver's cwd is
    package_root = os.path.dirname(os.path.dirname(rabbithole_spark.__file__))
    assert conf.get("spark.executorEnv.PYTHONPATH") == package_root


def test_reused_worker_keeps_pyspark_archive_directory(spark):
    """A worker's first task stashes the directory dict of the archive
    pyspark was imported from; any later task in the same worker
    process must still see that very object (no per-task re-read).
    Idle workers are handed out first-in first-out, so consecutive
    1-partition jobs cycle through the idle pool before one lands on
    a worker again — hence the bounded loop instead of two jobs."""

    def probe(rows):
        import os
        import sys
        import zipimport

        import pyspark

        archive = next(
            p
            for p in sys.path
            if os.path.isfile(p) and pyspark.__file__.startswith(p + os.sep)
        )
        files = sys.path_importer_cache[archive]._files
        reused = "_rabbithole_probe_files" in vars(zipimport)
        kept = vars(zipimport).setdefault("_rabbithole_probe_files", files)
        for _ in rows:  # a worker that leaves input unread is not reused
            yield os.getpid(), reused, kept is files

    job = spark.sparkContext.parallelize([0], 1).mapPartitions(probe)
    pids = []
    for _ in range(32):
        ((pid, reused, kept),) = job.collect()
        pids.append(pid)
        if reused:
            break
    assert reused, f"no worker was reused across {len(pids)} jobs: {pids}"
    assert kept, f"worker {pid} re-read pyspark's archive between tasks"


def test_pyfiles_added_after_worker_start_are_importable(spark, tmp_path):
    """Spark's per-task invalidation contract still holds for a zip
    and a plain module shipped with addPyFile once workers exist."""
    sc = spark.sparkContext
    assert sc.parallelize([0], 1).map(lambda x: x + 1).collect() == [1]
    tag = uuid.uuid4().hex
    zipped, plain = f"rh_zip_probe_{tag}", f"rh_py_probe_{tag}"
    _write_zip(tmp_path / f"{zipped}.zip", [zipped])
    (tmp_path / f"{plain}.py").write_text(f"NAME = {plain!r}\n")
    sc.addPyFile(str(tmp_path / f"{zipped}.zip"))
    sc.addPyFile(str(tmp_path / f"{plain}.py"))

    def load(rows):
        import importlib

        for _ in rows:
            yield tuple(importlib.import_module(m).NAME for m in (zipped, plain))

    assert sc.parallelize([0], 1).mapPartitions(load).collect() == [(zipped, plain)]


def test_skip_rereads_only_skips_the_given_archives(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    fixed, shipped = str(tmp_path / "fixed.zip"), str(tmp_path / "shipped.zip")
    for path in (fixed, shipped):
        _write_zip(path, ["old"])
    importers = {path: zipimport.zipimporter(path) for path in (fixed, shipped)}
    skip_rereads(frozenset([fixed]))
    for path, importer in importers.items():
        _write_zip(path, ["old", "new"])
        importer.invalidate_caches()
    assert importers[fixed].find_spec("new") is None
    assert importers[shipped].find_spec("new") is not None
    assert all(imp.find_spec("old") is not None for imp in importers.values())
