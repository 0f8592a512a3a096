"""askg_spark.worker_daemon: Python tasks run under it, a reused worker
neither re-reads zip archives nor re-collects its long-lived heap on
every task, and modules shipped with addPyFile still import."""
from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from askg_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE_SCHEMA = "pid long, daemon string, frozen long, zip_reads long"


def _probe(batches):
    """One row per task: worker pid, the daemon module it was forked
    from, gc's frozen-object count, and zip-directory reads since the
    worker's first probe (-1 on that first probe, which installs the
    counter)."""
    import gc

    for _ in batches:
        pass
    counter = getattr(zipimport, "_probe_reads", None)
    if counter is None:
        counter = zipimport._probe_reads = [0]
        read = zipimport._read_directory

        def counted(archive):
            counter[0] += 1
            return read(archive)

        zipimport._read_directory = counted
        reads = -1
    else:
        reads = counter[0]
    spec = getattr(sys.modules["__main__"], "__spec__", None)
    yield pd.DataFrame({
        "pid": [os.getpid()], "daemon": [spec.name if spec else ""],
        "frozen": [gc.get_freeze_count()], "zip_reads": [reads]})


@pytest.fixture(scope="module")
def probes(spark):
    """Two 8-task probe jobs; the second runs on workers warmed by the
    first."""
    df = spark.range(8, numPartitions=8).mapInPandas(_probe, PROBE_SCHEMA)
    first = df.collect()
    second = df.collect()
    return first, second


def test_tasks_run_under_askg_daemon(probes):
    first, second = probes
    assert {r["daemon"] for r in first + second} == {
        "askg_spark.worker_daemon"}


def test_heap_frozen_after_first_task(probes):
    first, second = probes
    warm = {r["pid"] for r in first}
    again = [r for r in second if r["pid"] in warm]
    assert again, "no worker was reused between the two jobs"
    assert all(r["frozen"] > 0 for r in again)


def test_reused_worker_does_not_reread_zip(probes):
    first, second = probes
    reads = [r["zip_reads"] for r in second if r["zip_reads"] >= 0]
    assert reads, "no worker ran a second probe"
    assert reads == [0] * len(reads)


def test_add_py_file_imports_on_warm_workers(spark, probes, tmp_path):
    import uuid

    tag = uuid.uuid4().hex[:8]
    mod = f"askg_probe_py_{tag}"
    (tmp_path / f"{mod}.py").write_text("VALUE = 7\n")
    zmod = f"askg_probe_zip_{tag}"
    zpath = tmp_path / f"{zmod}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{zmod}.py", "VALUE = 11\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{mod}.py"))
    spark.sparkContext.addPyFile(str(zpath))

    def read_values(batches):
        import importlib

        for _ in batches:
            pass
        yield pd.DataFrame({
            "a": [importlib.import_module(mod).VALUE],
            "b": [importlib.import_module(zmod).VALUE]})

    rows = spark.range(4, numPartitions=4) \
        .mapInPandas(read_values, "a long, b long").collect()
    assert {(r["a"], r["b"]) for r in rows} == {(7, 11)}


def test_import_without_spark_has_no_side_effects():
    code = ("import zipimport, askg_spark.worker_daemon as w; "
            "assert zipimport.zipimporter.invalidate_caches "
            "is w._stock_zip_invalidate")
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                   timeout=120)


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="zip importers invalidate lazily on 3.12+")
def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read(archive))
    path = tmp_path / "lib.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.py", "A = 1\n")
    importers = [zipimport.zipimporter(str(path)) for _ in range(3)]
    reads.clear()
    for imp in importers:
        worker_daemon._invalidate_zip_if_changed(imp)
        worker_daemon._invalidate_zip_if_changed(imp)
    assert len(reads) == 1  # one read serves every importer
    with zipfile.ZipFile(path, "a") as z:
        z.writestr("b.py", "B = 2\n")
    for imp in importers:
        worker_daemon._invalidate_zip_if_changed(imp)
        assert imp.find_spec("b") is not None
    assert len(reads) == 2
