"""Catalog snapshots, MERGE upsert, retention + checkpointed resume
(reference semantics: master_data.py currency check, keep-N cleanup)."""
from __future__ import annotations

import pytest

from askg_spark.catalog import Catalog
from askg_spark.fixtures import generate_pages
from askg_spark.pipeline import PipelineConfig, run_pipeline_materialized


def test_snapshot_append_read_timetravel(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df1 = spark.range(5).withColumnRenamed("id", "k")
    df2 = spark.range(8).withColumnRenamed("id", "k")
    s1 = cat.write_snapshot(df1, "t")
    s2 = cat.write_snapshot(df2, "t")
    assert cat.read(spark, "t").count() == 8              # current
    assert cat.read(spark, "t", snapshot_id=s1).count() == 5  # time travel
    assert s2 == s1 + 1


def test_merge_upsert_key_semantics(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    new = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    cat.write_snapshot(old, "t")
    cat.merge_upsert(spark, new, "t", key="k")
    got = {r["k"]: r["v"] for r in cat.read(spark, "t").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_expire_snapshots_keeps_n(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    for i in range(7):
        cat.write_snapshot(spark.range(i + 1), "t")
    removed = cat.expire_snapshots("t", keep=5)
    assert removed == 2
    man = cat.manifest("t")
    assert [s["id"] for s in man["snapshots"]] == [3, 4, 5, 6, 7]
    assert cat.read(spark, "t").count() == 7  # current snapshot intact


@pytest.mark.slow
def test_materialized_resume_skips_unchanged_input(spark, tmp_path):
    pages = generate_pages(spark, n_servers=8, seed=7)
    out = str(tmp_path / "kg")
    r1 = run_pipeline_materialized(spark, pages, out)
    assert r1["skipped"] is False
    t1 = {(r["subj"], r["pred"], r["obj"]) for r in r1["triples"].collect()}
    # second run, same input fingerprint -> all stages skipped
    r2 = run_pipeline_materialized(spark, pages, out)
    assert r2["skipped"] is True
    t2 = {(r["subj"], r["pred"], r["obj"]) for r in r2["triples"].collect()}
    assert t1 == t2
    # lineage rows exist for every stage
    lin = Catalog(out).read(spark, "lineage")
    stages = {r["stage"] for r in lin.collect()}
    assert {"mentions", "entities", "triples"} <= stages
    # changed input -> recompute
    pages2 = generate_pages(spark, n_servers=12, seed=7)
    r3 = run_pipeline_materialized(spark, pages2, out)
    assert r3["skipped"] is False


def _triples(res) -> set:
    return {(r["subj"], r["pred"], r["obj"])
            for r in res["triples"].collect()}


@pytest.mark.slow
def test_materialized_resume_recomputes_on_config_change(spark, tmp_path):
    pages = generate_pages(spark, n_servers=8, seed=7)
    out = str(tmp_path / "kg")
    first = _triples(run_pipeline_materialized(spark, pages, out))
    capped = PipelineConfig(max_entities_per_key=1)
    r2 = run_pipeline_materialized(spark, pages, out, capped)
    assert r2["skipped"] is False
    got = _triples(r2)
    forced = run_pipeline_materialized(
        spark, pages, str(tmp_path / "forced"), capped, force=True)
    assert got == _triples(forced)
    assert got != first  # the cap binds on this input
    assert run_pipeline_materialized(spark, pages, out,
                                     capped)["skipped"] is True


@pytest.mark.slow
def test_materialized_resume_recomputes_on_content_edit(spark, tmp_path):
    from pyspark.sql import functions as F

    pages = generate_pages(spark, n_servers=8, seed=7)
    out = str(tmp_path / "kg")
    run_pipeline_materialized(spark, pages, out)
    # blank the html of one page that is not the latest: the row count
    # and the max warc_ts stay as they were
    latest = pages.agg(F.max("warc_ts")).first()[0]
    url = pages.filter(F.col("warc_ts") < latest).first()["url"]
    edited = pages.withColumn("html", F.when(
        F.col("url") == url, F.lit(b"<html></html>")).otherwise(
            F.col("html")))
    assert edited.count() == pages.count()
    r2 = run_pipeline_materialized(spark, edited, out)
    assert r2["skipped"] is False
    assert run_pipeline_materialized(spark, edited, out)["skipped"] is True


@pytest.mark.slow
def test_materialized_resume_recomputes_on_code_change(spark, tmp_path,
                                                       monkeypatch):
    from askg_spark import pipeline

    pages = generate_pages(spark, n_servers=8, seed=7)
    out = str(tmp_path / "kg")
    assert run_pipeline_materialized(spark, pages, out)["skipped"] is False
    assert run_pipeline_materialized(spark, pages, out)["skipped"] is True
    # same pages and config, different engine code: the stored
    # snapshots are stale
    monkeypatch.setattr(pipeline, "code_digest", lambda: "edited")
    assert run_pipeline_materialized(spark, pages, out)["skipped"] is False
    assert run_pipeline_materialized(spark, pages, out)["skipped"] is True


def test_code_digest_reads_the_deployed_zip(tmp_path):
    """The digest of the package imported from a ``--py-files``-style
    zip equals the digest of the source tree, and any edit to a module
    changes it."""
    import os
    import subprocess
    import sys
    import zipfile

    from askg_spark import pipeline

    src = os.path.dirname(pipeline.__file__)
    names = sorted(f for f in os.listdir(src) if f.endswith(".py"))

    def zipped_digest(edit: str | None) -> str:
        path = tmp_path / f"askg_spark_{edit or 'same'}.zip"
        with zipfile.ZipFile(path, "w") as z:
            for f in names:
                with open(os.path.join(src, f), "rb") as fh:
                    body = fh.read()
                if f == edit:
                    body += b"\n# edited\n"
                z.writestr(f"askg_spark/{f}", body)
        code = ("import sys; sys.path.insert(0, sys.argv[1]); "
                "import askg_spark.pipeline as p; "
                "assert p.__file__.startswith(sys.argv[1]), p.__file__; "
                "print(p.code_digest())")
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        out = subprocess.run([sys.executable, "-c", code, str(path)],
                             cwd=tmp_path, env=env, check=True,
                             capture_output=True, text=True, timeout=120)
        return out.stdout.strip()

    assert zipped_digest(None) == pipeline.code_digest()
    assert zipped_digest("cc.py") != pipeline.code_digest()


def test_compact_snapshot_reduces_files_preserves_rows(spark, tmp_path):
    from askg_spark.catalog import Catalog
    import glob

    cat = Catalog(str(tmp_path / "cat"))
    # fragmented write: 16 files for 200 rows
    df = spark.range(0, 200).repartition(16)
    s1 = cat.write_snapshot(df, "t")
    frag = glob.glob(cat.manifest("t")["snapshots"][0]["path"]
                     + "/part-*.parquet")
    assert len(frag) == 16

    s2 = cat.compact_snapshot(spark, "t", target_rows_per_file=100)
    assert s2 == s1 + 1
    snap = next(s for s in cat.manifest("t")["snapshots"] if s["id"] == s2)
    compacted = glob.glob(snap["path"] + "/part-*.parquet")
    assert len(compacted) == 2      # ceil(200 / 100)
    assert snap["properties"]["compacted_from"] == s1
    # content identical; time travel to the fragmented snapshot works
    assert sorted(r["id"] for r in cat.read(spark, "t").collect()) \
        == list(range(200))
    assert cat.read(spark, "t", snapshot_id=s1).count() == 200


def test_file_stats_pruned_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    cat = Catalog(str(tmp_path / "cat"))
    df = (spark.range(0, 1000)
          .select(F.col("id").alias("k"),
                  (F.col("id") % 7).alias("v"))
          .repartitionByRange(8, "k"))
    cat.write_snapshot(df, "t")
    n_files = cat.collect_file_stats("t", ["k", "v"])
    assert n_files == 8
    man_files = cat.manifest("t")["snapshots"][0]["files"]
    assert all("k" in e["stats"] for e in man_files)

    pruned, rep = cat.scan_pruned(spark, "t", "k", 100, 199)
    assert rep["files_total"] == 8
    assert rep["files_read"] < 8          # skipping actually happened
    assert sorted(r.k for r in pruned.collect()) == list(range(100, 200))

    # range outside the data: zero files, empty frame, schema intact
    empty, rep0 = cat.scan_pruned(spark, "t", "k", 5000, 6000)
    assert rep0["files_read"] == 0 and empty.count() == 0
    assert empty.columns == ["k", "v"]

    # files lacking stats for the column are conservatively kept
    for e in cat.manifest("t")["snapshots"][0]["files"]:
        e["stats"].pop("v", None)
    cat._save_manifest("t", cat.manifest("t"))
    # stats were popped on a COPY loaded from disk; re-annotate and
    # drop one file's entry for the real conservatism check
    man = cat.manifest("t")
    # drop stats from a file that does NOT overlap [100, 199] (the
    # max-k file) — conservatism must now force it into the read set
    drop = max(man["snapshots"][0]["files"],
               key=lambda e: e["stats"]["k"][1])
    assert drop["stats"]["k"][0] > 199
    drop["stats"].pop("k")
    cat._save_manifest("t", man)
    _all, rep2 = cat.scan_pruned(spark, "t", "k", 100, 199)
    assert rep2["files_read"] == rep["files_read"] + 1
