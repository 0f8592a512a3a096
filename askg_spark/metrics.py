"""Per-partition lineage + throughput metrics (SURVEY §4.5).

Nothing built-in produces row-level lineage, so each materialized stage
emits (stage, partition_id, rows, run_id) rows computed with
spark_partition_id() — one narrow aggregation, no extra shuffle beyond
the count itself.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, functions as F


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def partition_lineage(df: DataFrame, stage: str, run_id: str) -> DataFrame:
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(
            F.lit(stage).alias("stage"),
            F.col("partition_id").cast("long"),
            F.col("rows").cast("long"),
            F.lit(run_id).alias("run_id"),
        )
    )


class StageTimer:
    """Wall-clock + row throughput per stage, printed and collected."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    def time(self, stage: str, fn):
        t0 = time.monotonic()
        out = fn()
        dt = time.monotonic() - t0
        self.records.append({"stage": stage, "sec": round(dt, 3)})
        return out


def source_manifest(mentions: DataFrame) -> DataFrame:
    """S13 manifest lineage: the reference's glama downloader tracks
    every fetched glama.json in a CSV manifest with header
    (org, repo, filename) written incrementally as provenance
    (/root/reference/src/glama_downloader.py:113-131). Distributed
    analog: one row per glama mention with (org, repo)
    parsed from the repository URL, the source file name from the page
    url's last path segment, and the page url itself as lineage.

    Narrow projection + filter — no shuffle; write the result next to
    the snapshot tables for an auditable fetch manifest."""
    from askg_spark.normalize import extract_repository_id

    repo_id = extract_repository_id(F.col("repository"))
    parts = F.split(repo_id, "/")
    return (
        mentions.filter(F.col("registry") == "glama")
        .select(
            F.element_at(parts, 1).alias("org"),
            F.element_at(parts, 2).alias("repo"),
            F.element_at(F.split(F.col("url"), "/"), -1).alias("filename"),
            F.col("url").alias("source_url"),
        )
    )


COMPLETENESS_FIELDS = ["name", "description", "author", "repository",
                       "version", "license", "homepage"]


def metadata_completeness(mentions: DataFrame) -> DataFrame:
    """A5: per-registry metadata completeness
    (/root/reference/src/analyze_deduplication.py:183-207): for each of
    the seven profile fields, the count of mentions with a truthy value
    and its percentage, plus the overall completeness percentage
    (sum of field counts / (n * 7)).

    One groupBy(registry) aggregation — the percentages are derived
    from exact integer counts, so the output hashes deterministically.
    """
    aggs = [F.count(F.lit(1)).alias("n_servers")]
    for f in COMPLETENESS_FIELDS:
        aggs.append(F.sum(
            F.when(F.col(f).isNotNull() & (F.col(f).cast("string") != ""), 1)
            .otherwise(0)).alias(f"n_{f}"))
    out = mentions.groupBy("registry").agg(*aggs)
    total = None
    for f in COMPLETENESS_FIELDS:
        out = out.withColumn(
            f"pct_{f}",
            (F.col(f"n_{f}") * 100.0 / F.col("n_servers")).cast("double"))
        t = F.col(f"n_{f}")
        total = t if total is None else total + t
    return out.withColumn(
        "pct_overall",
        (total * 100.0 / (F.col("n_servers") * len(COMPLETENESS_FIELDS)))
        .cast("double"))
