"""Incremental ingest via Structured Streaming (SURVEY §2.8 C1/C2).

The reference's freshness-gated re-scrape (scrapers.py:1301-1308) and
master-data currency check (master_data.py:58-91) are batch-incremental
semantics: process only input that arrived since the last successful
run. Two Spark expressions of it, which are NOT equivalent:

  * the manifest-fingerprint skip in pipeline.run_pipeline_materialized
    (pure batch, used by the CLI) re-uses a whole earlier run: it
    skips only when the pages, the config and the engine code all
    match the stored snapshots, and any difference re-runs the whole
    pipeline over all the pages;
  * this module: `readStream` over the pages directory with
    `Trigger.AvailableNow` + a checkpoint — Spark's own file-source
    tracking replaces the manifest; each invocation drains exactly the
    unseen files and stops, so new pages cost only their own work. On
    a cluster the same job with a processing-time trigger is a
    continuous ingest, no code change.

Watermarking note: `warc_ts` is event time; the windowed-count demo
keeps a 1-day watermark so late crawl records fold into the right
window while state stays bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from askg_spark import schemas
from askg_spark.enrich import enrich_mentions
from askg_spark.extract import extract_mentions
from askg_spark.session import operator_scope, persist


def _drain(stream: DataFrame, out_dir: str, checkpoint_dir: str) -> int:
    """Run ``stream`` with ``Trigger.AvailableNow`` into ``out_dir``,
    one overwritten ``_batch=<id>`` partition per micro-batch; return
    the rows written. The batch is persisted so the row count and the
    write share one computation."""
    counted = {"n": 0}

    @operator_scope
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = persist(batch_df)
        n = batch_df.count()
        counted["n"] += n
        if n:
            (batch_df.withColumn("_batch", F.lit(int(batch_id)))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("_batch")
             .parquet(out_dir))

    (stream.writeStream
     .foreachBatch(sink)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())
    return counted["n"]


def incremental_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> int:
    """Drain unseen page files -> append enriched mentions parquet.

    Returns the number of rows appended this invocation (0 when the
    checkpoint says everything was already processed).

    Exactly-once-per-batch output: each micro-batch OVERWRITES its own
    `_batch=<id>` partition (dynamic partition overwrite), so a crash
    between the write and the checkpoint commit replays the batch
    idempotently instead of duplicating rows — the at-least-once
    foreachBatch contract made idempotent by keying output on batch_id
    (ADVICE r1)."""
    pages = (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 64)
        .parquet(pages_dir)
    )
    mentions, _ = extract_mentions(pages)
    enriched = enrich_mentions(mentions)
    return _drain(enriched, out_dir, checkpoint_dir)


def windowed_mention_counts(
    spark: SparkSession,
    pages_dir: str,
    watermark: str = "1 day",
    window: str = "1 hour",
) -> DataFrame:
    """Streaming event-time windowed counts with a watermark — returns
    the streaming DataFrame (caller attaches a sink/trigger)."""
    pages = spark.readStream.schema(schemas.PAGES).parquet(pages_dir)
    mentions, _ = extract_mentions(pages)
    return (
        mentions.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "registry")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )


# --- C1 freshness cache as a custom stateful operator ----------------------

CHANGED_SCHEMA = "url string, warc_ts timestamp, fp bigint"
_CHANGE_STATE_SCHEMA = "fp bigint"


def _emit_changed_groups(key, pdf_iter, state):
    """applyInPandasWithState kernel: per-url state = last emitted
    content fingerprint; pass exactly the crawl records (in warc_ts
    order) whose fingerprint differs from the previous one."""
    import numpy as np
    import pandas as pd

    frames = list(pdf_iter)
    pdf = (pd.concat(frames) if len(frames) > 1 else frames[0]) \
        .sort_values(["warc_ts", "fp"], kind="mergesort")
    last = state.get[0] if state.exists else None
    fps = pdf["fp"].to_numpy(dtype=np.int64)
    # int64-domain comparison throughout — a float shift() would fold
    # 64-bit hashes onto a 53-bit mantissa and can alias distinct fps
    prev = np.empty_like(fps)
    prev[1:] = fps[:-1]
    mask = fps != prev
    mask[0] = (last is None) or (fps[0] != last)
    out = pdf[mask]
    state.update((int(fps[-1]),))
    yield out[["url", "warc_ts", "fp"]]


def changed_pages_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> int:
    """Freshness-gated re-crawl filter — the reference's scrape-skip
    cache (scrapers.py:1301-1308 freshness gate; master_data.py:58-91
    currency check) at per-url CONTENT granularity, expressed as a
    custom stateful streaming operator (`applyInPandasWithState`).

    State store keeps one 8-byte fingerprint per url (bounded: O(urls),
    no timeline retained); fingerprints are computed JVM-side
    (`xxhash64(html)`) before grouping, so the Python kernel only sees
    (url, warc_ts, fp) — the html bytes never cross the Arrow boundary.
    A re-crawl whose content is byte-identical to the last emitted
    crawl of that url is suppressed; any change (or a brand-new url)
    passes. The checkpoint persists the state store, so the suppression
    survives restarts — rerunning with AvailableNow drains only unseen
    files AND remembers every url's last fingerprint.

    At cluster scale this is shuffle-partitioned by url (state store is
    per-partition RocksDB/HDFS-backed); the emitted delta is typically
    a tiny fraction of the crawl, which is the point: downstream
    extraction cost tracks CHANGE volume, not crawl volume.

    Returns rows emitted this invocation (idempotent per-batch_id
    partition overwrite sink, same contract as incremental_extract).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    pages = (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 64)
        .parquet(pages_dir)
        .select("url", "warc_ts", F.xxhash64("html").alias("fp"))
    )
    changed = pages.groupBy("url").applyInPandasWithState(
        _emit_changed_groups,
        outputStructType=CHANGED_SCHEMA,
        stateStructType=_CHANGE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    return _drain(changed, out_dir, checkpoint_dir)
