"""End-to-end pipeline: pages -> mentions -> entities -> relations ->
triples, with optional materialization + checkpointed resume.

Stage graph (each stage is DataFrame -> DataFrame; Catalyst optimizes
across stage boundaries until a materialization point):

    extract_mentions     mapInPandas (Arrow)         [extract.py]
    enrich_mentions      Column exprs only           [enrich.py]
    candidate_edges      equi-joins + LSH + pandas UDF  [linking.py]
    component_labels     union-find contraction (one lazy plan) [cc.py]
    canonical_entities   groupBy aggs                [canonicalize.py]
    assign_global_ids    window rank                 [canonicalize.py]
    infer_relationship_edges  equi-joins, skew-capped [relations.py]
    build_triples        union + groupBy dedup       [triples.py]

Resume contract (reference: master_data.py:58-91 / load_to_neo4j.py
smart loader): when materializing, each stage records the input
fingerprint in its table manifest; a re-run with an unchanged
fingerprint reads the stage's snapshot instead of recomputing, so a
killed run restarts after the last finished stage.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from askg_spark.canonicalize import assign_global_ids, canonical_entities
from askg_spark.catalog import Catalog, fingerprint
from askg_spark.cc import component_labels
from askg_spark.enrich import enrich_mentions
from askg_spark.extract import extract_mentions
from askg_spark.linking import LinkConfig, candidate_edges
from askg_spark.metrics import StageTimer, new_run_id, partition_lineage
from askg_spark.relations import infer_relationship_edges
from askg_spark.session import unpersist_checkpoints
from askg_spark.triples import build_triples

log = logging.getLogger(__name__)


@dataclass
class PipelineConfig:
    link: LinkConfig = field(default_factory=LinkConfig)
    # Relation skew cap: each hot join key (author / category / op)
    # contributes only its top-M entities by (popularity DESC NULLS
    # LAST, id ASC) to pair generation — the documented deterministic
    # truncation that bounds the O(n²) relation joins at web scale
    # (10^12 docs => ~10^10 entities sharing ~11 categories; all-pairs
    # is infeasible for ANY engine, so top-M by popularity is the
    # product semantics, as in relations.py). None = exact all-pairs
    # (reference parity; fixture tests and corpora < cap are identical
    # either way because the cap only binds past M entities per key).
    max_entities_per_key: int | None = 1000
    cc_max_iter: int = 25
    # append the static HAS_SUBCATEGORY ontology edges to the triple
    # set (default OFF — reference parity: its predefined categories
    # set no parent ids, so its default build emits none; see
    # triples.build_triples)
    include_hierarchy: bool = False


@dataclass
class PipelineResult:
    mentions: DataFrame
    rejects: DataFrame
    entities: DataFrame
    rel_edges: DataFrame
    triples: DataFrame
    timer: StageTimer


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
) -> PipelineResult:
    """Pure in-memory run (tests, small scale). Persist points are the
    two frames reused by several downstream stages, and they are the
    only ones the run leaves persisted: ``mentions`` (a cache; release
    with ``unpersist()``) and ``entities`` (a local checkpoint; release
    with ``session.unpersist_checkpoints``). Both are the caller's."""
    cfg = cfg or PipelineConfig()
    timer = StageTimer()

    mentions_raw, rejects = extract_mentions(pages)
    enriched = enrich_mentions(mentions_raw)
    # Mentions are far smaller than pages (projection drops html), so
    # inheriting the page scan's partitioning leaves hundreds of
    # near-empty cache partitions that every downstream AQE stage
    # re-scans as its own task wave (measured: 201-partition cache ->
    # 15 concurrent 201-task cache-read stages inside ONE downstream
    # job). Re-key to the session's shuffle parallelism: one cheap
    # shuffle of the small mention set, balanced cache reads after.
    # Cache partition count tracks the session's CORE count, not the
    # (4x larger) shuffle-partition conf: every downstream job re-scans
    # this cache as one task wave, and tiny over-partitioned caches pay
    # that wave's scheduling overhead dozens of times per pipeline.
    # One wave of defaultParallelism tasks is the floor for any core
    # count. (At real scale the mention set is large enough that AQE /
    # maxPartitionBytes governs instead; this branch only fires when
    # the cache would otherwise be over-split.)
    # Cache width: up to 4x cores is fine (short balanced waves); only
    # genuinely over-split scans (many-small-file tables) pay the
    # re-key shuffle. Re-keying when the scan is already ~4x cores was
    # measured NEGATIVE at the 1M-page corpus: the repartition
    # round-trip added ~100 core-s (serialize + shuffle + rebuild) and
    # the narrower cache throttled every downstream python stage that
    # inherits its partitioning (link 95s -> 121s at local[8] with a
    # cores-wide cache).
    # Re-key width is BYTE-bounded relative to the scan, not a bare
    # 2x-cores: collapsing an arbitrarily wide scan to 2x cores makes
    # cache-partition size proportional to corpus/cores — at the 4M-page
    # corpus on local[2] that was 4 partitions x ~1.8 GB, which broke
    # the 2 GB block-serialization limit outright, and on a real
    # cluster it would OOM executors long before that. Coalescing by at
    # most 8x keeps each cache partition within ~8 scan splits (scan
    # splits are <= maxPartitionBytes of PAGES; mentions are a small
    # fraction of that), so partition bytes stay bounded at any corpus
    # size while over-split scans still lose their per-wave scheduling
    # overhead.
    n_part = spark.sparkContext.defaultParallelism
    n_scan = enriched.rdd.getNumPartitions()
    if n_scan > 8 * n_part:
        enriched = enriched.repartition(max(2 * n_part, n_scan // 8))
    # MEMORY_AND_DISK, not MEMORY_ONLY: under the unified memory
    # manager, concurrent join/sort tasks BORROW execution memory and
    # evict cache blocks — and eviction pressure grows with task-slot
    # count, so a MEMORY_ONLY cache silently re-runs the extraction
    # UDF inside downstream stages exactly when parallelism is high
    # (the 400k-page local[2]-vs-local[8] event logs: the full-score
    # stage re-contained `Scan parquet` + the extract MapInPandas at
    # local[8] only — 53% total task-time inflation, the dominant
    # N->4N scaling loss). With spark.local.dir on tmpfs the disk
    # tier is RAM-backed; on a real cluster it is node-local NVMe —
    # either way strictly cheaper than recomputing a Python UDF.
    enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    # eager: build the extraction cache ONCE before the linking DAG
    # fans out — exact-edge branches, the LSH fit and the scorer all
    # reference this frame, and evaluating them against a cold cache
    # recomputes the extraction UDF concurrently per branch (measured
    # 616s -> ~130s for the link phase at 22k pages, local[32])
    timer.time("extract", enriched.count)

    # localCheckpoint (not persist): the edge frame is consumed by the
    # CC contraction AND (via the labels) by the canonicalize join.
    # Spark 4's cache matching is unreliable for mapInPandas plans
    # under AQE — the event log showed the exact-edge equi-joins
    # re-executing twice inside a single downstream job despite a
    # built MEMORY_ONLY cache (57s of a 56s CC stage at 21k mentions).
    # Truncating the plan to a leaf makes the linking DAG run exactly
    # once; the edge set (LSH + exact-key output) is tiny relative to
    # the corpus at any scale.
    edges = timer.time("link", lambda: candidate_edges(
        enriched, cfg.link).localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK))
    # mentions touching no edge get no label: the left join's
    # coalesce makes them their own component
    labels = timer.time("cc", lambda: component_labels(
        edges, max_iter=cfg.cc_max_iter))
    with_comp = enriched.join(
        labels, enriched["mention_id"] == labels["id"], "left"
    ).drop("id").withColumn(
        "component", F.coalesce("component", "mention_id"))

    # localCheckpoint (MEMORY_AND_DISK, the safe level per ADVICE r1)
    # instead of persist: it TRUNCATES the logical plan at the entity
    # boundary. The canonicalize/linking expression tree (higher-order
    # merge lambdas, LSH joins) is large, and every downstream query
    # that references entities re-analyzes and re-optimizes it — the
    # relation union referenced it 6x and paid ~200s of one-time
    # driver/codegen overhead at sf0.1 before this truncation (measured
    # 215s -> 30s for the same job). At scale the materialized-table
    # path (run_pipeline_materialized) provides the same cut via
    # parquet.
    entities = timer.time("canonicalize", lambda: assign_global_ids(
        canonical_entities(with_comp)).localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK))
    # Only entities read the edge and label checkpoints, and entities
    # is now a materialized leaf: release them, so the run leaves
    # exactly the returned frames persisted (mentions, entities).
    unpersist_checkpoints(edges)
    unpersist_checkpoints(labels)

    rel_edges = timer.time("relations", lambda: infer_relationship_edges(
        entities, cfg.max_entities_per_key))
    triples = timer.time("triples", lambda: build_triples(
        entities, rel_edges, include_hierarchy=cfg.include_hierarchy))
    return PipelineResult(
        mentions=enriched, rejects=rejects, entities=entities,
        rel_edges=rel_edges, triples=triples, timer=timer)


# ----------------------------------------------------------------- resume

STAGES = ["mentions", "rejects", "entities", "rel_edges", "triples", "lineage"]


def run_pipeline_materialized(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    cfg: PipelineConfig | None = None,
    force: bool = False,
    keep_snapshots: int = 5,
) -> dict:
    """Materialize every stage output into catalog tables under
    ``out_root`` with per-partition lineage; skip stages whose input
    fingerprint is unchanged (checkpointed resumability)."""
    cfg = cfg or PipelineConfig()
    cat = Catalog(out_root)
    run_id = new_run_id()
    fp = fingerprint(pages)

    def current_ok(table: str) -> bool:
        if force or not cat.exists(table):
            return False
        man = cat.manifest(table)
        cur = next(s for s in man["snapshots"] if s["id"] == man["current"])
        return cur["properties"].get("input_fingerprint") == fp

    if all(current_ok(t) for t in STAGES[:-1]):
        log.info("pipeline: all stages current for fingerprint %s — skipping", fp)
        return {t: cat.read(spark, t) for t in STAGES[:-1]} | {"skipped": True}

    res = run_pipeline(spark, pages, cfg)
    lineage = None
    outputs = {
        "mentions": res.mentions, "rejects": res.rejects,
        "entities": res.entities, "rel_edges": res.rel_edges,
        "triples": res.triples,
    }
    props = {"input_fingerprint": fp, "run_id": run_id}
    for name, df in outputs.items():
        cat.write_snapshot(df, name, properties=props)
        lin = partition_lineage(cat.read(spark, name), name, run_id)
        lineage = lin if lineage is None else lineage.unionByName(lin)
        cat.expire_snapshots(name, keep=keep_snapshots)
    cat.write_snapshot(lineage, "lineage", properties=props)
    cat.expire_snapshots("lineage", keep=keep_snapshots)
    return {t: cat.read(spark, t) for t in STAGES[:-1]} | {
        "skipped": False, "run_id": run_id}
