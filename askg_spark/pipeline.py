"""End-to-end pipeline: pages -> mentions -> entities -> relations ->
triples, with optional materialization + checkpointed resume.

Stage graph (each stage is DataFrame -> DataFrame; Catalyst optimizes
across stage boundaries until a materialization point):

    extract_mentions     mapInPandas (Arrow)         [extract.py]
    enrich_mentions      Column exprs only           [enrich.py]
    candidate_edges      equi-joins + LSH + pandas UDF  [linking.py]
    component_labels     in the driver up to cc._DRIVER_MAX_EDGES
                         edges, else union-find contraction [cc.py]
    canonical_entities   groupBy aggs                [canonicalize.py]
    assign_global_ids    window rank                 [canonicalize.py]
    infer_relationship_edges  equi-joins, skew-capped [relations.py]
    build_triples        union + groupBy dedup       [triples.py]

Resume contract (reference: master_data.py:58-91 / load_to_neo4j.py
smart loader): when materializing, every output table records in its
manifest the input fingerprint — a digest of the pages' content, of the
``PipelineConfig`` and of the engine's source (:func:`code_digest`) —
it was written from. A re-run whose
fingerprint matches every table's current snapshot reads the snapshots
instead of recomputing; if any table is missing or stale, the whole
pipeline re-runs from extraction (there is no per-stage restart).
"""

from __future__ import annotations

import functools
import hashlib
import importlib.resources
import json
import logging
from dataclasses import asdict, dataclass, field

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
from askg_spark.session import (checkpoint, operator_scope, persist,
                               release)
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
    # append the static HAS_SUBCATEGORY ontology edges to the triple
    # set (default OFF — reference parity: its predefined categories
    # set no parent ids, so its default build emits none; see
    # triples.build_triples)
    include_hierarchy: bool = False


@dataclass
class PipelineResult:
    """The frames of one ``run_pipeline`` run. They read two stored
    frames, the ones several downstream stages reuse: ``mentions`` (a
    cache) and ``entities`` (a local checkpoint). Both are the
    caller's: release them with ``session.release``."""
    mentions: DataFrame
    rejects: DataFrame
    entities: DataFrame
    rel_edges: DataFrame
    triples: DataFrame
    timer: StageTimer


@operator_scope
def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
) -> PipelineResult:
    """Pure in-memory run (tests, small scale). Every frame the run
    stores is released before it returns, except the two the result
    reads (``PipelineResult``)."""
    timer = StageTimer()

    mentions_raw, rejects = extract_mentions(pages)
    enriched = enrich_mentions(mentions_raw)
    # Cache width. Mentions are far smaller than pages (projection
    # drops html), and every downstream job re-scans this cache as one
    # task wave, so an over-split scan (many-small-file tables) leaves
    # near-empty cache partitions whose wave overhead is paid dozens of
    # times per pipeline (measured: a 201-partition cache -> 15
    # concurrent 201-task cache-read stages inside ONE downstream job).
    # Only such scans, wider than 8x cores, pay a re-key shuffle. Up to
    # ~4x cores needs none: re-keying there measured NEGATIVE at the
    # 1M-page corpus (~100 core-s of round-trip, and link 95s -> 121s at
    # local[8] through a narrower cache). The re-key coalesces by at
    # most 8x, so a cache partition holds ~8 scan splits whatever the
    # corpus size: collapsing straight to 2x cores made 4 x ~1.8 GB
    # partitions at the 4M-page corpus on local[2], past the 2 GB block
    # limit.
    # The width is read off the pre-enrich frame (enrich is narrow):
    # planning `enriched` itself here would fix its plan before the
    # cache below exists, and actions on the returned mentions would
    # then re-run extraction.
    n_part = spark.sparkContext.defaultParallelism
    n_scan = mentions_raw.rdd.getNumPartitions()
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
    enriched = persist(enriched, StorageLevel.MEMORY_AND_DISK)
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
    edges = timer.time("link", lambda: checkpoint(
        candidate_edges(enriched, cfg.link)))
    # mentions touching no edge get no label: the left join's
    # coalesce makes them their own component
    labels = timer.time("cc", lambda: component_labels(edges))
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
    entities = timer.time("canonicalize", lambda: checkpoint(
        assign_global_ids(canonical_entities(with_comp))))

    rel_edges = timer.time("relations", lambda: infer_relationship_edges(
        entities, cfg.max_entities_per_key))
    triples = timer.time("triples", lambda: build_triples(
        entities, rel_edges, include_hierarchy=cfg.include_hierarchy))
    return PipelineResult(
        mentions=enriched, rejects=rejects, entities=entities,
        rel_edges=rel_edges, triples=triples, timer=timer)


# ----------------------------------------------------------------- resume

STAGES = ["mentions", "rejects", "entities", "rel_edges", "triples", "lineage"]


@functools.lru_cache(maxsize=None)
def code_digest() -> str:
    """Digest of every module of the ``askg_spark`` package, so that a
    change to the engine's code invalidates the stored snapshots. The
    source is read through ``importlib.resources``: the same bytes from
    a source tree and from the zip that ``spark-submit --py-files``
    ships."""
    h = hashlib.sha256()
    files = importlib.resources.files("askg_spark").iterdir()
    for f in sorted((f for f in files if f.name.endswith(".py")),
                    key=lambda f: f.name):
        h.update(f"{f.name}\0".encode() + f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def run_pipeline_materialized(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    cfg: PipelineConfig | None = None,
    force: bool = False,
) -> dict:
    """Materialize every stage output into catalog tables under
    ``out_root`` with per-partition lineage. When every table's current
    snapshot was written from the same input content, the same ``cfg``
    and the same engine code, the run is skipped and the snapshots are
    read; otherwise the whole pipeline re-runs. Each table keeps its 5
    latest snapshots. The result reads only the catalog tables: the
    run's caches and checkpoints are released."""
    cfg = cfg or PipelineConfig()
    cat = Catalog(out_root)
    run_id = new_run_id()
    cfg_digest = hashlib.sha256(json.dumps(
        asdict(cfg), sort_keys=True).encode()).hexdigest()[:16]
    fp = f"{fingerprint(pages)}|cfg:{cfg_digest}|code:{code_digest()}"

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
        cat.expire_snapshots(name)
    cat.write_snapshot(lineage, "lineage", properties=props)
    cat.expire_snapshots("lineage")
    # the snapshots hold every output now: free the mentions cache and
    # the entities checkpoint the in-memory frames read
    release(res.mentions, res.entities)
    return {t: cat.read(spark, t) for t in STAGES[:-1]} | {
        "skipped": False, "run_id": run_id}
