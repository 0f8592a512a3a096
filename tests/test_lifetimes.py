"""Lifetimes of cached and checkpointed frames.

Every operator that stores frames leaves persisted exactly the storage
its returned frames read, and ``session.release`` on those frames frees
all of it: no persisted RDD and no cache-manager entry is left behind.
The walk over a result's plan below is written independently of
``askg_spark.session``."""
from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from askg_spark import bpe, dedup, graphops, session, webgraph
from askg_spark.cc import component_labels
from askg_spark.fixtures import generate_pages
from askg_spark.pipeline import PipelineConfig, PipelineResult, run_pipeline


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _cache_entries(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def _reads(frames: list[DataFrame]) -> tuple[set[int], set[int]]:
    """(ids of every persisted RDD the frames read, ids of the cached
    ones among them). Call on materialized frames only: a cache leaf's
    RDD id is taken from its built buffers."""
    rdds, caches = set(), set()
    for df in frames:
        # substitute caches as a new query over df would: the frame's
        # own withCachedData is fixed when it is first planned
        cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
        it = cm.useCachedData(df._jdf.queryExecution().analyzed()) \
            .collectLeaves().iterator()
        while it.hasNext():
            leaf = it.next()
            kind = leaf.getClass().getSimpleName()
            if kind == "LogicalRDD":
                # also the leaf of a frame made from local rows; only
                # a checkpoint's RDD has a storage level
                if leaf.rdd().getStorageLevel().isValid():
                    rdds.add(leaf.rdd().id())
            elif kind == "InMemoryRelation":
                rid = leaf.cacheBuilder().cachedColumnBuffers().id()
                rdds.add(rid)
                caches.add(rid)
    return rdds, caches


# ------------------------------------------------------------- inputs

def _graph(spark, a="u", b="v"):
    # a 5-clique with a pendant chain 5-6-7 (the 2-core peels 7, then
    # 6), plus a disjoint triangle: BFS, k-core and PageRank all run
    # several rounds
    clique = [(x, y) for x in range(1, 6) for y in range(1, 6) if x < y]
    rows = clique + [(5, 6), (6, 7), (10, 11), (11, 12), (10, 12)]
    return spark.createDataFrame(
        [(str(x), str(y)) for x, y in rows], f"{a} string, {b} string")


def _docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    return spark.createDataFrame(
        [(1, base + " one three"), (2, base + " one two three"),
         (3, base + " one two"),
         (10, "Totally Different Words Here Now"),
         (11, "totally different words here now"),
         (12, "isolated lonely document text")],
        "doc_id long, text string")


def _labels(final_collapse):
    want = {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}

    def build(spark):
        e = spark.createDataFrame(
            [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")],
            "src string, dst string")
        return component_labels(e, final_collapse=final_collapse)

    def check(spark, labels, new):
        # the caller owns exactly one checkpoint
        assert len(new) == 1
        assert {r["id"]: r["component"]
                for r in labels.collect()} == want
    return build, check


def _pipeline():
    def pages(spark):
        return generate_pages(spark, n_servers=6, seed=42)

    def triples(res):
        return {(r["subj"], r["pred"], r["obj"])
                for r in res.triples.collect()}

    def check(spark, res, new):
        # the lazy triples read only the entities checkpoint, so
        # releasing the link-edge and label checkpoints changes nothing
        ref = run_pipeline(spark, pages(spark), PipelineConfig())
        want = triples(ref)
        session.release(*_frames(ref))
        assert triples(res) == want
    return (lambda spark: run_pipeline(spark, pages(spark),
                                       PipelineConfig())), check


CASES = {
    "bfs_depths": (lambda spark: graphops.bfs_depths(
        _graph(spark, "src", "dst"),
        spark.createDataFrame([("7",)], "node string"), max_depth=3),
        None),
    "kcore": (lambda spark: graphops.kcore(_graph(spark), k=2), None),
    "random_walks": (lambda spark: graphops.random_walks(
        _graph(spark), spark.createDataFrame([("1",), ("10",)], "n string"),
        3), None),
    "triangle_stats": (lambda spark: graphops.triangle_stats(
        _graph(spark)), None),
    "pagerank": (lambda spark: webgraph.pagerank(
        _graph(spark, "src", "dst"), iterations=8, checkpoint_every=2),
        None),
    "near_dup_clusters": (lambda spark: dedup.near_dup_clusters(
        _docs(spark)), None),
    "minhash_pairs": (lambda spark: dedup.minhash_pairs(_docs(spark)),
                      None),
    "train_bpe": (lambda spark: bpe.train_bpe(
        bpe.word_type_counts(_docs(spark)), n_merges=4, min_freq=1),
        None),
    "component_labels_serial": _labels("serial"),
    "component_labels_loop": _labels("loop"),
    "run_pipeline": _pipeline(),
}


def _frames(out) -> list[DataFrame]:
    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, PipelineResult):
        return [out.mentions, out.rejects, out.entities, out.rel_edges,
                out.triples]
    return []


@pytest.mark.parametrize("name", list(CASES))
def test_result_reads_all_that_stays_persisted(spark, name):
    build, check = CASES[name]
    rdds0, caches0 = _persisted(spark), _cache_entries(spark)
    out = build(spark)
    frames = _frames(out)
    for df in frames:
        df.count()  # builds any lazy cache the result reads
    new = _persisted(spark) - rdds0
    reads, cached = _reads(frames)
    assert new == reads
    assert _cache_entries(spark) - caches0 == len(cached)
    if check is not None:
        check(spark, out, new)
    session.release(*frames)
    assert not _persisted(spark) & new
    assert _cache_entries(spark) == caches0
