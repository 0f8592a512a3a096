"""Lifetimes of cached and checkpointed frames.

Every operator that stores frames leaves persisted exactly the storage
its returned frames read, and ``session.release`` on those frames frees
all of it: no persisted RDD and no cache-manager entry is left behind.
The walk over a result's plan below is written independently of
``askg_spark.session``."""
from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from askg_spark import bpe, cc, dedup, graphops, session, webgraph
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


def _labels(loop):
    want = {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}

    def build(spark):
        e = spark.createDataFrame(
            [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")],
            "src string, dst string")
        with pytest.MonkeyPatch.context() as mp:
            if loop:
                # a size threshold below this graph selects the loop
                mp.setattr(cc, "_LOOP_ABOVE", 0)
            return cc.component_labels(e)

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
        # actions on the returned mentions read the cache: its own plan
        # was not fixed before the cache existed
        it = res.mentions._jdf.queryExecution().withCachedData() \
            .collectLeaves().iterator()
        leaves = []
        while it.hasNext():
            leaves.append(it.next().getClass().getSimpleName())
        assert "InMemoryRelation" in leaves
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
    "component_labels_serial": _labels(loop=False),
    "component_labels_loop": _labels(loop=True),
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


# ------------------------------------------------------ bounded lineage

def _tailed(spark, n, a, b):
    # a triangle with a pendant chain of n edges: the 2-core peels one
    # chain node per round, and BFS from the chain's end runs n hops
    rows = [("t1", "t2"), ("t2", "t3"), ("t1", "t3"), ("t3", "c1")]
    rows += [(f"c{i}", f"c{i + 1}") for i in range(1, n)]
    return spark.createDataFrame(rows, f"{a} string, {b} string")


ROUNDS = {
    "bfs_depths": lambda spark, n: graphops.bfs_depths(
        _tailed(spark, n, "src", "dst"),
        spark.createDataFrame([(f"c{n}",)], "node string"), max_depth=n),
    "kcore": lambda spark, n: graphops.kcore(_tailed(spark, n, "u", "v"),
                                             k=2),
    "pagerank": lambda spark, n: webgraph.pagerank(
        _tailed(spark, 2, "src", "dst"), iterations=2 * n,
        checkpoint_every=2),
}


@pytest.mark.parametrize("name", list(ROUNDS))
def test_result_plan_grows_at_most_linearly_in_rounds(spark, name):
    sizes = []
    for n in (2, 4):
        out = ROUNDS[name](spark, n)
        sizes.append(
            len(out._jdf.queryExecution().optimizedPlan().toString()))
        session.release(out)
    # a plan of a + b*rounds characters at most doubles when the rounds
    # double; a plan that doubles every round grows far past that
    assert sizes[1] <= 2 * sizes[0], sizes
