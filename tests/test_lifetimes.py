"""Lifetimes of cached and checkpointed frames.

Every operator that stores frames leaves persisted exactly the storage
its returned frames read, and ``session.release`` on those frames frees
all of it: no persisted RDD and no cache-manager entry is left behind.
The shared views obey the same rule, are built once per SparkContext,
and ``session.release_views`` frees them all. The walk over a result's
plan below is written independently of ``askg_spark.session``."""
from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import DataFrame

from askg_spark import bpe, cc, dedup, graphops, session, webgraph
from askg_spark.fixtures import generate_pages
from askg_spark.pipeline import PipelineConfig, PipelineResult, run_pipeline
from tests.test_trainops import SF  # the sf0.001 tables


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


def _labels(mode):
    want = {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}

    def build(spark):
        e = spark.createDataFrame(
            [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")],
            "src string, dst string")
        with pytest.MonkeyPatch.context() as mp:
            if mode != "driver":
                # an edge gate below this graph selects the Spark path
                mp.setattr(cc, "_DRIVER_MAX_EDGES", 0)
            if mode == "loop":
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


def _bfs(spark_path):
    def build(spark):
        with pytest.MonkeyPatch.context() as mp:
            if spark_path:
                # an edge gate below this graph selects the Spark path
                mp.setattr(graphops, "_BFS_DRIVER_MAX_EDGES", 0)
            return graphops.bfs_depths(
                _graph(spark, "src", "dst"),
                spark.createDataFrame([("7",)], "node string"), max_depth=3)
    return build, None


CASES = {
    "bfs_depths": _bfs(spark_path=False),
    "bfs_depths_spark": _bfs(spark_path=True),
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
    "train_bpe_spark": (lambda spark: _spark_bpe(
        bpe.word_type_counts(_docs(spark)), n_merges=4), None),
    "component_labels_driver": _labels("driver"),
    "component_labels_serial": _labels("serial"),
    "component_labels_loop": _labels("loop"),
    "run_pipeline": _pipeline(),
}


def _spark_bpe(word_counts, n_merges):
    with pytest.MonkeyPatch.context() as mp:
        # a gate below the table's size selects the Spark loop
        mp.setattr(bpe, "_DRIVER_MAX_TYPES", 0)
        return bpe.train_bpe(word_counts, n_merges=n_merges, min_freq=1)


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


def test_materialized_run_leaves_nothing_stored(spark, tmp_path):
    from askg_spark.pipeline import run_pipeline_materialized

    rdds0, caches0 = _persisted(spark), _cache_entries(spark)
    out = run_pipeline_materialized(
        spark, generate_pages(spark, n_servers=6, seed=42), str(tmp_path))
    assert out["skipped"] is False
    assert out["triples"].count() > 0
    # the result reads only the catalog's parquet snapshots
    assert not _persisted(spark) - rdds0
    assert _cache_entries(spark) == caches0


# ------------------------------------------------------ bounded lineage

def _tailed(spark, n, a, b):
    # a triangle with a pendant chain of n edges: the 2-core peels one
    # chain node per round, and BFS from the chain's end runs n hops
    rows = [("t1", "t2"), ("t2", "t3"), ("t1", "t3"), ("t3", "c1")]
    rows += [(f"c{i}", f"c{i + 1}") for i in range(1, n)]
    return spark.createDataFrame(rows, f"{a} string, {b} string")


ROUNDS = {
    "bfs_depths": lambda spark, n: _bfs_spark(
        _tailed(spark, n, "src", "dst"),
        spark.createDataFrame([(f"c{n}",)], "node string"), n),
    "kcore": lambda spark, n: graphops.kcore(_tailed(spark, n, "u", "v"),
                                             k=2),
    "pagerank": lambda spark, n: webgraph.pagerank(
        _tailed(spark, 2, "src", "dst"), iterations=2 * n,
        checkpoint_every=2),
    "random_walks": lambda spark, n: graphops.random_walks(
        _tailed(spark, 2, "u", "v"),
        spark.createDataFrame([("c2",)], "n string"), length=n),
    "component_labels_loop": lambda spark, n: _loop_labels(
        _tailed(spark, n, "src", "dst")),
}


def _bfs_spark(edges, seeds, max_depth):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graphops, "_BFS_DRIVER_MAX_EDGES", 0)
        return graphops.bfs_depths(edges, seeds, max_depth=max_depth)


def _loop_labels(edges):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cc, "_DRIVER_MAX_EDGES", 0)
        mp.setattr(cc, "_LOOP_ABOVE", 0)
        return cc.component_labels(edges)


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


def test_bpe_spark_rounds_read_a_flat_plan(spark, monkeypatch):
    sizes = []
    pair_counts = bpe._pair_counts

    def spy(types):
        sizes.append(
            len(types._jdf.queryExecution().optimizedPlan().toString()))
        return pair_counts(types)

    monkeypatch.setattr(bpe, "_pair_counts", spy)
    merges = _spark_bpe(bpe.word_type_counts(_docs(spark)), n_merges=16)
    assert len(merges) == 16
    # the frame the 16th round reads, against the one the 8th reads:
    # a plan that stacks a round per round would far more than double
    assert sizes[15] <= 2 * sizes[7], sizes


# ------------------------------------------------------ driver copies

def test_driver_search_stores_nothing(spark):
    from askg_spark import search

    ents = session.checkpoint(spark.createDataFrame(
        [("a", "db one", "a database", 3, ["database"], ["read"]),
         ("b", "two", None, None, None, None)],
        "id string, name string, description string, "
        "popularity_score long, categories array<string>, "
        "operations array<string>"))
    rdds0, caches0 = _persisted(spark), _cache_entries(spark)
    for _ in range(2):  # the fetch, then the copy
        hits = search.search_entities(ents, "db")
        ranked = search.semantic_search(ents, "find database servers")
        assert hits.count() == 1 and ranked.count() == 2
    assert _persisted(spark) == rdds0
    assert _cache_entries(spark) == caches0
    session.release(ents)


def test_driver_copy_dies_with_its_frame(spark):
    import gc

    from askg_spark import search

    ents = session.checkpoint(spark.createDataFrame(
        [("a", "db", "x", 1)],
        "id string, name string, description string, popularity_score long"))
    reader = ents.select("*")  # frees the checkpoint once ents is gone
    search.search_entities(ents, "db").collect()
    n = len(session._COPIES)
    assert session._COPIES[ents][1] is not None
    del ents
    gc.collect()
    assert len(session._COPIES) == n - 1
    session.release(reader)


@pytest.mark.parametrize("store", ["checkpoint", "persist"])
def test_release_drops_the_driver_copy(spark, store):
    from askg_spark import search

    ents = getattr(session, store)(spark.createDataFrame(
        [("a", "db", "x", 1)],
        "id string, name string, description string, popularity_score long"))
    ents.count()
    search.search_entities(ents, "db").collect()
    assert session._COPIES[ents][1] is not None
    # released through another frame that reads the same storage
    session.release(ents.select("id"))
    assert ents not in session._COPIES
    assert not session._is_stored(ents)
    if store == "persist":  # recomputed by Spark, not read from a copy
        hits = search.search_entities(ents, "db")
        leaf = hits._jdf.queryExecution().analyzed().collectLeaves().head()
        assert leaf.getClass().getSimpleName() != "LocalRelation"
        assert [r.id for r in hits.collect()] == ["a"]
        assert ents not in session._COPIES


# -------------------------------------------------------- shared views

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.fixture(scope="module")
def views(spark):
    """name -> (frames, persisted RDDs added, cache entries added) for
    every registered view, built in registry order over SF."""
    import __spark_entry__  # noqa: F401  (registers the views)
    session.release_views()
    built = {}
    for name in session.VIEWS:
        rdds0, caches0 = _persisted(spark), _cache_entries(spark)
        frames = session.view(spark, name, SF)
        built[name] = (frames, _persisted(spark) - rdds0,
                       _cache_entries(spark) - caches0)
    yield built
    session.release_views()


def test_second_view_request_runs_no_job(spark, views):
    jobs = _jobs(spark)
    again = {name: session.view(spark, name, SF) for name in views}
    assert _jobs(spark) == jobs
    for name, (frames, _, _) in views.items():
        assert again[name] == frames
        assert all(again[name][k] is df for k, df in frames.items())
    views["cooccur"][0]["edges"].count()
    assert _jobs(spark) > jobs  # the probe sees a job


def test_view_stores_exactly_what_its_frames_read(spark, views):
    for name, (frames, added, entries) in views.items():
        reads, cached = _reads(list(frames.values()))
        assert added == reads, name
        assert entries == len(cached), name
    # the mentions cache, the entities checkpoint and the triples cache:
    # frames that are stored already are kept, not stored again
    assert len(views["kg"][1]) == 3
    assert views["kg"][2] == 2


def test_release_views_frees_every_view(spark, views):
    stored = set().union(*(added for _, added, _ in views.values()))
    entries = _cache_entries(spark)
    session.release_views()
    assert not _persisted(spark) & stored
    assert _cache_entries(spark) == entries - sum(
        n for _, _, n in views.values())


def test_contract_queries_leave_no_storage_behind(spark, views):
    """Every contract query, run as bench.py and check_oracles.py run
    it (inside an operator scope, its rows collected), leaves stored
    exactly what was stored before it: the views' own storage, which
    ``release_views`` then frees. Requesting the views here rebuilds
    any that an earlier test released."""
    import __spark_entry__

    frames = [df for name in session.VIEWS
              for df in session.view(spark, name, SF).values()]
    own, own_cached = _reads(frames)
    rdds0, entries0 = _persisted(spark), _cache_entries(spark)
    assert own <= rdds0

    @session.operator_scope
    def rows(query):
        return query(spark, SF).collect()

    for name, query in __spark_entry__.queries().items():
        rows(query)
        assert _persisted(spark) == rdds0, name
        assert _cache_entries(spark) == entries0, name
    session.release_views()
    assert _persisted(spark) == rdds0 - own
    assert _cache_entries(spark) == entries0 - len(own_cached)


def test_view_is_built_afresh_in_a_new_context():
    code = f"""
import __spark_entry__
from askg_spark import session

def start():
    return session.get_spark(
        "views", master="local[2]", shuffle_partitions=2,
        extra_confs={{"spark.driver.memory": "1g"}})

spark = start()
first = session.view(spark, "cooccur", {SF!r})["edges"]
n = first.count()
spark.stop()
spark = start()
again = session.view(spark, "cooccur", {SF!r})["edges"]
assert again is not first and again.sparkSession is spark
assert again.count() == n
"""
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                   timeout=300, capture_output=True)
