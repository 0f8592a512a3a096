"""Search and BFS requests served from a driver-side copy of the graph.

The Spark path is the oracle: each driver path is compared with the
same request run with its gate patched to 0, rows and schema alike. The
other tests pin which path runs at the gate, how many jobs a request
costs, and that frames built from driver rows are local relations."""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import DataFrame, functions as F

from askg_spark import graphops, search, session
from askg_spark.fixtures import generate_pages
from askg_spark.pipeline import PipelineConfig, run_pipeline
from perfbench.inputs import SEARCH_TERMS
from tests.test_trainops import SF  # the sf0.001 tables

ENT_SCHEMA = ("id string, name string, description string, author string, "
              "categories array<string>, operations array<string>, "
              "implementation_language string, popularity_score long")

# NULL name / description / popularity / lists, duplicate and NULL list
# values, a non-ASCII name, exact score ties and a negative popularity
EDGE_ENTS = [
    ("a/one", "orbit-db", "a database tool to query", "alice",
     ["database", "search", "database"], ["read", "query", "read"],
     "python", 100),
    ("b/two", None, "file things for storage", "bob",
     ["file_system", None], None, "python", None),
    ("c/three", "Ünïcode Database", None, "carol", None, ["write"], "go", 5),
    ("d/four", "Quartz Webhook", "webhook relay", None,
     ["api_integration"], ["execute"], None, -50),
    ("t/2", "tie", "a tied database vault", "dan", ["database"], ["read"],
     "go", 7),
    ("t/1", "tie", "a tied database vault", "dan", ["database"], ["read"],
     "go", 7),
    ("z/none", None, None, None, None, None, None, None),
]

_KWS = sorted({k for kws in (*search.SEARCH_CATEGORY_KEYWORDS.values(),
                             *search.SEARCH_OPERATION_KEYWORDS.values())
               for k in kws})
PROMPTS = [f"find {k} servers" for k in _KWS] + [
    "Find the best DATABASE tools that can query and transform",
    "a tied database vault", "nothing matches here", ""]
TERMS = SEARCH_TERMS + ["", "DATABASE", "ünï", "tie", "a"]


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _leaves(df) -> list[str]:
    it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    out = []
    while it.hasNext():
        out.append(it.next().getClass().getSimpleName())
    return out


def _is_local(df) -> bool:
    return _leaves(df) == ["LocalRelation"]


@pytest.fixture(scope="module")
def entities(spark):
    """name -> a stored entity frame: the edge cases and a 500-server
    pipeline build."""
    small = session.checkpoint(spark.createDataFrame(EDGE_ENTS, ENT_SCHEMA))
    res = run_pipeline(spark, generate_pages(spark, 500, seed=3),
                       PipelineConfig())
    yield {"edge_cases": small, "pages500": res.entities}
    session.release(small, res.mentions, res.rejects, res.entities,
                    res.rel_edges, res.triples)


def _both(monkeypatch, fn, ents, *args, **kwargs):
    got = fn(ents, *args, **kwargs)
    assert _is_local(got)  # the driver path ran
    with monkeypatch.context() as mp:
        mp.setattr(search, "_DRIVER_MAX_ROWS", 0)
        want = fn(ents, *args, **kwargs)
    assert not _is_local(want)
    assert got.schema == want.schema
    return got.collect(), want.collect()


@pytest.mark.parametrize("frame", ["edge_cases", "pages500"])
def test_search_driver_matches_spark(spark, monkeypatch, entities, frame):
    ents = entities[frame]
    for term in TERMS:
        got, want = _both(monkeypatch, search.search_entities, ents, term)
        assert got == want, term
    for prompt in PROMPTS:
        got, want = _both(monkeypatch, search.semantic_search, ents, prompt)
        assert got == want, prompt
    for limit in (-1, 0, 1, 3, 1000):
        for conf in (0.0, 8.0, 10.05):
            for fn, arg in ((search.search_entities, "database"),
                            (search.semantic_search,
                             "find database query servers")):
                if limit < 0:
                    # refused on both paths, before either runs
                    for gate in (search._DRIVER_MAX_ROWS, 0):
                        with monkeypatch.context() as mp:
                            mp.setattr(search, "_DRIVER_MAX_ROWS", gate)
                            with pytest.raises(ValueError, match="limit"):
                                fn(ents, arg, min_confidence=conf,
                                   limit=limit)
                    continue
                got, want = _both(monkeypatch, fn, ents, arg,
                                  min_confidence=conf, limit=limit)
                assert got == want, (fn.__name__, limit, conf)


def test_search_nan_popularity_matches_spark(spark, monkeypatch):
    # Spark orders NaN above every number, and NaN passes >= and >
    rows = [("n1", "db", "x", float("nan"), ["database"], ["read"]),
            ("n2", "db", "x", 3.0, ["database"], []),
            ("n0", "db", "x", float("nan"), None, None),
            ("n3", "db", "x", float("inf"), ["search"], ["query"])]
    ents = session.checkpoint(spark.createDataFrame(
        rows, "id string, name string, description string, "
              "popularity_score double, categories array<string>, "
              "operations array<string>"))
    for conf in (0.0, 1e309):
        for fn, arg in ((search.search_entities, "db"),
                        (search.semantic_search, "find database servers")):
            got, want = _both(monkeypatch, fn, ents, arg,
                              min_confidence=conf, limit=3)
            assert [r.id for r in got] == [r.id for r in want]
            assert np.array_equal([r.score for r in got],
                                  [r.score for r in want], equal_nan=True)
    session.release(ents)


def test_second_search_on_a_stored_frame_runs_no_job(spark):
    ents = session.checkpoint(spark.createDataFrame(EDGE_ENTS, ENT_SCHEMA))
    search.search_entities(ents, "database").collect()  # fetches the copy
    jobs = _jobs(spark)
    search.search_entities(ents, "vault").collect()
    search.semantic_search(ents, "find database servers").collect()
    assert _jobs(spark) == jobs
    session.release(ents)


def test_unstored_frame_takes_the_spark_path_without_a_fetch(spark):
    ents = spark.createDataFrame(EDGE_ENTS, ENT_SCHEMA)
    jobs = _jobs(spark)
    got = search.search_entities(ents, "database")
    sem = search.semantic_search(ents, "find database servers")
    assert _jobs(spark) == jobs  # plans only: nothing was fetched
    assert not _is_local(got) and not _is_local(sem)
    assert ents not in session._COPIES


def test_search_path_choice_at_the_gate(spark, monkeypatch):
    ents = session.checkpoint(spark.createDataFrame(EDGE_ENTS, ENT_SCHEMA))
    for gate, local in ((len(EDGE_ENTS), True), (len(EDGE_ENTS) - 1, False)):
        monkeypatch.setattr(search, "_DRIVER_MAX_ROWS", gate)
        assert _is_local(search.search_entities(ents, "database")) == local
        assert _is_local(search.semantic_search(ents, "find db")) == local
    session.release(ents)


# ------------------------------------------------------------------ BFS

def _bfs_both(monkeypatch, edges, seeds, max_depth):
    got = graphops.bfs_depths(edges, seeds, max_depth=max_depth)
    assert _is_local(got)
    with monkeypatch.context() as mp:
        mp.setattr(graphops, "_BFS_DRIVER_MAX_EDGES", 0)
        want = graphops.bfs_depths(edges, seeds, max_depth=max_depth)
    assert not _is_local(want)
    assert got.schema == want.schema
    rows = sorted(got.collect()), sorted(want.collect())
    session.release(want)
    return rows


def test_bfs_null_endpoints_are_not_nodes(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", None), (None, "c"), ("c", "d")],
        "src string, dst string")
    seeds = spark.createDataFrame([("a",), (None,)], "node string")
    got, want = _bfs_both(monkeypatch, edges, seeds, 3)
    assert got == want
    assert {(r.node, r.depth) for r in got} == {("a", 0), ("b", 1)}


def _random_graph(rng, n_nodes, n_edges):
    u = rng.integers(0, n_nodes, n_edges)
    v = rng.integers(0, n_nodes, n_edges)
    rows = list(zip(u.tolist(), v.tolist()))
    rows += rows[: n_edges // 5]                       # repeated
    rows += [(b, a) for a, b in rows[: n_edges // 5]]  # reversed
    rows += [(a, a) for a, _ in rows[: n_edges // 10]]  # self-loops
    return rows


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bfs_driver_matches_spark_random(spark, monkeypatch, seed):
    rng = np.random.default_rng(seed)
    rows = _random_graph(rng, 60, 70)
    seeds = rng.integers(0, 80, 4).tolist()  # some outside the graph
    str_edges = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in rows], "src string, dst string")
    str_seeds = spark.createDataFrame([(f"n{s}",) for s in seeds],
                                      "node string")
    long_edges = spark.createDataFrame(rows, "src long, dst long")
    long_seeds = spark.createDataFrame([(s,) for s in seeds], "n long")
    for depth in (0, 1, 3):
        got, want = _bfs_both(monkeypatch, str_edges, str_seeds,
                              depth)
        assert got == want, depth
        got, want = _bfs_both(monkeypatch, long_edges, long_seeds,
                              depth)
        assert got == want, depth


def test_bfs_driver_matches_spark_fixtures(spark, monkeypatch):
    # the graph_bfs_depths shape: two int64 out-edges per node, seeds
    # every 97th node
    n = 500
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    d = F.col("doc_id")
    edges = (docs.select(d.alias("src"), ((d * 7 + 3) % n).alias("dst"))
             .unionByName(docs.select(d.alias("src"),
                                      ((d * 13 + 5) % n).alias("dst"))))
    seeds = docs.filter(d % 97 == 0).select(d.alias("node"))
    got, want = _bfs_both(monkeypatch, edges, seeds, 4)
    assert got == want
    # a path 0-1-...-9 plus a detached pair, seeded at both path ends
    path = spark.createDataFrame([(i, i + 1) for i in range(9)] + [(10, 11)],
                                 "src long, dst long")
    ends = spark.createDataFrame([(0,), (9,), (42,)], "node long")
    for depth in (2, 50):
        got, want = _bfs_both(monkeypatch, path, ends, depth)
        assert got == want


def test_bfs_path_choice_at_the_gate(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", None), ("c", "d")],
        "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    # 3 edges once the NULL endpoint is dropped
    monkeypatch.setattr(graphops, "_BFS_DRIVER_MAX_EDGES", 3)
    assert _is_local(graphops.bfs_depths(edges, seeds, max_depth=2))
    monkeypatch.setattr(graphops, "_BFS_DRIVER_MAX_EDGES", 2)
    out = graphops.bfs_depths(edges, seeds, max_depth=2)
    assert not _is_local(out)
    assert {(r.node, r.depth) for r in out.collect()} == {
        ("a", 0), ("b", 1), ("c", 2)}
    session.release(out)
    # int seeds against long endpoints: Spark widens the types, so the
    # Spark path runs whatever the gate
    monkeypatch.setattr(graphops, "_BFS_DRIVER_MAX_EDGES", 10**6)
    out = graphops.bfs_depths(
        spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"),
        spark.createDataFrame([(1,)], "node int"), max_depth=1)
    assert not _is_local(out)
    assert {(r.node, r.depth) for r in out.collect()} == {(1, 0), (2, 1)}
    session.release(out)


def test_bfs_above_the_gate_fetches_nothing(spark, monkeypatch):
    fetched = []
    to_arrow = DataFrame.toArrow
    monkeypatch.setattr(DataFrame, "toArrow",
                        lambda df: fetched.append(df) or to_arrow(df))
    monkeypatch.setattr(graphops, "_BFS_DRIVER_MAX_EDGES", 2)
    out = graphops.bfs_depths(
        spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")],
                              "src string, dst string"),
        spark.createDataFrame([("a",)], "node string"), max_depth=1)
    assert not _is_local(out) and not fetched
    assert {(r.node, r.depth) for r in out.collect()} == {("a", 0), ("b", 1)}
    session.release(out)


def test_bfs_skips_the_count_over_a_built_cache(spark, monkeypatch):
    triples = spark.createDataFrame(
        [("a", "e", "b"), ("b", "e", "c"), ("c", "x", "d"), ("d", "e", "e")],
        "subj string, pred string, obj string").persist()
    edges = triples.filter(F.col("pred") == "e").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst"))
    assert session.row_bound(edges) is None  # not built yet
    triples.count()
    assert session.row_bound(edges) == 4
    seeds = spark.createDataFrame([("b",)], "node string")
    jobs = {}
    # 3 edges: at gate 4 the cache's 4 rows bound them, at gate 3 the
    # edges are counted
    for gate in (4, 3):
        monkeypatch.setattr(graphops, "_BFS_DRIVER_MAX_EDGES", gate)
        before = _jobs(spark)
        got = graphops.bfs_depths(edges, seeds, max_depth=1)
        jobs[gate] = _jobs(spark) - before
        assert _is_local(got)
        assert {(r.node, r.depth) for r in got.collect()} == {
            ("b", 0), ("a", 1), ("c", 1)}
    assert jobs[3] == jobs[4] + 1
    triples.unpersist()


def test_bfs_below_the_gate_runs_at_most_three_jobs(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "src string, dst string")
    # a list-built seed frame: its fetch is a Python-worker job
    seeds = spark.createDataFrame([("b",)], "node string")
    jobs = _jobs(spark)
    got = graphops.bfs_depths(edges, seeds, max_depth=2).collect()
    assert _jobs(spark) - jobs <= 3
    assert {(r.node, r.depth) for r in got} == {
        ("b", 0), ("a", 1), ("c", 1), ("d", 2)}


# ------------------------------------------------------ driver rows

def test_driver_rows_become_local_relations(spark):
    import __spark_entry__
    from askg_spark.ontology import ontology_categories

    cats = ontology_categories(spark)
    assert _is_local(cats)
    jobs = _jobs(spark)
    assert len(cats.collect()) == 12
    assert _jobs(spark) == jobs
    tri = graphops.triangle_stats(spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "u string, v string"))
    assert _is_local(tri)
    assert tri.first().asDict() == {"n_nodes": 3, "n_edges": 3,
                                    "n_triangles": 1}
    queries = __spark_entry__.queries()
    merges = queries["corpus_bpe_merges"](spark, SF)
    assert _is_local(merges)
    diff = queries["kg_triples_diff"](spark, SF)
    # the ghost row is a local relation: no leaf is an unstored RDD
    # scan (stored views are caches or live checkpoints)
    it = session._plan(diff).collectLeaves().iterator()
    kinds = []
    while it.hasNext():
        leaf = it.next()
        kinds.append(session._kind(leaf))
        assert session._kind(leaf) != "LogicalRDD" \
            or leaf.rdd().getStorageLevel().isValid()
    assert "LocalRelation" in kinds
    assert diff.filter(F.col("subj") == "ghost").count() == 1
