"""Connected components on known graph shapes (SURVEY §5 test plan)."""
from __future__ import annotations

from askg_spark import cc
from askg_spark.cc import connected_components
from askg_spark.session import release


def _run(spark, edges, vertices):
    e = spark.createDataFrame(edges, "src string, dst string")
    v = spark.createDataFrame([(x,) for x in vertices], "id string")
    rows = connected_components(e, v).collect()
    return {r["id"]: r["component"] for r in rows}


def _loop_calls(monkeypatch) -> list:
    """Record what every run of the loop collapse returns."""
    calls, real = [], cc._loop_collapse

    def spy(*args):
        calls.append(real(*args))
        return calls[-1]
    monkeypatch.setattr(cc, "_loop_collapse", spy)
    return calls


def test_chain_transitivity(spark):
    # a-b, b-c, c-d: one component rooted at min id (the shape the
    # reference's greedy merge would miss; SURVEY §4 item 1)
    got = _run(spark, [("b", "a"), ("b", "c"), ("c", "d")], "abcd")
    assert got == {x: "a" for x in "abcd"}


def test_star_and_singletons(spark):
    got = _run(spark, [("z", "m"), ("z", "n"), ("z", "o")],
               ["z", "m", "n", "o", "solo1", "solo2"])
    assert got["z"] == got["m"] == got["n"] == got["o"] == "m"
    assert got["solo1"] == "solo1" and got["solo2"] == "solo2"


def test_two_components_and_long_path(spark):
    # 8-node path proves O(log n) label propagation converges, plus a
    # disjoint triangle
    path = [(str(i), str(i + 1)) for i in range(1, 8)]
    tri = [("x1", "x2"), ("x2", "x3"), ("x1", "x3")]
    verts = [str(i) for i in range(1, 9)] + ["x1", "x2", "x3"]
    got = _run(spark, path + tri, verts)
    assert {got[str(i)] for i in range(1, 9)} == {"1"}
    assert {got[x] for x in ("x1", "x2", "x3")} == {"x1"}


def test_loop_collapse_known_shapes(spark, monkeypatch):
    # the distributed final phase (no serial task) on the same shapes,
    # selected by a size threshold below every graph here
    calls = _loop_calls(monkeypatch)
    monkeypatch.setattr(cc, "_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(cc, "_LOOP_ABOVE", 0)
    got = _run(spark, [("b", "a"), ("b", "c"), ("c", "d")], "abcd")
    assert got == {x: "a" for x in "abcd"}
    path = [(str(i), str(i + 1)) for i in range(1, 8)]
    tri = [("x1", "x2"), ("x2", "x3"), ("x1", "x3")]
    verts = [str(i) for i in range(1, 9)] + ["x1", "x2", "x3", "solo"]
    got = _run(spark, path + tri, verts)
    assert {got[str(i)] for i in range(1, 9)} == {"1"}
    assert {got[x] for x in ("x1", "x2", "x3")} == {"x1"}
    assert got["solo"] == "solo"
    assert len(calls) == 2


def test_collapse_mode_follows_matched_vertex_count(spark, monkeypatch):
    # 6 matched vertices: serial at a threshold of 6, loop below it
    calls = _loop_calls(monkeypatch)
    edges = [("b", "a"), ("b", "c"), ("q", "p"), ("q", "r")]
    verts = ["a", "b", "c", "p", "q", "r", "solo"]
    monkeypatch.setattr(cc, "_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(cc, "_LOOP_ABOVE", 6)
    serial = _run(spark, edges, verts)
    assert not calls
    monkeypatch.setattr(cc, "_LOOP_ABOVE", 5)
    loop = _run(spark, edges, verts)
    assert len(calls) == 1
    assert serial == loop == {"a": "a", "b": "a", "c": "a", "p": "p",
                              "q": "p", "r": "p", "solo": "solo"}


def test_loop_collapse_matches_serial_random_graphs(spark, monkeypatch):
    # seeded random graphs incl. chains that span contraction
    # partitions: the loop mode must agree with the exact serial path
    import random
    calls = _loop_calls(monkeypatch)
    # one contraction round leaves maximal cross-partition residue for
    # the final phase to resolve
    monkeypatch.setattr(cc, "_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(cc, "_ROUNDS", 1)
    rng = random.Random(11)
    for trial in range(3):
        n = rng.randrange(20, 90)
        verts = [f"v{trial}_{i:03d}" for i in range(n)]
        edges = [
            (rng.choice(verts), rng.choice(verts))
            for _ in range(rng.randrange(10, int(1.3 * n)))
        ]
        monkeypatch.setattr(cc, "_LOOP_ABOVE", 10**8)
        a = _run(spark, edges, verts)
        monkeypatch.setattr(cc, "_LOOP_ABOVE", 0)
        b = _run(spark, edges, verts)
        assert a == b
    assert len(calls) == 3


def test_loop_collapse_round_cap_falls_back_to_serial(spark, monkeypatch):
    # one contraction round and one loop round cannot settle a long
    # path: the loop gives up and the exact serial collapse labels it
    calls = _loop_calls(monkeypatch)
    monkeypatch.setattr(cc, "_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(cc, "_ROUNDS", 1)
    monkeypatch.setattr(cc, "_MAX_ITER", 1)
    monkeypatch.setattr(cc, "_LOOP_ABOVE", 0)
    path = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(12)]
    got = _run(spark, path, [f"p{i:02d}" for i in range(13)])
    assert calls == [None]
    assert set(got.values()) == {"p00"}


def test_min_label_matches_union_find():
    """Property: the vectorized min-label kernel equals an exact
    union-find on random graphs (no Spark; pure kernel check)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from askg_spark.cc import _min_label

    @settings(max_examples=200, deadline=None)
    @given(st.integers(2, 60), st.lists(
        st.tuples(st.integers(0, 59), st.integers(0, 59)), max_size=120))
    def check(n, edge_list):
        edges = [(a % n, b % n) for a, b in edge_list]
        eu = np.array([a for a, _ in edges], dtype=np.int64)
        ev = np.array([b for _, b in edges], dtype=np.int64)
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        want = [find(i) for i in range(n)]
        got = _min_label(n, eu, ev)
        assert got.tolist() == want

    check()


def test_code_collision_recodes_densely(spark, monkeypatch):
    """A 64-bit code shared by two ids re-codes the vertex map densely
    and labels exactly as the hash-coded path does."""
    from pyspark.sql import functions as F

    edges = [("b", "a"), ("b", "c"), ("c", "d"), ("q", "p"),
             ("x", "y"), ("y", "z")]
    verts = list("abcdpqxyz") + ["solo"]
    monkeypatch.setattr(cc, "_DRIVER_MAX_EDGES", 0)
    want = _run(spark, edges, verts)
    # three codes (-1, 0, 1) for nine ids: taken at face value, they
    # would merge components
    monkeypatch.setattr(cc, "_code", lambda c: F.xxhash64(c) % 2)
    got = _run(spark, edges, verts)
    assert got == want == {"a": "a", "b": "a", "c": "a", "d": "a",
                           "p": "p", "q": "p", "x": "x", "y": "x",
                           "z": "x", "solo": "solo"}


# ------------------------------------------------------- driver path

def _labels_at(spark, monkeypatch, edges, gate) -> tuple[dict, int]:
    """(id -> component, number of driver-path runs) of
    ``component_labels`` under an edge gate of ``gate``."""
    runs, real = [], cc._driver_labels

    def spy(table):
        runs.append(table.num_rows)
        return real(table)
    with monkeypatch.context() as mp:
        mp.setattr(cc, "_driver_labels", spy)
        mp.setattr(cc, "_DRIVER_MAX_EDGES", gate)
        lab = cc.component_labels(
            spark.createDataFrame(edges, "src string, dst string"))
    got = {r["id"]: r["component"] for r in lab.collect()}
    release(lab)
    return got, len(runs)


def _random_edges(rng, n_verts, n_edges):
    """Seeded edges with self-loops, repeated and reversed edges and
    NULL endpoints mixed in."""
    verts = [f"r{rng.randrange(10**6):06d}" for _ in range(n_verts)]
    edges = [(rng.choice(verts), rng.choice(verts))
             for _ in range(n_edges)]
    edges += [(a, a) for a, _ in edges[:3]]
    edges += edges[3:6] + [(b, a) for a, b in edges[6:9]]
    edges += [(None, verts[0]), (verts[1], None), (None, None)]
    rng.shuffle(edges)
    return edges


def test_driver_labels_equal_spark_labels(spark, monkeypatch):
    import random

    fixtures = [
        [("b", "a"), ("b", "c"), ("c", "d")],
        [("z", "m"), ("z", "n"), ("z", "o")],
        [(str(i), str(i + 1)) for i in range(1, 8)]
        + [("x1", "x2"), ("x2", "x3"), ("x1", "x3")],
    ]
    rng = random.Random(5)
    graphs = fixtures + [_random_edges(rng, rng.randrange(10, 80),
                                       rng.randrange(10, 100))
                         for _ in range(4)]
    for edges in graphs:
        driver, runs = _labels_at(spark, monkeypatch, edges, 10**6)
        assert runs == 1
        ref, runs = _labels_at(spark, monkeypatch, edges, 0)
        assert runs == 0
        assert driver == ref
        want = {x for e in edges if e[0] != e[1] and None not in e
                for x in e}
        assert set(driver) == want


def test_path_choice_at_the_gate(spark, monkeypatch):
    # four edges once self-loops and NULL endpoints are dropped
    edges = [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"),
             ("q", "q"), (None, "a")]
    want = {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}
    assert _labels_at(spark, monkeypatch, edges, 4) == (want, 1)
    assert _labels_at(spark, monkeypatch, edges, 3) == (want, 0)


def test_driver_path_runs_two_jobs(spark):
    e = spark.createDataFrame([("b", "a"), ("b", "c"), ("c", "d")],
                              "src string, dst string")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = sched.numTotalJobs()
    lab = cc.component_labels(e)
    # the edge fetch and the checkpoint
    assert sched.numTotalJobs() - jobs <= 2
    release(lab)


def test_non_bmp_tie_takes_the_utf8_min(spark, monkeypatch):
    # U+FF5A sorts below U+1D51E by code point and by UTF-8 bytes, but
    # above it by UTF-16 units: both paths must take the UTF-8 min
    edges = [("𝔞", "ｚ"), ("ｚ", "𝔞"), ("𝔞", "𝔟")]
    want = {"ｚ": "ｚ", "𝔞": "ｚ", "𝔟": "ｚ"}
    assert _labels_at(spark, monkeypatch, edges, 10**6) == (want, 1)
    assert _labels_at(spark, monkeypatch, edges, 0) == (want, 0)
