"""Connected components on known graph shapes (SURVEY §5 test plan)."""
from __future__ import annotations

from askg_spark.cc import connected_components


def _run(spark, edges, vertices, **kw):
    e = spark.createDataFrame(edges, "src string, dst string")
    v = spark.createDataFrame([(x,) for x in vertices], "id string")
    rows = connected_components(e, v, **kw).collect()
    return {r["id"]: r["component"] for r in rows}


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


def test_loop_collapse_known_shapes(spark):
    # the distributed final phase (no serial task) on the same shapes
    got = _run(spark, [("b", "a"), ("b", "c"), ("c", "d")], "abcd",
               final_collapse="loop")
    assert got == {x: "a" for x in "abcd"}
    path = [(str(i), str(i + 1)) for i in range(1, 8)]
    tri = [("x1", "x2"), ("x2", "x3"), ("x1", "x3")]
    verts = [str(i) for i in range(1, 9)] + ["x1", "x2", "x3", "solo"]
    got = _run(spark, path + tri, verts, final_collapse="loop")
    assert {got[str(i)] for i in range(1, 9)} == {"1"}
    assert {got[x] for x in ("x1", "x2", "x3")} == {"x1"}
    assert got["solo"] == "solo"


def test_loop_collapse_matches_serial_random_graphs(spark):
    # seeded random graphs incl. chains that span contraction
    # partitions: the loop mode must agree with the exact serial path
    import random
    rng = random.Random(11)
    for trial in range(3):
        n = rng.randrange(20, 90)
        verts = [f"v{trial}_{i:03d}" for i in range(n)]
        edges = [
            (rng.choice(verts), rng.choice(verts))
            for _ in range(rng.randrange(10, int(1.3 * n)))
        ]
        # contract_rounds=1 leaves maximal cross-partition residue for
        # the final phase to resolve
        a = _run(spark, edges, verts, final_collapse="serial",
                 contract_rounds=1)
        b = _run(spark, edges, verts, final_collapse="loop",
                 contract_rounds=1)
        assert a == b


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


def test_string_fallback_path_matches(spark):
    """The exact string-coded path (taken on a 64-bit code collision)
    labels identically to the hash-coded default."""
    from pyspark.sql import functions as F
    from askg_spark.cc import _string_coded_labels

    edges = [("b", "a"), ("b", "c"), ("c", "d"), ("q", "p")]
    e = (spark.createDataFrame(edges, "src string, dst string")
         .select(F.col("src").alias("u"), F.col("dst").alias("v")))
    n_part = spark.sparkContext.defaultParallelism
    got = {r["id"]: r["label"]
           for r in _string_coded_labels(e, n_part, 3).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "p": "p", "q": "p"}
