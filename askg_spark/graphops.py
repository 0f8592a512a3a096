"""Generic distributed graph operators beyond the KG-specific ones
(webgraph.py: pagerank/in-degree; cc.py: connected components).

Triangle counting uses the degree-ordered orientation (the classic
MapReduce formulation — Suri & Vassilvitskii, "Counting Triangles and
the Curse of the Last Reducer", WWW'11): orient every undirected edge
from the (degree, id)-smaller endpoint to the larger, then count
directed paths s->t->w that close with an s->w edge. The orientation
bounds every node's OUT-degree by O(sqrt(m)) regardless of its raw
degree, so the hot-node quadratic blowup (a celebrity node with 10^6
neighbors would otherwise contribute 10^12 wedge candidates to one
reducer) becomes at most m^(3/2) wedges spread evenly — the skew
guard that makes the two equi-joins survive a web-scale graph.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from askg_spark import cc
from askg_spark.session import (checkpoint, local_frame, operator_scope,
                                persist, release, row_bound)

# Edges (NULL endpoints dropped) at or below which bfs_depths runs in
# the driver. Per request over 4 cores, with the edges a filter over
# cached triples as perfbench serves them, the driver path against the
# Spark path: 0.50 vs 1.46 s at 10^5 edges, 1.23 vs 4.82 s at 10^6,
# 3.3 vs 8.1 s at 3*10^6 (0.5 GB driver peak RSS) and 6.0 s at 5*10^6
# (0.7 GB). Every request fetches afresh, so the gate holds the
# driver's memory to cc._DRIVER_MAX_EDGES's budget (BENCH.md "Serving
# from the driver").
_BFS_DRIVER_MAX_EDGES = 3_000_000


def cooccurrence_edges(df: DataFrame, group_col: str,
                       item_col: str) -> DataFrame:
    """Distinct undirected co-occurrence edges between items sharing a
    group: -> (u, v) with u < v, one row per unordered pair that
    co-occurs in at least one group.

    Scale shape: the pair join is an equi-join on the GROUP key, so
    pair generation per group is bounded by that group's fan-out
    squared (orders hold ~O(10) items; a crawl page holds ~O(10^2)
    links) — bounded work per key, never corpus-quadratic. A genuinely
    hot group (fan-out 10^4+) should be capped upstream the same way
    relations.py caps hot entity keys. The final distinct is one
    shuffle on the pair itself."""
    pp = df.select(F.col(group_col).alias("g"),
                   F.col(item_col).alias("i")).distinct()
    b = pp.select(F.col("g"), F.col("i").alias("j"))
    return (pp.join(b, "g")
              .filter(F.col("i") < F.col("j"))
              .select(F.col("i").alias("u"), F.col("j").alias("v"))
              .distinct())


def _degrees(e: DataFrame, name: str) -> DataFrame:
    """(n, name): the degree of every endpoint of the (u, v) edges."""
    return (e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n").agg(F.count(F.lit(1)).alias(name)))


@operator_scope
def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact global triangle count over undirected (u, v) edges
    (u <> v, each undirected edge present once in either direction):
    -> one row (n_nodes, n_edges, n_triangles), all BIGINT.

    Plan: degree -> orient each edge low-to-high by (degree, id) ->
    wedge join (e1.t = e2.s) -> closing join ((s, w) edge exists).
    Both joins are equi-joins on oriented endpoints whose fan-out the
    orientation bounds by O(sqrt(m)); with AQE on, the wedge join's
    residual skew is runtime-split. The two degree lookups broadcast
    when the node dim is small and degrade to shuffled hash joins
    otherwise — never a cross join."""
    spark = edges.sparkSession
    e = (edges.select(F.col("u"), F.col("v"))
         .filter(F.col("u") != F.col("v"))
         .select(F.least("u", "v").alias("u"),
                 F.greatest("u", "v").alias("v"))
         .distinct())
    deg = _degrees(e, "d")
    da = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | \
        ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    # the oriented frame feeds BOTH sides of the wedge join AND the
    # closing join (3 scans) — persist it or the whole
    # co-occurrence + distinct + degree pipeline above re-runs 3x
    # (measured 25.4s -> 9.7s at the 1.2M-edge sf0.1 graph)
    de = persist(
        e.join(da, "u").join(db, "v")
        .select(F.when(u_first, F.col("u")).otherwise(F.col("v"))
                .alias("s"),
                F.when(u_first, F.col("v")).otherwise(F.col("u"))
                .alias("t")),
        StorageLevel.MEMORY_AND_DISK)
    n_edges = de.count()  # also materializes the persist
    n_nodes = deg.count()
    e1 = de.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = de.select(F.col("s").alias("b"), F.col("t").alias("c"))
    e3 = de.select(F.col("s").alias("a"), F.col("t").alias("c"))
    # the wedge stream (sum of oriented-outdeg^2 rows — 60x the edge
    # count on the dense sf0.1 co-occurrence graph) is the expensive
    # frame: when the EDGE list itself is broadcast-sized, hash-build
    # both join sides from it so the wedges are generated AND closed
    # map-side, never shuffled; past that, fall back to shuffled
    # equi-joins whose per-key fan-out the degree orientation bounds by
    # O(sqrt(m))
    if n_edges <= 8_000_000:
        e2, e3 = F.broadcast(e2), F.broadcast(e3)
    n_triangles = e1.join(e2, "b").join(e3, ["a", "c"]).count()
    return local_frame(spark, [(n_nodes, n_edges, n_triangles)],
                       "n_nodes long, n_edges long, n_triangles long")


@operator_scope
def bfs_depths(edges: DataFrame, seeds: DataFrame,
               max_depth: int = 4) -> DataFrame:
    """Multi-source BFS: minimum hop distance (<= max_depth) from any
    seed, over an undirected edge set. -> (node, depth).

    `edges` (src, dst) is treated as undirected; `seeds` is one
    column of node ids, depth 0. NULL is not a node: edges with a NULL
    endpoint and NULL seeds are dropped first.

    When the endpoints and the seeds share one type, the edges are
    counted (:func:`_at_most`: no job when they filter a built cache
    of at most ``_BFS_DRIVER_MAX_EDGES`` rows, else one). At or below
    that gate two more jobs fetch the seeds and the edges as Arrow,
    the BFS runs in the driver (:func:`_driver_depths`) and the result
    is a frame built from Arrow, which stores nothing: a request costs
    two or three jobs, not a few per hop. Above the gate nothing is
    fetched.

    Above the gate (or with mixed types, which Spark widens) runs the
    level-synchronous frontier expansion — the textbook distributed
    BFS: each round joins the CURRENT frontier (small) against the
    edge frame on the frontier's node key, anti-joins already-visited
    nodes, and advances. Per round that is one equi-join shuffle
    keyed by node plus one aggregation; rounds = max_depth, so the
    total work is O(edges touched). Each round checkpoints the small
    visited set (every node reached so far, with its depth) and
    releases the previous one, so the plan stays flat and at most two
    rounds are held. Hub-node skew lands on the edge join's build side
    where AQE's skew split handles it."""
    und = (edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
           .filter(F.col("u").isNotNull() & F.col("v").isNotNull()))
    node_col = seeds.columns[0]
    seeds = seeds.select(F.col(node_col).alias("node")) \
        .filter(F.col("node").isNotNull())
    node, dst = seeds.schema["node"], und.schema["v"]
    gate = _BFS_DRIVER_MAX_EDGES
    if und.schema["u"].dataType == dst.dataType == node.dataType \
            and _at_most(und, gate):
        starts = seeds.limit(gate + 1).toArrow()
        if starts.num_rows <= gate:
            # the Spark path's schema: its first round unions the seeds
            # with edge endpoints
            nullable = node.nullable or (max_depth > 0 and dst.nullable)
            return edges.sparkSession.createDataFrame(
                _driver_depths(und.toArrow(), starts.column("node"),
                               max_depth),
                StructType([StructField("node", node.dataType, nullable),
                            StructField("depth", IntegerType(), False)]))
    # scanned once per round — without this the doubled+distinct edge
    # shuffle re-runs every hop
    bidir = persist(und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct())
    visited = seeds.select("node", F.lit(0).alias("depth")).distinct()
    for d in range(1, max_depth + 1):
        frontier = visited.filter(F.col("depth") == d - 1)
        nxt = (frontier.join(bidir, frontier["node"] == bidir["u"])
               .select(F.col("v").alias("node"))
               .distinct()
               .join(visited.select("node"), "node", "left_anti")
               .withColumn("depth", F.lit(d)))
        prev, visited = visited, checkpoint(visited.unionByName(nxt))
        release(prev)
        if d < max_depth and visited.filter(F.col("depth") == d).isEmpty():
            break
    return visited


def _at_most(df: DataFrame, n: int) -> bool:
    """Whether ``df`` holds at most ``n`` rows: free when
    :func:`session.row_bound` shows it, else one job (an RDD count; a
    DataFrame count is two under AQE)."""
    bound = row_bound(df)
    return bound is not None and bound <= n \
        or df._jdf.queryExecution().toRdd().count() <= n


def _driver_depths(edges: pa.Table, seeds: pa.ChunkedArray,
                   max_depth: int) -> pa.Table:
    """(node, depth) of the multi-source BFS over the undirected (u, v)
    edge table: a level-synchronous numpy BFS over a CSR adjacency of
    the sorted-factorized endpoints. Seeds outside the graph keep
    depth 0."""
    uniq, (cu, cv) = cc._sorted_codes(edges.column("u"), edges.column("v"))
    n = len(uniq)
    src, dst = np.concatenate([cu, cv]), np.concatenate([cv, cu])
    nbrs = dst[np.argsort(src, kind="stable")]
    deg = np.bincount(src, minlength=n)
    indptr = np.zeros(n + 1, np.int64)
    np.cumsum(deg, out=indptr[1:])
    seeds = pc.unique(seeds)
    at = pc.index_in(seeds, value_set=uniq)
    inside = pc.is_valid(at)
    depth = np.full(n, -1, np.int32)
    frontier = at.filter(inside).to_numpy().astype(np.int64)
    depth[frontier] = 0
    for d in range(1, max_depth + 1):
        if not len(frontier):
            break
        lo, cnt = indptr[frontier], deg[frontier]
        # positions lo[i] .. lo[i] + cnt[i] - 1 of every frontier node
        pos = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt) \
            + np.arange(cnt.sum())
        reached = np.unique(nbrs[pos])
        frontier = reached[depth[reached] < 0]
        depth[frontier] = d
    hit = np.flatnonzero(depth >= 0)
    outside = seeds.filter(pc.invert(inside))
    return pa.table({
        "node": pa.concat_arrays([uniq.take(hit), outside]),
        "depth": np.concatenate([depth[hit],
                                 np.zeros(len(outside), np.int32)])})


# Surviving edges above which kcore stops hinting its node broadcast
_KCORE_BROADCAST_MAX_EDGES = 100_000_000


@operator_scope
def kcore(edges: DataFrame, k: int, max_rounds: int = 16) -> DataFrame:
    """k-core of an undirected graph — the maximal subgraph where
    every node keeps degree >= k — by the standard iterative peel:
    drop all nodes of degree < k, recompute degrees (removals cascade),
    repeat to the fixed point. -> (node, degree) of the surviving
    core, degrees measured INSIDE the core. Cores are the classic
    web-graph density filter (spam farms and boilerplate link blocks
    live in shallow cores; genuinely-linked hubs survive deep ones).

    Per round: one degree aggregation (map-side combine) plus two
    left_semi joins keying the edge frame by each endpoint; the
    surviving-NODE frame is broadcast (node dimension << edge mass —
    20k nodes vs 1.2M edges at sf0.1, and the ratio only widens on
    denser graphs), so the edge frame is never shuffled inside the
    loop — each round is the degree exchange plus two map-side hash
    probes (two edge-frame shuffles per round removed; ~6.7s -> ~4.8s
    warm at the sf0.1 graph on a contended host). No collect of
    data rows; the only driver sync is one scalar count per round for
    the convergence test, and each round's frame is an eager
    localCheckpoint that releases the previous round's, so lineage
    stays flat (same bounded-loop shape as bfs_depths). The broadcast
    is gated, not forced (advisor r4: F.broadcast is a hard hint —
    Spark attempts it regardless of size and OOMs the driver rather
    than falling back): the loop already holds each round's edge
    count as a driver-side int, and nodes <= 2*edges, so when the
    surviving edge count exceeds ``_KCORE_BROADCAST_MAX_EDGES`` the
    hint is SKIPPED and the semi-joins run as ordinary shuffled joins
    — same plan shape, automatic degradation.
    Rounds are data-bounded: peel cascades are shallow in
    practice (<= 7 on the co-occurrence graphs here; max_rounds is a
    runaway backstop and the oracle unrolls the same bound — a graph
    still peeling after max_rounds raises rather than returning a
    non-fixed-point)."""
    cur = checkpoint(edges.select(F.least("u", "v").alias("u"),
                                  F.greatest("u", "v").alias("v"))
                     .filter(F.col("u") != F.col("v"))
                     .distinct())
    n_edges = cur.count()
    for _ in range(max_rounds):
        keep = _degrees(cur, "c").filter(F.col("c") >= k).select("n")
        if n_edges <= _KCORE_BROADCAST_MAX_EDGES:
            keep = F.broadcast(keep)
        nxt = checkpoint(
            cur.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v"))
        n_next = nxt.count()
        if n_next == n_edges:
            break
        release(cur)
        cur, n_edges = nxt, n_next
        if n_edges == 0:
            break
    else:
        # rounds exhausted with the LAST round still removing edges —
        # but if that removal landed exactly on the fixed point
        # (cascade depth == max_rounds), the state is correct and only
        # the confirming no-op round is missing: check stability with
        # one extra aggregate instead of raising on a right answer
        if _degrees(cur, "c").filter(F.col("c") < k).limit(1).count() > 0:
            raise RuntimeError(
                f"k-core peel did not converge within {max_rounds} rounds")
    return _degrees(cur, "degree").select(
        F.col("n").alias("node"),
        F.col("degree").cast("long").alias("degree"))


@operator_scope
def random_walks(edges: DataFrame, starts: DataFrame,
                 length: int = 4) -> DataFrame:
    """Deterministic random walks over an undirected edge set — the
    corpus-generation step of DeepWalk/node2vec-style graph embedding
    training (walk sequences feed a skip-gram model), with the RNG
    replaced by RENDEZVOUS (highest-random-weight) hashing: hop t
    from node n moves to argmin over neighbors d of
    md5(start | t | d). Pseudo-uniform over the neighbor set,
    bit-reproducible on any partitioning and in SQL, and walks from
    different starts decorrelate (the start is in the hash).

    ``starts`` is a one-column frame of start nodes; the result is
    one WIDE row per start: (start, hop_1, ..., hop_length); an
    isolated start keeps NULL hops (mid-walk dead ends cannot happen
    on an undirected graph).

    Plan: NO adjacency ranking, NO degree table, NO shuffle of the
    edge mass — the HRW argmin replaces the rank-mod-degree
    convention precisely so the per-hop work is one broadcast probe
    of the raw bidirected edge frame (the walk frame is tiny) plus a
    walk-keyed min_by aggregation over ~Σ degree(frontier) rows.
    Duplicate edge rows are harmless (argmin is idempotent), so the
    usual bidir+distinct exchange disappears too — this variant reads
    4.4 s warm over the 3M-pair sf0.1 relation graph vs 12.5 s for
    the rank-window formulation (the residue is the caller's edge
    derivation, materialized once). Hub starts contribute their full
    neighbor list to one aggregation key: bounded by max degree, the
    same envelope every per-node op here carries. Each hop checkpoints
    the walk frame (one row per start) and releases the hop before, so
    the plan stays flat whatever the walk length."""
    # each hop probes this frame; pin it once or the caller's upstream
    # lineage (typically a distinct over the triple store) re-executes
    # per hop — 8 scans for a 4-hop walk
    raw = checkpoint(
        edges.select(F.col("u").alias("s"), F.col("v").alias("d"))
        .unionByName(edges.select(F.col("v").alias("s"),
                                  F.col("u").alias("d"))))
    start_col = starts.columns[0]
    base = starts.select(F.col(start_col).alias("start")).distinct()
    cur, cols = base, ["start"]
    for t in range(1, length + 1):
        hop = f"hop_{t}"
        nbr = raw.select(F.col("s").alias(cols[-1]),
                         F.col("d").alias(hop))
        weight = F.md5(F.concat_ws(
            "|", F.col("start").cast("string"), F.lit(str(t)),
            F.col(hop).cast("string")))
        prev, cur = cur, checkpoint(
            F.broadcast(cur).join(nbr, cols[-1])
            .groupBy(*cols)
            .agg(F.min_by(hop, weight).alias(hop)))
        release(prev)
        cols.append(hop)
    return base.join(cur, "start", "left")
