"""Connected components over the candidate-match edge graph.

Three modes, chosen by size, all labelling every vertex with the
lexicographic-min id of its component:

  driver   up to ``_DRIVER_MAX_EDGES`` edges (an exact count: one
           Arrow fetch of up to gate + 1 edges) — sorted factorize and
           :func:`_min_label` in the driver, one checkpoint back; two
           Spark jobs in all
  serial   up to ``_LOOP_ABOVE`` matched vertices — the contraction
           below, then one exact single-task union-find collapse
  loop     above that — the contraction, then the distributed
           min-label phase of :func:`_loop_collapse`

The Spark modes are a partition-local union-find contraction,
expressed as a SINGLE lazy DataFrame plan — zero driver-synchronized
iterations:

  round k: repartition edges by hash of one endpoint (alternating
           src / dst across rounds) -> per-partition union-find
           (Arrow-batched mapInPandas; the generator sees the WHOLE
           partition, batch by batch) -> emit star edges
           (x, local_min_root(x)) for every vertex seen
  final:   collapse to one partition -> union-find -> exact labels

Why this shape (vs the round-1 large-star/small-star label loop):
each per-partition spanning forest preserves the connectivity of that
partition's edge set, so the union of emitted stars has exactly the
connectivity of the full graph — every round is a sound contraction,
and the final single-partition pass resolves all cross-partition
merges exactly, rooted at the component-min id (deterministic under
any partitioning). Alternating the partition key between rounds makes
chains contract (edges (a,b) hashed by dst and (b,c) hashed by src
both land on hash(b)), the same progress guarantee alternating
large-star/small-star relies on (Kiveris et al., SOCC'14).

Scale design / measured rationale:
  * The round-1 loop anti-scaled (cc 133s at local[8] -> 287s at
    local[32] on identical input, BENCH.md): ~6 shuffle stages + one
    driver collect per iteration x O(log n) iterations is pure
    scheduling latency on tiny label frames. This plan is 4 shuffles
    + 4 mapInPandas total (3 contraction rounds u/v/u — the final
    u-keyed round collapses each vertex's per-partition duplicate star
    rows so the serial single-task pass reads ~one row per vertex)
    plus three narrow relabel joins, executed once (label frames are
    localCheckpointed at MEMORY_AND_DISK, the safe level per ADVICE
    r1, because Spark 4 plan-matching is unreliable for mapInPandas
    plans under AQE).
  * Hash-coded rows: the contraction shuffles (xxhash64(u),
    xxhash64(v)) int64 pairs, not url strings — 16 B rows, and the
    serial collapse factorizes with np.unique over int64 instead of a
    string factorize + argsort (~15 of its ~21s wall at the 4M-page
    corpus was string handling). The min-string-per-component contract
    is restored by parallel joins against the (id, code) vertex map.
    64-bit injectivity is verified first; on a collision the vertex
    map is rebuilt with dense codes and the same int64 kernel runs.
  * Memory bound: the final task holds one row per vertex incident to
    an edge — the MATCHED mention set, orders of magnitude smaller
    than the corpus (at 10^12 pages the candidate-match graph is the
    output of LSH blocking + exact keys, not all pages). Above
    ``_LOOP_ABOVE`` matched vertices (~10^8, where the star set stops
    fitting one task) the exact distributed min-label/pointer-jumping
    phase (:func:`_loop_collapse`) replaces the serial task entirely;
    the count comes from the vertex-map probe, so the choice is exact
    and costs no extra job. The contraction rounds themselves are
    fully parallel and bounded by partition size at any scale.

Reference analog: the greedy transitive merge of
/root/reference/src/deduplication.py:323-373 is single-pass CC on the
similarity graph; we compute the true transitive closure (documented
deviation — greedy misses chains, CC does not; the P/R gate tolerates
and the fixture includes a chain cluster to prove transitivity).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from askg_spark.session import checkpoint, operator_scope, release

# Edges (self-loops and NULL endpoints dropped) at or below which the
# labels are computed in the driver from one fetch. On random graphs
# over 4 cores the whole driver path (fetch, labels, createDataFrame,
# checkpoint) beat the Spark path 4.4x at 10^5 edges, 1.7x at 3*10^6
# (6.6 s against 11.4 s, 0.57 GB driver peak RSS) and 1.15x at 10^7,
# where the driver's RSS reached 1.7 GB (BENCH.md "CC in the driver").
_DRIVER_MAX_EDGES = 3_000_000
# Matched vertices above which the final collapse is the distributed
# loop (:func:`_loop_collapse`) instead of the one serial task. That
# task reads ~one 16-byte star row per matched vertex, which fits one
# executor up to ~10^8 vertices; below that the serial task is the
# faster mode (1.9x at 10^7 vertices, BENCH.md "CC final-collapse
# modes").
_LOOP_ABOVE = 10**8
# alternating-key contraction rounds before the final collapse
_ROUNDS = 3
# round cap of the loop collapse; past it the serial collapse runs
_MAX_ITER = 25

_STAR_SCHEMA = "u long, v long"


def _code(col):
    """64-bit vertex code of an id column (fixed-seed xxhash64)."""
    return F.xxhash64(col)


def _uf_stars_long(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Whole-partition union-find over int64 vertex codes; emits
    (x, min-root(x)) for every vertex seen.

    Codes are xxhash64 of the id string (dense ids after a hash
    collision, see :func:`component_labels`), so the per-partition
    work is ``np.unique`` over int64 instead of ``pd.factorize`` + an
    O(n log n) **string** argsort: measured on a 4M-row star frame,
    factorize 7.5s + argsort 4.4s + remap 2.5s of the serial
    collapse's ~21s wall were pure string handling. np.unique returns
    codes indexed into the SORTED unique array, so min-over-code is
    min-over-code-value — deterministic for fixed codes."""
    parts = [pdf for pdf in batches if len(pdf)]
    if not parts:
        yield pd.DataFrame({"u": pd.Series([], dtype="int64"),
                            "v": pd.Series([], dtype="int64")})
        return
    pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    arr = np.concatenate([pdf["u"].to_numpy(), pdf["v"].to_numpy()])
    uniq, codes = np.unique(arr, return_inverse=True)
    n_edges = len(pdf)
    roots = _min_label(len(uniq), codes[:n_edges], codes[n_edges:])
    yield pd.DataFrame({"u": uniq, "v": uniq[roots]})


def _min_label(n_ids: int, eu, ev):
    """Component-min labels for vertices 0..n_ids-1 under edges
    (eu[i], ev[i]) — vectorized min-label propagation with pointer
    jumping, exact-UF fallback.

    Each round scatters the per-edge min label onto both endpoints
    (``np.minimum.at``) then compresses ``lab`` to idempotence by
    pointer jumping (``lab = lab[lab]``). Invariants: lab[x] <= x,
    monotone non-increasing, and lab[x] is always a vertex of x's
    component; at the fixpoint (every edge label-equal AND lab
    idempotent) labels are constant along every edge path, hence
    exactly the component minimum. O(E) numpy work per round,
    ~log(diameter) rounds — the serial final-collapse task runs this
    over millions of rows at numpy speed instead of a Python
    find/union loop (measured ~3x on the 2M-page corpus collapse).
    The exact union-find loop remains as a guaranteed-terminating
    fallback on the (contracted, label-distinct) residual edges if
    propagation hasn't converged after 64 rounds — never observed,
    but correctness must not depend on a convergence-speed argument.
    """
    lab = np.arange(n_ids, dtype=np.int64)
    if len(eu) == 0:
        return lab
    for _ in range(64):
        m = np.minimum(lab[eu], lab[ev])
        np.minimum.at(lab, eu, m)
        np.minimum.at(lab, ev, m)
        while True:                          # pointer jumping
            l2 = lab[lab]
            if np.array_equal(l2, lab):
                break
            lab = l2
        if np.array_equal(lab[eu], lab[ev]):
            return lab
    # exact fallback: union-find over the contracted label graph
    ru, rv = lab[eu], lab[ev]
    keep = ru != rv
    parent = list(range(n_ids))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]    # halving
            x = parent[x]
        return x

    for a, b in zip(ru[keep].tolist(), rv[keep].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra                  # attach under the min rank
    return np.fromiter((find(int(x)) for x in lab),
                       dtype=np.int64, count=n_ids)


def _sorted_codes(*cols: pa.ChunkedArray) -> tuple[pa.Array, list]:
    """(sorted distinct values of ``cols``, each column as int64 indexes
    into them) — no per-row Python objects. Arrow orders strings by
    their UTF-8 bytes, as Spark does, so a smaller index is a smaller
    id in Spark's order too."""
    ends = pa.chunked_array([ch for c in cols for ch in c.chunks],
                            type=cols[0].type)
    uniq = pc.unique(ends)
    uniq = uniq.take(pc.sort_indices(uniq))
    codes = pc.index_in(ends, value_set=uniq).to_numpy().astype(np.int64)
    return uniq, np.split(codes, np.cumsum([len(c) for c in cols[:-1]]))


def _driver_labels(edges: pa.Table) -> tuple[pa.Array, np.ndarray]:
    """(sorted distinct endpoints, index of each one's component root)
    for the (u, v) edge table. The ids are factorized against their
    sorted distinct values, so the min-label root index is also the
    component's min id in Spark's ``min`` order."""
    uniq, (cu, cv) = _sorted_codes(edges.column("u"), edges.column("v"))
    return uniq, _min_label(len(uniq), cu, cv)


def _loop_collapse(cur: DataFrame, n_part: int) -> DataFrame | None:
    """Distributed EXACT final phase over the contracted star frame —
    the 10^12-scale alternative to the single-task serial collapse
    (which reads ~one row per matched vertex: past ~10^8 vertices that
    task's input no longer fits one executor).

    Min-label propagation with pointer jumping over the STATIC star
    edge set, all DataFrame ops (no Python):

      edge step   L(x) <- min(L(x), min over star neighbors y of L(y))
                  (both orientations — one union + groupBy + join)
      jump step   L(x) <- min(L(x), L(L(x)))
                  (labels self-join: Wyllie pointer doubling, so
                  convergence is O(log diameter) rounds, and the star
                  frame's diameter is already collapsed by the
                  contraction rounds)

    Labels are monotone non-increasing and bounded by the component
    min, so the fixpoint IS the component min; convergence is detected
    by an exact changed-row count (anti-join of consecutive label
    frames) every second round — a driver action per check,
    amortized over the O(log n) total rounds and run on the CONTRACTED
    frame, not the corpus (the round-1 loop this module replaced paid
    that latency per corpus-scale iteration; here it is the documented
    price of removing the serial task). localCheckpoint per round
    truncates the growing join lineage. Falls back to the exact serial
    collapse if the cap is hit (never observed; correctness must not
    rest on a convergence-speed argument)."""
    und = cur.unionByName(
        cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = checkpoint(
        und.groupBy("u").agg(F.min("v").alias("lbl"))
        .select("u", F.least("u", "lbl").alias("lbl"))
        .repartition(n_part, "u"))
    for it in range(_MAX_ITER):
        # edge step: neighbor labels through the static star edges
        nbr = (
            und.join(labels.select(F.col("u").alias("v"),
                                   F.col("lbl").alias("lv")), "v")
            .groupBy("u").agg(F.min("lv").alias("nl"))
        )
        # lazy checkpoint: the jump self-join references `stepped`
        # twice — the leaf materializes on the round's first action and
        # the second reference reads blocks instead of re-running the
        # edge-step join
        stepped = checkpoint(
            labels.join(nbr, "u", "left")
            .select("u", F.least("lbl", F.coalesce("nl", "lbl"))
                    .alias("lbl")), eager=False)
        # jump step: follow the label's label
        jumped = checkpoint(
            stepped.join(
                stepped.select(F.col("u").alias("lbl"),
                               F.col("lbl").alias("ll")),
                "lbl", "left")
            .select("u", F.least("lbl", F.coalesce("ll", "lbl"))
                    .alias("lbl"))
            .repartition(n_part, "u"))
        done = False
        if it % 2 == 1 or it == _MAX_ITER - 1:
            # labels only decrease, so "no row changed" == fixpoint;
            # the join is on the contracted frame (small), and the
            # count is the only extra driver sync in the round
            done = (
                jumped.alias("n").join(labels.alias("o"), "u")
                .filter(F.col("n.lbl") != F.col("o.lbl")).isEmpty()
            )
        release(labels, stepped)
        labels = jumped
        if done:
            return checkpoint(
                labels.select(F.col("u"), F.col("lbl").alias("v")))
    return None  # cap hit — caller falls back to the serial collapse


def connected_components(edges: DataFrame,
                         vertices: DataFrame) -> DataFrame:
    """edges(src,dst) + vertices(id) -> (id, component) where component
    is the lexicographic min id reachable; vertices touching no edge
    are their own component. The result reads the checkpoint of
    :func:`component_labels`: release it with ``session.release``."""
    labels = component_labels(edges)
    singles = vertices.join(labels.select("id"), "id", "left_anti") \
        .select("id", F.col("id").alias("component"))
    return labels.unionByName(singles)


@operator_scope
def component_labels(edges: DataFrame) -> DataFrame:
    """edges(src,dst) -> (id, component) for every vertex incident to
    an edge, where component is the lexicographic min id reachable.
    Self-loops and edges with a NULL endpoint are dropped first.

    The result reads one checkpoint, which the caller owns and releases
    with ``session.release`` once its consumers are materialized; every
    intermediate frame is released here.

    One job fetches up to ``_DRIVER_MAX_EDGES + 1`` edges as Arrow. At
    or below the gate the labels are computed in the driver
    (:func:`_driver_labels`) and the checkpoint is the second and last
    job: a few hundred edges cost two jobs, not the ~16 of the Spark
    path. Above it the fetch is dropped and the Spark path runs:

    ``_ROUNDS`` parallel contraction rounds (alternating endpoint
    hashing), then one exact final collapse — a linear plan executed
    once, with a handful of driver syncs (the checkpoints below)
    instead of the round-1 loop's O(log n) syncs.

    The contraction runs over int64 vertex codes: shuffled star rows
    are 16 B instead of ~80 B url strings, and the serial collapse
    does np.unique over int64 instead of string factorize + argsort —
    measured ~15s of the ~21s serial wall at the 4M-page corpus was
    string handling. The min-STRING-per-component contract is restored
    afterwards by three parallel narrow joins against the (id, code)
    vertex map.

    The vertex map is built by one shuffle keyed by xxhash64(id), which
    both dedups the ids and flags a code shared by two ids; one
    aggregate over it then returns the matched-vertex count and whether
    any code clashed. Birthday bound ~n^2/2^65, so a collision is
    possible in principle at >=1e8 matched vertices; on one the map is
    rebuilt with dense ``monotonically_increasing_id`` codes, fixed by
    its checkpoint, and the edges are coded by two joins against it —
    correctness never depends on the hash.

    The count picks the final collapse: up to ``_LOOP_ABOVE`` matched
    vertices, the exact single-partition union-find task reading ~one
    16-byte row per vertex (the fastest mode); above it, the
    distributed min-label propagation of :func:`_loop_collapse` — no
    serial task anywhere, at the price of O(log n) extra
    driver-synchronized rounds on the contracted frame."""
    # Contraction width follows CORE count, not the (4x larger)
    # shuffle-partition conf: a round's output carries one star row per
    # (partition, vertex-touching-it), so over-splitting multiplies
    # duplicate rows into the single-task final collapse — measured at
    # a 576k-edge graph: n_part 32 vs 8 grew the collapse from ~6s to
    # 17s of serial wall. Per-partition union-find memory is one int
    # pair per local vertex; on a real cluster defaultParallelism =
    # total executor cores, which scales with the data.
    spark = edges.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    cur = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    fetched = cur.limit(_DRIVER_MAX_EDGES + 1).toArrow()
    if fetched.num_rows <= _DRIVER_MAX_EDGES:
        uniq, lab = _driver_labels(fetched)
        dt = cur.schema["u"].dataType.simpleString()
        return checkpoint(spark.createDataFrame(
            pa.table({"id": uniq, "component": uniq.take(lab)}),
            f"id {dt}, component {dt}"))
    del fetched  # the Spark path reads the edges from Spark
    ends = cur.select(F.col("u").alias("id")).unionAll(
        cur.select(F.col("v").alias("id")))
    vmap = checkpoint(ends.groupBy(_code("id").alias("id_h")).agg(
        F.min("id").alias("id"),
        (F.min("id") != F.max("id")).alias("clash")))
    n, clash = vmap.agg(F.count(F.lit(1)), F.max("clash")).first()
    if clash:
        release(vmap)
        vmap = checkpoint(ends.distinct().select(
            "id", F.monotonically_increasing_id().alias("id_h")))
        n = vmap.count()
        ints = (
            cur.join(vmap.select(F.col("id").alias("u"),
                                 F.col("id_h").alias("cu")), "u")
            .join(vmap.select(F.col("id").alias("v"),
                              F.col("id_h").alias("cv")), "v")
            .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
        )
    else:
        ints = cur.select(_code("u").alias("u"), _code("v").alias("v"))
    lab_int = _contract(ints, n_part, loop=n > _LOOP_ABOVE)
    # relabel, all parallel and bounded by the matched vertex set:
    # (code, root code) x vmap -> (id, root code); min(id) per root
    # code -> the component's lexicographic min string; join back
    joined = lab_int.join(
        vmap, lab_int["u"] == vmap["id_h"]).select("id", "v")
    comp_min = joined.groupBy("v").agg(F.min("id").alias("component"))
    return checkpoint(joined.join(comp_min, "v").select("id", "component"))


def _contract(cur: DataFrame, n_part: int, loop: bool) -> DataFrame:
    """``_ROUNDS`` alternating-key contraction rounds, then the exact
    single-partition collapse (or, with ``loop``, the distributed loop
    collapse), checkpointed to a leaf.

    Self-stars (r, r) — one per (partition, local component) — carry
    zero connectivity: every non-root vertex's row already names its
    root as v, so roots stay reachable through kept rows, and a vertex
    ALL of whose rows are self-stars is isolated in the star graph,
    which is exactly the case the singles anti-join labels correctly.
    Dropping them between rounds shrinks every inter-round shuffle AND
    the single-task final collapse by ~the local-component count
    (millions of rows on web corpora, where most match groups are 2-4
    mentions).

    The output has several consumers, and persist does not reliably
    dedupe references to mapInPandas plans under AQE (module
    docstring), so it is checkpointed: the contraction chain runs once.
    Star rows hold ~one row per matched vertex, so the checkpoint is
    cheap even at 10^12 documents."""
    for r in range(_ROUNDS):
        key = "u" if r % 2 == 0 else "v"
        cur = cur.repartition(n_part, key).mapInPandas(
            _uf_stars_long, schema=_STAR_SCHEMA)
        cur = cur.filter(F.col("u") != F.col("v"))
    if loop:
        # the loop references the star frame every round — cut the
        # mapInPandas chain to a leaf first
        cur = checkpoint(cur)
        out = _loop_collapse(cur, n_part)
        if out is not None:
            return out
        # convergence cap hit — exact serial fallback below
    return checkpoint(cur.repartition(1).mapInPandas(
        _uf_stars_long, schema=_STAR_SCHEMA))
