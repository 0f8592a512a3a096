"""Connected components over the candidate-match edge graph.

Partition-local union-find contraction, expressed as a SINGLE lazy
DataFrame plan — zero driver-synchronized iterations:

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
    is restored by parallel joins against the (id, hash) vertex map;
    64-bit injectivity is verified first, with an exact string-coded
    fallback on collision.
  * Memory bound: the final task holds one row per vertex incident to
    an edge — the MATCHED mention set, orders of magnitude smaller
    than the corpus (at 10^12 pages the candidate-match graph is the
    output of LSH blocking + exact keys, not all pages). For graphs
    whose contracted star set exceeds single-task memory (~10^8
    vertices), pass ``final_collapse="loop"``: the exact distributed
    min-label/pointer-jumping phase (:func:`_loop_collapse`) replaces
    the serial task entirely — the contraction rounds themselves are
    fully parallel and bounded by partition size at any scale.

Reference analog: the greedy transitive merge of
/root/reference/src/deduplication.py:323-373 is single-pass CC on the
similarity graph; we compute the true transitive closure (documented
deviation — greedy misses chains, CC does not; the P/R gate tolerates
and the fixture includes a chain cluster to prove transitivity).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from askg_spark.session import checkpoint, operator_scope, release

_STAR_SCHEMA = "u string, v string"


_STAR_SCHEMA_LONG = "u long, v long"


def _uf_stars_long(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """int64-coded variant of :func:`_uf_stars` — the hot path.

    Vertex ids arrive as 64-bit codes (xxhash64 of the id string,
    assigned by a zero-shuffle projection in ``connected_components``),
    so the per-partition work is ``np.unique`` over int64 instead of
    ``pd.factorize`` + an O(n log n) **string** argsort: measured on a
    4M-row star frame, factorize 7.5s + argsort 4.4s + remap 2.5s of
    the serial collapse's ~21s wall were pure string handling. np.unique
    returns codes indexed into the SORTED unique array, so min-over-code
    is min-over-hash-value — deterministic (fixed xxhash64 seed)."""
    import numpy as np

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


def _uf_stars(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Whole-partition union-find; emits (x, min-root(x)) per vertex.
    Union-by-min + path compression: roots are always the component's
    lexicographic min, so output is deterministic.

    Int-coded: ids are factorized once and ranked by sorted order so
    union-by-min over int ranks IS union-by-min over the strings; the
    find/union loop then runs over plain Python ints (a list-backed
    parent array), ~4x faster than the string-keyed dict this replaces
    — the single-partition final collapse is the pipeline's one serial
    task, so its constant factor is wall time at every scale."""
    import numpy as np

    parts = [pdf for pdf in batches if len(pdf)]
    if not parts:
        yield pd.DataFrame({"u": pd.Series([], dtype="str"),
                            "v": pd.Series([], dtype="str")})
        return
    pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    codes, uniques = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True))
    uniq = np.asarray(uniques)
    n_ids = len(uniq)
    order = np.argsort(uniq)                 # rank -> factorize code
    rank = np.empty(n_ids, dtype=np.int64)   # factorize code -> rank
    rank[order] = np.arange(n_ids)
    n_edges = len(pdf)
    eu = rank[codes[:n_edges]]
    ev = rank[codes[n_edges:]]
    roots = _min_label(n_ids, eu, ev)
    by_rank = uniq[order]                    # rank -> id string
    yield pd.DataFrame({"u": by_rank, "v": by_rank[roots]})


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
    import numpy as np

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


def _loop_collapse(cur: DataFrame, n_part: int, max_iter: int,
                   check_every: int = 2) -> DataFrame:
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
    frames) every ``check_every`` rounds — a driver action per check,
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
    for it in range(max_iter):
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
        if (it + 1) % check_every == 0 or it == max_iter - 1:
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


def connected_components(
    edges: DataFrame, vertices: DataFrame, max_iter: int = 25,
    contract_rounds: int = 3, contract_partitions: int | None = None,
    final_collapse: str = "serial",
) -> DataFrame:
    """edges(src,dst) + vertices(id) -> (id, component) where component
    is the lexicographic min id reachable; vertices touching no edge
    are their own component. The result reads the checkpoint of
    :func:`component_labels`: release it with ``session.release``."""
    labels = component_labels(edges, max_iter, contract_rounds,
                              contract_partitions, final_collapse)
    singles = vertices.join(labels.select("id"), "id", "left_anti") \
        .select("id", F.col("id").alias("component"))
    return labels.unionByName(singles)


@operator_scope
def component_labels(
    edges: DataFrame, max_iter: int = 25, contract_rounds: int = 3,
    contract_partitions: int | None = None, final_collapse: str = "serial",
) -> DataFrame:
    """edges(src,dst) -> (id, component) for every vertex incident to
    an edge, where component is the lexicographic min id reachable.

    The result reads one checkpoint, which the caller owns and releases
    with ``session.release`` once its consumers are materialized; every
    intermediate frame is released here.

    ``contract_rounds`` parallel contraction rounds (alternating
    endpoint hashing) then one exact single-partition collapse — a
    linear plan executed once, with a handful of driver syncs (the
    label/vmap checkpoints below) instead of the round-1 loop's
    O(log n) syncs. ``max_iter`` caps the rounds (API compatibility
    with the round-1 iterative implementation).

    The contraction runs over xxhash64 int64 codes of the ids (a
    zero-shuffle projection): shuffled star rows are 16 B instead of
    ~80 B url strings, and the one serial task (final collapse) does
    np.unique over int64 instead of string factorize + argsort —
    measured ~15s of the ~21s serial wall at the 4M-page corpus was
    string handling. The min-STRING-per-component contract is restored
    afterwards by three parallel narrow joins against the (id, hash)
    vertex map. 64-bit codes are verified injective over the matched
    vertex set first (one count-per-hash aggregation; birthday bound
    ~n^2/2^65, so a collision is possible in principle at >=1e8 matched
    vertices); on a collision the string-coded path runs instead, so
    correctness never depends on the hash.

    ``final_collapse``: "serial" (default) finishes with the exact
    single-partition union-find pass — one task reading ~one 16-byte
    row per matched vertex, the fastest option up to ~10^8 matched
    vertices; "loop" finishes with the distributed min-label
    propagation of :func:`_loop_collapse` — no serial task anywhere,
    the mode for corpora whose matched-vertex set alone exceeds a
    single task (10^12-page inputs), at the price of O(log n) extra
    driver-synchronized rounds on the contracted frame."""
    if final_collapse not in ("serial", "loop"):
        raise ValueError(f"final_collapse: {final_collapse!r}")
    spark = edges.sparkSession
    # Contraction width follows CORE count, not the (4x larger)
    # shuffle-partition conf: a round's output carries one star row per
    # (partition, vertex-touching-it), so over-splitting multiplies
    # duplicate rows into the single-task final collapse — measured at
    # a 576k-edge graph: n_part 32 vs 8 grew the collapse from ~6s to
    # 17s of serial wall. Per-partition union-find memory is one int
    # pair per local vertex; on a real cluster defaultParallelism =
    # total executor cores, which scales with the data. Pass
    # contract_partitions explicitly for graphs whose edges-per-core
    # exceed partition memory.
    n_part = contract_partitions or spark.sparkContext.defaultParallelism
    rounds = min(contract_rounds, max_iter)
    cur = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    labels = _int_coded_labels(cur, n_part, rounds, max_iter,
                               final_collapse)
    if labels is None:  # 64-bit code collision — exact string path
        labels = _string_coded_labels(cur, n_part, rounds, max_iter,
                                      final_collapse)
    return labels.select("id", F.col("label").alias("component"))


def _contract(cur: DataFrame, star_fn, schema: str, n_part: int,
              rounds: int, max_iter: int = 25,
              final_collapse: str = "serial") -> DataFrame:
    """``rounds`` alternating-key contraction rounds, then the exact
    single-partition collapse (or the distributed loop collapse),
    checkpointed to a leaf.

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
    for r in range(rounds):
        key = "u" if r % 2 == 0 else "v"
        cur = cur.repartition(n_part, key).mapInPandas(
            star_fn, schema=schema)
        cur = cur.filter(F.col("u") != F.col("v"))
    if final_collapse == "loop":
        # the loop references the star frame every round — cut the
        # mapInPandas chain to a leaf first
        cur = checkpoint(cur)
        out = _loop_collapse(cur, n_part, max_iter)
        if out is not None:
            return out
        # convergence cap hit — exact serial fallback below
    return checkpoint(cur.repartition(1).mapInPandas(star_fn, schema=schema))


def _int_coded_labels(cur: DataFrame, n_part: int, rounds: int,
                      max_iter: int = 25,
                      final_collapse: str = "serial") -> DataFrame | None:
    """Hash-coded contraction + min-string relabel; None on collision.

    vmap (one row per matched vertex: id string + xxhash64 code) is the
    only frame that carries strings; the contraction itself shuffles
    16-byte rows. The relabel is three narrow equi-joins/aggs — all
    parallel, no driver data: (code, root_code) x vmap -> (id,
    root_code); min(id) per root_code -> the component's lexicographic
    min string; join back. Every frame involved is bounded by the
    matched vertex set, not the corpus."""
    vmap = checkpoint(
        cur.select("u").unionAll(cur.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("id"), F.xxhash64("u").alias("id_h")))
    if not (vmap.groupBy("id_h").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1).isEmpty()):
        return None
    ints = cur.select(F.xxhash64("u").alias("u"),
                      F.xxhash64("v").alias("v"))
    lab_int = _contract(ints, _uf_stars_long, _STAR_SCHEMA_LONG,
                        n_part, rounds, max_iter, final_collapse)
    joined = lab_int.join(
        vmap, lab_int["u"] == vmap["id_h"]).select("id", "v")
    comp_min = joined.groupBy("v").agg(F.min("id").alias("label"))
    return checkpoint(joined.join(comp_min, "v").select("id", "label"))


def _string_coded_labels(cur: DataFrame, n_part: int, rounds: int,
                         max_iter: int = 25,
                         final_collapse: str = "serial") -> DataFrame:
    """Exact string-coded contraction (the pre-hash-coding path); only
    runs when the 64-bit injectivity check fails."""
    return (
        _contract(cur, _uf_stars, _STAR_SCHEMA, n_part, rounds,
                  max_iter, final_collapse)
        .select(F.col("u").alias("id"), F.col("v").alias("label"))
    )
