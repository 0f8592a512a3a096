"""Deduplication operators for a web-scale training-data pipeline.

Five strategies over a `documents(doc_id, text, ...)` table, each a
DataFrame -> DataFrame function designed for 100 TB inputs:

  exact        hash-groupBy on a canonical md5 fingerprint (one shuffle
               on the hash key; map-side partial agg free from Catalyst)
  ngram        token n-gram Jaccard via an inverted-index equi-join —
               never all-pairs
  minhash      banded MinHash blocking (r=2 JVM-side minhashes, the
               linking.py:104-112 analysis) + exact Jaccard rescore of
               candidates — the sub-quadratic scale path
  simhash      60-bit sign-sum sketch from md5 shingle hashes; near-dups
               collide on band keys (6 x 10-bit bands, catching ALL
               pairs at Hamming distance <= 5 by pigeonhole)
  embedding    exact all-pairs cosine as a distributed block-pair GEMM
               — no driver collect, work spread evenly over B(B+1)/2
               block pairs

Output contracts carry exact integers (intersection/union sizes), not
float ratios, so the DuckDB oracles hash identically.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from askg_spark.session import operator_scope, persist
from askg_spark.textops import fingerprints, ngrams_from_tokens, tokens

# word n-gram (shingle) size of the near-duplicate paths
GRAM = 3


# ---------------------------------------------------------------- exact

def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """Groups of byte-identical (modulo case/whitespace) documents:
    -> (fingerprint, n_docs, canonical_doc_id=min, doc_ids sorted).
    Only groups with >1 member — the dedup worklist."""
    fp = fingerprints(df)
    return (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("canonical_doc_id"),
             F.array_sort(F.collect_list("doc_id")).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the min doc_id per fingerprint (deterministic survivor)."""
    fp = fingerprints(df).groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"))
    return df.join(fp.select("doc_id"), "doc_id", "left_semi")


# ---------------------------------------------------------------- n-grams

def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Near-duplicate pairs by exact word-3-gram Jaccard >= threshold.

    Inverted-index plan: explode grams -> self equi-join on gram ->
    per-pair intersection count -> join per-doc set sizes. Shuffles on
    (gram) then (pair) — linear in posting-list mass, never |docs|².
    """
    g = (df.select("doc_id", tokens(F.col("text")).alias("toks"))
         .select("doc_id", F.explode(ngrams_from_tokens(F.col("toks"), GRAM))
                 .alias("gram")))
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    # posting lists join on 8-byte xxhash64 gram keys, not strings —
    # same trade as the minhash path (LSH band keys): the gram shuffle
    # is the dominant byte volume at web scale, and a 64-bit collision
    # only adds one spurious common-gram count (P ~ m^2/2^64)
    g = g.select("doc_id", F.xxhash64("gram").alias("gram"))
    a = g.select(F.col("doc_id").alias("doc_a"), "gram")
    b = g.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_grams").alias("n_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_common"))
        .filter(F.col("n_common") >= F.lit(threshold) * F.col("n_union"))
        .select("doc_a", "doc_b", "n_common", "n_union")
    )


def duplicate_span_stats(df: DataFrame, w: int = 15) -> DataFrame:
    """Exact duplicate-SUBSTRING coverage per document — the windowed
    formulation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    token position is "duplicated text" iff it is covered by some
    length-``w`` token window whose exact text occurs more than once
    in the corpus (cross-document OR self-repetition).

    -> (doc_id, n_tokens, n_windows, n_dup_windows, dup_tokens), all
    exact integers; ``dup_tokens`` is the length of the UNION of the
    duplicated windows' spans (interval merge), i.e. how many tokens
    a remove-duplicated-spans pass would cut.

    Plan (100 TB posture):
      * one projection builds the stride-1 window array per doc
        (struct<i, h=xxhash64(window text)>) and explodes it WITHOUT
        carrying the token array — only (doc_id, i, h) rows shuffle,
        8-byte keys, same hash-vs-string trade as the n-gram index
        (collision adds one spurious dup window at P ~ m²/2⁶⁴);
      * duplicate-window detection is one groupBy(h) with map-side
        partial counts, then a left_semi back-join on the same key —
        AQE reuses the co-partitioning;
      * interval union is a per-doc sort (lead over doc_id/i): for
        fixed-length intervals sorted by start, covered =
        Σ min(w, next_start - start) with w for the last — no
        collect, no per-doc Python.
    """
    t = (df.select("doc_id", tokens(F.col("text")).alias("toks"))
         .select("doc_id", F.col("toks"),
                 F.size("toks").cast("long").alias("n_tokens")))
    wins_arr = F.when(
        F.col("n_tokens") >= w,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - (w - 1)),
            lambda i: F.struct(
                i.cast("long").alias("i"),
                F.xxhash64(F.concat_ws(" ", F.slice(F.col("toks"), i, w)))
                 .alias("h")),
        )
    ).otherwise(F.array().cast("array<struct<i:long,h:long>>"))
    wins = (t.select("doc_id", F.explode(wins_arr).alias("win"))
            .select("doc_id", F.col("win.i").alias("i"),
                    F.col("win.h").alias("h")))
    counts = wins.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    dup_keys = counts.filter(F.col("n_occ") > 1)
    hit = wins.join(dup_keys.select("h"), "h", "left_semi")
    nxt = F.lead("i").over(
        Window.partitionBy("doc_id").orderBy("i"))
    cov = (hit.select("doc_id", "i", nxt.alias("nxt"))
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_dup_windows"),
                F.sum(F.least(F.lit(w).cast("long"),
                              F.coalesce(F.col("nxt") - F.col("i"),
                                         F.lit(w).cast("long"))))
                 .alias("dup_tokens")))
    base = t.select(
        "doc_id", "n_tokens",
        F.greatest(F.col("n_tokens") - (w - 1), F.lit(0).cast("long"))
         .alias("n_windows"))
    return (base.join(cov, "doc_id", "left")
            .select("doc_id", "n_tokens", "n_windows",
                    F.coalesce("n_dup_windows", F.lit(0).cast("long"))
                     .alias("n_dup_windows"),
                    F.coalesce("dup_tokens", F.lit(0).cast("long"))
                     .alias("dup_tokens")))


def incremental_dedup_flags(base: DataFrame, inc: DataFrame) -> DataFrame:
    """Incremental-crawl dedup: flag each INCREMENT document against
    an existing BASE corpus — the shape every rolling web pipeline
    runs per snapshot (dedup the new crawl against the index, never
    re-pair the base against itself).

    -> (doc_id, exact_dup, n_near_dups) per increment doc:
       exact_dup   1 iff the doc's canonical fingerprint already
                   exists in base (0/1 BIGINT),
       n_near_dups how many base docs share word-3-gram Jaccard >=
                   0.5 with it.

    Plan: the exact arm is a left_semi of increment fingerprints
    against the base fingerprint dimension (one shuffle on the hash —
    at scale the base side is a bucketed fingerprint index, so only
    the increment shuffles). The near arm is the asymmetric variant
    of ngram_jaccard_pairs' inverted index: increment grams equi-join
    base grams on the xxhash64 gram key, so join work is proportional
    to the INCREMENT's posting mass, not the corpus product."""
    fp_base = fingerprints(base).select("fingerprint").distinct()
    fp_inc = fingerprints(inc)
    exact = (fp_inc.join(fp_base, "fingerprint", "left_semi")
             .select("doc_id", F.lit(1).cast("long").alias("exact_dup")))

    def grams_of(df: DataFrame) -> DataFrame:
        return (df.select("doc_id", tokens(F.col("text")).alias("toks"))
                .select("doc_id",
                        F.explode(ngrams_from_tokens(F.col("toks"), GRAM))
                        .alias("gram"))
                .select("doc_id", F.xxhash64("gram").alias("gram")))

    gb, gi = grams_of(base), grams_of(inc)
    sizes_b = gb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_b"))
    sizes_i = gi.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_i"))
    inter = (gi.withColumnRenamed("doc_id", "inc_id")
             .join(gb.withColumnRenamed("doc_id", "base_id"), "gram")
             .groupBy("inc_id", "base_id")
             .agg(F.count(F.lit(1)).alias("n_common")))
    near = (inter
            .join(sizes_i.withColumnRenamed("doc_id", "inc_id"), "inc_id")
            .join(sizes_b.withColumnRenamed("doc_id", "base_id"), "base_id")
            .filter(F.col("n_common") >= F.lit(0.5) *
                    (F.col("n_i") + F.col("n_b") - F.col("n_common")))
            .groupBy("inc_id")
            .agg(F.count(F.lit(1)).alias("n_near_dups"))
            .withColumnRenamed("inc_id", "doc_id"))
    return (inc.select("doc_id")
            .join(exact, "doc_id", "left")
            .join(near, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("exact_dup", F.lit(0).cast("long"))
                     .alias("exact_dup"),
                    F.coalesce("n_near_dups", F.lit(0).cast("long"))
                     .alias("n_near_dups")))


def contamination_check(train: DataFrame, eval_df: DataFrame,
                        n: int = 4) -> DataFrame:
    """Benchmark-contamination scan: which training documents share
    word n-grams with an evaluation/benchmark set?
    -> (train_doc_id, eval_doc_id, n_shared_grams) for every
    contaminated (train, eval) pair.

    The standard decontamination step of an LLM training pipeline
    (n-gram overlap against held-out benchmarks, cf. GPT-3 appx C /
    Dolma): inverted-index equi-join on distinct gram keys — the eval
    side is tiny (benchmarks are thousands of docs, the corpus is
    billions), so after the gram explode the join broadcasts the eval
    posting list; the train side streams through map-side. Never
    all-pairs, never a corpus-wide shuffle beyond the gram explode.

    Gram keys are xxhash64 (8-byte) like :func:`ngram_jaccard_pairs`;
    a 64-bit collision adds one spurious shared-gram count with
    P ~ m^2/2^64. Both frames need (doc_id, text)."""
    def grams_of(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(F.col("doc_id").alias(out_id),
                      tokens(F.col("text")).alias("toks"))
            .filter(F.size("toks") >= n)
            .select(out_id,
                    F.explode(ngrams_from_tokens(F.col("toks"), n))
                    .alias("gram"))
            .select(out_id, F.xxhash64("gram").alias("gram"))
        )

    tg = grams_of(train, "train_doc_id")
    eg = grams_of(eval_df, "eval_doc_id")
    return (
        tg.join(F.broadcast(eg), "gram")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


# ---------------------------------------------------------------- clusters

def near_dup_clusters(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Transitive near-duplicate clusters -> (doc_id, cluster_id).

    Connected components over the union of exact-fingerprint edges
    (doc -> min doc of its fingerprint group) and word-3-gram Jaccard >=
    threshold edges — the canonical "collapse each near-dup family to
    one survivor" step after pairwise detection: pairwise output alone
    under-merges chains (A~B, B~C but A!~C), exactly the greedy-merge
    gap documented in cc.py. cluster_id is the numeric-min doc_id of
    the component (deterministic); singletons map to themselves.

    Scale: both edge generators are the sub-quadratic plans above; the
    CC contraction shuffles one 16-byte row per edge endpoint
    (cc.py). doc_ids ride as zero-padded fixed-width strings so the CC
    module's lexicographic-min component label IS the numeric min.
    The result reads the CC label checkpoint, which is the caller's to
    release with ``session.release``."""
    from askg_spark.cc import connected_components

    def enc(c: Column) -> Column:
        return F.lpad(c.cast("string"), 20, "0")

    ng = ngram_jaccard_pairs(df, threshold=threshold)
    fp = fingerprints(df)
    fp_min = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("canon"))
    fp_edges = (
        fp.join(fp_min, "fingerprint")
        .filter(F.col("doc_id") != F.col("canon"))
        .select(enc(F.col("doc_id")).alias("src"),
                enc(F.col("canon")).alias("dst"))
    )
    edges = ng.select(enc(F.col("doc_a")).alias("src"),
                      enc(F.col("doc_b")).alias("dst")) \
        .unionByName(fp_edges)
    verts = df.select(enc(F.col("doc_id")).alias("id"))
    comp = connected_components(edges, verts)
    return comp.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"))


# ---------------------------------------------------------------- minhash

@operator_scope
def minhash_pairs(df: DataFrame) -> DataFrame:
    """Banded MinHash blocking + exact Jaccard rescore on hashed gram
    sets — entirely JVM-side column expressions, no MLlib.

    Round-2 rewrite: the round-1 `approxSimilarityJoin` (r=1 banding,
    single-hash tables) spent 110s at sf0.1 in hot-bucket quadratic
    stragglers — the exact failure mode analyzed for names in
    linking.py:104-112. Banding r=2 squares the background collision
    rate; with b=16 bands the recall at the corpus's measured planted
    separation (J >= 0.8, see BENCH.md) is 1-(1-0.64)^16 ~ 1-8e-8,
    while background pairs (J well under 0.3 — the 0.35..0.5 band is
    EMPTY in the testdata) almost never collide. The reported pair set
    is exact Jaccard >= 0.5 on xxhash64-hashed distinct word-3-gram
    sets (collision error ~|grams|/2^64, negligible)."""
    # filter on token count, not size(grams) > 0 (equivalent: grams is
    # empty iff < GRAM tokens): Catalyst pushes a grams-based predicate
    # below the token projection, re-inlining the whole gram expression
    # into the filter — measured 8.8s of pure re-evaluation at sf0.1
    base = (
        df.select("doc_id", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= GRAM)
        .select("doc_id",
                ngrams_from_tokens(F.col("toks"), GRAM).alias("grams"))
        .select("doc_id",
                F.array_distinct(F.transform(
                    "grams", lambda g: F.xxhash64(g))).alias("hg"))
    )
    # The gram-hash frame feeds THREE subtrees (the band explode and
    # both sides of the rescore join, which repartition on different
    # keys so exchange reuse can't kick in) — without a persist the
    # tokenize+hash work runs 3x. Same pattern (and eager-materialize
    # rationale) as linking._lsh_pair_ids; the frame is doc_id + one
    # long array ~ tokens/doc, bounded at any corpus size. The pairs
    # read it and the band cache below: both are the caller's.
    base = persist(base, StorageLevel.MEMORY_AND_DISK)
    base.count()
    mh = F.array(*[
        F.array_min(F.transform("hg", lambda h: F.xxhash64(F.lit(j), h)))
        for j in range(32)
    ])
    # long band keys (xxhash64 over the band's minhashes) — same
    # rationale as linking._lsh_pair_ids: string-keyed self-joins
    # dominate JVM CPU; a band hash collision only adds a candidate
    # pair that the exact-Jaccard rescore rejects.
    bands = base.withColumn("_mh", mh).select(
        "doc_id",
        F.explode(F.array(*[
            F.xxhash64(F.lit(i), F.element_at("_mh", 2 * i + 1),
                       F.element_at("_mh", 2 * i + 2))
            for i in range(16)
        ])).alias("band"),
    )
    # Both sides of the band self-join re-evaluate the 32-hash minhash
    # transform; cache it eagerly — two longs per (doc, band) row.
    bands = persist(bands, StorageLevel.MEMORY_AND_DISK)
    bands.count()
    a = bands.select(F.col("doc_id").alias("doc_a"), "band")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band")
    cands = (
        a.join(b, "band")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").dropDuplicates()
    )
    ga = base.select(F.col("doc_id").alias("doc_a"), F.col("hg").alias("hg_a"))
    gb = base.select(F.col("doc_id").alias("doc_b"), F.col("hg").alias("hg_b"))
    return (
        cands.join(ga, "doc_a").join(gb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("hg_a", "hg_b")))
        .withColumn("n_union",
                    F.size("hg_a") + F.size("hg_b") - F.col("n_common"))
        .filter(F.col("n_common") >= F.lit(0.5) * F.col("n_union"))
        .select("doc_a", "doc_b")
    )


# ---------------------------------------------------------------- simhash

SIMHASH_BITS = 60


def simhash_sketches(df: DataFrame) -> DataFrame:
    """-> (doc_id, simhash): 60-bit sign-sum sketch over DISTINCT word
    3-gram shingles; shingle hash = first 60 bits of md5 (stable across
    engines and platforms — no JVM/Python hash seeding).

    Shingles, not unigrams: on corpora sharing a vocabulary, distinct
    token SETS are near-identical across unrelated docs — word order is
    what distinguishes them, and n-grams carry it (Charikar simhash is
    conventionally computed over shingle features for exactly this
    reason).

    Arrow-batched pandas UDF by design: the per-bit vote loop is a dense
    numpy popcount-style kernel; as a Column expression it would expand
    to a 60-term aggregate tree with the md5 re-evaluated per bit."""
    import numpy as np
    import pandas as pd
    from hashlib import md5 as _md5
    from pyspark.sql.types import LongType, StructField, StructType

    def run(batches):
        masks = (np.uint64(1) << np.arange(SIMHASH_BITS, dtype=np.uint64))
        for pdf in batches:
            out_ids, out_sh = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ws = (text or "").split()
                toks = {" ".join(ws[i:i + GRAM])
                        for i in range(len(ws) - GRAM + 1)}
                if not toks:
                    out_ids.append(doc_id); out_sh.append(0)
                    continue
                hs = np.array(
                    [int(_md5(t.encode()).hexdigest()[:15], 16)
                     for t in toks], dtype=np.uint64)
                votes = ((hs[:, None] & masks) != 0).sum(axis=0) * 2 \
                    - len(hs)
                sketch = int(masks[votes > 0].sum())
                out_ids.append(doc_id); out_sh.append(sketch)
            yield pd.DataFrame({"doc_id": out_ids, "simhash": out_sh})

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("simhash", LongType())])
    return df.select("doc_id", "text").mapInPandas(run, schema=schema)


def simhash_pairs(df: DataFrame) -> DataFrame:
    """Near-dup pairs by simhash banding: 6 bands of 10 bits; pairs
    agreeing on >=1 band are candidates (catches ALL pairs with
    Hamming distance <= 5 by pigeonhole), then exact Hamming filter."""
    sh = simhash_sketches(df)
    bands = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(i), F.shiftright("simhash", i * 10)
                        .bitwiseAND(F.lit((1 << 10) - 1)))
            for i in range(SIMHASH_BITS // 10)
        ])).alias("band"),
    )
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col("simhash").alias("sh_a"), "band")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("simhash").alias("sh_b"), "band")
    cands = (
        a.join(b, "band").filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b").dropDuplicates()
    )
    return (
        cands.withColumn("hamming", F.bit_count(
            F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 5)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------- embeddings

def embedding_dup_pairs(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Pairs with cosine >= threshold over `embedding: array<float>`.

    EXACT all-pairs cosine as a distributed block-pair GEMM (round-2
    rewrite of the driver-collect + broadcast plan):

      * each vector lands in ONE of B = 32 hash blocks; a block
        is one row holding (ids, vectors) arrays
      * block pairs (bi <= bj) come from a self non-equi join of the
        B-row block frame — B(B+1)/2 rows, broadcast-nested-loop on a
        frame of B rows, no corpus shuffle beyond the block groupBy
      * each block-pair row runs one dense numpy GEMM and emits only
        qualifying (vec_a < vec_b) pairs

    No `.collect()` anywhere: the corpus never touches the driver, and
    the O(n²) dot-product work — inherent to the EXACT threshold
    semantics — is spread evenly over B(B+1)/2 independent tasks; a
    block pair fits a task while B ~ sqrt(n·d·8 bytes / 32 MB).

    Why not hyperplane-LSH banding here (measured, BENCH.md): the
    corpus's qualifying pairs sit in a continuum right at the 0.4
    threshold (no margin), where sign-LSH either misses border pairs or
    degenerates to all-pairs — banding is the right tool for the
    *top-k* regime (simsearch.lsh_topk) and for high thresholds, not
    for an exact low-threshold contract."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    blocks = (
        emb.select(
            F.pmod(F.xxhash64("vec_id"), F.lit(32)).cast("int")
            .alias("blk"),
            "vec_id", "embedding")
        .groupBy("blk")
        .agg(F.collect_list("vec_id").alias("ids"),
             F.collect_list("embedding").alias("vecs"))
    )
    a = blocks.select(F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"),
                      F.col("vecs").alias("vecs_a"))
    b = blocks.select(F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"),
                      F.col("vecs").alias("vecs_b"))
    joined = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    def run(batches):
        def mat_of(vecs):
            m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            return m / np.linalg.norm(m, axis=1, keepdims=True)

        for pdf in batches:
            out_a, out_b = [], []
            for r in pdf.itertuples(index=False):
                ia = np.asarray(list(r.ids_a), dtype=np.int64)
                ib = np.asarray(list(r.ids_b), dtype=np.int64)
                sims = mat_of(r.vecs_a) @ mat_of(r.vecs_b).T
                xi, yi = np.nonzero(sims >= threshold)
                pa, pb = ia[xi], ib[yi]
                keep = pa != pb
                lo = np.minimum(pa[keep], pb[keep])
                hi = np.maximum(pa[keep], pb[keep])
                if r.blk_a == r.blk_b:
                    # same list on both sides: each unordered pair
                    # appears twice ((i,j) and (j,i)) — keep one
                    keep2 = pa[keep] < pb[keep]
                    lo, hi = lo[keep2], hi[keep2]
                out_a.append(lo); out_b.append(hi)
            yield pd.DataFrame({
                "vec_a": np.concatenate(out_a) if out_a else
                np.array([], dtype=np.int64),
                "vec_b": np.concatenate(out_b) if out_b else
                np.array([], dtype=np.int64)})

    schema = StructType([StructField("vec_a", LongType()),
                         StructField("vec_b", LongType())])
    return joined.mapInPandas(run, schema=schema)
