"""Typed relationship derivation between canonical entities.

The reference infers 0-4 edges per *all-pairs* nested loop
(/root/reference/src/neo4j_integration.py:552-631). Pairwise semantics
are reproduced exactly, but pair *generation* is decomposed into
salted equi-joins so it scales (SURVEY §2.3 J7):

  same_author            self-join on author        (confidence 1.0)
  similar_functionality  self-join on exploded category; confidence
                         |∩cats| / max(|c1|,|c2|)
  complementary          pairs with >= 2 common operations, conf
                         |∩ops| / max(|ops1|,|ops2|) * 0.8
  alternative_to         same implementation_language AND >=1 common
                         category, conf 0.6

Pair orientation is normalized to id_lo < id_hi (the reference uses
input list order, which does not exist distributed; triples are compared
on normalized (subj, pred, obj) keys per the north rule).

Scale design (round-2 rewrite of the round-1 struct-join):
  * NARROW pair generation: the self-joins carry only (key, id) — the
    round-1 version shuffled full entity structs (arrays, descriptions)
    through the quadratic join and dropDuplicates; at 54M pairs that is
    the difference between a few GB and tens of GB of shuffle.
  * The exploded-key join only DISCOVERS pairs (narrow dropDuplicates
    on the two id columns); the common-element sets come from a
    post-join array_intersect of the per-entity attribute arrays
    (attached via the dims join) — no collect_list inside the 10^7-row
    shuffle aggregation, and reference-exact sets even when the skew
    cap truncates pair generation.
  * SALTED self-join: the category/operation domains are small (11 and
    8 values), so pair generation for a hot key lands on ONE reducer —
    2 of 32 cores did all the quadratic work in round 1. Each left row
    gets salt s = hash(id) % N_SALT; the right side is replicated to
    every salt; the join key is (key, salt), giving N_SALT-way
    parallelism per hot key while every unordered pair still meets
    exactly once (at the left member's salt). Replication cost is
    N_SALT x the small keyed frame, paid before the quadratic blowup.
  * Per-entity attributes needed for confidence (|cats|, |ops|, lang,
    author) are attached AFTER aggregation via a narrow dims join
    (AQE broadcasts it at any realistic entity count).
  * INTEGER pair keys: the quadratic join, its src<dst filter and the
    pair dropDuplicates all run on idx = xxhash64(id) longs (8 bytes)
    instead of the ~40-char global-id strings — ~10x less shuffle
    volume and cheaper hashing in exactly the stages that carry the
    O(n²) row count. String ids enter only in the final projection via
    the dims join, re-oriented to subj=min(id), obj=max(id) (all four
    relationship payloads are symmetric, so orientation by string id
    after integer-keyed generation is exact). Collision bound: two
    entities sharing an idx would miss/fan out one pair; P(any
    collision among n entities) ~ n^2/2^65 — 2.7e-12 at 10^4, 2.7e-4
    at 10^8 — and is an anomaly on one pair, not global corruption.

Skew policy (explicit, logged): `max_entities_per_key` additionally
caps each key's contribution to its top-M entities by (popularity
DESC, id ASC) before pairing — a documented, deterministic truncation
for web scale (None disables it; fixture tests run uncapped).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

log = logging.getLogger(__name__)

N_SALT = 32


def _capped(df: DataFrame, key_col: str, max_per_key: int | None) -> DataFrame:
    if max_per_key is None:
        return df
    from pyspark.sql import Window
    w = Window.partitionBy(key_col).orderBy(
        F.desc_nulls_last("popularity_score"), F.asc("id"))
    out = (df.withColumn("_rk", F.row_number().over(w))
             .filter(F.col("_rk") <= max_per_key).drop("_rk"))
    log.info("relations: capped key %s to top-%d entities by popularity",
             key_col, max_per_key)
    return out


def _salted_pairs(keyed: DataFrame, key: str) -> DataFrame:
    """keyed(key, idx) self-join -> (ia, ib, key) with ia < ib (longs).

    Left side salted by idx, right side replicated across all salts;
    every unordered pair within a key meets exactly once, on N_SALT
    reducers per key instead of one."""
    a = keyed.select(
        F.col(key).alias("_k"),
        F.pmod(F.col("idx"), F.lit(N_SALT)).cast("int").alias("_s"),
        F.col("idx").alias("ia"))
    b = keyed.select(
        F.col(key).alias("_k"), F.col("idx").alias("ib")) \
        .withColumn("_s", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))))
    return (
        a.join(b, ["_k", "_s"])
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", F.col("_k").alias(key))
    )


def infer_relationship_edges(
    entities: DataFrame, max_entities_per_key: int | None = None,
) -> DataFrame:
    """-> edges(src, dst, rel_type, confidence, description, evidence)."""
    ent = entities.select(
        "id", "author", "categories", "operations",
        "implementation_language", "popularity_score",
    ).withColumn("idx", F.xxhash64("id"))
    # narrow per-entity attributes, joined back AFTER pair aggregation;
    # the category/operation ARRAYS ride along so the common-element
    # set is a post-join array_intersect instead of a collect_list in
    # the 10^7-row shuffle aggregation (and stays reference-exact when
    # the skew cap truncates pair GENERATION: the reference intersects
    # full attribute sets, not capped ones)
    dims = ent.select(
        "idx", "id", "categories", "operations",
        F.col("implementation_language").alias("lang"))
    dims_a = dims.select(F.col("idx").alias("ia"), F.col("id").alias("id_a"),
                         F.col("categories").alias("cats_a"),
                         F.col("operations").alias("ops_a"),
                         F.col("lang").alias("lang_a"))
    dims_b = dims.select(F.col("idx").alias("ib"), F.col("id").alias("id_b"),
                         F.col("categories").alias("cats_b"),
                         F.col("operations").alias("ops_b"),
                         F.col("lang").alias("lang_b"))
    # symmetric payloads -> re-orient pairs by STRING id after the
    # integer-keyed generation (reference orientation: id_lo < id_hi)
    src_col = F.least("id_a", "id_b").alias("src")
    dst_col = F.greatest("id_a", "id_b").alias("dst")
    ids_a = dims.select(F.col("idx").alias("ia"), F.col("id").alias("id_a"))
    ids_b = dims.select(F.col("idx").alias("ib"), F.col("id").alias("id_b"))
    pair_width = (entities.sparkSession.sparkContext.defaultParallelism
                  * 4)

    # same_author: equi-join on exact author (neo4j_integration.py:571-582)
    by_author = _capped(
        ent.filter(F.col("author").isNotNull() & (F.col("author") != ""))
        .select("author", "idx", "id", "popularity_score"),
        "author", max_entities_per_key)
    same_author = (
        _salted_pairs(by_author, "author")
        # author rides through the repartition (it feeds the payload
        # strings); same explicit-width rebalance as the cat/op
        # branches — without it the payload compute inherits the
        # salted join's AQE-coalesced width and one straggler wave
        # bounds the branch
        .repartition(pair_width, "ia", "ib")
        .join(ids_a, "ia").join(ids_b, "ib")
        .select(
            src_col, dst_col,
            F.lit("same_author").alias("rel_type"),
            F.lit(1.0).alias("confidence"),
            F.concat(F.lit("Both servers created by "), F.col("author")
                     ).alias("description"),
            F.array(F.concat(F.lit("Author: "), F.col("author"))
                    ).alias("evidence"),
        )
    )

    # category-pair base: the exploded-key join DISCOVERS pairs sharing
    # >= 1 category (dropDuplicates on the narrow pair keys only); the
    # common set itself comes from the post-join array_intersect
    cat_keyed = _capped(
        ent.select("idx", "id", "popularity_score",
                   F.explode("categories").alias("category")),
        "category", max_entities_per_key)
    # Explicit-width repartition of the narrow pair ids before the
    # payload joins: AQE coalesces the dedup exchange by BYTES, and a
    # few hundred MB of 16-byte pairs collapse to ~1 task wave — but
    # the downstream work per pair (dims joins, array_intersect,
    # payload concat, explode) is ~30us/row of CPU, so one wave means
    # the whole relation materialization is bound by its slowest task
    # (measured: 17 tasks, 429 CPU-s, 49s wall at local[16]/100k
    # pages). A user-specified partition count is exempt from AQE
    # coalescing; 4 waves bound the straggler tail at ~25% of the
    # stage. The extra shuffle moves only the narrow pairs.
    cat_pairs = (
        _salted_pairs(cat_keyed, "category")
        .select("ia", "ib").dropDuplicates()
        .repartition(pair_width, "ia", "ib")
        .join(dims_a, "ia").join(dims_b, "ib")
        .withColumn("common_cats",
                    F.array_sort(F.array_intersect("cats_a", "cats_b")))
        .withColumn("n_common", F.size("common_cats"))
        .withColumn("n_cats_a", F.size("cats_a"))
        .withColumn("n_cats_b", F.size("cats_b"))
    )

    # similar_functionality (neo4j_integration.py:584-597) and
    # alternative_to (same language + common categories,
    # neo4j_integration.py:615-628) both derive from cat_pairs; emit
    # them in ONE pass so the quadratic base is not recomputed per
    # union branch. The explode carries ONLY the rel_type string — the
    # payload expressions are built in the codegen'd select AFTER the
    # generator (heavy expressions inside a Generate's struct payload
    # run interpreted per output row: measured 115s -> 10s at 8.2M
    # rows for this exact branch).
    is_sim = F.col("rel_type") == "similar_functionality"
    cat_rels = cat_pairs.select(
        "id_a", "id_b", "common_cats", "n_common",
        "n_cats_a", "n_cats_b", "lang_a",
        F.explode(F.concat(
            F.array(F.lit("similar_functionality")),
            F.when(F.col("lang_a").isNotNull()
                   & (F.col("lang_a") == F.col("lang_b")),
                   F.array(F.lit("alternative_to")))
            .otherwise(F.array().cast("array<string>")),
        )).alias("rel_type"),
    ).select(
        src_col, dst_col, "rel_type",
        F.when(is_sim, (F.col("n_common")
                        / F.greatest("n_cats_a", "n_cats_b")).cast("double"))
        .otherwise(F.lit(0.6)).alias("confidence"),
        F.when(is_sim, F.concat(F.lit("Share "), F.col("n_common"),
                                F.lit(" common categories")))
        .otherwise(F.concat(F.lit("Alternative implementations in "),
                            F.col("lang_a"))).alias("description"),
        F.when(is_sim, F.array(F.concat(F.lit("Common categories: "),
                                        F.array_join("common_cats", ", "))))
        .otherwise(F.array(
            F.concat(F.lit("Same language: "), F.col("lang_a")),
            F.lit("Similar categories"))).alias("evidence"),
    )

    # complementary: >= 2 common operations (neo4j_integration.py:599-612).
    # Ops live in a tiny 8-value domain, so pair generation via the
    # category/author joins would miss op-only pairs; explode ops
    # instead. EXACT prefilter: a pair can only have >= 2 common ops if
    # BOTH sides hold >= 2 ops — on corpora of single-op entities (the
    # default ["read"]) this drops the op self-join from |n|² rows to
    # zero before any shuffle happens.
    op_keyed = _capped(
        ent.filter(F.size("operations") >= 2)
        .select("idx", "id", "popularity_score",
                F.explode("operations").alias("op")),
        "op", max_entities_per_key)
    op_pairs = (
        _salted_pairs(op_keyed, "op")
        .select("ia", "ib").dropDuplicates()
        .repartition(pair_width, "ia", "ib")
        .join(dims_a.select("ia", "id_a", "ops_a"), "ia")
        .join(dims_b.select("ib", "id_b", "ops_b"), "ib")
        .withColumn("common_ops",
                    F.array_sort(F.array_intersect("ops_a", "ops_b")))
        .withColumn("n_common", F.size("common_ops"))
    )
    complementary = op_pairs.filter(F.col("n_common") >= 2).select(
        src_col, dst_col,
        F.lit("complementary").alias("rel_type"),
        (F.col("n_common") / F.greatest(F.size("ops_a"), F.size("ops_b"))
         * 0.8).cast("double").alias("confidence"),
        F.concat(F.lit("Share "), F.col("n_common"),
                 F.lit(" common operations")).alias("description"),
        F.array(F.concat(F.lit("Common operations: "),
                         F.array_join("common_ops", ", "))).alias("evidence"),
    )

    return (
        same_author.unionByName(cat_rels)
        .unionByName(complementary)
    )
