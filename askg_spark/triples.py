"""Triple emission + normalization + dedup (north_rule).

Attribute triples come from canonical entities, relationship triples
from the inferred edge set. Dedup is a shuffle-on-key distinct over
normalized (subj, pred, obj) — Catalyst plans this as hash/sort
aggregate on exactly those keys, the sort-merge semantics the north
rule asks for. Predicates follow FIXTURES.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def attribute_triples(entities: DataFrame) -> DataFrame:
    """HAS_CATEGORY / HAS_OPERATION / HAS_TOOL / AUTHORED_BY per entity."""
    cats = entities.select(
        F.col("id").alias("subj"),
        F.lit("HAS_CATEGORY").alias("pred"),
        F.explode("categories").alias("obj"),
        F.lit(1.0).alias("confidence"),
        F.array(F.lit("classifier: keyword mention detection")).alias("evidence"),
    )
    ops = entities.select(
        F.col("id").alias("subj"),
        F.lit("HAS_OPERATION").alias("pred"),
        F.explode("operations").alias("obj"),
        F.lit(1.0).alias("confidence"),
        F.array(F.lit("classifier: tool-name operation detection")).alias("evidence"),
    )
    tools = entities.filter(F.col("tools").isNotNull()).select(
        F.col("id").alias("subj"),
        F.lit("HAS_TOOL").alias("pred"),
        F.explode(F.transform("tools", lambda t: t["name"])).alias("obj"),
        F.lit(1.0).alias("confidence"),
        F.array(F.lit("extracted tool")).alias("evidence"),
    )
    # HAS_RESOURCE keyed by uri / HAS_PROMPT keyed by name
    # (neo4j_integration.py:269-292 MERGE (r:Resource {uri...}))
    resources = entities.filter(F.col("resources").isNotNull()).select(
        F.col("id").alias("subj"),
        F.lit("HAS_RESOURCE").alias("pred"),
        F.explode(F.transform("resources", lambda r: r["uri"])).alias("obj"),
        F.lit(1.0).alias("confidence"),
        F.array(F.lit("extracted resource")).alias("evidence"),
    )
    prompts = entities.filter(F.col("prompts").isNotNull()).select(
        F.col("id").alias("subj"),
        F.lit("HAS_PROMPT").alias("pred"),
        F.explode(F.transform("prompts", lambda p: p["name"])).alias("obj"),
        F.lit(1.0).alias("confidence"),
        F.array(F.lit("extracted prompt")).alias("evidence"),
    )
    authors = entities.filter(
        F.col("author").isNotNull() & (F.col("author") != "")
    ).select(
        F.col("id").alias("subj"),
        F.lit("AUTHORED_BY").alias("pred"),
        F.col("author").alias("obj"),
        F.lit(1.0).alias("confidence"),
        F.array(F.lit("extracted author")).alias("evidence"),
    )
    return (cats.unionByName(ops).unionByName(tools)
            .unionByName(resources).unionByName(prompts)
            .unionByName(authors))


def category_hierarchy_triples(spark) -> DataFrame:
    """S11 tail: (parent)-[:HAS_SUBCATEGORY]->(child) edges from the
    static ontology dimension (the schema slot neo4j_integration.py:
    294-338 MERGEs when parent_category_id is set; models.py:125-136).
    NOTE the reference's predefined list (main.py
    create_ontology_categories) sets NO parent ids, so its default
    build emits zero such edges — build_triples therefore includes
    this frame only behind an opt-in flag; the S11 driver query calls
    it directly. A LocalTableScan of <=12 rows, no scan/shuffle at any
    corpus scale."""
    from askg_spark.ontology import ontology_categories
    cats = ontology_categories(spark)
    return cats.filter(F.col("parent_category_id").isNotNull()).select(
        F.col("parent_category_id").alias("subj"),
        F.lit("HAS_SUBCATEGORY").alias("pred"),
        F.col("id").alias("obj"),
        F.lit(1.0).alias("confidence"),
        F.array(F.lit("static ontology hierarchy")).alias("evidence"),
    )


def relationship_triples(rel_edges: DataFrame) -> DataFrame:
    return rel_edges.select(
        F.col("src").alias("subj"),
        F.col("rel_type").alias("pred"),
        F.col("dst").alias("obj"),
        "confidence", "evidence",
    )


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Normalized-key dedup: one row per (subj, pred, obj), keeping the
    max-confidence payload deterministically."""
    return (
        triples
        .groupBy("subj", "pred", "obj")
        .agg(
            F.max("confidence").alias("confidence"),
            F.max_by("evidence", F.struct("confidence", "evidence")).alias("evidence"),
        )
    )


def build_triples(entities: DataFrame, rel_edges: DataFrame,
                  include_hierarchy: bool = False) -> DataFrame:
    """Union of attribute + relationship triples, distinct on
    (subj, pred, obj).

    Only the attribute branch (O(entities x attrs), tiny) runs through
    ``dedup_triples``. The relationship branch is UNIQUE on the triple
    key by construction — each relations.py branch either meets every
    unordered pair exactly once (salted self-join on a single-valued
    key) or dropDuplicates's the pair before emission, rel_types within
    a branch are distinct per pair, and rel_types across branches are
    disjoint — so pushing its 10^7+ rows through a payload-carrying
    groupBy would re-shuffle the dominant row count for a no-op
    (measured: the straggler-tail stage of the 54M-triple build).
    ``dedup_triples`` remains the standalone J+ dedup surface for triple
    sets without that guarantee.

    ``include_hierarchy`` (default OFF — parity with the reference,
    whose predefined categories carry no parent ids and therefore emit
    zero HAS_SUBCATEGORY edges) appends the static ontology hierarchy
    outside the dedup groupBy: its keys (category ids) are disjoint
    from entity-id subjects by construction."""
    out = (dedup_triples(attribute_triples(entities))
           .unionByName(relationship_triples(rel_edges)))
    if include_hierarchy:
        out = out.unionByName(
            category_hierarchy_triples(entities.sparkSession))
    return out


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """KG maintenance: diff two triple snapshots on the (subj, pred,
    obj) key -> (subj, pred, obj, change) with change in
    {'added', 'removed'}. Iceberg analog: a changelog scan between
    two snapshot ids.

    Plan: ONE exchange. Both sides are tagged and unioned, then a
    single groupBy on the key takes max of the presence flags
    (map-side partial agg collapses duplicate rows before the
    shuffle, so per-side distincts are unnecessary); rows present on
    only one side are the change set. The naive pair of left-anti
    joins costs four exchanges of the same data (each direction
    shuffles both sides) — measured 18.0 s -> 9.2 s on the 1.64M-
    triple sf0.1 frame for identical output."""
    key = ["subj", "pred", "obj"]
    tagged = (
        old.select(*key, F.lit(1).alias("_o"), F.lit(0).alias("_n"))
        .unionByName(
            new.select(*key, F.lit(0).alias("_o"), F.lit(1).alias("_n")))
    )
    agg = tagged.groupBy(*key).agg(
        F.max("_o").alias("_in_old"), F.max("_n").alias("_in_new"))
    return (agg.where(F.col("_in_old") != F.col("_in_new"))
            .select(*key,
                    F.when(F.col("_in_new") == 1, F.lit("added"))
                     .otherwise(F.lit("removed")).alias("change")))


# ----------------------------------------------------------- RDF export

#: N-Triples string-literal escapes (W3C N-Triples §2.3 ECHAR), applied
#: in order — backslash FIRST or later escapes would double-escape.
_NT_LITERAL_ESCAPES = [("\\", "\\\\"), ('"', '\\"'),
                       ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")]

#: IRI percent-encoding for the characters N-Triples forbids inside
#: <...> (§2.2 IRIREF: space, <>"{}|^` and backslash, plus the
#: C0 controls that survive upstream text normalization — TAB/LF/CR;
#: normalize_text strips the rest before ids are minted, documented
#: at nt_iri). '%' first so escapes don't get re-encoded.
_NT_IRI_ESCAPES = [("%", "%25"), (" ", "%20"), ("<", "%3C"), (">", "%3E"),
                   ('"', "%22"), ("{", "%7B"), ("}", "%7D"), ("|", "%7C"),
                   ("^", "%5E"), ("`", "%60"), ("\\", "%5C"),
                   ("\t", "%09"), ("\n", "%0A"), ("\r", "%0D")]


def _chain_replace(col: F.Column, pairs) -> F.Column:
    for old, new in pairs:
        col = F.replace(col, F.lit(old), F.lit(new))
    return col


def nt_literal(col: F.Column) -> F.Column:
    """An N-Triples quoted string literal, fully escaped."""
    return F.concat(F.lit('"'),
                    _chain_replace(col.cast("string"),
                                   _NT_LITERAL_ESCAPES),
                    F.lit('"'))


# namespace of every IRI the export mints
_BASE = "https://askg.example/kg/"


def nt_iri(col: F.Column) -> F.Column:
    """An IRIREF under ``_BASE`` with forbidden characters percent-encoded.

    Covers §2.2's printable forbidden set plus TAB/LF/CR; remaining
    C0 controls (%x00-%x08 etc.) are assumed already stripped by
    upstream text normalization (textops.normalize_text) — ids minted
    by this pipeline never contain them, and a bounded replace chain
    beats a per-row UDF for the 10^12-row export."""
    return F.concat(F.lit("<" + _BASE),
                    _chain_replace(col.cast("string"), _NT_IRI_ESCAPES),
                    F.lit(">"))


def to_ntriples(triples: DataFrame,
                object_is_iri: F.Column | None = None) -> DataFrame:
    """Serialize (subj, pred, obj) rows as N-Triples lines — the
    standard line-oriented RDF exchange format, so the materialized
    graph can leave Spark for any triple store without a custom
    loader (the reference ships its graph to Neo4j over bolt;
    neo4j_integration.py — this is the bulk-file equivalent surface).

    Pure Column expressions (two bounded replace chains + concat), so
    the export is a zero-shuffle map over however the triple frame is
    already partitioned — at 10^12-scale this is `to_ntriples(t)
    .write.text(...)` with one line per triple and no Python on the
    hot path.

    ``object_is_iri``: optional boolean Column; where true the object
    serializes as an IRI under ``_BASE`` (relationship edges), where
    false/absent as an escaped string literal (attribute values)."""
    obj = (nt_literal(F.col("obj")) if object_is_iri is None
           else F.when(object_is_iri, nt_iri(F.col("obj")))
                 .otherwise(nt_literal(F.col("obj"))))
    return triples.select(
        F.concat(nt_iri(F.col("subj")), F.lit(" "),
                 nt_iri(F.col("pred")), F.lit(" "),
                 obj, F.lit(" .")).alias("line"))


def negative_samples(triples: DataFrame) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training
    (TransE/DistMult-style corruption): for every (subj, pred, obj)
    triple emit one corrupted object drawn from the OTHER objects of
    the same predicate — within-relation corruption, the standard
    type-consistent strategy.

    -> (subj, pred, obj, neg_obj); neg_obj is NULL when the predicate
    has only one distinct object (no valid corruption exists).

    Determinism contract: the candidate rank is
    h = md5(subj|pred|obj)[:8 hex] mod n_objects(pred) — the same
    32-bit value in Spark (conv) and SQL ('0x' cast), no RNG — and a
    self-collision (candidate == obj) advances to (h+1) mod n. Both
    candidate ranks are joined in ONE pass (explode of <=2 ranks,
    equi-join on (pred, rank), keep the first non-colliding) so the
    corruption costs two narrow shuffles regardless of corpus size.

    Plan/skew: the distinct-object ranking is a per-predicate
    row_number window — parallel across predicates; a hot predicate
    (most triples share few preds) concentrates its rank window on
    one partition, the documented skew point: at 10^9+ objects per
    predicate the rank assignment moves to a range-partitioned sort +
    per-partition offset pass (two jobs), same contract."""
    from pyspark.sql import Window

    objs = (triples.select("pred", "obj").distinct()
            .withColumn("rank", F.row_number().over(
                Window.partitionBy("pred").orderBy("obj")) - 1))
    cnts = objs.groupBy("pred").agg(F.count(F.lit(1)).alias("n_obj"))
    h = F.conv(F.substring(
        F.md5(F.concat_ws("|", "subj", "pred", "obj")), 1, 8),
        16, 10).cast("long")
    base = (triples.select("subj", "pred", "obj")
            .join(cnts, "pred")
            .withColumn("h", F.pmod(h, F.col("n_obj"))))
    # posexplode keeps the candidate PRIORITY (0 = primary rank h,
    # 1 = fallback (h+1) mod n) separate from the rank value — the
    # fallback can be numerically smaller when h wraps, so priority,
    # not rank, decides which survivor wins
    cand = (base.select(
        "subj", "pred", "obj",
        F.posexplode(F.array(
            F.col("h"),
            F.pmod(F.col("h") + 1, F.col("n_obj"))))
        .alias("prio", "rank")))
    picked = (cand.join(objs.select("pred",
                                    F.col("obj").alias("cand_obj"),
                                    "rank"),
                        ["pred", "rank"])
              .filter(F.col("cand_obj") != F.col("obj"))
              .groupBy("subj", "pred", "obj")
              .agg(F.min_by("cand_obj", "prio").alias("neg_obj")))
    return (triples.select("subj", "pred", "obj")
            .join(picked, ["subj", "pred", "obj"], "left")
            .select("subj", "pred", "obj", "neg_obj"))
