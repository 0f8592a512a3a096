"""Scale policies: relation skew cap (top-M per hot key) and the
TF-IDF cosine candidate prune — both must be no-ops semantically on the
fixture (identical descriptions / uncapped) and take effect when armed."""
from __future__ import annotations

from pyspark.sql import functions as F

from askg_spark.enrich import enrich_mentions
from askg_spark.extract import extract_mentions
from askg_spark.fixtures import generate_pages
from askg_spark.linking import LinkConfig, description_idf, fuzzy_edges
from askg_spark.relations import infer_relationship_edges


def _entities(spark, n=10):
    """Tiny entity frame with one hot author and one hot category."""
    rows = []
    for i in range(n):
        rows.append((
            f"e{i:02d}",
            "hot-author" if i < 6 else f"solo-{i}",
            ["ai_ml"] if i < 8 else ["database"],
            ["read", "write"],
            "python",
            100 - i,
        ))
    return spark.createDataFrame(
        rows, "id string, author string, categories array<string>, "
              "operations array<string>, implementation_language string, "
              "popularity_score long")


def test_relation_skew_cap_bounds_hot_keys(spark):
    ents = _entities(spark)
    uncapped = infer_relationship_edges(ents, max_entities_per_key=None)
    capped = infer_relationship_edges(ents, max_entities_per_key=3)
    sa_un = uncapped.filter(F.col("rel_type") == "same_author").count()
    sa_cap = capped.filter(F.col("rel_type") == "same_author").count()
    assert sa_un == 15          # C(6,2) for the hot author
    assert sa_cap == 3          # C(3,2) after top-3 cap
    # capped keeps the top entities by (popularity desc, id) — e00..e02
    kept = {(r["src"], r["dst"]) for r in
            capped.filter(F.col("rel_type") == "same_author").collect()}
    assert kept == {("e00", "e01"), ("e00", "e02"), ("e01", "e02")}
    # similar_functionality: C(8,2) ai_ml + C(2,2) database = 29;
    # capped: C(3,2) + C(2,2) = 4
    assert uncapped.filter(
        F.col("rel_type") == "similar_functionality").count() == 29
    assert capped.filter(
        F.col("rel_type") == "similar_functionality").count() == 4


def test_tfidf_prune_preserves_fixture_decisions(spark):
    """Fixture duplicate pairs share (near-)identical descriptions, so
    an armed prune must not drop any accepted pair."""
    pages = generate_pages(spark, n_servers=16, seed=42)
    mentions, _ = extract_mentions(pages)
    e = enrich_mentions(mentions).persist()
    base = {(r["src"], r["dst"])
            for r in fuzzy_edges(e, LinkConfig()).collect()}
    idf, n_docs = description_idf(e)
    assert n_docs > 0 and len(idf) > 0
    pruned_cfg = LinkConfig(tfidf_prune=0.5)
    pruned = {(r["src"], r["dst"])
              for r in fuzzy_edges(e, pruned_cfg, idf).collect()}
    assert pruned == base
    # a prune above 1.0 kills every pair that has both descriptions
    killall = {(r["src"], r["dst"])
               for r in fuzzy_edges(e, LinkConfig(tfidf_prune=1.01),
                                    idf).collect()}
    assert len(killall) < len(base) or not base


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """catalog.write_bucketed: two tables bucketed on the same key and
    count must sort-merge-join with ZERO Exchange in the physical plan
    (the shuffle was paid at write time), and the join output must be
    correct."""
    from askg_spark.catalog import write_bucketed

    a = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 1000, 3).select(
        F.col("id"), (F.col("id") + 7).alias("vb"))
    write_bucketed(a, "bkt_a", "id", n_buckets=8,
                   path=str(tmp_path / "bkt_a"))
    write_bucketed(b, "bkt_b", "id", n_buckets=8,
                   path=str(tmp_path / "bkt_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # kill the broadcast fallback: tiny test tables would broadcast,
        # which disables the bucketed scan path we are asserting (at
        # 100 TB both sides are far past any broadcast threshold)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        rows = joined.collect()
        assert len(rows) == 334  # ids 0,3,...,999
        assert all(r["va"] == 2 * r["id"] and r["vb"] == r["id"] + 7
                   for r in rows)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_partition_pruning_pushdown_and_column_pruning(spark, tmp_path):
    """The three Catalyst freebies the engine relies on, asserted on
    the physical plan of a partitioned parquet scan: partition pruning
    (day filter -> PartitionFilters, not data filters), predicate
    pushdown (v filter -> PushedFilters at the scan), and column
    pruning (ReadSchema carries only the projected columns)."""
    p = str(tmp_path / "part")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 10).alias("day"),
        (F.col("id") * 2).alias("v"))
    df.write.partitionBy("day").parquet(p)

    r = (spark.read.parquet(p)
         .filter((F.col("day") == 3) & (F.col("v") > 100))
         .select("id", "v"))
    plan = r._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters:" in plan and "(day" in plan.split(
        "PartitionFilters:")[1].split("]")[0], plan
    assert "GreaterThan(v,100)" in plan.split(
        "PushedFilters:")[1].split("]")[0], plan
    assert "ReadSchema: struct<id:bigint,v:bigint>" in plan, plan
    # and the answer is right: ids ≡ 3 (mod 10) with 2*id > 100
    got = sorted(row["id"] for row in r.collect())
    assert got == [i for i in range(1000) if i % 10 == 3 and 2 * i > 100]
