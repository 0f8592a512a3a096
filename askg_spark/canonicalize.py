"""Canonical-record reduction (A2/A3) + deterministic global IDs (P11).

Merge semantics per /root/reference/src/deduplication.py:264-321,428-494:
the most complete mention is the base; scalar gaps fill from other
members prefer-non-empty; list fields union; popularity/download/
last_updated take max; tools union by name.

The reference's arrival-order tie-breaks are replaced by a documented
deterministic total order: (completeness DESC, url ASC). Its sequential
`used_ids` collision set (id_standardization.py:22-70) is replaced by a
window rank over the candidate id — rank 1 keeps the candidate, rank k
gets `-k` suffixed. Stability and uniqueness (the properties the
reference's tests assert) are preserved; arrival-order dependence is not
reproducible in a distributed engine and is deliberately dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from askg_spark import normalize as N


def _first_nonempty(col: str):
    """first non-null/non-empty value in (completeness desc, url asc)
    order — min_by ignores rows whose ordering expression is NULL."""
    c = F.col(col)
    valid = c.isNotNull() & (c.cast("string") != "")
    return F.min_by(c, F.when(valid, F.col("ord")))


def canonical_entities(enriched_with_component: DataFrame) -> DataFrame:
    """mentions+component -> one canonical entity row per component.

    `ord` is the merge order (completeness DESC, url ASC) encoded
    directly as an ascending-comparable struct — min_by and sort_array
    compare structs field-by-field, so the order needs NO
    row_number window: a window would force exchange + full SORT of
    the wide mention payload before the aggregate, while the plain
    groupBy plans as a single exchange + hash aggregate. url is unique
    per mention (J10 in-scrape dedup), so the order is total and the
    result identical to the former window-rank formulation."""
    m = enriched_with_component.withColumn(
        "ord", F.struct((-F.col("completeness")).alias("nc"),
                        F.col("url").alias("u")))
    ent = m.groupBy("component").agg(
        _first_nonempty("name").alias("name"),
        _first_nonempty("author").alias("author"),
        _first_nonempty("description").alias("description"),
        _first_nonempty("repository").alias("repository"),
        _first_nonempty("homepage").alias("homepage"),
        _first_nonempty("license").alias("license"),
        _first_nonempty("version").alias("version"),
        _first_nonempty("implementation_language").alias("implementation_language"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("categories")))).alias("categories"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("operations")))).alias("operations"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("data_types")))).alias("data_types"),
        F.max("popularity_score").alias("popularity_score"),
        F.max("download_count").alias("download_count"),
        F.max("warc_ts").alias("last_updated"),
        F.array_sort(F.array_distinct(F.collect_list("registry"))).alias("registry_sources"),
        F.array_sort(F.collect_list("url")).alias("member_urls"),
        F.max("completeness").alias("completeness"),
        # sub-entity lists: collected per-mention in ord order; dedup by
        # their identity key below (tools/prompts by name, resources by
        # uri — models.py:47-57, neo4j_integration.py:269-292)
        F.sort_array(F.collect_list(F.struct("ord", "tools"))).alias("_tool_lists"),
        F.sort_array(F.collect_list(F.struct("ord", "resources"))).alias("_res_lists"),
        F.sort_array(F.collect_list(F.struct("ord", "prompts"))).alias("_prompt_lists"),
    )

    # union sub-entities by key keeping the first (by ord) occurrence:
    # flatten ordered lists, then keep each key's first struct.
    def keyed_merge(list_col: str, field: str, key: str, typ: str):
        flat = F.flatten(F.array_compact(
            F.transform(F.col(list_col), lambda s: s[field])))
        dedup = F.filter(
            flat,
            lambda t, i: ~F.exists(
                F.slice(flat, F.lit(1), i),
                lambda prev: prev[key] == t[key],
            ),
        )
        return F.when(F.size(flat) > 0, dedup) \
            .otherwise(F.lit(None).cast(typ))

    ent = ent.withColumns({
        "tools": keyed_merge(
            "_tool_lists", "tools", "name",
            "array<struct<name:string,description:string>>"),
        "resources": keyed_merge(
            "_res_lists", "resources", "uri",
            "array<struct<uri:string,name:string,description:string,"
            "mime_type:string>>"),
        "prompts": keyed_merge(
            "_prompt_lists", "prompts", "name",
            "array<struct<name:string,description:string>>"),
    }).drop("_tool_lists", "_res_lists", "_prompt_lists")
    return ent


def assign_global_ids(entities: DataFrame) -> DataFrame:
    """P11 cascade with deterministic collision handling.

    candidate = repo-id | author/name | name | 'server-'+sha256[:12]
    (id_standardization.py:22-70); collisions ranked by
    (completeness DESC, min member_url ASC), rank>1 suffixed '-<rank>'.
    """
    tool_names = F.when(
        F.col("tools").isNotNull(),
        F.transform(F.col("tools"), lambda t: t["name"]),
    ).otherwise(F.array().cast("array<string>"))
    # normalize_id("") == "" — nullif each cascade stage so empty
    # candidates fall through to the next strategy (reference: each
    # strategy returns None on failure, id_standardization.py:22-70)
    cand = F.coalesce(
        F.nullif(N.normalize_id(N.extract_repository_id(F.col("repository"))),
                 F.lit("")),
        F.when(
            (F.col("name").isNotNull()) & (F.col("name") != "")
            & (F.col("author").isNotNull()) & (F.col("author") != ""),
            F.nullif(N.normalize_id(
                F.concat_ws("/", F.col("author"), F.col("name"))), F.lit("")),
        ),
        F.when(
            (F.col("name").isNotNull()) & (F.col("name") != ""),
            F.nullif(N.normalize_id(F.col("name")), F.lit("")),
        ),
        N.content_hash_id(
            F.col("name"), F.col("author"), F.col("description"),
            F.col("repository"), tool_names),
    )
    df = entities.withColumn("candidate_id", cand)
    w = Window.partitionBy("candidate_id").orderBy(
        F.desc("completeness"), F.asc(F.element_at("member_urls", 1)))
    df = df.withColumn("_rank", F.row_number().over(w))
    df = df.withColumn(
        "id",
        F.when(F.col("_rank") == 1, F.col("candidate_id")).otherwise(
            F.concat_ws("-", F.col("candidate_id"), F.col("_rank"))),
    ).drop("_rank", "candidate_id")
    return df
