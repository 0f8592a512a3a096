"""Query surface over the canonical entity table.

  search_entities     the reference's no-LLM fallback scorer
                      (/root/reference/src/text2cypher.py:254-305:
                      name-contains 10.0, description-contains 8.0,
                      popularity*0.001 tie-break, threshold, top-k)
  extract_search_terms  P14 term extraction: keyword -> category /
                      operation mapping + stopword-filtered keywords
                      (/root/reference/mcp/server.py:314-365,
                      text2cypher.py:183-207)
  semantic_search     multi-term scoring: text 3.0/2.0, matched
                      categories x2.0, matched operations x1.5,
                      popularity x0.1, threshold, top-k
                      (/root/reference/mcp/server.py:426-461)
  similar_servers     W3 entity-similarity top-k per server:
                      2*|∩cats| + |∩ops| + same_author + same_lang > 0
                      (/root/reference/src/neo4j_integration.py:468-488)

The two request scorers serve from a driver-side copy of a stored
entity frame at or below ``_DRIVER_MAX_ROWS`` rows: the reference
answers them from a Neo4j index (mcp/server.py:237-471), and a Spark
job per request is almost all fixed cost. The first request on a
stored frame fetches the copy (:func:`session.driver_table`) with
Spark computing the lowered text, the popularity as a double and the
distinct category and operation lists, so lowering, casting and
``array_intersect``'s dedup stay Spark's; the driver only tests byte
substrings, adds float64 in the Spark expression's order and sorts by
(score desc, id asc). Later requests run no job. Larger or unstored
frames, and every other query here, run as DataFrame queries;
similar_servers generates pairs with the salted equi-joins from
relations.py (the reference runs one O(n) Cypher scan per query
server — here the all-servers variant is a single distributed job).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from askg_spark.session import driver_table, operator_scope, persist

# Entities at or below which search_entities and semantic_search score
# a driver-side copy. Median request over 4 cores, copy against Spark
# path: 27 vs 141 ms at 10^4 entities, 55 vs 243 ms at 10^5, 353 vs
# 941 ms at 10^6, where the copy took the driver's peak RSS from 141 to
# 401 MB and its fetch made the first request 6.6 s against 3.8 s
# (BENCH.md "Serving from the driver").
_DRIVER_MAX_ROWS = 1_000_000

# Signature classes above which similar_servers takes the all-pairs plan
_MAX_CLASSES = 4096


def clean_cypher(q: Column) -> Column:
    """P13: strip markdown code fences + surrounding whitespace from a
    generated Cypher query column (text2cypher.py:131-148 semantics,
    branch for branch): a leading ```` ```cypher ```` (9 chars) or
    ```` ``` ```` (3 chars) prefix is removed, a trailing ```` ``` ````
    is removed, then whitespace is trimmed both ends (the reference's
    strip() + strip('\\n') collapses to one whitespace trim). Pure
    Column expression — codegen, no UDF."""
    s1 = (F.when(q.startswith("```cypher"), q.substr(F.lit(10),
                                                     F.length(q)))
          .when(q.startswith("```"), q.substr(F.lit(4), F.length(q)))
          .otherwise(q))
    s2 = F.when(s1.endswith("```"),
                s1.substr(F.lit(1), F.length(s1) - 3)).otherwise(s1)
    return F.regexp_replace(F.regexp_replace(s2, r"^\s+", ""),
                            r"\s+$", "")


def _index(entities: DataFrame) -> DataFrame:
    """The columns the driver-side scorers read, computed by Spark."""
    cols = [F.col("id"), F.col("name"),
            F.lower(F.coalesce(F.col("name"), F.lit(""))).alias("name_lc"),
            F.lower(F.coalesce(F.col("description"), F.lit("")))
            .alias("desc_lc"),
            F.coalesce(F.col("popularity_score"), F.lit(0))
            .cast("double").alias("pop")]
    for c in ("categories", "operations"):
        if c in entities.columns:
            cols.append(F.array_distinct(F.coalesce(
                F.col(c), F.array().cast("array<string>"))).alias(c))
    return entities.select(*cols)


def _hits(col: pa.ChunkedArray, t: str) -> np.ndarray:
    """Rows of the lowered text column that contain ``t`` as bytes."""
    return pc.match_substring(col, t).to_numpy()


def _matched(col: pa.ChunkedArray, wanted: list[str]) -> np.ndarray:
    """Per row, how many of its distinct list values are in ``wanted``:
    ``size(array_intersect(col, wanted))``."""
    col = col.combine_chunks()
    flat = pc.list_flatten(col)
    rows = pc.list_parent_indices(col).to_numpy()
    hit = pc.is_in(flat, value_set=pa.array(wanted, flat.type)).to_numpy(
        zero_copy_only=False)
    return np.bincount(rows[hit], minlength=len(col)).astype(np.float64)


def _top(entities: DataFrame, idx: pa.Table, score: np.ndarray,
         keep: np.ndarray, limit: int) -> DataFrame:
    """The kept rows' top ``limit`` by (score desc, id asc) as an
    Arrow-built frame with the Spark path's schema. NaN sorts above
    every number and passes every threshold, as in Spark."""
    nan = np.isnan(score)
    keep = keep | nan
    kept = score[keep]
    if 0 < limit < len(kept):
        # the limit-th best score: only rows at or above it can rank
        cut = np.partition(kept, len(kept) - limit)[len(kept) - limit]
        keep &= (score >= cut) | nan
    rows = pa.table({"id": idx.column("id"), "name": idx.column("name"),
                     "score": score, "nan": nan}).filter(keep)
    order = pc.sort_indices(rows, [("nan", "descending"),
                                   ("score", "descending"),
                                   ("id", "ascending")],
                            null_placement="at_start")
    schema = StructType([entities.schema["id"], entities.schema["name"],
                         StructField("score", DoubleType(), False)])
    return entities.sparkSession.createDataFrame(
        rows.take(order[:max(limit, 0)]).select(["id", "name", "score"]),
        schema)


def _check_limit(limit: int) -> None:
    """A request's ``limit`` comes from outside the program: refuse a
    negative one on either path, before the path is chosen."""
    if limit < 0:
        raise ValueError(f"limit must be >= 0, got {limit}")


def search_entities(entities: DataFrame, term: str,
                    min_confidence: float = 0.0, limit: int = 10) -> DataFrame:
    """-> (id, name, score) for entities matching `term`, ranked."""
    _check_limit(limit)
    t = term.lower()
    idx = driver_table(entities, _DRIVER_MAX_ROWS, _index)
    if idx is not None:
        score = (np.where(_hits(idx.column("name_lc"), t), 10.0, 0.0)
                 + np.where(_hits(idx.column("desc_lc"), t), 8.0, 0.0)
                 ) + idx.column("pop").to_numpy() * 0.001
        return _top(entities, idx, score,
                    (score > 0) & (score >= min_confidence), limit)
    name_hit = F.lower(F.coalesce(F.col("name"), F.lit(""))).contains(t)
    desc_hit = F.lower(F.coalesce(F.col("description"), F.lit(""))).contains(t)
    score = (
        F.when(name_hit, F.lit(10.0)).otherwise(0.0)
        + F.when(desc_hit, F.lit(8.0)).otherwise(0.0)
        + F.coalesce(F.col("popularity_score"), F.lit(0)).cast("double") * 0.001
    )
    return (
        entities.withColumn("score", score)
        .filter((F.col("score") > 0) & (F.col("score") >= min_confidence))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(limit)
        .select("id", "name", "score")
    )


# --- P14: search-term extraction (mcp/server.py:314-365) --------------------

SEARCH_CATEGORY_KEYWORDS: dict[str, list[str]] = {
    "database": ["database", "db", "sql", "nosql", "query", "store"],
    "file_system": ["file", "filesystem", "fs", "storage", "read", "write"],
    "api_integration": ["api", "rest", "graphql", "http", "webhook"],
    "development_tools": ["dev", "development", "tool", "utility"],
    "data_processing": ["process", "transform", "analyze", "etl"],
    "cloud_services": ["cloud", "aws", "azure", "gcp", "s3"],
    "communication": ["chat", "message", "email", "notification"],
    "authentication": ["auth", "login", "oauth", "jwt", "security"],
    "monitoring": ["monitor", "log", "metric", "alert"],
    "search": ["search", "index", "elasticsearch", "lucene"],
    "ai_ml": ["ai", "ml", "machine learning", "model", "prediction"],
}

SEARCH_OPERATION_KEYWORDS: dict[str, list[str]] = {
    "read": ["read", "get", "fetch", "retrieve"],
    "write": ["write", "save", "store", "create", "update"],
    "execute": ["execute", "run", "call", "invoke"],
    "query": ["query", "search", "find", "filter"],
    "transform": ["transform", "convert", "process", "analyze"],
    "monitor": ["monitor", "watch", "observe", "track"],
}

# text2cypher.py:191 — words dropped from the keyword list
SEARCH_STOPWORDS = {
    "find", "show", "me", "the", "best", "popular", "servers", "tools",
    "for", "that", "can", "and", "or", "with", "are", "what", "how",
    "when", "where", "why",
}


def extract_search_terms(prompt: str) -> dict:
    """P14: map a free-text prompt to matched categories / operations
    plus stopword-filtered keywords. Pure driver-side function — the
    prompt is one string, not data; the RESULT parameterizes the
    distributed scoring query."""
    low = prompt.lower()
    categories = [c for c, kws in SEARCH_CATEGORY_KEYWORDS.items()
                  if any(k in low for k in kws)]
    operations = [o for o, kws in SEARCH_OPERATION_KEYWORDS.items()
                  if any(k in low for k in kws)]
    keywords = [w for w in prompt.split()
                if w.lower() not in SEARCH_STOPWORDS]
    return {"categories": categories, "operations": operations,
            "keywords": keywords, "original_prompt": prompt}


def semantic_search(entities: DataFrame, prompt: str,
                    min_confidence: float = 0.0, limit: int = 10) -> DataFrame:
    """Multi-term ranked search (mcp/server.py:426-461): text relevance
    (name-contains 3.0 elif description-contains 2.0) + 2.0 per matched
    category + 1.5 per matched operation + popularity * 0.1; threshold
    + top-k with a deterministic id tie-break."""
    _check_limit(limit)
    terms = extract_search_terms(prompt)
    low = prompt.lower()
    idx = driver_table(entities, _DRIVER_MAX_ROWS, _index)
    if idx is not None:
        text = np.where(_hits(idx.column("name_lc"), low), 3.0,
                        np.where(_hits(idx.column("desc_lc"), low), 2.0,
                                 0.0))
        score = ((text + _matched(idx.column("categories"),
                                  terms["categories"]) * 2.0)
                 + _matched(idx.column("operations"),
                            terms["operations"]) * 1.5) \
            + idx.column("pop").to_numpy() * 0.1
        return _top(entities, idx, score, score >= min_confidence, limit)
    cats = F.array(*[F.lit(c) for c in terms["categories"]]) \
        if terms["categories"] else F.array().cast("array<string>")
    ops = F.array(*[F.lit(o) for o in terms["operations"]]) \
        if terms["operations"] else F.array().cast("array<string>")
    text_score = (
        F.when(F.lower(F.coalesce(F.col("name"), F.lit(""))).contains(low),
               F.lit(3.0))
        .when(F.lower(F.coalesce(F.col("description"), F.lit(""))).contains(low),
              F.lit(2.0))
        .otherwise(F.lit(0.0)))
    cat_score = F.size(F.array_intersect(
        F.coalesce(F.col("categories"), F.array().cast("array<string>")),
        cats)) * 2.0
    op_score = F.size(F.array_intersect(
        F.coalesce(F.col("operations"), F.array().cast("array<string>")),
        ops)) * 1.5
    pop_bonus = F.coalesce(F.col("popularity_score"), F.lit(0)) \
        .cast("double") * 0.1
    total = (text_score + cat_score + op_score + pop_bonus).alias("score")
    return (
        entities.withColumn("score", total)
        .filter(F.col("score") >= min_confidence)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(limit)
        .select("id", "name", "score")
    )


# --- W3: similar-servers top-k (neo4j_integration.py:468-488) ---------------

def similar_servers(entities: DataFrame, limit: int = 10,
                    max_entities_per_key: int | None = None,
                    author_cap: int | None = None) -> DataFrame:
    """Top-`limit` similar servers for EVERY server:
    score = 2*|∩categories| + |∩operations| + same_author + same_lang,
    kept when > 0, ranked (score DESC, similar_id ASC).

    EXACT sub-quadratic plan (class decomposition): everything in the
    score except the author term depends only on the entity's
    (categories, operations, language) SIGNATURE — entities sharing a
    signature are interchangeable. With C distinct signatures the
    per-pair work collapses to a C x C class-pair score table plus a
    bounded per-class head expansion:

      * base candidates: for each query class, candidate classes in
        score-desc order until they cover `limit`+1 members; only each
        class's `limit`+2 smallest member ids can ever be ranked
        (same class => same score, tie-break is id ASC), so the pool
        is O(n * limit), never O(n²)
      * author bump: the +1 same-author term can promote any
        same-author pair into the top-k, so same-author pairs join
        the pool. ``author_cap`` (a SKEW POLICY — default OFF, so the
        library default is the reference's exact uncapped formula; the
        driver query layer opts in with M=1000 as its stated policy)
        restricts that pool to each author's top-``author_cap``
        entities (popularity DESC NULLS LAST, id ASC — relations.py's
        documented top-M truncation semantics). Without a cap the
        bump pool is O(sum of author-group²): one hot registry author
        ("anthropic" in the reference corpus) regenerates the
        quadratic blowup at 100x, so 100 TB callers should pass one.
        Entities outside their author's top-M neither pool nor score
        the bump (matching the all-pairs plan under
        ``max_entities_per_key``).
      * exact rescore of the pooled pairs (class-pair score + capped
        author bump), then the per-server top-k window

    Measured vs the all-pairs plan at sf0.1 (5,000 entities, C=2):
    identical output, 25M pair rows -> ~1.4M pooled rows. Falls back
    to the salted all-pairs plan when C > ``_MAX_CLASSES`` (an
    adversarial signature-cardinality corpus — there every key gets
    the ``author_cap`` truncation, the skew policy such a corpus
    needs) or when ``max_entities_per_key`` explicitly requests
    relations.py's truncation semantics on every key."""
    if max_entities_per_key is None:
        ncls = (entities
                .select(F.array_sort(F.coalesce(
                            "categories", F.array().cast("array<string>")))
                        .alias("c"),
                        F.array_sort(F.coalesce(
                            "operations", F.array().cast("array<string>")))
                        .alias("o"),
                        F.col("implementation_language").alias("lang"))
                .distinct().count())
        if ncls <= _MAX_CLASSES:
            return _similar_servers_classes(entities, limit,
                                            author_cap=author_cap)
        max_entities_per_key = author_cap
    return _similar_servers_allpairs(entities, limit, max_entities_per_key)


@operator_scope
def _similar_servers_classes(entities: DataFrame, limit: int,
                             author_cap: int | None = None) -> DataFrame:
    """Exact class-decomposition plan (see similar_servers docstring).

    Correctness: in the base (no-author) ranking per query server,
    candidates order by (class score DESC, id ASC). The +1 author bump
    only moves same-author candidates UP, so a non-bumped candidate in
    the final top-k must already be in the base top-(k+1) (k+1 absorbs
    the self row), and every bumped candidate (same author, both in
    the author's top-``author_cap``) is pooled outright — the pooled
    pairs are a superset of the true top-k, and the exact rescore +
    window reproduce the all-pairs ranking (parity-tested against
    it, capped and uncapped)."""
    k = limit
    # popularity only orders the author-cap truncation; frames without
    # the column (and every uncapped call) must not fail analysis —
    # a missing column degrades to NULL (cap order falls back to id)
    pop = (F.col("popularity_score")
           if "popularity_score" in entities.columns
           else F.lit(None).cast("double"))
    ent = entities.select(
        "id", "author", pop.alias("popularity_score"),
        F.array_sort(F.coalesce("categories",
                                F.array().cast("array<string>")))
        .alias("cats"),
        F.array_sort(F.coalesce("operations",
                                F.array().cast("array<string>")))
        .alias("ops"),
        F.col("implementation_language").alias("lang"),
    ).withColumn("cls", F.xxhash64(
        F.to_json(F.struct("cats", "ops", "lang"))))
    # class key = xxhash64 of the canonical signature JSON; a collision
    # would merge two signature classes, but with C <= _MAX_CLASSES=4096
    # classes the birthday bound is ~C²/2^65 ≈ 5e-13 — far below the
    # accepted xxhash64 tolerances elsewhere in this repo (gram keys,
    # band keys), and the fallback threshold caps C by construction.
    ent = persist(ent)

    classes = (ent.groupBy("cls").agg(
        F.first("cats").alias("cats"), F.first("ops").alias("ops"),
        F.first("lang").alias("lang"),
        F.count(F.lit(1)).alias("n_members")))
    # per-class head: only the k+2 smallest ids of a class can appear
    # in any ranking (equal score within a class, id ASC tie-break;
    # +2 absorbs the self row) — window, not collect_list, so a huge
    # class never materializes one giant array
    wc = Window.partitionBy("cls").orderBy(F.asc("id"))
    heads = (ent.withColumn("rn", F.row_number().over(wc))
             .filter(F.col("rn") <= k + 2).select("cls", "id"))

    ca = classes.select(F.col("cls").alias("cls_a"),
                        F.col("cats").alias("cats_a"),
                        F.col("ops").alias("ops_a"),
                        F.col("lang").alias("lang_a"))
    cb = classes.select(F.col("cls").alias("cls_b"),
                        F.col("cats").alias("cats_b"),
                        F.col("ops").alias("ops_b"),
                        F.col("lang").alias("lang_b"),
                        F.col("n_members").alias("n_b"))
    s0 = (2 * F.size(F.array_intersect("cats_a", "cats_b"))
          + F.size(F.array_intersect("ops_a", "ops_b"))
          + F.when(F.col("lang_a").isNotNull()
                   & (F.col("lang_a") == F.col("lang_b")), 1).otherwise(0))
    cls_pairs = (ca.crossJoin(cb).withColumn("s0", s0.cast("long"))
                 .filter(F.col("s0") > 0)
                 .select("cls_a", "cls_b", "s0", "n_b"))
    cls_pairs = persist(cls_pairs)
    # keep candidate classes until strictly-better-scored classes
    # already cover k+1 members; s0 is integral so a range frame
    # ending at -1 is exactly "strictly greater score" (ties included)
    wk = Window.partitionBy("cls_a").orderBy(F.desc("s0")) \
        .rangeBetween(Window.unboundedPreceding, -1)
    kept = (cls_pairs
            .withColumn("cum_before", F.coalesce(
                F.sum(F.least(F.col("n_b"), F.lit(k + 1))).over(wk),
                F.lit(0)))
            .filter(F.col("cum_before") < k + 1)
            .select("cls_a", "cls_b"))
    base = (ent.select("id", F.col("cls").alias("cls_a"))
            .join(kept, "cls_a")
            .join(heads.select(F.col("cls").alias("cls_b"),
                               F.col("id").alias("similar_id")), "cls_b")
            .select(F.col("id").alias("server_id"), "similar_id"))
    valid_auth = ent.filter(
        F.col("author").isNotNull() & (F.col("author") != ""))
    if author_cap is not None:
        wa = Window.partitionBy("author").orderBy(
            F.desc_nulls_last("popularity_score"), F.asc("id"))
        valid_auth = (valid_auth
                      .withColumn("_ar", F.row_number().over(wa))
                      .filter(F.col("_ar") <= author_cap).drop("_ar"))
    aa = valid_auth.select(F.col("id").alias("server_id"), "author")
    ab = valid_auth.select(F.col("id").alias("similar_id"), "author")
    # directed same-author pairs among the (capped) author pool; this
    # frame doubles as the bump marker in scoring, so entities outside
    # their author's top-M neither pool nor score the +1 — exactly the
    # all-pairs plan's `_capped(auth_keyed)` truncation semantics
    auth_pool = aa.join(ab, "author").select("server_id", "similar_id")
    pool = (base.unionByName(auth_pool)
            .filter(F.col("server_id") != F.col("similar_id"))
            .dropDuplicates())
    meta_a = ent.select(F.col("id").alias("server_id"),
                        F.col("cls").alias("cls_a"))
    meta_b = ent.select(F.col("id").alias("similar_id"),
                        F.col("cls").alias("cls_b"))
    bump = auth_pool.withColumn("_bump", F.lit(1))
    scored = (
        pool.join(meta_a, "server_id").join(meta_b, "similar_id")
        .join(cls_pairs.select("cls_a", "cls_b", "s0"),
              ["cls_a", "cls_b"], "left")
        .join(bump, ["server_id", "similar_id"], "left")
        .withColumn("score", (
            F.coalesce(F.col("s0"), F.lit(0))
            + F.coalesce(F.col("_bump"), F.lit(0))).cast("long"))
        .filter(F.col("score") > 0))
    w = Window.partitionBy("server_id").orderBy(
        F.desc("score"), F.asc("similar_id"))
    out = (scored.withColumn("rank", F.row_number().over(w).cast("long"))
           .filter(F.col("rank") <= k)
           .select("server_id", "similar_id", "score", "rank"))
    return out


def _similar_servers_allpairs(entities: DataFrame, limit: int = 10,
                              max_entities_per_key: int | None = None,
                              ) -> DataFrame:
    """All-pairs plan via four salted equi-joins (category / operation /
    author / language) whose weighted union aggregates to exactly the
    reference's formula, then a per-server top-k window; the parity
    reference for the class plan and the carrier of relations.py's
    documented ``max_entities_per_key`` truncation semantics."""
    from askg_spark.relations import _capped, _salted_pairs

    pop = (F.col("popularity_score")
           if "popularity_score" in entities.columns
           else F.lit(None).cast("double"))
    ent = entities.select(
        "id", "author", "categories", "operations",
        pop.alias("popularity_score"),
        F.col("implementation_language").alias("lang"),
    ).withColumn("idx", F.xxhash64("id"))

    def keyed(df, key):
        return _capped(df, key, max_entities_per_key)

    contribs = []
    cat_keyed = keyed(ent.select("idx", "id", "popularity_score",
                                 F.explode("categories").alias("category")),
                      "category")
    contribs.append(_salted_pairs(cat_keyed, "category")
                    .select("ia", "ib", F.lit(2).alias("w")))
    op_keyed = keyed(ent.select("idx", "id", "popularity_score",
                                F.explode("operations").alias("op")), "op")
    contribs.append(_salted_pairs(op_keyed, "op")
                    .select("ia", "ib", F.lit(1).alias("w")))
    auth_keyed = keyed(ent.filter(
        F.col("author").isNotNull() & (F.col("author") != ""))
        .select("idx", "id", "popularity_score", "author"), "author")
    contribs.append(_salted_pairs(auth_keyed, "author")
                    .select("ia", "ib", F.lit(1).alias("w")))
    lang_keyed = keyed(ent.filter(F.col("lang").isNotNull())
                       .select("idx", "id", "popularity_score", "lang"),
                       "lang")
    contribs.append(_salted_pairs(lang_keyed, "lang")
                    .select("ia", "ib", F.lit(1).alias("w")))
    undirected = contribs[0]
    for c in contribs[1:]:
        undirected = undirected.unionByName(c)
    # integer-keyed aggregation (see relations.py scale notes); string
    # ids attach only after the quadratic row count is reduced
    scores = (undirected.groupBy("ia", "ib")
              .agg(F.sum("w").cast("long").alias("score")))
    ids = ent.select("idx", "id")
    scores = (
        scores
        .join(ids.select(F.col("idx").alias("ia"), F.col("id").alias("id_a")),
              "ia")
        .join(ids.select(F.col("idx").alias("ib"), F.col("id").alias("id_b")),
              "ib"))
    directed = scores.select(
        F.col("id_a").alias("server_id"), F.col("id_b").alias("similar_id"),
        "score",
    ).unionByName(scores.select(
        F.col("id_b").alias("server_id"), F.col("id_a").alias("similar_id"),
        "score"))
    w = Window.partitionBy("server_id").orderBy(
        F.desc("score"), F.asc("similar_id"))
    return (
        directed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= limit)
        .select("server_id", "similar_id", "score", "rank")
    )
