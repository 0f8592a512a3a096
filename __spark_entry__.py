"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes every operator family from SURVEY.md §2 plus the
training-data-pipeline ops (dedup / similarity / text analysis /
multimodal) over the driver's parquet tables; `oracle_sql()` carries an
exact DuckDB-ANSI oracle for every deterministic query (approximate /
sketch-based ops are rows-only by design, noted inline).

Parity rules used throughout (see tools/check_oracles.py):
  * oracle-compared outputs carry ints / strings / timestamps or
    doubles derived from exact decimal sums — never order-dependent
    float accumulations;
  * every computed column is aliased identically in Spark and SQL;
  * top-k queries fix total order with explicit tie-breaks.

The flagship path renders `documents` as Common-Crawl-style pages
(askg_spark.webcorpus) and runs the full KG pipeline — extraction,
classification, linking, canonicalization, relations, triples — whose
closed-form oracle is derivable because the corpus plants no fuzzy
duplicates (the fuzzy/CC paths are exercised + oracle-checked on the
fixture corpus in tests/, where SQL cannot express difflib scoring).

Builds that several queries read (the KG pipeline runs, the ANN result
frames, the rendered web pages and their PageRank, the part
co-occurrence graph) are named views, registered below with
``askg_spark.session.shared_view`` and requested with
``askg_spark.session.view``: each is built once per SparkContext and
sf, its frames stored once by the session's view rule, and all of them
freed by ``askg_spark.session.release_views``. A query may store
frames of its own, and some return frames that read them, so callers
run each query inside ``askg_spark.session.operator_scope`` and consume
its rows there; the scope then frees what the query stored, as bench.py
and tools/check_oracles.py do (pinned by
tests/test_lifetimes.py::test_contract_queries_leave_no_storage_behind).
bench.py times each view build in its own ``build:<view>`` row, so no
query row depends on which query ran first.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from askg_spark.session import local_frame, shared_view, view

# --------------------------------------------------------------- helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return view(spark, "kg", sf_dir)["triples"]


# ---------------------------------------------------------- shared views
# Builds that several queries read. askg_spark.session.view runs each
# once per SparkContext and sf and stores its frames; without that, each
# consumer re-executes the build (measured 73.9s for kg_similar_servers
# at sf0.1, ~50s of it the pipeline). Registration order is build order.

@shared_view("kg")
def _kg_view(spark, sf_dir):
    """Full pipeline over documents-rendered pages: its mentions,
    entities and triples serve the whole kg_* query family."""
    from askg_spark.pipeline import PipelineConfig, run_pipeline
    from askg_spark.webcorpus import render_pages

    res = run_pipeline(spark, render_pages(_t(spark, sf_dir, "documents")),
                       PipelineConfig())
    return {"mentions": res.mentions, "entities": res.entities,
            "triples": res.triples}


@shared_view("kg_union")
def _kg_union_view(spark, sf_dir):
    """Pipeline over the planted-duplicate union corpus (every 10th doc
    appears in BOTH the mcp.so and glama page families, the glama copy
    carrying the repository URL): kg_canonical_groups and the three
    dedup-analysis reports all read this one run."""
    from askg_spark.pipeline import PipelineConfig, run_pipeline
    from askg_spark.webcorpus import render_glama_pages, render_pages

    docs = _t(spark, sf_dir, "documents")
    pages = render_pages(docs).unionByName(
        render_glama_pages(docs.filter(F.col("doc_id") % 10 == 0)))
    res = run_pipeline(spark, pages, PipelineConfig())
    return {"mentions": res.mentions, "entities": res.entities}


# The three ANN result frames (exact / LSH / IVF, 40 rows each) are
# read by four queries. One view per method: ivf_topk trains its
# k-means centroids with eager driver-side Lloyd rounds, and a shared
# view would charge that to whichever method's query came first.
def _ann_view(method: str, **kw):
    def build(spark, sf_dir):
        from askg_spark import simsearch
        emb = _t(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding")
        return {"topk": getattr(simsearch, method)(emb, q, k=5, **kw)}
    return build


shared_view("ann_exact")(_ann_view("brute_force_topk"))
shared_view("ann_lsh")(_ann_view("lsh_topk"))
shared_view("ann_ivf")(_ann_view("ivf_topk", n_cells=16, nprobe=14))


@shared_view("web_pages")
def _web_pages_view(spark, sf_dir):
    """The rendered mcpmarket page family: both web link queries read
    it, and the HTML render + regex extract dominates either query cold
    (~6-9 s at sf0.1 vs <1 s for the graph work itself)."""
    from askg_spark.webcorpus import render_mcpmarket_pages
    return {"pages": render_mcpmarket_pages(_t(spark, sf_dir, "documents"))}


@shared_view("web_ranks")
def _web_ranks_view(spark, sf_dir):
    """The 8-iteration PageRank frame, an eager checkpoint with one row
    per node, shared by the topk and quantized queries.
    checkpoint_every=2: at this graph size the cost is Catalyst
    analyzing the 2^k-subtree logical plan, not materialization
    (measured 24.2s @ ck=4 vs 11.9s @ ck=2 for 8 iterations at sf0.1);
    a 10^9-node graph inverts the trade, and ck rises to 4-8 there."""
    from askg_spark import webgraph
    pages = view(spark, "web_pages", sf_dir)["pages"]
    edges = webgraph.page_owner_edges(pages)
    return {"ranks": webgraph.pagerank(edges, iterations=8,
                                       checkpoint_every=2)}


@shared_view("cooccur")
def _cooccur_view(spark, sf_dir):
    """The part co-occurrence graph (1.2M edges at sf0.1) both
    graph-census queries read; its pp self-join + distinct is most of
    either query's cold cost."""
    from askg_spark import graphops
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return {"edges": graphops.cooccurrence_edges(li, "l_orderkey",
                                                 "l_partkey")}


# --------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG construction over sf0.001 documents-as-pages."""
    return _kg_triples(spark, "/root/testdata/sf0.001").select(
        "subj", "pred", "obj")


# --------------------------------------------------------------- queries

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from askg_spark import dedup, multimodal, simsearch, textops
    from askg_spark import normalize as N

    def kg_triples(spark, sf):
        return _kg_triples(spark, sf).select("subj", "pred", "obj")

    def kg_negative_samples(spark, sf):
        # KG-embedding training negatives: deterministic within-
        # predicate object corruption (md5-rank pick, +1 on self-
        # collision) over the shared triples frame — restricted to
        # AUTHORED_BY + HAS_CATEGORY to keep the driver compare frame
        # small while exercising both a hot predicate and a tiny
        # object dimension
        from askg_spark import triples as T
        tr = _kg_triples(spark, sf).filter(
            F.col("pred").isin("AUTHORED_BY", "HAS_CATEGORY"))
        return T.negative_samples(tr)

    def kg_random_walks(spark, sf):
        # DeepWalk corpus generation: 4-hop deterministic uniform
        # walks (md5-rank neighbor choice) over the same_author /
        # similar_functionality relation graph, from the 50 smallest
        # entity ids — one wide row per start
        from askg_spark import graphops
        rel = (_kg_triples(spark, sf)
               .filter(F.col("pred").isin("same_author",
                                          "similar_functionality"))
               .select(F.col("subj").alias("u"),
                       F.col("obj").alias("v")).distinct())
        starts = (rel.select(F.col("u").alias("start")).distinct()
                  .orderBy("start").limit(50))
        return graphops.random_walks(rel, starts, length=4)

    def kg_category_counts(spark, sf):
        return (_kg_triples(spark, sf)
                .filter(F.col("pred") == "HAS_CATEGORY")
                .groupBy(F.col("obj").alias("category"))
                .agg(F.count(F.lit(1)).alias("n")))

    def kg_search(spark, sf):
        # reference text2cypher fallback scoring over the doc corpus:
        # desc-contains 8.0; deterministic tie-break by id
        from askg_spark.webcorpus import doc_name
        docs = _t(spark, sf, "documents")
        ent = docs.select(
            F.concat(F.col("source"), F.lit("/"),
                     doc_name(F.col("doc_id"))).alias("id"),
            F.when(F.lower("text").contains("merge"), F.lit(8.0))
            .otherwise(F.lit(0.0)).alias("score"))
        return (ent.filter(F.col("score") > 0)
                .orderBy(F.desc("score"), F.asc("id")).limit(10))

    def kg_similar_servers(spark, sf):
        # W3: per-server entity-similarity top-k
        # (neo4j_integration.py:468-488). author_cap=1000 is THIS
        # layer's stated skew policy (the library default is the
        # reference's uncapped formula); the oracle mirrors the cap.
        from askg_spark.search import similar_servers
        return similar_servers(view(spark, "kg", sf)["entities"], limit=10,
                               author_cap=1000)

    def kg_semantic_search(spark, sf):
        # P14 term extraction + multi-term scoring (mcp/server.py:
        # 314-365, 426-461); the prompt maps to category
        # 'data_processing' (kw "process") and ops query/transform
        from askg_spark.search import semantic_search
        return semantic_search(view(spark, "kg", sf)["entities"],
                               "find data process servers", limit=10)

    def kg_category_hierarchy(spark, sf):
        # S11 tail: static 12-row ontology dimension (reference
        # main.py:20-93 + models.py parent_category_id) joined
        # broadcast against per-category membership from the pipeline
        # triples; HAS_SUBCATEGORY edges counted per parent
        from askg_spark.ontology import ontology_categories
        dim = ontology_categories(spark).select("id",
                                                "parent_category_id")
        members = (_kg_triples(spark, sf)
                   .filter(F.col("pred") == "HAS_CATEGORY")
                   .groupBy(F.col("obj").alias("id"))
                   .agg(F.countDistinct("subj").alias("n_servers")))
        subs = (dim.filter(F.col("parent_category_id").isNotNull())
                .groupBy(F.col("parent_category_id").alias("id"))
                .agg(F.count(F.lit(1)).alias("n_subcategories")))
        return (dim
                .join(F.broadcast(members), "id", "left")
                .join(F.broadcast(subs), "id", "left")
                .select("id", "parent_category_id",
                        F.coalesce("n_servers", F.lit(0))
                        .cast("long").alias("n_servers"),
                        F.coalesce("n_subcategories", F.lit(0))
                        .cast("long").alias("n_subcategories")))

    def kg_clean_cypher(spark, sf):
        # P13 cypher markdown cleaner (text2cypher.py:131-148) over
        # planted LLM-style outputs: doc_id % 4 selects the fence
        # variant (```cypher fence / bare ``` fence / whitespace pad /
        # clean), so recovery of the exact inner query is the oracle
        from askg_spark.search import clean_cypher
        d = _t(spark, sf, "documents").select("doc_id")
        body = F.concat(F.lit("MATCH (s:Server {id: '"),
                        F.col("doc_id").cast("string"),
                        F.lit("'}) RETURN s"))
        m = F.col("doc_id") % 4
        raw = (F.when(m == 0, F.concat(F.lit("```cypher\n"), body,
                                       F.lit("\n```")))
               .when(m == 1, F.concat(F.lit("```\n"), body,
                                      F.lit("\n```")))
               .when(m == 2, F.concat(F.lit("  \n"), body,
                                      F.lit("  \n ")))
               .otherwise(body))
        return d.select("doc_id", clean_cypher(raw).alias("cypher"))

    def registry_completeness(spark, sf):
        # A5 per-registry metadata completeness
        # (analyze_deduplication.py:183-207)
        from askg_spark.metrics import metadata_completeness
        return metadata_completeness(view(spark, "kg", sf)["mentions"])

    def kg_canonical_groups(spark, sf):
        # J1-J3 exact linking + CC + A2 canonical merge + P9/P11
        # global-ID cascade under the exact SQL oracle: every 10th doc
        # is planted as a cross-registry duplicate (same name/author in
        # the glama JSON page family, plus a repository URL the mcp.so
        # page lacks), so per-doc group size, registry union, the
        # prefer-non-empty repository fill and the repo-id branch of
        # the ID cascade are all closed-form per doc_id.
        return view(spark, "kg_union", sf)["entities"].select(
            "id",
            F.size("member_urls").cast("int").alias("n_mentions"),
            F.array_join("registry_sources", ",").alias("registries"),
            "repository")

    def kg_id_stats(spark, sf):
        # ID-standardization quality report: which cascade branch
        # produced each canonical id (analyze_deduplication.py:51-88;
        # '97.5% repository-based' is the reference's published
        # number). On the union corpus every 10th entity gets its id
        # from the planted glama repository URL, the rest from
        # author/name.
        from askg_spark.analysis import id_standardization_stats
        return id_standardization_stats(
            view(spark, "kg_union", sf)["entities"])

    def kg_repo_domains(spark, sf):
        # repository-URL domain distribution + unique-repo counts over
        # mentions (analyze_deduplication.py:91-121)
        from askg_spark.analysis import repo_domain_stats
        return repo_domain_stats(view(spark, "kg_union", sf)["mentions"])

    def kg_dedup_report(spark, sf):
        # dedup effectiveness + name-similarity stats in one row
        # (analyze_deduplication.py:124-180): mentions before, entities
        # after, removed, rate %, distinct norm names, dup-name groups
        from askg_spark.analysis import dedup_effectiveness
        res = view(spark, "kg_union", sf)
        return dedup_effectiveness(res["mentions"], res["entities"])

    def kg_fuzzy_groups(spark, sf):
        # J4 (LSH blocking) + J5 (weighted difflib scoring) under the
        # exact SQL oracle: planted near-duplicate names that NO exact
        # key links (see webcorpus.render_fuzzy_pages) — every 10th
        # doc's pair merges iff its composite score clears the strict
        # 0.7 threshold, which reduces to "doc text non-empty"
        # (0.9 > 0.7) vs empty (exactly 0.7 -> no merge); the oracle
        # mirrors both branches including the boundary.
        from askg_spark.pipeline import PipelineConfig, run_pipeline
        from askg_spark.webcorpus import render_fuzzy_pages
        docs = _t(spark, sf, "documents")
        res = run_pipeline(spark, render_fuzzy_pages(docs),
                           PipelineConfig())
        return res.entities.select(
            "id",
            F.size("member_urls").cast("int").alias("n_mentions"),
            "repository")

    def kg_resource_triples(spark, sf):
        # S10 sub-entities end-to-end: planted resources[]/prompts[]
        # in the glama JSON family (webcorpus.render_resource_pages)
        # -> parse -> keyed merge -> HAS_RESOURCE / HAS_PROMPT triples
        # (neo4j_integration.py:269-292), each obj closed-form in SQL
        from askg_spark.pipeline import PipelineConfig, run_pipeline
        from askg_spark.webcorpus import render_resource_pages
        docs = _t(spark, sf, "documents")
        res = run_pipeline(spark, render_resource_pages(docs),
                           PipelineConfig())
        return (res.triples
                .filter(F.col("pred").isin("HAS_RESOURCE", "HAS_PROMPT"))
                .select("subj", "pred", "obj"))

    def kg_github_mentions(spark, sf):
        # S1 github extraction under the exact SQL oracle: every field
        # _parse_github emits (scrapers.py:160-273 semantics — url-path
        # name/author, first-<p> description, 'implementation in X.'
        # language, stars, <li> tools, MCP-indicator gate) is a closed
        # form of (doc_id, source) in webcorpus.render_github_pages.
        from askg_spark.extract import extract_mentions
        from askg_spark.webcorpus import render_github_pages
        mentions, _ = extract_mentions(
            render_github_pages(_t(spark, sf, "documents")))
        return mentions.select(
            "url", "name", "author", "repository", "description",
            "implementation_language", "popularity_score",
            F.size("tools").cast("long").alias("n_tools"))

    def kg_mcpmarket_mentions(spark, sf):
        # S4 mcpmarket server-card extraction under the exact SQL
        # oracle (scrapers.py:1110-1177 semantics — card containers,
        # h2 name, <p> description, github link author, per-page
        # first-wins name dedup, exercised on doc_id % 5 == 0 pages).
        from askg_spark.extract import extract_mentions
        from askg_spark.webcorpus import render_mcpmarket_pages
        mentions, _ = extract_mentions(
            render_mcpmarket_pages(_t(spark, sf, "documents")))
        return mentions.select(
            "url", "name", "author", "repository", "description")

    def stream_windowed_mentions(spark, sf):
        # C1 watermark semantics under the hash gate: append-mode
        # 1-hour event-time windows with a 1-hour watermark, four
        # checkpointed AvailableNow runs —
        #   run 1: docs with doc_id % 7 != 0 (ts = EPOCH + 61s*doc_id
        #          spreads the corpus over many hour windows);
        #   run 2: the % 7 == 0 docs — those whose window CLOSED
        #          behind run 1's watermark (window_end <= max_ts1-1h)
        #          are late and DROPPED, the rest merge into open
        #          state;
        #   runs 3-4: two far-future sentinels, 1h+ apart, so the
        #          watermark passes every real window end and append
        #          mode flushes them (emission lands the batch AFTER
        #          the watermark moves — hence two);
        # output = hourly counts of the ACCEPTED rows only; neither
        # sentinel's own window ever closes, so neither appears. The
        # 61 s stride makes wm-vs-window-end ties impossible, so the
        # late-drop set is closed-form in the oracle.
        import tempfile
        from askg_spark.streaming import windowed_mention_counts
        from askg_spark.webcorpus import render_pages
        base = tempfile.mkdtemp(prefix="askg_stream_w_")
        docs = _t(spark, sf, "documents")
        epoch = F.to_timestamp(F.lit("2025-06-01 00:00:00"))
        # render_pages emits warc_ts = EPOCH + doc_id seconds (no
        # doc_id column survives), so recover the id from the ts and
        # restretch to a 61 s stride
        pages = (render_pages(docs)
                 .withColumn("_did",
                             (F.unix_timestamp("warc_ts")
                              - F.unix_timestamp(epoch)).cast("long"))
                 .withColumn("warc_ts",
                             epoch + F.make_interval(
                                 secs=(F.col("_did") * 61)
                                 .cast("double"))))
        sent = render_pages(docs.filter(F.col("doc_id") == 0))
        b1 = pages.filter(F.col("_did") % 7 != 0).drop("_did")
        b2 = pages.filter(F.col("_did") % 7 == 0).drop("_did")
        # sentinels are derived from the corpus max event time (one
        # scalar agg), not hard-coded dates, so the harness survives
        # any corpus size; +3h/+5h keeps each a window of its own
        # beyond every real window end + the 1h watermark delay
        max_ts = pages.agg(F.max("warc_ts")).collect()[0][0]
        sent_base = (F.date_trunc("hour", F.lit(max_ts)))
        b3 = sent.withColumn(
            "warc_ts", sent_base + F.expr("INTERVAL 3 HOURS"))
        b4 = sent.withColumn(
            "warc_ts", sent_base + F.expr("INTERVAL 5 HOURS"))
        out, ckpt = f"{base}/out", f"{base}/ckpt"
        for b in (b1, b2, b3, b4):
            # ONE parquet file per run (advisor r4): the closed-form
            # oracle assumes each AvailableNow run is a single
            # micro-batch; FileStreamSource may split many files
            # across batches, advancing the watermark MID-run and
            # dropping rows the oracle counts as accepted — with one
            # new file per run a split is impossible, and the
            # progress assertion below makes a violation loud
            # instead of a flaky hash mismatch
            b.coalesce(1).write.mode("append").parquet(f"{base}/pages")
            q = (windowed_mention_counts(spark, f"{base}/pages",
                                         watermark="1 hour",
                                         window="1 hour")
                 .select(F.col("window.start").alias("window_start"),
                         "registry", "n_mentions")
                 .writeStream.outputMode("append")
                 .format("parquet").option("path", out)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    "streaming batch did not drain within 600s")
            data_batches = sum(
                1 for p in q.recentProgress if p["numInputRows"] > 0)
            if data_batches != 1:
                raise RuntimeError(
                    f"oracle contract violated: run processed "
                    f"{data_batches} data micro-batches, expected 1")
        return (spark.read.parquet(out)
                # sentinel 2 closes sentinel 1's window too; both are
                # harness scaffolding, not corpus data — drop them
                # (every real window starts <= max_ts's own window)
                .filter(F.col("window_start") <= F.lit(max_ts))
                .select("window_start", "registry",
                        F.col("n_mentions").cast("long")
                        .alias("n_mentions")))

    def stream_changed_pages(spark, sf):
        # C1 freshness cache as the applyInPandasWithState operator
        # (streaming.changed_pages_extract): each doc's page is crawled
        # 3x — original, byte-identical re-crawl (+1000s, suppressed by
        # the per-url fingerprint state), and for every 5th doc a
        # changed body (+2000s, emitted). The emission set is
        # closed-form: one row per doc + one per doc_id % 5 == 0.
        import tempfile
        from askg_spark.streaming import changed_pages_extract
        from askg_spark.webcorpus import render_pages
        base = tempfile.mkdtemp(prefix="askg_stream_q_")
        docs = _t(spark, sf, "documents")
        pages = render_pages(docs)
        recrawl = pages.withColumn(
            "warc_ts", F.col("warc_ts") + F.make_interval(secs=F.lit(1000.0)))
        changed = render_pages(docs.filter(F.col("doc_id") % 5 == 0)) \
            .withColumn(
                "warc_ts",
                F.col("warc_ts") + F.make_interval(secs=F.lit(2000.0))) \
            .withColumn(
                "html", F.concat(F.col("html").cast("string"),
                                 F.lit("<!--v2-->")).cast("binary"))
        (pages.unionByName(recrawl).unionByName(changed)
         .write.mode("overwrite").parquet(f"{base}/pages"))
        changed_pages_extract(spark, f"{base}/pages", f"{base}/out",
                              f"{base}/ckpt")
        return spark.read.parquet(f"{base}/out").select("url", "warc_ts")

    def kg_relations_capped(spark, sf):
        # J7 with the skew cap ON (top-M entities per hot key by
        # popularity desc, id asc — relations.py): the documented
        # truncation that bounds the quadratic joins at web scale,
        # exercised here against a SQL window mirror
        from askg_spark.relations import infer_relationship_edges
        ents = view(spark, "kg", sf)["entities"]
        return (infer_relationship_edges(ents, max_entities_per_key=50)
                .select("src", "dst", "rel_type").dropDuplicates())

    def kg_fixture_entities(spark, sf):
        # fuzzy linking + CC on the synthetic registry fixture (no SQL
        # oracle — difflib scoring is not SQL-expressible); rows-only
        from askg_spark.fixtures import generate_pages
        from askg_spark.pipeline import PipelineConfig, run_pipeline
        res = run_pipeline(spark, generate_pages(spark, n_servers=12, seed=42),
                           PipelineConfig())
        return res.entities.select("id", "name", "author").orderBy("id")

    def doc_token_stats(spark, sf):
        return textops.quality_counts(_t(spark, sf, "documents"))

    def doc_lang_id(spark, sf):
        return textops.lang_id(_t(spark, sf, "documents"))

    def doc_quality_filter(spark, sf):
        return textops.quality_filter(_t(spark, sf, "documents"))

    def doc_quality_report(spark, sf):
        # corpus-level curation report: doc count per reject reason
        # (a doc with k reasons contributes to k rows) + a '__keep__'
        # row — one extra explode+groupBy over the filter output
        qf = textops.quality_filter(_t(spark, sf, "documents"))
        per_reason = (qf.where(F.col("reasons") != "")
                      .select(F.explode(F.split("reasons", ","))
                              .alias("reason"))
                      .groupBy("reason")
                      .agg(F.count(F.lit(1)).alias("n_docs")))
        keep = qf.agg(F.sum("keep").alias("n_docs")) \
            .select(F.lit("__keep__").alias("reason"), "n_docs")
        return per_reason.unionByName(keep)

    def doc_quality_extended(spark, sf):
        # full Gopher-style filter: signal rules + repetition rules
        # in one stacked-projection plan (no shuffle, no Python)
        return textops.quality_filter_extended(_t(spark, sf, "documents"))

    def doc_repetition_stats(spark, sf):
        # Gopher repetition signals: dup-line and dup/top n-gram
        # integer counts via the sorted-run-length JVM aggregate
        # (textops._run_scan) — linear per doc, no shuffle
        return textops.repetition_stats(_t(spark, sf, "documents"))

    def doc_pii_scan(spark, sf):
        # PII counts + redacted-text md5 over a corpus with planted,
        # SQL-expressible PII (the raw testdata contains none, which
        # would make the oracle vacuous): every 3rd doc gains an email,
        # every 5th an IPv4, every 7th a phone number — all closed
        # forms of doc_id, mirrored exactly in the oracle
        docs = _t(spark, sf, "documents")
        aug = docs.select(
            "doc_id",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.when(F.col("doc_id") % 3 == 0, F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"))).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 5 == 0, F.concat(
                    F.lit(" host 10."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".0.1"))).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 7 == 0,
                       F.lit(" call +1 555 867 5309"))
                .otherwise(F.lit("")),
            ).alias("text"))
        return textops.pii_scan(aug)

    def doc_line_dedup(spark, sf):
        # C4-style cross-document line dedup over a corpus with
        # planted boilerplate (the raw testdata has no cross-doc
        # duplicate lines, which would make the removal vacuous):
        # every 5th doc gains a 2-line copyright footer, every 3rd a
        # newsletter line — each occurs in >=3 docs corpus-wide, so
        # line_dedup strips them everywhere; mirrored in the oracle
        docs = _t(spark, sf, "documents")
        aug = docs.select(
            "doc_id",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.when(F.col("doc_id") % 5 == 0,
                       F.lit("\n(c) corpus footer\nAll rights reserved."))
                .otherwise(F.lit("")),
                F.when(F.col("doc_id") % 3 == 0,
                       F.lit("\nSubscribe to our newsletter today"))
                .otherwise(F.lit("")),
            ).alias("text"))
        return textops.line_dedup(aug)

    def corpus_token_vocab(spark, sf):
        # tokenizer-training vocabulary: corpus-wide top-100 tokens,
        # map-side-combined counts, TakeOrdered top-k (no global sort)
        return textops.token_vocabulary(_t(spark, sf, "documents"), k=100)

    def doc_length_quantiles(spark, sf):
        # exact interpolated percentiles per language (Spark
        # `percentile` == DuckDB `quantile_cont` definition)
        return textops.length_quantiles(_t(spark, sf, "documents"))

    def doc_normalize_text(spark, sf):
        # Unicode NFC + line-ending + control-char cleanup over a
        # corpus with planted non-NFC text (every 4th doc gains a
        # decomposed e+combining-acute and a \r\n; every 6th a NUL) —
        # the raw testdata is ASCII, which would make NFC vacuous
        docs = _t(spark, sf, "documents")
        aug = docs.select(
            "doc_id",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.when(F.col("doc_id") % 4 == 0,
                       F.lit(" cafe\u0301 line\r\nnext"))
                .otherwise(F.lit("")),
                F.when(F.col("doc_id") % 6 == 0, F.lit("\u0001tail"))
                .otherwise(F.lit("")),
            ).alias("text"))
        return textops.normalize_text(aug)

    def doc_oov_rate(spark, sf):
        # gibberish signal: per-doc token count + OOV count vs the
        # corpus top-20 vocabulary (broadcast join; k=20 so the
        # synthetic corpus actually has OOV tokens)
        return textops.oov_stats(_t(spark, sf, "documents"), vocab_k=20)

    def corpus_domain_stats(spark, sf):
        # domain-level curation rollup (source = the domain stand-in
        # in the synthetic corpus): doc/token/short/duplicate counts
        # per domain, all integers
        return textops.domain_stats(_t(spark, sf, "documents"))

    def doc_chunks(spark, sf):
        # RAG-prep chunking: 64-token windows, 16-token overlap;
        # chunk_md5 pins exact slice boundaries
        return textops.chunk_assignments(_t(spark, sf, "documents"),
                                         budget=64, overlap=16)

    def doc_top_terms(spark, sf):
        # per-doc top-3 TF-IDF keywords, exact scaled-integer idf
        # ratio (engine-independent contract shared with the LM op)
        return textops.top_terms_tfidf(_t(spark, sf, "documents"), k=3)

    def corpus_collocations(spark, sf):
        # phrase mining: top-20 adjacent bigrams by exact scaled-
        # integer PMI ratio (support >= 5) — the word2vec-phrases
        # signal, ranking identical to log-PMI (ln is monotone)
        return textops.collocations(_t(spark, sf, "documents"),
                                    k=20, min_count=5)

    def doc_lm_perplexity(spark, sf):
        # CCNet-style quality bucketing: corpus-trained add-one
        # unigram LM, exact scaled-integer mean token improbability
        # (count-ratio contract — no libm on the compare surface),
        # NTILE terciles
        return textops.unigram_lm_scores(_t(spark, sf, "documents"))

    def doc_pack_assignments(spark, sf):
        # GPT-style sequence packing: 32 token streams (doc_id % 32),
        # budget-256 sequences, per-shard ordered cumsum — all ints
        return textops.pack_assignments(
            _t(spark, sf, "documents"), budget=256, shards=32)

    def doc_sample_mixture(spark, sf):
        # deterministic hash-based mixture sampling: per-lang keep
        # rates, reproducible on any partitioning; the md5-prefix
        # threshold is the same closed form in the oracle
        return textops.stratified_sample(
            _t(spark, sf, "documents"),
            rates={"en": 0.5, "de": 0.25, "es": 0.25,
                   "fr": 0.125, "zh": 0.125},
            default_rate=0.0625,
        ).select("doc_id", "lang")

    def doc_contamination(spark, sf):
        # benchmark-decontamination scan: 4-gram overlap between the
        # train split and a deterministic eval split (doc_id % 97 == 0)
        # via the broadcast inverted-index join
        docs = _t(spark, sf, "documents")
        ev = docs.filter(F.col("doc_id") % 97 == 0)
        tr = docs.filter(F.col("doc_id") % 97 != 0)
        return dedup.contamination_check(tr, ev, n=4)

    def doc_fingerprints(spark, sf):
        return textops.fingerprints(_t(spark, sf, "documents"))

    def doc_category_counts(spark, sf):
        return (textops.categorize_documents(_t(spark, sf, "documents"))
                .groupBy("category").agg(F.count(F.lit(1)).alias("n")))

    def dedup_exact_groups(spark, sf):
        return dedup.exact_duplicate_groups(_t(spark, sf, "documents")) \
            .select("fingerprint", "n_docs", "canonical_doc_id")

    def dedup_ngram_pairs(spark, sf):
        return dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"))

    def dedup_near_clusters(spark, sf):
        # CC over (ngram-Jaccard ∪ exact-fingerprint) edges — gives the
        # connected-components operator itself an exact SQL oracle
        # (DuckDB recursive-CTE closure), beyond its pytest property
        # tests
        return dedup.near_dup_clusters(_t(spark, sf, "documents"))

    def dedup_minhash_pairs(spark, sf):
        return dedup.minhash_pairs(_t(spark, sf, "documents"))

    def dedup_simhash_pairs(spark, sf):
        return dedup.simhash_pairs(_t(spark, sf, "documents"))

    def dedup_embedding_pairs(spark, sf):
        return dedup.embedding_dup_pairs(_t(spark, sf, "embeddings"))

    def dedup_incremental(spark, sf):
        # rolling-crawl ingest: flag each increment doc (doc_id%3==0)
        # against the base corpus (%3!=0) — exact fingerprint hit +
        # count of >=0.5-Jaccard base near-dups; join work scales
        # with the increment, never base x base
        docs = _t(spark, sf, "documents")
        return dedup.incremental_dedup_flags(
            docs.filter(F.col("doc_id") % 3 != 0),
            docs.filter(F.col("doc_id") % 3 == 0))

    def dedup_substring_spans(spark, sf):
        # Lee-et-al-style exact duplicate-substring coverage: stride-1
        # 15-token windows, xxhash64 keys, per-doc interval-union of
        # duplicated spans — all-integer output (dedup.py)
        return dedup.duplicate_span_stats(_t(spark, sf, "documents"),
                                          w=15)

    def ann_topk(spark, sf):
        return view(spark, "ann_exact", sf)["topk"]

    def ann_lsh_topk(spark, sf):
        # HARD oracle (r4): the md5-derived hyperplanes make the whole
        # banded-LSH + multiprobe + rescore pipeline SQL-expressible,
        # so the DuckDB oracle re-runs the identical algorithm; recall
        # vs exact is additionally pinned by ann_recall_report
        return view(spark, "ann_lsh", sf)["topk"]

    def ann_ivf_topk(spark, sf):
        # HARD oracle (r4): md5-seeded exact-break k-means makes the
        # trained index SQL-reproducible (5 unrolled Lloyd rounds in
        # the oracle); recall pinned by ann_recall_report. nprobe=14/16
        # is the measured >=0.95-recall point on THIS corpus: the
        # synthetic embeddings are near-isotropic (top-1 cosine ~0.41,
        # label column uncorrelated with cosine neighborhoods), so any
        # cell-pruning index must probe most cells; clustered real-world
        # embedding corpora sit at small nprobe/n_cells (see
        # simsearch.ivf_topk docstring).
        return view(spark, "ann_ivf", sf)["topk"]

    def ann_recall_report(spark, sf):
        # in-engine recall certification: per (method, query) count of
        # exact-top-5 neighbors the approximate path recovered —
        # integers, hard-oracled by the same SQL mirrors; reads the
        # shared ANN views (no recompute)
        exact = view(spark, "ann_exact", sf)["topk"].select(
            "query_id", "neighbor_id")

        def hits(approx, method):
            return (exact.join(
                        approx.select("query_id", "neighbor_id",
                                      F.col("rank").alias("_ar")),
                        ["query_id", "neighbor_id"], "left")
                    .groupBy("query_id")
                    .agg(F.count("_ar").alias("n_hits"))
                    .select(F.lit(method).alias("method"), "query_id",
                            "n_hits"))

        return hits(view(spark, "ann_lsh", sf)["topk"], "lsh").unionByName(
            hits(view(spark, "ann_ivf", sf)["topk"], "ivf"))

    def web_owner_indegree(spark, sf):
        # link-graph in-degree rolled up to the target owner over the
        # mcpmarket page family (2 github hrefs per page; doc_id%5==0
        # pages repeat the first card's target) — closed-form oracle
        from askg_spark import webgraph
        return webgraph.owner_indegree(view(spark, "web_pages", sf)["pages"])

    def web_anchor_texts(spark, sf):
        # anchor-text aggregation over the fuzzy + mcpmarket page
        # families: per-(target, anchor) link counts with a per-owner
        # rank — the retrieval-side link signal next to indegree; the
        # %5 repeated mcpmarket card gives n_links=2 rows, the %10
        # fuzzy variant adds -qq-alt targets, so counts and ranks are
        # non-trivially data-dependent (closed-form oracle)
        from askg_spark import webgraph
        from askg_spark.webcorpus import (render_fuzzy_pages,
                                          render_mcpmarket_pages)
        docs = _t(spark, sf, "documents")
        pages = render_fuzzy_pages(docs).unionByName(
            render_mcpmarket_pages(docs))
        return webgraph.target_anchor_stats(pages)

    def web_pagerank_topk(spark, sf):
        # fixed-iteration distributed PageRank over the page->owner
        # link graph: iterative algorithm -> rows-only (float ranks
        # from distributed sums are not bit-stable across engines);
        # the update rule is verified against a NumPy power-iteration
        # reference to 1e-12 in tests/test_webgraph.py
        return (view(spark, "web_ranks", sf)["ranks"]
                .orderBy(F.desc("rank"), F.asc("node")).limit(10))

    def web_pagerank_quantized(spark, sf):
        # HARD-oracle pagerank: same fixed-8-iteration power method,
        # ranks emitted as floor(rank * 1e9) BIGINTs. The update rule
        # matches NumPy to ~1e-12 relative (pytest), so nano-
        # quantization has ~1e3 margin against cross-engine float
        # summation-order drift; ordering is on the QUANTIZED rank
        # (+ node tie-break) so both engines rank identically. The
        # oracle re-runs the identical unrolled iteration in SQL.
        return (view(spark, "web_ranks", sf)["ranks"].select(
                    "node",
                    F.floor(F.col("rank") * F.lit(1e9))
                     .cast("long").alias("rank_nano"))
                .orderBy(F.desc("rank_nano"), F.asc("node")).limit(10))

    def kg_two_hop(spark, sf):
        # graph traversal: distinct 2-hop neighborhoods over the
        # relationship edges (same_author / similar_functionality),
        # anchored at the 5 lexicographically-first subjects for a
        # bounded, deterministic result. The anchor set (5) and every
        # frontier (degree-capped by the relations top-M policy) are
        # broadcast-sized, so the big edge frame is NEVER shuffled:
        # both hops are BroadcastHashJoins over the raw filtered
        # edges. The only full exchanges are the narrow anchor-subject
        # distinct and ONE final two-phase countDistinct((a, dst)) —
        # the intermediate frontier/result distincts of the r3 plan
        # are gone: a duplicated mid (a pair under both predicates)
        # only multiplies hop rows, never the distinct-dst count, and
        # countDistinct's map-side partial dedups them before the
        # shuffle. The original plan — pair-distinct the full edge
        # set, then two sort-merge self-joins — shuffled the 1.5M-row
        # frame three times for the same answer.
        tr = _kg_triples(spark, sf)
        rel_raw = (tr.where(F.col("pred").isin(
            "same_author", "similar_functionality"))
            .select("subj", "obj"))
        anchors = (rel_raw.select(F.col("subj").alias("a"))
                   .distinct().orderBy("a").limit(5))
        hop1 = (rel_raw
                .join(F.broadcast(anchors), F.col("subj") == F.col("a"))
                .select("a", F.col("obj").alias("mid")))
        hop2 = (rel_raw
                .join(F.broadcast(hop1), F.col("subj") == F.col("mid"))
                .select("a", F.col("obj").alias("dst"))
                .where(F.col("dst") != F.col("a")))
        return (hop2.groupBy("a")
                .agg(F.countDistinct("dst").alias("n_two_hop"))
                .orderBy("a"))

    def kg_degree_topk(spark, sf):
        # graph stats: top-20 subjects by out-degree (distinct
        # predicates ride the same groupBy); (degree DESC, subj ASC)
        # total order
        tr = _kg_triples(spark, sf)
        return (tr.groupBy("subj")
                .agg(F.count(F.lit(1)).alias("out_degree"),
                     F.countDistinct("pred").alias("n_preds"))
                .orderBy(F.desc("out_degree"), F.asc("subj"))
                .limit(20))

    def kg_triples_diff(spark, sf):
        # snapshot diff (changelog scan): old = even-trailing-digit
        # subjects + a planted ghost row, new = the current build;
        # two left-anti joins on (s,p,o). cast('' as bigint) -> NULL
        # in Spark mirrors the oracle's TRY_CAST
        from askg_spark.triples import snapshot_diff
        tr = _kg_triples(spark, sf).select("subj", "pred", "obj")
        # try_cast: any digit-less subject extracts '' which ANSI cast
        # would reject; NULL-safe in both engines
        tail = F.regexp_extract(F.col("subj"), r"([0-9]+)$", 1) \
            .try_cast("bigint")
        old = tr.where(tail.isNotNull() & (tail % 2 == 0)) \
            .unionByName(local_frame(
                spark, [("ghost", "HAS_CATEGORY", "other")],
                "subj string, pred string, obj string"))
        return snapshot_diff(old, tr)

    def emb_label_centroids(spark, sf):
        # grouped applyInPandas: per-label centroid sums as exact
        # scaled ints (order-independent -> hash-stable vs the oracle)
        return simsearch.label_centroids(_t(spark, sf, "embeddings"))

    def multimodal_decode_stats(spark, sf):
        # REAL PNG decode end-to-end: per-doc synthetic PNGs (bit-valid
        # files, closed-form geometry/pixels of doc_id) through the
        # pure-python decoder; every output column is a scalar integer
        # the SQL oracle recomputes cell-by-cell
        media = multimodal.synth_png_corpus(
            _t(spark, sf, "documents").select("doc_id"))
        return multimodal.png_pixel_stats(media)

    def multimodal_resize_stats(spark, sf):
        # REAL resize end-to-end: synthetic PNGs -> decode -> exact
        # integer box-filter downsample (max_side=16) -> re-encode ->
        # decode AGAIN for stats; every output pixel is floor(bin
        # mean) of a closed-form image, so the SQL oracle recomputes
        # the resized sums bin-by-bin
        media = multimodal.synth_png_corpus(
            _t(spark, sf, "documents").select("doc_id"))
        resized = multimodal.resize_media(media, max_side=16)
        return multimodal.png_pixel_stats(
            resized.filter(F.col("resize_error").isNull()))

    def multimodal_frame_stats(spark, sf):
        # REAL frame sampling: synthetic raster-video containers ->
        # index-seek extraction of 4 evenly-spaced frames (integer
        # round-half-up spacing) -> per-frame PNG decode stats; the
        # oracle recomputes the sampled index set and each frame's
        # closed-form pixel sum
        media = multimodal.synth_video_corpus(
            _t(spark, sf, "documents").select("doc_id"))
        return multimodal.frame_pixel_stats(
            multimodal.sample_frames(media, n_frames=4))

    def multimodal_bmp_stats(spark, sf):
        # REAL second image codec end-to-end: per-doc synthetic 24-bit
        # BMPs (padded scanlines, bottom-up BGR) through the
        # signature-dispatched decoder; sum_pixels covers all three
        # channels and the oracle recomputes every cell
        media = multimodal.synth_bmp_corpus(
            _t(spark, sf, "documents").select("doc_id"))
        return multimodal.image_pixel_stats(media)

    def multimodal_audio_stats(spark, sf):
        # REAL audio decode end-to-end: per-doc synthetic 16-bit PCM
        # WAVs (RIFF chunk walk) through the pure-python decoder;
        # every stat (rate, count, floor-ms duration, |sample| sum and
        # peak) is a closed form of doc_id the SQL oracle recomputes
        media = multimodal.synth_wav_corpus(
            _t(spark, sf, "documents").select("doc_id"))
        return multimodal.wav_sample_stats(media)

    def multimodal_gif_stats(spark, sf):
        # REAL third image codec end-to-end: per-doc single-frame GIFs
        # through the full variable-width LZW decoder + palette map;
        # the oracle recomputes every palette-mapped cell
        media = multimodal.synth_gif_corpus(
            _t(spark, sf, "documents").select("doc_id"))
        return multimodal.image_pixel_stats(media)

    def multimodal_jpeg_stats(spark, sf):
        # FOURTH real image codec, and the web's dominant one: per-doc
        # baseline JFIF images through the full marker/Huffman/IDCT
        # decoder. The plant (constant gray 8x8 tiles) makes the lossy
        # codec integer-exact — DC-only blocks, zero chroma — so the
        # oracle recomputes every tile's decoded value closed-form
        # (k = floor((v-128)/2 + .5); y = clamp(2k+128))
        media = multimodal.synth_jpeg_corpus(
            _t(spark, sf, "documents").select("doc_id"))
        return multimodal.image_pixel_stats(media)

    def multimodal_quarantine_stats(spark, sf):
        # the ERROR half of the crawl-media pipeline under the hash
        # gate (advisor r4: quarantine was pytest-only): 5 of every 8
        # docs carry an engineered malformation (truncated PNG, bad
        # magic, truncated GIF LZW, JPEG-SOI-then-garbage, empty), 3
        # carry valid PNG/BMP/GIF plants; every row returns with a
        # quarantined flag and zeroed-or-exact pixel stats, so the
        # oracle certifies BOTH that malformed payloads quarantine
        # and that decoding still succeeds next to them
        media = multimodal.synth_corrupt_corpus(
            _t(spark, sf, "documents").select("doc_id"))
        return multimodal.quarantine_stats(media)

    def graph_bfs_depths(spark, sf):
        # level-synchronous multi-source BFS with a HARD oracle: the
        # iterative frontier loop vs DuckDB's recursive CTE over the
        # same closed-form functional graph (2 out-edges per node,
        # undirected; seeds every 97th) — the certification pattern
        # pagerank needed quantization for works directly here since
        # hop depths are exact integers
        from askg_spark import graphops
        docs = _t(spark, sf, "documents").select("doc_id")
        n = docs.count()
        d = F.col("doc_id")
        edges = (docs.select(d.alias("src"),
                             ((d * 7 + 3) % n).alias("dst"))
                 .unionByName(
                     docs.select(d.alias("src"),
                                 ((d * 13 + 5) % n).alias("dst"))))
        seeds = docs.filter(d % 97 == 0).select(d.alias("node"))
        return (graphops.bfs_depths(edges, seeds, max_depth=4)
                .select("node", "depth"))

    def corpus_bpe_encode(spark, sf):
        # ENCODE under a FIXED merge table (training stays rows-only;
        # applying known merges is deterministic, so the encode half
        # of the tokenizer story gets a hash oracle): corpus token
        # counts after 10 literal merges
        from askg_spark import bpe
        return bpe.apply_merges(_t(spark, sf, "documents"),
                                _BPE_FIXED_MERGES)

    def corpus_bpe_merges(spark, sf):
        # distributed BPE training: merge decisions are inherently
        # sequential (each argmax depends on all prior merges), so
        # this is rows-only like the other iterative operators — the
        # certification is exact merge-table equality vs an
        # independent pure-python reference in tests/test_bpe.py,
        # plus determinism via (-freq, left, right) tie-breaks
        from askg_spark import bpe
        wc = bpe.word_type_counts(_t(spark, sf, "documents"))
        merges = bpe.train_bpe(wc, n_merges=10, min_freq=2)
        return local_frame(
            spark, [(i, a, b, f) for i, (a, b, f) in enumerate(merges)],
            "rank int, left string, right string, freq long")

    def doc_dsir_scores(spark, sf):
        # DSIR-style data selection: importance of each doc under a
        # target distribution (here: the English slice) vs the raw
        # corpus, over unigram+bigram features with multiplicity;
        # integer-exact scaled count-ratio weights (see
        # textops.dsir_weights for the documented log->ratio
        # deviation), so the oracle recomputes every weight and sum
        docs = _t(spark, sf, "documents")
        return textops.dsir_scores(docs, docs.filter(F.col("lang") == "en"))

    def _messy_url(d):
        # shared closed-form messy URL (uppercase scheme/host, www.,
        # default :443 port, trailing slash, utm_ tracking param,
        # unsorted params, fragment) — ONE definition feeding both
        # web_canonical_urls and web_surt_keys so the two oracles
        # can't drift apart
        return F.concat(
            F.lit("HTTPS://WWW.Site"), (d % 7).cast("string"),
            F.lit(".com"),
            F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/Path/"), d.cast("string"),
            F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=x&b="), (d % 5).cast("string"),
            F.lit("&a=1"),
            F.when(d % 4 == 0, F.lit("#sec")).otherwise(F.lit("")))

    def web_canonical_urls(spark, sf):
        # URL canonicalization (crawl-dedup key): messy URLs ->
        # one pure Column expression; the oracle emits the expected
        # canonical form directly
        from askg_spark import webgraph
        messy = _messy_url(F.col("doc_id"))
        return _t(spark, sf, "documents").select(
            "doc_id",
            messy.alias("url"),
            webgraph.canonicalize_url(messy).alias("canon_url"))

    def warc_roundtrip(spark, sf):
        # CC-style ingest surface certified end-to-end: documents are
        # planted as real WARC/1.0 segments (per-record gzip members,
        # warcinfo + request + response records, exact Content-Length
        # bookkeeping), then re-read by the distributed parser
        # (mapInPandas over segments, zero shuffle); every emitted
        # column is arithmetic in doc_id, so the oracle recomputes
        # the expected pages straight from the documents table —
        # a payload-md5 mismatch means the parser did not recover
        # byte-identical bodies (the north rule's per-row invariant)
        from askg_spark import warc as W
        docs = _t(spark, sf, "documents")
        pages = W.parse_warc(W.documents_as_warc(docs, n_segments=32))
        return pages.select(
            "url", "ts_epoch", "status",
            F.md5(F.col("payload")).alias("payload_md5"),
            F.octet_length(F.col("payload")).cast("long").alias("n_bytes"))

    def kg_ntriples_export(spark, sf):
        # RDF export surface: serialize a triple frame as W3C
        # N-Triples lines via the pure-Column escape chains in
        # triples.to_ntriples — IRI objects for edges, escaped string
        # literals for attributes. The literal branch injects every
        # ECHAR (backslash, quote, newline, tab) around documents.text
        # so the oracle certifies the escape order exactly; the IRI
        # branch exercises %20 on multi-word names (MIDDLE EAST)
        from askg_spark import triples as T
        n, r = _t(spark, sf, "nation"), _t(spark, sf, "region")
        edges = (n.join(F.broadcast(r),
                        n.n_regionkey == r.r_regionkey)
                 .select(F.concat(F.lit("nation "),
                                  F.col("n_name")).alias("subj"),
                         F.lit("IN_REGION").alias("pred"),
                         F.col("r_name").alias("obj"),
                         F.lit(True).alias("is_iri")))
        attrs = _t(spark, sf, "documents").select(
            F.concat(F.lit("doc "),
                     F.col("doc_id").cast("string")).alias("subj"),
            F.lit("text").alias("pred"),
            F.concat(F.lit('say "'), F.col("text"),
                     F.lit('"\\\n\tok')).alias("obj"),
            F.lit(False).alias("is_iri"))
        return T.to_ntriples(edges.unionByName(attrs),
                             object_is_iri=F.col("is_iri"))

    def web_robots_filter(spark, sf):
        # crawl-frontier politeness: REAL robots.txt text synthesized
        # per domain (comments, a decoy badbot group, wildcard +
        # end-anchor rules, a domain-dependent extra rule), parsed by
        # the RFC 9309 parser once per domain, then longest-match
        # applied JVM-side to closed-form URL paths; the oracle
        # re-derives every decision from the same arithmetic, so a
        # green row pins group selection, wildcard translation AND
        # precedence (note /private/ok/{id}.zip: Allow len 11 beats
        # Disallow /*.zip$ len 7)
        from askg_spark import robots as R
        docs = _t(spark, sf, "documents")
        d = F.col("doc_id")
        urls = docs.select(
            "doc_id",
            F.col("source").alias("domain"),
            F.concat(
                F.when(d % 5 == 0, F.lit("/private/"))
                 .when(d % 5 == 1, F.lit("/private/ok/"))
                 .when(d % 5 == 2, F.lit("/data/"))
                 .otherwise(F.lit("/pub/")),
                d.cast("string"),
                F.when(d % 7 == 0, F.lit(".zip"))
                 .otherwise(F.lit(".html"))).alias("path"))
        robots_txt = docs.select("source").distinct().select(
            F.col("source").alias("domain"),
            F.concat(
                F.lit("# synthetic per-domain policy\n"
                      "User-agent: badbot\nDisallow: /\n\n"
                      "User-agent: *\n"
                      "Disallow: /private/\n"
                      "Allow: /private/ok\n"
                      "Disallow: /*.zip$\n"),
                F.when(
                    F.ascii(F.substring(F.col("source"), -1, 1)) % 2
                    == 0,
                    F.lit("Disallow: /data/\n")).otherwise(F.lit("")))
            .alias("robots_txt"))
        rules = R.robots_rules(robots_txt, agent="askg-spark")
        return R.apply_robots(urls, rules)

    def catalog_pruned_scan(spark, sf):
        # Iceberg-style manifest pruning certified end-to-end: events
        # written range-partitioned on event_id, per-file min/max
        # harvested from parquet footers into the manifest, then a
        # 10%-range scan that OPENS only overlapping files. `pruned`
        # pins that file skipping actually happened (strictly fewer
        # files opened than exist); the aggregate pins that the
        # pruned read lost no rows vs the oracle's full-table filter
        import os
        import shutil

        from askg_spark.catalog import Catalog
        root = f"/tmp/askg-prune-{os.path.basename(sf.rstrip('/'))}"
        shutil.rmtree(root, ignore_errors=True)
        cat = Catalog(root)
        cat.write_snapshot(
            _t(spark, sf, "events").repartitionByRange(8, "event_id"),
            "events_rt")
        cat.collect_file_stats("events_rt", ["event_id"])
        df, rep = cat.scan_pruned(spark, "events_rt", "event_id",
                                  1000, 1999)
        return (df.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.countDistinct("user_id").alias("n_users"))
                .select("event_type", "n", "n_users",
                        F.lit(1 if rep["files_read"] < rep["files_total"]
                              else 0).alias("pruned")))

    def web_surt_keys(spark, sf):
        # CDX index keys: the same messy closed-form URLs as
        # web_canonical_urls (shared _messy_url), through
        # canonicalize_url + SURT host reversal; the oracle rebuilds
        # the expected key from the known canonical form
        from askg_spark import webgraph
        return _t(spark, sf, "documents").select(
            "doc_id",
            webgraph.surt_key(_messy_url(F.col("doc_id")))
            .alias("surt"))

    def events_quantile_sketch(spark, sf):
        # quantile-sketch certification, events_distinct_sketch-style:
        # percentile_approx (GK sketch, accuracy 1000 => rank error
        # <= 1e-3) checked IN-ENGINE — the approx quantile's true rank
        # must sit within 0.011 of its target — so the approximate
        # operator gets a hard oracle without DuckDB reproducing the
        # sketch; the flag is an algorithmic guarantee, not luck
        ev = _t(spark, sf, "events")
        ap = ev.groupBy("event_type").agg(
            F.expr("percentile_approx(value, array(0.5, 0.9), 1000)")
            .alias("_q"))
        j = ev.join(F.broadcast(ap), "event_type")
        return (j.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.avg((F.col("value") <= F.element_at("_q", 1))
                           .cast("double")).alias("_r50"),
                     F.avg((F.col("value") <= F.element_at("_q", 2))
                           .cast("double")).alias("_r90"))
                .select("event_type", "n",
                        (F.abs(F.col("_r50") - 0.5) <= 0.011)
                        .cast("int").alias("p50_ok"),
                        (F.abs(F.col("_r90") - 0.9) <= 0.011)
                        .cast("int").alias("p90_ok")))

    def web_cdx_index(spark, sf):
        # CDX archive index over the planted WARC segments: per
        # response record, its SURT key + timestamp + an IN-ENGINE
        # random-access certification (cdx_ok: the indexed byte range
        # re-sliced from the segment and re-parsed standalone must
        # reproduce the url and byte-identical payload — the contract
        # ranged GETs depend on). Offsets themselves depend on
        # compressed sizes, so the oracle pins (url, surt, ts, ok=1)
        # and the slice check pins the geometry
        from askg_spark import warc as W
        from askg_spark import webgraph
        docs = _t(spark, sf, "documents")
        seg = W.documents_as_warc(docs, n_segments=32)
        idx = W.cdx_records(seg)
        return idx.select(
            "url",
            webgraph.surt_key(F.col("url")).alias("surt"),
            "ts_epoch", "cdx_ok")

    def web_fetch_schedule(spark, sf):
        # crawl-frontier politeness scheduling: one fetch slot per
        # domain every delay_ms (domain-dependent), slots assigned in
        # deterministic doc_id order — the window-rank shape that
        # spreads 10^12 fetches into per-domain queues; the shuffle
        # key is the domain, the same key the frontier is partitioned
        # by anyway
        from pyspark.sql import Window
        docs = _t(spark, sf, "documents")
        delay = (500 + (F.ascii(F.substring(F.col("source"), -1, 1))
                        % 3) * 250)
        w = Window.partitionBy("source").orderBy("doc_id")
        return docs.select(
            "doc_id",
            F.col("source").alias("domain"),
            ((F.row_number().over(w) - 1) * delay)
            .cast("long").alias("fetch_at_ms"))

    def doc_eval_holdout(spark, sf):
        # exact-k per-language eval holdout: deterministic md5 rank
        # inside each stratum, k=20 — the exact-count companion to
        # doc_sample_mixture's rate-based filter
        return textops.stratified_topk(
            _t(spark, sf, "documents").select("doc_id", "lang"),
            k=20, strata_col="lang", key_col="doc_id")

    def events_distinct_sketch(spark, sf):
        # sketch certification, ann_recall_report-style: per event
        # type, HLL++ approx-distinct users (rsd=0.05) checked
        # IN-ENGINE against the exact distinct — the emitted row pins
        # the exact count plus a bounds flag (|approx-exact| within
        # 3*rsd), so the approximate operator gets a hard oracle
        # without DuckDB having to reproduce Spark's HLL register
        # layout; the sketch itself is deterministic for fixed data
        ev = _t(spark, sf, "events")
        rsd = 0.05
        agg = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd).alias("_approx"))
        return agg.select(
            "event_type",
            F.col("n_exact").cast("long").alias("n_exact"),
            (F.abs(F.col("_approx") - F.col("n_exact"))
             <= 3 * rsd * F.col("n_exact"))
            .cast("int").alias("sketch_ok"))

    def part_cooccur_triangles(spark, sf):
        # exact triangle census of the part co-occurrence graph
        # (parts sharing an order), degree-ordered orientation so the
        # wedge joins stay O(sqrt(m))-bounded per node — the count is
        # orientation-independent, so the oracle recomputes it with
        # the simpler id-ordering
        from askg_spark import graphops
        return graphops.triangle_stats(view(spark, "cooccur", sf)["edges"])

    def part_cooccur_kcore(spark, sf):
        # 80-core of the same co-occurrence graph: iterative peel to
        # the fixed point (<= 7 rounds here), surviving (node, degree)
        # rows; the oracle unrolls the peel to the 16-round backstop
        from askg_spark import graphops
        return graphops.kcore(view(spark, "cooccur", sf)["edges"], k=80)

    def events_latest_per_user(spark, sf):
        from pyspark.sql import Window
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id"))
        return (_t(spark, sf, "events")
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("user_id", "event_id", "event_type", "ts"))

    def events_counts_by_type(spark, sf):
        return (_t(spark, sf, "events")
                .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))

    def events_hourly_counts(spark, sf):
        return (_t(spark, sf, "events")
                .groupBy(F.window("ts", "1 hour"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("window.start").alias("hour_start"),
                        "event_type", "n"))

    def events_anomaly_hours(spark, sf):
        # integer-exact 3-sigma hourly volume anomalies per type: the
        # z-test multiplied out to BIGINT moments, no float boundary
        from askg_spark.timeseries import anomaly_hours
        return anomaly_hours(_t(spark, sf, "events"))

    def events_asof_join(spark, sf):
        # point-in-time join: each purchase gains the latest click at
        # or before it per user — one window shuffle, no range join
        # (timeseries.asof_join); oracle = DuckDB's native ASOF JOIN
        from askg_spark.timeseries import asof_join
        ev = _t(spark, sf, "events")
        purchases = ev.filter(F.col("event_type") == "purchase") \
            .select("user_id", "event_id", "ts", "value")
        clicks = ev.filter(F.col("event_type") == "click") \
            .select("user_id", "event_id", "ts", "value")
        return asof_join(purchases, clicks)

    def events_sessions(spark, sf):
        # gap-based sessionization (30-min gap): one exchange — the
        # session groupBy rides the window's hash partitioning
        from askg_spark.timeseries import sessionize
        return sessionize(_t(spark, sf, "events"), gap_seconds=1800)

    def events_rolling_weekly(spark, sf):
        # trailing 7-day activity via a RANGE-framed window over
        # day-granular pre-aggregates
        from askg_spark.timeseries import rolling_counts
        return rolling_counts(_t(spark, sf, "events"), window_days=7)

    def events_cohort_retention(spark, sf):
        from askg_spark.timeseries import cohort_retention
        return cohort_retention(_t(spark, sf, "events"))

    def events_type_pivot(spark, sf):
        # reshaping: per-user event counts pivoted to one column per
        # type; explicit value list keeps the schema static (no
        # distinct-scan) — the at-scale pivot discipline
        return (_t(spark, sf, "events")
                .groupBy("user_id")
                .pivot("event_type",
                       ["click", "error", "purchase", "signup", "view"])
                .agg(F.count(F.lit(1)))
                .na.fill(0))

    def events_funnel(spark, sf):
        # ordered first-touch funnel view -> click -> purchase: one
        # keyed min-agg per step, each joined to the prior stage
        from askg_spark.timeseries import funnel_counts
        return funnel_counts(_t(spark, sf, "events"),
                             ["view", "click", "purchase"])

    def events_json_extract(spark, sf):
        return _t(spark, sf, "events").select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"))

    def top_customers_by_revenue(spark, sf):
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        agg = orders.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"))
        return (agg.join(F.broadcast(cust),
                         agg["o_custkey"] == cust["c_custkey"])
                .select(F.col("c_custkey"), F.col("c_name"),
                        F.col("revenue"), F.col("n_orders"))
                .orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(10))

    def lineitem_pricing_summary(spark, sf):
        return (_t(spark, sf, "lineitem")
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                     .cast("double").alias("sum_qty"),
                     F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                     .cast("double").alias("sum_base_price"),
                     F.count(F.lit(1)).alias("n")))

    def nation_lineitem_volume(spark, sf):
        li = _t(spark, sf, "lineitem")
        supp = _t(spark, sf, "supplier")
        nat = _t(spark, sf, "nation")
        return (li.join(F.broadcast(supp),
                        li["l_suppkey"] == supp["s_suppkey"])
                .join(F.broadcast(nat),
                      supp["s_nationkey"] == nat["n_nationkey"])
                .groupBy("n_name").agg(F.count(F.lit(1)).alias("n_items")))

    def part_name_normalized(spark, sf):
        return _t(spark, sf, "part").select(
            "p_partkey", N.norm_name(F.col("p_name")).alias("norm_name"))

    def docs_per_lang(spark, sf):
        return (_t(spark, sf, "documents")
                .groupBy("lang")
                .agg(F.countDistinct("source").alias("n_sources"),
                     F.count(F.lit(1)).alias("n_docs")))

    # Entry ORDER is part of the driver contract: the driver verifies
    # exactly the first 50 dict entries each round. Round-5 rotation
    # (VERDICT r4 next-round #2): positions 1-12 are the 12 queries
    # whose only oracle rows were two binaries stale (r2), 13-15 the
    # rows-only stragglers (corpus_bpe_merges had NO driver row yet),
    # 16-19 the queries changed or added this round (the three
    # ln->exact-ratio contract rewrites plus the new quarantine
    # surface), and 20-50 are 31 of the 39 queries whose latest row
    # is r3 — after this round no query's newest gate row predates
    # the r3 binary, and only 8 r3-green stable queries (first in
    # the tail below) are older than r4. Contract growth is frozen
    # at +1 (multimodal_quarantine_stats, VERDICT r4 ask #6).
    return {
        # (a) r2-binary-only oracle rows -> re-verify first
        "kg_dedup_report": kg_dedup_report,
        "kg_fuzzy_groups": kg_fuzzy_groups,
        "kg_resource_triples": kg_resource_triples,
        "kg_github_mentions": kg_github_mentions,
        "kg_mcpmarket_mentions": kg_mcpmarket_mentions,
        "stream_changed_pages": stream_changed_pages,
        "kg_relations_capped": kg_relations_capped,
        "doc_quality_filter": doc_quality_filter,
        "doc_quality_extended": doc_quality_extended,
        "doc_fingerprints": doc_fingerprints,
        "doc_category_counts": doc_category_counts,
        "dedup_near_clusters": dedup_near_clusters,
        # (b) rows-only entries with stale or missing driver rows
        "corpus_bpe_merges": corpus_bpe_merges,
        "kg_fixture_entities": kg_fixture_entities,
        "web_pagerank_topk": web_pagerank_topk,
        # (c) changed or new in r5 (exact-ratio contracts, quarantine)
        "doc_lm_perplexity": doc_lm_perplexity,
        "doc_top_terms": doc_top_terms,
        "corpus_collocations": corpus_collocations,
        "multimodal_quarantine_stats": multimodal_quarantine_stats,
        # (d) r3-green rotation, one-per-family coverage
        "kg_search": kg_search,
        "kg_semantic_search": kg_semantic_search,
        "kg_clean_cypher": kg_clean_cypher,
        "registry_completeness": registry_completeness,
        "emb_label_centroids": emb_label_centroids,
        "docs_per_lang": docs_per_lang,
        "part_name_normalized": part_name_normalized,
        "doc_token_stats": doc_token_stats,
        "doc_lang_id": doc_lang_id,
        "corpus_token_vocab": corpus_token_vocab,
        "dedup_exact_groups": dedup_exact_groups,
        "dedup_minhash_pairs": dedup_minhash_pairs,
        "dedup_ngram_pairs": dedup_ngram_pairs,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "dedup_embedding_pairs": dedup_embedding_pairs,
        "web_owner_indegree": web_owner_indegree,
        "events_asof_join": events_asof_join,
        "events_latest_per_user": events_latest_per_user,
        "events_sessions": events_sessions,
        "events_cohort_retention": events_cohort_retention,
        "top_customers_by_revenue": top_customers_by_revenue,
        "lineitem_pricing_summary": lineitem_pricing_summary,
        "nation_lineitem_volume": nation_lineitem_volume,
        "doc_quality_report": doc_quality_report,
        "doc_repetition_stats": doc_repetition_stats,
        "doc_pii_scan": doc_pii_scan,
        "doc_line_dedup": doc_line_dedup,
        "doc_pack_assignments": doc_pack_assignments,
        "doc_length_quantiles": doc_length_quantiles,
        "doc_sample_mixture": doc_sample_mixture,
        "doc_contamination": doc_contamination,
        # ---- past-50 tail: 8 r3-green stable, then r4 greens ----
        "events_funnel": events_funnel,
        "events_type_pivot": events_type_pivot,
        "events_rolling_weekly": events_rolling_weekly,
        "events_counts_by_type": events_counts_by_type,
        "events_hourly_counts": events_hourly_counts,
        "events_json_extract": events_json_extract,
        "doc_normalize_text": doc_normalize_text,
        "doc_oov_rate": doc_oov_rate,
        "kg_triples": kg_triples,
        "kg_triples_diff": kg_triples_diff,
        "kg_two_hop": kg_two_hop,
        "kg_similar_servers": kg_similar_servers,
        "kg_degree_topk": kg_degree_topk,
        "kg_category_counts": kg_category_counts,
        "kg_category_hierarchy": kg_category_hierarchy,
        "kg_canonical_groups": kg_canonical_groups,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_ivf_topk": ann_ivf_topk,
        "ann_recall_report": ann_recall_report,
        "ann_topk": ann_topk,
        "web_pagerank_quantized": web_pagerank_quantized,
        "multimodal_decode_stats": multimodal_decode_stats,
        "multimodal_resize_stats": multimodal_resize_stats,
        "multimodal_frame_stats": multimodal_frame_stats,
        "multimodal_bmp_stats": multimodal_bmp_stats,
        "multimodal_audio_stats": multimodal_audio_stats,
        "multimodal_gif_stats": multimodal_gif_stats,
        "doc_dsir_scores": doc_dsir_scores,
        "part_cooccur_triangles": part_cooccur_triangles,
        "events_distinct_sketch": events_distinct_sketch,
        "doc_eval_holdout": doc_eval_holdout,
        "web_canonical_urls": web_canonical_urls,
        "warc_roundtrip": warc_roundtrip,
        "kg_ntriples_export": kg_ntriples_export,
        "web_robots_filter": web_robots_filter,
        "catalog_pruned_scan": catalog_pruned_scan,
        "multimodal_jpeg_stats": multimodal_jpeg_stats,
        "graph_bfs_depths": graph_bfs_depths,
        "web_surt_keys": web_surt_keys,
        "events_quantile_sketch": events_quantile_sketch,
        "web_cdx_index": web_cdx_index,
        "web_fetch_schedule": web_fetch_schedule,
        "dedup_substring_spans": dedup_substring_spans,
        "web_anchor_texts": web_anchor_texts,
        "part_cooccur_kcore": part_cooccur_kcore,
        "dedup_incremental": dedup_incremental,
        "corpus_domain_stats": corpus_domain_stats,
        "events_anomaly_hours": events_anomaly_hours,
        "doc_chunks": doc_chunks,
        "kg_negative_samples": kg_negative_samples,
        "stream_windowed_mentions": stream_windowed_mentions,
        "kg_random_walks": kg_random_walks,
        "corpus_bpe_encode": corpus_bpe_encode,
        "kg_id_stats": kg_id_stats,
        "kg_repo_domains": kg_repo_domains,
    }


# --------------------------------------------------------------- oracles

# Full 11-category keyword classifier over the classifier probe
# lower(description || ' ' || name) — vocabulary-independent mirror of
# ontology.classify_categories (ADVICE r1: the old single-keyword CASE
# only matched because the testdata vocabulary never hit other keywords)
_CAT_KEYWORDS_SQL = [
    ("database", ["database", "sql", "postgres", "mysql", "mongodb",
                  "redis"]),
    ("file_system", ["file", "filesystem", "directory", "folder",
                     "storage"]),
    ("api_integration", ["api", "rest", "graphql", "webhook", "http"]),
    ("development_tools", ["git", "github", "code", "development",
                           "build"]),
    ("data_processing", ["data", "etl", "transform", "process",
                         "analytics"]),
    ("cloud_services", ["aws", "azure", "gcp", "cloud", "kubernetes"]),
    ("communication", ["slack", "discord", "email", "notification",
                       "message"]),
    ("authentication", ["auth", "oauth", "login", "security", "jwt"]),
    ("monitoring", ["monitor", "metrics", "logging", "observability"]),
    ("search", ["search", "index", "elasticsearch", "solr"]),
    ("ai_ml", ["ai", "ml", "machine learning", "neural", "model"]),
]


def _cat_case(cat: str, kws: list[str]) -> str:
    conds = " OR ".join(f"probe LIKE '%{k}%'" for k in kws)
    return f"CASE WHEN {conds} THEN ['{cat}'] ELSE [] END"


_KG_ENT_CTE = """
WITH m AS (
  SELECT doc_id, source AS author,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
           CAST(doc_id AS VARCHAR) AS name,
         text
  FROM documents
),
ent AS (
  SELECT author || '/' || name AS id, author, name, text,
         lower(coalesce(text, '') || ' ' || name) AS probe
  FROM m
),
hits AS (
  SELECT id, unnest(flatten([
    %s])) AS category
  FROM ent
),
ecat AS (
  SELECT e.id, e.author, coalesce(h.category, 'other') AS category
  FROM ent e LEFT JOIN hits h ON e.id = h.id
)
""" % (",\n    ".join(_cat_case(c, kws) for c, kws in _CAT_KEYWORDS_SQL))

_STOPWORDS = ("'the','a','of','and','to','der','die','das','und','nicht',"
              "'el','los','las','que','y','le','la','les','et','ne',"
              "'的','是','了','在','我'")

# fixed BPE merge table shared by corpus_bpe_encode and its oracle
# (order matters: later merges consume earlier merges' symbols)
_BPE_FIXED_MERGES = [
    ("t", "h", 0), ("th", "e", 0), ("the", "</w>", 0),
    ("s", "o", 0), ("so", "r", 0), ("sor", "t", 0), ("sort", "</w>", 0),
    ("a", "n", 0), ("i", "n", 0), ("e", "</w>", 0),
]

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_TOKS_SAFE = (f"CASE WHEN text IS NULL OR length(trim(text)) = 0 "
              f"THEN [] ELSE {_TOKS} END")


def oracle_sql() -> dict[str, str]:
    # Unrolled 8-iteration power-method PageRank over the mcpmarket
    # page->owner link graph — the GENERIC operator re-expressed in
    # SQL (edges/outdeg/inflow/dangling-mass per webgraph.pagerank),
    # not a corpus closed form; only the edge list derivation knows
    # the corpus. Ranks compare as floor(rank*1e9) BIGINTs.
    pr_iters = []
    for k in range(1, 9):
        p = f"r{k - 1}"
        # AS MATERIALIZED: DuckDB inlines plain CTEs, and each rank
        # frame is referenced twice by the next round — inlined, the
        # plan doubles per iteration (2^8 copies of the whole chain,
        # which hangs); materialized, each round is evaluated once —
        # the same reason the Spark loop localCheckpoints
        pr_iters.append(f"""
i{k} AS MATERIALIZED (
  SELECT f.dst AS node, sum(r.rank * f.w) AS inflow
  FROM fan f JOIN {p} r ON f.src = r.node GROUP BY f.dst),
l{k} AS MATERIALIZED (
  SELECT coalesce(sum(inflow), 0.0) AS m FROM i{k}),
r{k} AS MATERIALIZED (
  SELECT v.node,
         0.15 / (SELECT n FROM nn)
         + 0.85 * (coalesce(i.inflow, 0.0)
                   + (1.0 - (SELECT m FROM l{k}))
                     / (SELECT n FROM nn)) AS rank
  FROM verts v LEFT JOIN i{k} i ON v.node = i.node)""")
    pagerank_sql = f"""
WITH pages AS (
  SELECT 'https://mcpmarket.com/servers/'
           || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-'
           || CAST(doc_id AS VARCHAR) AS src,
         'github.com/' || source AS dst
  FROM documents),
edges AS (SELECT DISTINCT src, dst FROM pages),
verts AS (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
outdeg AS (SELECT src, count(*) AS c FROM edges GROUP BY src),
fan AS (SELECT e.src, e.dst, 1.0 / o.c AS w
        FROM edges e JOIN outdeg o ON e.src = o.src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM verts),
{",".join(pr_iters)}
SELECT node, CAST(floor(rank * 1e9) AS BIGINT) AS rank_nano
FROM r8 ORDER BY rank_nano DESC, node ASC LIMIT 10
"""
    # --- ANN SQL mirrors -------------------------------------------
    # The LSH hyperplanes are a pure md5 closed form
    # (simsearch._hyperplanes: uint64(md5("42:p:d")[:8]) / 2^63 - 1),
    # so the WHOLE approximate algorithm — signatures, 2-bit banding,
    # query-side multiprobe, candidate equi-join, exact rescore — is
    # SQL-expressible; sign bits are float-threshold decisions, safe
    # unless a dot product lands within summation-order noise (~1e-16)
    # of 0. k-means likewise: md5-ordered seeds, 5 unrolled Lloyd
    # iterations (argmax ties -> lowest cell, numpy semantics),
    # empty-cell fallback. Every iteration CTE is MATERIALIZED (each
    # is referenced by the next round twice; inlined the plan doubles
    # per round).
    _ann_prefix = """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
vx AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x
  FROM e)"""
    _lsh_core = """
planes AS MATERIALIZED (
  SELECT p.p, d.d,
         CAST(CAST('0x' || substr(md5('42:' || CAST(p.p AS VARCHAR)
                || ':' || CAST(d.d AS VARCHAR)), 1, 16) AS UBIGINT)
              AS DOUBLE) / 9223372036854775808.0 - 1.0 AS w
  FROM (SELECT unnest(range(24)) AS p) p,
       (SELECT unnest(range(64)) AS d) d),
bits AS MATERIALIZED (
  SELECT vec_id, p,
         CASE WHEN sum(x * w) >= 0 THEN 1 ELSE 0 END AS b
  FROM vx JOIN planes ON vx.d = planes.d
  GROUP BY vec_id, p),
bands AS MATERIALIZED (
  SELECT vec_id, p // 2 AS bi, sum(b * (1 + (p % 2))) AS bv
  FROM bits GROUP BY vec_id, p // 2),
corpus_bands AS (
  SELECT vec_id AS neighbor_id,
         CAST(bi AS VARCHAR) || ':' || CAST(bv AS VARCHAR) AS band
  FROM bands),
query_bands AS (
  SELECT DISTINCT vec_id AS query_id,
         CAST(bi AS VARCHAR) || ':' || CAST(xor(bv, f.f) AS VARCHAR)
           AS band
  FROM bands, (VALUES (0), (1), (2)) f(f)
  WHERE vec_id < 8),
lsh_cands AS (
  SELECT DISTINCT q.query_id, c.neighbor_id
  FROM query_bands q JOIN corpus_bands c ON q.band = c.band
  WHERE c.neighbor_id <> q.query_id),
lsh_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM (SELECT ca.query_id, ca.neighbor_id,
               list_cosine_similarity(qe.v, ne.v) AS cosine
        FROM lsh_cands ca
        JOIN e qe ON qe.vec_id = ca.query_id
        JOIN e ne ON ne.vec_id = ca.neighbor_id)),
lsh_topk AS (SELECT query_id, neighbor_id, rank
             FROM lsh_ranked WHERE rank <= 5)"""
    ann_lsh_sql = "WITH " + _ann_prefix + "," + _lsh_core + """
SELECT query_id, neighbor_id, rank FROM lsh_topk
"""
    # IVF: vn = unit-normalized corpus (long format); c0 = 16
    # md5-ordered seeds; 5 Lloyd rounds of
    # assign(argmax cos, ties->lowest cell) + renormalized mean with
    # empty-cell/zero-norm fallback to the previous centroid.
    ivf_rounds = []
    for t in range(1, 6):
        p = f"c{t - 1}"
        ivf_rounds.append(f"""
a{t} AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT vn.vec_id, c.cell,
           row_number() OVER (PARTITION BY vn.vec_id
                              ORDER BY sum(vn.x * c.w) DESC,
                                       c.cell ASC) AS rn
    FROM vn JOIN {p} c ON vn.d = c.d
    GROUP BY vn.vec_id, c.cell) WHERE rn = 1),
s{t} AS MATERIALIZED (
  SELECT a.cell, vn.d, sum(vn.x) AS sx
  FROM a{t} a JOIN vn ON vn.vec_id = a.vec_id
  GROUP BY a.cell, vn.d),
n{t} AS MATERIALIZED (
  SELECT cell, sqrt(sum(sx * sx)) AS nrm FROM s{t} GROUP BY cell),
c{t} AS MATERIALIZED (
  SELECT prev.cell, prev.d,
         CASE WHEN n.nrm IS NOT NULL AND n.nrm > 0
              THEN s.sx / n.nrm ELSE prev.w END AS w
  FROM {p} prev
  LEFT JOIN s{t} s ON s.cell = prev.cell AND s.d = prev.d
  LEFT JOIN n{t} n ON n.cell = prev.cell)""")
    _ivf_core = """
vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM vx
          GROUP BY vec_id),
vn AS MATERIALIZED (
  SELECT vx.vec_id, vx.d, vx.x / vnorm.nrm AS x
  FROM vx JOIN vnorm ON vx.vec_id = vnorm.vec_id),
seeds AS (
  SELECT vec_id,
         row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
c0 AS MATERIALIZED (
  SELECT s.cell, vn.d, vn.x AS w
  FROM seeds s JOIN vn ON vn.vec_id = s.vec_id),""" + \
        ",".join(ivf_rounds) + """,
corpus_cells AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, cell FROM a5),
query_cells AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vn.vec_id, c.cell,
           row_number() OVER (PARTITION BY vn.vec_id
                              ORDER BY sum(vn.x * c.w) DESC,
                                       c.cell ASC) AS rn
    FROM vn JOIN c5 c ON vn.d = c.d
    WHERE vn.vec_id < 8
    GROUP BY vn.vec_id, c.cell) WHERE rn <= 14),
ivf_cands AS (
  SELECT DISTINCT q.query_id, c.neighbor_id
  FROM query_cells q JOIN corpus_cells c ON q.cell = c.cell
  WHERE c.neighbor_id <> q.query_id),
ivf_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM (SELECT ca.query_id, ca.neighbor_id,
               list_cosine_similarity(qe.v, ne.v) AS cosine
        FROM ivf_cands ca
        JOIN e qe ON qe.vec_id = ca.query_id
        JOIN e ne ON ne.vec_id = ca.neighbor_id)),
ivf_topk AS (SELECT query_id, neighbor_id, rank
             FROM ivf_ranked WHERE rank <= 5)"""
    ann_ivf_sql = "WITH " + _ann_prefix + "," + _ivf_core + """
SELECT query_id, neighbor_id, rank FROM ivf_topk
"""
    # recall report: count, per query and method, how many of the
    # exact top-5 the approximate path recovered — integers only
    _exact_core = """
exact_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, e.v) DESC,
                      e.vec_id) AS rank
    FROM e q JOIN e ON e.vec_id <> q.vec_id
    WHERE q.vec_id < 8) WHERE rank <= 5)"""
    ann_recall_sql = ("WITH " + _ann_prefix + "," + _lsh_core + ","
                      + _ivf_core + "," + _exact_core + """
SELECT * FROM (
  SELECT 'lsh' AS method, ex.query_id,
         CAST(count(l.neighbor_id) AS BIGINT) AS n_hits
  FROM exact_topk ex LEFT JOIN lsh_topk l
    ON ex.query_id = l.query_id AND ex.neighbor_id = l.neighbor_id
  GROUP BY ex.query_id
  UNION ALL
  SELECT 'ivf' AS method, ex.query_id,
         CAST(count(i.neighbor_id) AS BIGINT) AS n_hits
  FROM exact_topk ex LEFT JOIN ivf_topk i
    ON ex.query_id = i.query_id AND ex.neighbor_id = i.neighbor_id
  GROUP BY ex.query_id)
""")
    ngram_ctes = f"""t AS (SELECT doc_id, {_TOKS_SAFE} AS toks FROM documents),
g AS (SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in range(1, len(toks) - 1)])
             ELSE [] END AS grams
      FROM t),
e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
sz AS (SELECT doc_id, len(grams) AS n_grams FROM g),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2)"""
    grams_cte = f"""
WITH {ngram_ctes}
SELECT doc_a, doc_b, n_common,
       sa.n_grams + sb.n_grams - n_common AS n_union
FROM inter
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE n_common >= 0.5 * (sa.n_grams + sb.n_grams - n_common)
"""
    # transitive closure of (ngram-Jaccard ∪ exact-fingerprint) edges;
    # recursive CTE terminates because reach ⊆ vertices² and UNION
    # dedups. cluster_id = numeric-min reachable doc_id — the exact
    # semantics of dedup.near_dup_clusters' CC over padded string ids.
    clusters_cte = f"""
WITH RECURSIVE {ngram_ctes},
np AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz sa ON doc_a = sa.doc_id
  JOIN sz sb ON doc_b = sb.doc_id
  WHERE n_common >= 0.5 * (sa.n_grams + sb.n_grams - n_common)),
fpm AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(coalesce(text, '')),
                                 '\\s+', ' ', 'g'))) AS fp
  FROM documents),
fpe AS (
  SELECT f.doc_id AS doc_a, m.canon AS doc_b
  FROM fpm f
  JOIN (SELECT fp, min(doc_id) AS canon FROM fpm GROUP BY fp) m
    USING (fp)
  WHERE f.doc_id <> m.canon),
allp AS (SELECT doc_a, doc_b FROM np UNION
         SELECT doc_a, doc_b FROM fpe),
und AS (SELECT doc_a AS u, doc_b AS v FROM allp UNION
        SELECT doc_b, doc_a FROM allp),
reach AS (
  SELECT doc_id AS u, doc_id AS v FROM documents
  UNION
  SELECT r.u, e2.v FROM reach r JOIN und e2 ON r.v = e2.u)
SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
"""
    # fixed BPE merge table for the encode oracle (third element =
    # training frequency, ignored by apply_merges)
    _sep = "chr(1)"
    _bpe_sql = (f"{_sep} || regexp_replace(word, '(.)', "
                f"'\\1' || {_sep} || {_sep}, 'g') || '</w>' || {_sep}")
    for _l, _r, _ in _BPE_FIXED_MERGES:
        # each symbol is a closed ␁sym␁ unit, so left-to-right
        # replace() is exactly the engine's greedy adjacent-pair fold
        _bpe_sql = (f"replace({_bpe_sql}, "
                    f"{_sep} || '{_l}' || {_sep} || {_sep} || '{_r}' "
                    f"|| {_sep}, {_sep} || '{_l}{_r}' || {_sep})")
    bpe_encode_cte = f"""
WITH w AS (SELECT unnest(string_split_regex(lower(coalesce(text, '')),
                                            '\\s+')) AS word
           FROM documents),
nz AS (SELECT word FROM w WHERE word <> ''),
seg AS (SELECT {_bpe_sql} AS s FROM nz)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(trim(s, chr(1)),
                                 chr(1) || chr(1))) AS token
      FROM seg)
GROUP BY token
"""

    # k-core: the monotone peel unrolled to the engine's max_rounds
    # backstop (16) — rounds past the fixed point are no-ops (degree
    # filter keeps everything), so the unrolled form equals the fixed
    # point whenever the engine converges (it raises otherwise)
    _kcore_rounds = []
    _prev = "e0"
    for _r in range(1, 17):
        _kcore_rounds.append(f"""
k{_r} AS MATERIALIZED (SELECT n FROM (SELECT n, count(*) AS c FROM
          (SELECT u AS n FROM {_prev} UNION ALL SELECT v FROM {_prev})
          GROUP BY n) WHERE c >= 80),
e{_r} AS MATERIALIZED (SELECT u, v FROM {_prev}
          WHERE u IN (SELECT n FROM k{_r})
            AND v IN (SELECT n FROM k{_r}))""")
        _prev = f"e{_r}"
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each round references its predecessor ~5x -> exponential plan
    kcore_cte = f"""
WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem),
e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
       FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p),{",".join(_kcore_rounds)}
SELECT n AS node, CAST(count(*) AS BIGINT) AS degree
FROM (SELECT u AS n FROM {_prev} UNION ALL SELECT v FROM {_prev})
GROUP BY n
"""

    lang_scores = ", ".join(
        f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)})))"
        f" AS s_{lang}"
        for lang, ws in [
            ("en", ["the", "a", "of", "and", "to"]),
            ("de", ["der", "die", "das", "und", "nicht"]),
            ("es", ["el", "los", "las", "que", "y"]),
            ("fr", ["le", "la", "les", "et", "ne"]),
            ("zh", ["的", "是", "了", "在", "我"]),
        ])
    _kg_triples_sql = _KG_ENT_CTE + """
, attr AS (
  SELECT id AS subj, 'HAS_CATEGORY' AS pred, category AS obj FROM ecat
  UNION ALL SELECT id, 'HAS_OPERATION', 'read' FROM ent
  UNION ALL SELECT id, 'AUTHORED_BY', author FROM ent
),
acap AS (
  SELECT id, author FROM (
    SELECT id, author,
           row_number() OVER (PARTITION BY author ORDER BY id) AS rk
    FROM ent WHERE author IS NOT NULL AND author <> '') WHERE rk <= 1000),
ccap AS (
  SELECT id, category FROM (
    SELECT id, category,
           row_number() OVER (PARTITION BY category ORDER BY id) AS rk
    FROM ecat) WHERE rk <= 1000),
rel AS (
  SELECT a.id AS subj, 'same_author' AS pred, b.id AS obj
  FROM acap a JOIN acap b ON a.author = b.author AND a.id < b.id
  UNION
  SELECT a.id, 'similar_functionality', b.id
  FROM ccap a JOIN ccap b ON a.category = b.category AND a.id < b.id
)
SELECT subj, pred, obj FROM attr
UNION ALL SELECT subj, pred, obj FROM rel
"""
    oracles = {
        # Relation pairs mirror the pipeline-default skew cap
        # (PipelineConfig.max_entities_per_key = 1000): top-M entities
        # per hot key ordered by (popularity DESC NULLS LAST, id ASC);
        # rendered-doc entities all have NULL popularity, so ORDER BY
        # id is the exact mirror. The cap does not bind at sf<=0.01
        # (well under 1000 entities per key) — it is mirrored anyway so
        # the oracle stays exact at any sf.
        "kg_triples": _kg_triples_sql,
        # negative sampling: identical md5-rank arithmetic ('0x' hex
        # cast == Spark conv(...,16,10); both 32-bit non-negative);
        # priority 0/1 (not rank value) picks the survivor because
        # the (h+1) fallback can wrap below h
        "kg_negative_samples": f"""
WITH alltr AS ({_kg_triples_sql}),
t AS (SELECT subj, pred, obj FROM alltr
      WHERE pred IN ('AUTHORED_BY', 'HAS_CATEGORY')),
objs AS (SELECT pred, obj,
                row_number() OVER (PARTITION BY pred ORDER BY obj) - 1
                  AS rank
         FROM (SELECT DISTINCT pred, obj FROM t)),
cnts AS (SELECT pred, count(*) AS n_obj FROM objs GROUP BY pred),
b AS (SELECT t.subj, t.pred, t.obj, cnts.n_obj,
             CAST('0x' || substr(md5(concat_ws('|', t.subj, t.pred,
                                               t.obj)), 1, 8) AS BIGINT)
               % cnts.n_obj AS h
      FROM t JOIN cnts USING (pred)),
cand AS (SELECT subj, pred, obj, 0 AS prio, h AS rank FROM b
         UNION ALL
         SELECT subj, pred, obj, 1, (h + 1) % n_obj FROM b),
picked AS (SELECT c.subj, c.pred, c.obj,
                  min_by(o.obj, c.prio) AS neg_obj
           FROM cand c
           JOIN objs o ON o.pred = c.pred AND o.rank = c.rank
           WHERE o.obj <> c.obj
           GROUP BY 1, 2, 3)
SELECT t.subj, t.pred, t.obj, picked.neg_obj
FROM t LEFT JOIN picked USING (subj, pred, obj)
""",
        # random walks: rendezvous-hash neighbor choice — hop t picks
        # arg_min over neighbors d of md5(start|t|d); hops unrolled,
        # bidir MATERIALIZED (each hop re-references it)
        "kg_random_walks": f"""
WITH alltr AS MATERIALIZED ({_kg_triples_sql}),
rel AS MATERIALIZED (
  SELECT DISTINCT subj AS u, obj AS v FROM alltr
  WHERE pred IN ('same_author', 'similar_functionality')),
bidir AS MATERIALIZED (
  SELECT u AS s, v AS d FROM rel UNION SELECT v, u FROM rel),
w0 AS (SELECT DISTINCT u AS start FROM rel ORDER BY start LIMIT 50),
w1 AS (SELECT w0.start,
              arg_min(b.d, md5(w0.start || '|1|' || b.d)) AS hop_1
       FROM w0 JOIN bidir b ON b.s = w0.start GROUP BY w0.start),
w2 AS (SELECT w1.start, w1.hop_1,
              arg_min(b.d, md5(w1.start || '|2|' || b.d)) AS hop_2
       FROM w1 JOIN bidir b ON b.s = w1.hop_1 GROUP BY 1, 2),
w3 AS (SELECT w2.start, w2.hop_1, w2.hop_2,
              arg_min(b.d, md5(w2.start || '|3|' || b.d)) AS hop_3
       FROM w2 JOIN bidir b ON b.s = w2.hop_2 GROUP BY 1, 2, 3)
SELECT w3.start, w3.hop_1, w3.hop_2, w3.hop_3,
       arg_min(b.d, md5(w3.start || '|4|' || b.d)) AS hop_4
FROM w3 JOIN bidir b ON b.s = w3.hop_3 GROUP BY 1, 2, 3, 4
""",
        "kg_two_hop": f"""
WITH alltr AS ({_kg_triples_sql}),
rel AS (SELECT DISTINCT subj, obj FROM alltr
        WHERE pred IN ('same_author', 'similar_functionality')),
anchors AS (SELECT DISTINCT subj AS a FROM rel ORDER BY a LIMIT 5),
hop1 AS (SELECT DISTINCT an.a, r.obj AS mid
         FROM anchors an JOIN rel r ON an.a = r.subj),
hop2 AS (SELECT DISTINCT h.a, r.obj AS dst
         FROM hop1 h JOIN rel r ON h.mid = r.subj
         WHERE r.obj <> h.a)
SELECT a, CAST(count(*) AS BIGINT) AS n_two_hop
FROM hop2 GROUP BY a
""",
        "kg_degree_topk": f"""
WITH alltr AS ({_kg_triples_sql})
SELECT subj, CAST(count(*) AS BIGINT) AS out_degree,
       CAST(count(DISTINCT pred) AS BIGINT) AS n_preds
FROM alltr GROUP BY subj
ORDER BY out_degree DESC, subj ASC LIMIT 20
""",
        # snapshot diff: old = even-trailing-digit subjects + a
        # planted ghost triple, new = current build; added = the odd/
        # suffixed subjects' triples, removed = the ghost. TRY_CAST
        # mirrors Spark's silent cast-to-NULL on ''
        "kg_triples_diff": f"""
WITH alltr AS ({_kg_triples_sql}),
oldt AS (
  SELECT subj, pred, obj FROM alltr
  WHERE TRY_CAST(regexp_extract(subj, '([0-9]+)$', 1) AS BIGINT)
        % 2 = 0
  UNION ALL SELECT 'ghost', 'HAS_CATEGORY', 'other'),
newt AS (SELECT subj, pred, obj FROM alltr)
SELECT subj, pred, obj, 'added' AS change FROM (
  SELECT DISTINCT subj, pred, obj FROM newt
  EXCEPT SELECT DISTINCT subj, pred, obj FROM oldt)
UNION ALL
SELECT subj, pred, obj, 'removed' AS change FROM (
  SELECT DISTINCT subj, pred, obj FROM oldt
  EXCEPT SELECT DISTINCT subj, pred, obj FROM newt)
""",
        "kg_category_counts": _KG_ENT_CTE + """
SELECT category, count(*) AS n FROM ecat GROUP BY category
""",
        # S11 tail: the 12-row static dimension (VALUES mirror of
        # ontology.ONTOLOGY_CATEGORIES) + per-category entity counts;
        # subcategory counts are a closed form of the static parents
        "kg_category_hierarchy": _KG_ENT_CTE + """
, dim AS (
  SELECT * FROM (VALUES
    ('database', CAST(NULL AS VARCHAR)),
    ('file_system', CAST(NULL AS VARCHAR)),
    ('api_integration', CAST(NULL AS VARCHAR)),
    ('development_tools', CAST(NULL AS VARCHAR)),
    ('data_processing', CAST(NULL AS VARCHAR)),
    ('cloud_services', CAST(NULL AS VARCHAR)),
    ('communication', CAST(NULL AS VARCHAR)),
    ('authentication', 'api_integration'),
    ('monitoring', 'cloud_services'),
    ('search', 'file_system'),
    ('ai_ml', CAST(NULL AS VARCHAR)),
    ('other', CAST(NULL AS VARCHAR))) AS d(id, parent_category_id)),
mem AS (
  SELECT category AS id, CAST(count(DISTINCT ecat.id) AS BIGINT)
           AS n_servers
  FROM ecat GROUP BY category),
subs AS (
  SELECT parent_category_id AS id, CAST(count(*) AS BIGINT)
           AS n_subcategories
  FROM dim WHERE parent_category_id IS NOT NULL GROUP BY 1)
SELECT d.id, d.parent_category_id,
       CAST(coalesce(m.n_servers, 0) AS BIGINT) AS n_servers,
       CAST(coalesce(s.n_subcategories, 0) AS BIGINT) AS n_subcategories
FROM dim d
LEFT JOIN mem m ON d.id = m.id
LEFT JOIN subs s ON d.id = s.id
""",
        # W3 per-server similarity top-10: the rendered corpus has
        # operations=['read'] for every entity (no tools in the page
        # template) and implementation_language NULL, so every pair
        # shares exactly one operation and no language term applies.
        # The +1 author bump mirrors the engine's default
        # author_cap=1000 (top-M per author, popularity DESC NULLS
        # LAST then id ASC; popularity is NULL corpus-wide so the
        # order is id ASC) — both pair members must be in their
        # author's top-M for the bump to score.
        "kg_similar_servers": _KG_ENT_CTE + """
, common AS (
  SELECT a.id AS ia, b.id AS ib, count(*) AS nc
  FROM ecat a JOIN ecat b ON a.category = b.category AND a.id < b.id
  GROUP BY 1, 2),
bumped AS (
  SELECT id, author FROM (
    SELECT id, author,
           row_number() OVER (PARTITION BY author ORDER BY id) AS ar
    FROM ent WHERE author IS NOT NULL AND author <> '')
  WHERE ar <= 1000),
pairs AS (
  SELECT a.id AS ia, b.id AS ib,
         CAST(coalesce(c.nc, 0) * 2 + 1 +
              CASE WHEN ba.id IS NOT NULL AND bb.id IS NOT NULL
                    AND a.author = b.author THEN 1 ELSE 0 END AS BIGINT)
           AS score
  FROM ent a JOIN ent b ON a.id < b.id
  LEFT JOIN bumped ba ON ba.id = a.id
  LEFT JOIN bumped bb ON bb.id = b.id
  LEFT JOIN common c ON c.ia = a.id AND c.ib = b.id),
directed AS (
  SELECT ia AS server_id, ib AS similar_id, score FROM pairs
  UNION ALL
  SELECT ib, ia, score FROM pairs),
ranked AS (
  SELECT server_id, similar_id, score,
         CAST(row_number() OVER (PARTITION BY server_id
                                 ORDER BY score DESC, similar_id)
              AS BIGINT) AS rank
  FROM directed)
SELECT server_id, similar_id, score, rank FROM ranked WHERE rank <= 10
""",
        # P14+scoring for the fixed prompt "find data process servers":
        # matched categories = [data_processing], matched operations =
        # [query, transform] (never held by these entities); text and
        # popularity terms mirrored in full for robustness
        "kg_semantic_search": _KG_ENT_CTE + """
, cats AS (
  SELECT id, list(category) AS cat_list FROM ecat GROUP BY id),
scored AS (
  SELECT e.id, e.name,
         CAST(CASE WHEN lower(e.name) LIKE '%find data process servers%'
               THEN 3.0
               WHEN lower(coalesce(e.text, ''))
                    LIKE '%find data process servers%' THEN 2.0
               ELSE 0.0 END
          + CASE WHEN list_contains(c.cat_list, 'data_processing')
                 THEN 2.0 ELSE 0.0 END AS DOUBLE) AS score
  FROM ent e JOIN cats c ON e.id = c.id)
SELECT id, name, score FROM scored
ORDER BY score DESC, id LIMIT 10
""",
        # S10 sub-entity triples: obj strings are pure functions of
        # (doc_id, source) per webcorpus.render_resource_pages — one
        # readme resource always, an api.json resource on even ids, a
        # `<name>-usage` prompt on ids divisible by 3; the entity id
        # is the closed-form `author/name` via the planted repository
        "kg_resource_triples": """
WITH m AS (
  SELECT doc_id, source AS author,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
           CAST(doc_id AS VARCHAR) AS name
  FROM documents),
ent AS (SELECT doc_id, author, name, author || '/' || name AS id FROM m)
SELECT id AS subj, 'HAS_RESOURCE' AS pred,
       'file:///data/' || name || '/readme.txt' AS obj FROM ent
UNION ALL
SELECT id, 'HAS_RESOURCE',
       'https://' || author || '.example.com/' || name || '/api.json'
FROM ent WHERE doc_id % 2 = 0
UNION ALL
SELECT id, 'HAS_PROMPT', name || '-usage' FROM ent WHERE doc_id % 3 = 0
""",
        # S1 github extraction: every projected field is a closed form
        # of (doc_id, source) per webcorpus.render_github_pages
        "kg_github_mentions": """
WITH d AS (
  SELECT doc_id, source,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
           CAST(doc_id AS VARCHAR) AS name
  FROM documents)
SELECT 'https://github.com/' || source || '/' || name AS url,
       name, source AS author,
       'https://github.com/' || source || '/' || name AS repository,
       'MCP server ' || name || ' for data process' AS description,
       'python' AS implementation_language,
       CAST(doc_id % 1000 AS BIGINT) AS popularity_score,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_tools
FROM d
""",
        # S4 mcpmarket server cards: two cards per page ('-a', '-b'),
        # except doc_id % 5 == 0 repeats '-a' and first-wins dedup
        # keeps only it
        "kg_mcpmarket_mentions": """
WITH d AS (
  SELECT doc_id, source,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
           CAST(doc_id AS VARCHAR) AS stem
  FROM documents),
c AS (
  SELECT doc_id, source, stem, stem || '-a' AS name FROM d
  UNION ALL
  SELECT doc_id, source, stem, stem || '-b' AS name FROM d
  WHERE doc_id % 5 <> 0)
SELECT 'https://mcpmarket.com/servers/' || stem AS url,
       name, source AS author,
       'https://github.com/' || source || '/' || name AS repository,
       'card for ' || name AS description
FROM c
""",
        # watermark windowed counts: accepted = on-time rows plus the
        # %7 stragglers whose hour window was still OPEN at run 2
        # (window_end > max_ts(run 1) - 1h); every real window is
        # flushed by the sentinel runs, the sentinels' own windows
        # filtered out. Pure integer second arithmetic; the strict
        # `>` at a watermark/window-end TIE (mx % 3600 == 0) mirrors
        # Spark's evict-at-equality rule, pinned by
        # tests/test_streaming_search.py watermark-boundary test.
        "stream_windowed_mentions": """
WITH m1 AS (SELECT max(doc_id) AS mx FROM documents
            WHERE doc_id % 7 <> 0),
acc AS (SELECT doc_id, (61 * doc_id) // 3600 AS hr
        FROM documents, m1
        WHERE doc_id % 7 <> 0
           OR ((61 * doc_id) // 3600 + 1) * 3600 > 61 * mx - 3600)
SELECT TIMESTAMP '2025-06-01 00:00:00'
         + INTERVAL (hr * 3600) SECOND AS window_start,
       'mcp.so' AS registry,
       CAST(count(*) AS BIGINT) AS n_mentions
FROM acc GROUP BY 1, 2
""",
        # C1 stateful freshness gate: emitted = first crawl of every
        # url + the changed third crawl of every 5th doc; the
        # byte-identical +1000s re-crawl is suppressed by per-url state
        "stream_changed_pages": """
WITH m AS (
  SELECT doc_id, source AS author,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
           CAST(doc_id AS VARCHAR) AS name
  FROM documents),
u AS (
  SELECT doc_id,
         'https://mcp.so/server/' || name || '/' || author AS url,
         TIMESTAMP '2025-06-01 00:00:00'
           + doc_id * INTERVAL 1 SECOND AS ts
  FROM m)
SELECT url, ts AS warc_ts FROM u
UNION ALL
SELECT url, ts + INTERVAL 2000 SECOND AS warc_ts
FROM u WHERE doc_id % 5 = 0
""",
        # A5: every rendered page yields one mcp.so mention; name and
        # author are always present, description iff the document text
        # is non-empty, repo/version/license/homepage never
        "registry_completeness": """
WITH base AS (
  SELECT count(*) AS n,
         sum(CASE WHEN text IS NOT NULL AND text <> '' THEN 1 ELSE 0 END)
           AS n_desc
  FROM documents)
SELECT 'mcp.so' AS registry,
       CAST(n AS BIGINT) AS n_servers,
       CAST(n AS BIGINT) AS n_name,
       CAST(n_desc AS BIGINT) AS n_description,
       CAST(n AS BIGINT) AS n_author,
       CAST(0 AS BIGINT) AS n_repository,
       CAST(0 AS BIGINT) AS n_version,
       CAST(0 AS BIGINT) AS n_license,
       CAST(0 AS BIGINT) AS n_homepage,
       CAST(100.0 AS DOUBLE) AS pct_name,
       CAST(n_desc * 100.0 / n AS DOUBLE) AS pct_description,
       CAST(100.0 AS DOUBLE) AS pct_author,
       CAST(0.0 AS DOUBLE) AS pct_repository,
       CAST(0.0 AS DOUBLE) AS pct_version,
       CAST(0.0 AS DOUBLE) AS pct_license,
       CAST(0.0 AS DOUBLE) AS pct_homepage,
       CAST((n + n_desc + n) * 100.0 / (n * 7) AS DOUBLE) AS pct_overall
FROM base
""",
        # planted-duplicate canonicalization: every 10th doc appears in
        # both the mcp.so and glama page families with the same
        # (name, author); groups, registry unions, the repo fill and
        # the global id are closed-form per doc_id
        "kg_canonical_groups": """
WITH m AS (
  SELECT doc_id, source AS author,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
           CAST(doc_id AS VARCHAR) AS name
  FROM documents
)
SELECT author || '/' || name AS id,
       CAST(CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END AS INTEGER)
         AS n_mentions,
       CASE WHEN doc_id % 10 = 0 THEN 'glama,mcp.so' ELSE 'mcp.so' END
         AS registries,
       CASE WHEN doc_id % 10 = 0
            THEN 'https://github.com/' || author || '/' || name END
         AS repository
FROM m
""",
        # union-corpus ID cascade: every 10th entity's id comes from
        # the planted glama repository URL, the rest from author/name
        # (both name and author are always non-empty on this corpus)
        "kg_id_stats": """
SELECT CASE WHEN doc_id % 10 = 0 THEN 'repository'
            ELSE 'author_name' END AS id_kind,
       count(*) AS n
FROM documents GROUP BY 1
""",
        # only the glama copies carry a repository; all planted repos
        # are distinct github.com URLs
        "kg_repo_domains": """
SELECT 'github.com' AS domain,
       count(*) AS n_mentions,
       count(*) AS n_repos
FROM documents WHERE doc_id % 10 = 0
""",
        # before = one mcp.so mention per doc + one glama mention per
        # 10th doc; after = one canonical entity per doc (the J2
        # name+author key links each pair); norm names are unique per
        # doc, so dup-name groups = the planted pairs
        "kg_dedup_report": """
WITH c AS (
  SELECT count(*) AS n,
         sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS d
  FROM documents
)
SELECT CAST(n + d AS BIGINT) AS n_before,
       CAST(n AS BIGINT) AS n_after,
       CAST(d AS BIGINT) AS n_removed,
       CAST(d * 100.0 / (n + d) AS DOUBLE) AS dedup_rate_pct,
       CAST(n AS BIGINT) AS n_norm_names,
       CAST(d AS BIGINT) AS n_dup_names
FROM c
""",
        # planted FUZZY near-duplicates (no exact key links them): the
        # pair merges iff the composite score clears the STRICT 0.7
        # threshold = iff the doc text is non-empty (author .3 +
        # desc .2 + categories .2 + same-github-org .2 = .9; without
        # desc exactly .7 -> no merge). Unmerged variant pages surface
        # as their own entities with the '-alt' repo id.
        "kg_fuzzy_groups": """
WITH m AS (
  SELECT doc_id, source AS author,
         md5(CAST(doc_id AS VARCHAR)) || '-' ||
           CAST(doc_id AS VARCHAR) AS stem,
         (text IS NOT NULL AND text <> '') AS has_desc
  FROM documents
)
SELECT author || '/' || stem || '-qq' AS id,
       CAST(CASE WHEN doc_id % 10 = 0 AND has_desc THEN 2 ELSE 1 END
            AS INTEGER) AS n_mentions,
       'https://github.com/' || author || '/' || stem || '-qq'
         AS repository
FROM m
UNION ALL
SELECT author || '/' || stem || '-qq-alt' AS id,
       CAST(1 AS INTEGER) AS n_mentions,
       'https://github.com/' || author || '/' || stem || '-qq-alt'
         AS repository
FROM m WHERE doc_id % 10 = 0 AND NOT has_desc
""",
        # J7 skew cap mirror: top-50 per key by (popularity DESC NULLS
        # LAST, id ASC); popularity is NULL corpus-wide here so the id
        # tie-break is the whole order. complementary (>=2 common ops)
        # and alternative_to (same language) are structurally impossible
        # on this corpus: ops = ['read'], language NULL
        "kg_relations_capped": _KG_ENT_CTE + """
, acap AS (
  SELECT id, author FROM (
    SELECT id, author,
           row_number() OVER (PARTITION BY author ORDER BY id) AS rk
    FROM ent WHERE author IS NOT NULL AND author <> '') WHERE rk <= 50),
ccap AS (
  SELECT id, category FROM (
    SELECT id, category,
           row_number() OVER (PARTITION BY category ORDER BY id) AS rk
    FROM ecat) WHERE rk <= 50)
SELECT a.id AS src, b.id AS dst, 'same_author' AS rel_type
FROM acap a JOIN acap b ON a.author = b.author AND a.id < b.id
UNION
SELECT a.id, b.id, 'similar_functionality'
FROM ccap a JOIN ccap b ON a.category = b.category AND a.id < b.id
""",
        "kg_search": """
WITH m AS (
  SELECT doc_id, source AS author,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
           CAST(doc_id AS VARCHAR) AS name,
         text
  FROM documents)
SELECT author || '/' || name AS id, CAST(8.0 AS DOUBLE) AS score
FROM m WHERE lower(text) LIKE '%merge%'
ORDER BY score DESC, id LIMIT 10
""",
        "doc_token_stats": f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SAFE} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_filter(toks, x -> x IN ({_STOPWORDS}))) AS n_stopword_tokens,
       len(list_filter(toks, x -> length(x) > 20)) AS n_long_tokens,
       length(coalesce(text, '')) AS n_chars,
       length(regexp_replace(coalesce(text, ''), '[^A-Za-z]', '', 'g'))
         AS n_alpha_chars,
       length(regexp_replace(coalesce(text, ''),
                             '[A-Za-z0-9 \\t\\n\\r\\f]', '', 'g'))
         AS n_punct_chars,
       len(regexp_extract_all(coalesce(text, ''),
                              ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\r\\f]+'))
         AS n_bpe_tokens
FROM t
""",
        # Gopher-style quality rules — same integer arithmetic as
        # textops.QUALITY_RULES, emission order fixed by the CTE list
        "doc_quality_filter": f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SAFE} AS toks FROM documents),
c AS (SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_filter(toks, x -> x IN ({_STOPWORDS}))) AS n_stopword_tokens,
       len(list_filter(toks, x -> length(x) > 20)) AS n_long_tokens,
       length(coalesce(text, '')) AS n_chars,
       length(regexp_replace(coalesce(text, ''), '[^A-Za-z]', '', 'g'))
         AS n_alpha_chars,
       length(regexp_replace(coalesce(text, ''),
                             '[A-Za-z0-9 \\t\\n\\r\\f]', '', 'g'))
         AS n_punct_chars
      FROM t),
r AS (SELECT doc_id, concat_ws(',',
       CASE WHEN n_tokens < 25 THEN 'too_short' END,
       CASE WHEN n_tokens > 100000 THEN 'too_long' END,
       CASE WHEN n_alpha_chars < 3 * n_tokens
              OR n_alpha_chars > 10 * n_tokens
            THEN 'bad_mean_word_len' END,
       CASE WHEN 50 * n_stopword_tokens < 3 * n_tokens
            THEN 'low_stopword' END,
       CASE WHEN 10 * n_punct_chars > n_chars THEN 'high_symbol' END,
       CASE WHEN 10 * n_long_tokens > n_tokens THEN 'gibberish' END
      ) AS reasons FROM c)
SELECT doc_id, CAST(reasons = '' AS BIGINT) AS keep, reasons FROM r
""",
        "doc_lang_id": f"""
WITH t AS (SELECT doc_id, {_TOKS_SAFE} AS toks FROM documents),
s AS (SELECT doc_id, {lang_scores} FROM t)
SELECT doc_id,
  CASE
    WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
         AND s_en >= s_zh THEN 'en'
    WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh
         THEN 'de'
    WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
    WHEN s_fr > 0 AND s_fr >= s_zh THEN 'fr'
    WHEN s_zh > 0 THEN 'zh'
    ELSE 'und' END AS lang_pred
FROM s
""",
        # extended Gopher filter: signal rules + repetition rules,
        # same integer arithmetic and fixed emission order as
        # textops.QUALITY_RULES + REPETITION_RULES
        "doc_quality_extended": f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SAFE} AS toks,
                  string_split(coalesce(text, ''), chr(10)) AS lines
           FROM documents),
g AS (SELECT doc_id,
             CASE WHEN len(toks) >= 2 THEN
               [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
             ELSE [] END AS g2,
             CASE WHEN len(toks) >= 3 THEN
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in range(1, len(toks) - 1)]
             ELSE [] END AS g3
      FROM t),
lc AS (SELECT doc_id, line, count(*) AS cnt
       FROM (SELECT doc_id, unnest(lines) AS line FROM t) GROUP BY 1, 2),
la AS (SELECT doc_id, CAST(sum(cnt - 1) AS BIGINT) AS n_dup_lines,
              CAST(sum((cnt - 1) * length(line)) AS BIGINT)
                AS n_dup_line_chars
       FROM lc GROUP BY 1),
c2 AS (SELECT doc_id, gram, count(*) AS cnt
       FROM (SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY 1, 2),
t2 AS (SELECT doc_id, max(cnt) AS top_2gram_count FROM c2 GROUP BY 1),
c3 AS (SELECT doc_id, gram, count(*) AS cnt
       FROM (SELECT doc_id, unnest(g3) AS gram FROM g) GROUP BY 1, 2),
a3 AS (SELECT doc_id, CAST(sum(cnt - 1) AS BIGINT) AS n_dup_3grams
       FROM c3 GROUP BY 1),
sig AS (SELECT t.doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ({_STOPWORDS})))
           AS n_stopword_tokens,
         len(list_filter(toks, x -> length(x) > 20)) AS n_long_tokens,
         length(coalesce(text, '')) AS n_chars,
         length(regexp_replace(coalesce(text, ''), '[^A-Za-z]', '', 'g'))
           AS n_alpha_chars,
         length(regexp_replace(coalesce(text, ''),
                               '[A-Za-z0-9 \\t\\n\\r\\f]', '', 'g'))
           AS n_punct_chars,
         len(t.lines) AS n_lines,
         coalesce(la.n_dup_lines, 0) AS n_dup_lines,
         coalesce(la.n_dup_line_chars, 0) AS n_dup_line_chars,
         length(coalesce(text, '')) - (len(t.lines) - 1) AS n_line_chars,
         len(g.g2) AS n_2grams,
         coalesce(t2.top_2gram_count, 0) AS top_2gram_count,
         len(g.g3) AS n_3grams,
         coalesce(a3.n_dup_3grams, 0) AS n_dup_3grams
        FROM t JOIN g USING (doc_id) LEFT JOIN la USING (doc_id)
             LEFT JOIN t2 USING (doc_id) LEFT JOIN a3 USING (doc_id)),
r AS (SELECT doc_id, concat_ws(',',
       CASE WHEN n_tokens < 25 THEN 'too_short' END,
       CASE WHEN n_tokens > 100000 THEN 'too_long' END,
       CASE WHEN n_alpha_chars < 3 * n_tokens
              OR n_alpha_chars > 10 * n_tokens
            THEN 'bad_mean_word_len' END,
       CASE WHEN 50 * n_stopword_tokens < 3 * n_tokens
            THEN 'low_stopword' END,
       CASE WHEN 10 * n_punct_chars > n_chars THEN 'high_symbol' END,
       CASE WHEN 10 * n_long_tokens > n_tokens THEN 'gibberish' END,
       CASE WHEN 10 * n_dup_lines > 3 * n_lines AND n_lines > 1
            THEN 'dup_lines' END,
       CASE WHEN 5 * n_dup_line_chars > n_line_chars AND n_lines > 1
            THEN 'dup_line_chars' END,
       CASE WHEN 10 * top_2gram_count > n_2grams AND n_2grams > 0
            THEN 'top_2gram' END,
       CASE WHEN 10 * n_dup_3grams > 3 * n_3grams AND n_3grams > 0
            THEN 'dup_3grams' END
      ) AS reasons FROM sig)
SELECT doc_id, CAST(reasons = '' AS BIGINT) AS keep, reasons FROM r
""",
        # repetition: per-(doc, value) counts via unnest + GROUP BY;
        # top-gram tie-break = (count DESC, gram ASC) row_number — the
        # exact mirror of the sorted-run-length scan's first-strictly-
        # longer-run-wins rule
        "doc_repetition_stats": f"""
WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS lines,
                  {_TOKS_SAFE} AS toks
           FROM documents),
g AS (SELECT doc_id, lines,
             CASE WHEN len(toks) >= 2 THEN
               [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
             ELSE [] END AS g2,
             CASE WHEN len(toks) >= 3 THEN
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in range(1, len(toks) - 1)]
             ELSE [] END AS g3
      FROM t),
lc AS (SELECT doc_id, line, count(*) AS cnt
       FROM (SELECT doc_id, unnest(lines) AS line FROM g) GROUP BY 1, 2),
la AS (SELECT doc_id, CAST(sum(cnt - 1) AS BIGINT) AS n_dup_lines,
              CAST(sum((cnt - 1) * length(line)) AS BIGINT)
                AS n_dup_line_chars
       FROM lc GROUP BY 1),
c2 AS (SELECT doc_id, gram, count(*) AS cnt
       FROM (SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY 1, 2),
a2 AS (SELECT doc_id, CAST(sum(cnt - 1) AS BIGINT) AS n_dup_2grams
       FROM c2 GROUP BY 1),
t2 AS (SELECT doc_id, cnt AS top_2gram_count, gram AS top_2gram
       FROM (SELECT doc_id, gram, cnt, row_number() OVER (
               PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
             FROM c2) WHERE rn = 1),
c3 AS (SELECT doc_id, gram, count(*) AS cnt
       FROM (SELECT doc_id, unnest(g3) AS gram FROM g) GROUP BY 1, 2),
a3 AS (SELECT doc_id, CAST(sum(cnt - 1) AS BIGINT) AS n_dup_3grams
       FROM c3 GROUP BY 1),
t3 AS (SELECT doc_id, cnt AS top_3gram_count
       FROM (SELECT doc_id, cnt, row_number() OVER (
               PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
             FROM c3) WHERE rn = 1)
SELECT g.doc_id, len(g.lines) AS n_lines,
       coalesce(la.n_dup_lines, 0) AS n_dup_lines,
       coalesce(la.n_dup_line_chars, 0) AS n_dup_line_chars,
       len(g.g2) AS n_2grams,
       coalesce(a2.n_dup_2grams, 0) AS n_dup_2grams,
       coalesce(t2.top_2gram_count, 0) AS top_2gram_count,
       coalesce(t2.top_2gram, '') AS top_2gram,
       len(g.g3) AS n_3grams,
       coalesce(a3.n_dup_3grams, 0) AS n_dup_3grams,
       coalesce(t3.top_3gram_count, 0) AS top_3gram_count
FROM g LEFT JOIN la USING (doc_id) LEFT JOIN a2 USING (doc_id)
       LEFT JOIN t2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
       LEFT JOIN t3 USING (doc_id)
""",
        # PII: planted closed forms of doc_id; counts per pattern over
        # the original augmented text, redaction applied in pattern
        # order (email, ip, phone) — RE2 and Java agree on these
        # ASCII-class patterns byte-for-byte
        "doc_pii_scan": r"""
WITH aug AS (
  SELECT doc_id,
    coalesce(text, '')
    || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
              || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' host 10.'
              || CAST(doc_id % 200 AS VARCHAR) || '.0.1'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' call +1 555 867 5309'
            ELSE '' END AS text
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  len(regexp_extract_all(text,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  len(regexp_extract_all(text,
      '\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}')) AS n_phone,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      '\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g'))
    AS redacted_md5
FROM aug
""",
        # sampling: keep iff 4-hex md5 prefix < per-stratum threshold
        # (rate * 65536 in hex); fixed-width hex compares numerically
        # corpus vocabulary: same whitespace tokenization; n_docs =
        # distinct source rows containing the token; total order via
        # (count DESC, token ASC) makes the top-100 deterministic
        "corpus_token_vocab": f"""
WITH t AS (SELECT doc_id, {_TOKS_SAFE} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS token FROM t)
SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM e GROUP BY token
ORDER BY n_occurrences DESC, token ASC LIMIT 100
""",
        # NFC normalization: nfc_normalize uses the same Unicode
        # tables as Python's unicodedata; chr(769) = combining acute,
        # planted decomposed so composition actually fires. Control
        # strip mirrors the engine's C0 class (NUL unplantable in SQL
        # strings; the class still covers it engine-side)
        "doc_normalize_text": r"""
WITH aug AS (
  SELECT doc_id,
    coalesce(text, '')
    || CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769) || ' line'
              || chr(13) || chr(10) || 'next' ELSE '' END
    || CASE WHEN doc_id % 6 = 0 THEN chr(1) || 'tail' ELSE '' END
      AS text
  FROM documents
),
n AS (
  SELECT doc_id, text,
         regexp_replace(
           replace(replace(nfc_normalize(text),
                           chr(13) || chr(10), chr(10)),
                   chr(13), chr(10)),
           '[\x01-\x08\x0B\x0C\x0E-\x1F]', '', 'g') AS norm
  FROM aug
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_before,
       CAST(length(norm) AS BIGINT) AS n_chars_after,
       md5(norm) AS norm_md5
FROM n
""",
        # OOV: same top-k vocabulary CTE ((count DESC, token ASC)
        # total order -> identical k-boundary), zero-token docs
        # re-attached with (0, 0)
        "doc_oov_rate": f"""
WITH t AS (SELECT doc_id, {_TOKS_SAFE} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS token FROM t),
v AS (SELECT token FROM (
  SELECT token, count(*) AS n FROM e GROUP BY token
  ORDER BY n DESC, token ASC LIMIT 20)),
p AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov
      FROM e LEFT JOIN v ON e.token = v.token GROUP BY e.doc_id)
SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.n_oov, 0) AS n_oov
FROM documents d LEFT JOIN p USING (doc_id)
""",
        # hourly anomaly flags: identical integer moments, identical
        # multiplied-out predicate — no float tolerance anywhere
        "events_anomaly_hours": """
WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                  CAST(count(*) AS BIGINT) AS n_events
           FROM events GROUP BY 1, 2),
m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_h,
             sum(n_events) AS s, sum(n_events * n_events) AS ss
      FROM h GROUP BY 1)
SELECT h.event_type, h.hour, h.n_events,
       CAST(CASE WHEN (CAST(h.n_events AS HUGEINT) * m.n_h - m.s) > 0
                  AND (CAST(h.n_events AS HUGEINT) * m.n_h - m.s)
                      * (CAST(h.n_events AS HUGEINT) * m.n_h - m.s)
                      > 9 * (CAST(m.n_h AS HUGEINT) * m.ss - CAST(m.s AS HUGEINT) * m.s)
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM h JOIN m USING (event_type)
""",
        # domain rollup: corpus-wide duplicate fingerprints, then one
        # group-by over the domain key; same token/fingerprint
        # formulas as the doc-level oracles
        "corpus_domain_stats": f"""
WITH fp AS (SELECT doc_id,
                   md5(trim(regexp_replace(lower(coalesce(text, '')),
                                           '\\s+', ' ', 'g'))) AS fpr
            FROM documents),
dupf AS (SELECT fpr FROM fp GROUP BY fpr HAVING count(*) > 1),
d AS (SELECT doc_id, source AS domain,
             CAST(len({_TOKS_SAFE}) AS BIGINT) AS n_tokens,
             CASE WHEN fpr IN (SELECT fpr FROM dupf) THEN 1 ELSE 0 END
               AS is_dup
      FROM documents JOIN fp USING (doc_id))
SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_short_docs,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_docs
FROM d GROUP BY domain
""",
        # collocations: per-DISTINCT-count ln quantization summed as
        # BIGINTs (same contract as the LM/TF-IDF ops); bigrams keep
        # multiplicity (one row per adjacent pair occurrence)
        "corpus_collocations": f"""
WITH t AS (SELECT {_TOKS_SAFE} AS toks FROM documents),
uni AS (SELECT w, count(*) AS c
        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
tot AS (SELECT sum(c) AS n_total FROM uni),
bg AS (SELECT w1, w2, count(*) AS n_pair FROM (
         SELECT toks[i] AS w1, toks[i+1] AS w2
         FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
         WHERE len(toks) >= 2)
       GROUP BY 1, 2 HAVING count(*) >= 5),
s AS (SELECT bg.w1, bg.w2, CAST(bg.n_pair AS BIGINT) AS n_pair,
             CAST((CAST(1000000 AS HUGEINT) * n_total * bg.n_pair)
                  // (CAST(u1.c AS HUGEINT) * u2.c)
                  AS BIGINT) AS pmi_scaled
      FROM bg JOIN uni u1 ON u1.w = bg.w1
              JOIN uni u2 ON u2.w = bg.w2, tot)
SELECT w1, w2, n_pair, pmi_scaled, rnk FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY pmi_scaled DESC, w1, w2)
                 AS BIGINT) AS rnk
  FROM s)
WHERE rnk <= 20
""",
        # chunking: same stride arithmetic, DuckDB 1-based inclusive
        # list slicing toks[s : s+budget-1]; md5 of the rejoined slice
        # pins boundaries exactly
        "doc_chunks": f"""
WITH t AS (SELECT doc_id, {_TOKS_SAFE} AS toks FROM documents),
b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
      WHERE len(toks) > 0),
nc AS (SELECT doc_id, toks, n,
              CASE WHEN n <= 64 THEN 1
                   ELSE 1 + CAST(ceil((n - 64) / 48.0) AS BIGINT) END
                AS n_chunks
       FROM b)
SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       CAST(k * 48 + 1 AS BIGINT) AS start_tok,
       CAST(least(64, n - k * 48) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(toks[(k * 48 + 1):(k * 48 + 64)], ' '))
         AS chunk_md5
FROM nc, unnest(generate_series(0, n_chunks - 1)) AS g(k)
""",
        # TF-IDF keywords: exact scaled-integer idf RATIO (same
        # engine-independent contract as the LM op); row_number
        # tie-break mirrored exactly
        "doc_top_terms": f"""
WITH t AS (SELECT doc_id, {_TOKS_SAFE} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM e GROUP BY 1, 2),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
idf AS (SELECT term,
               (CAST(1000000 AS HUGEINT) * n_docs) // count(*)
                 AS idf_scaled
        FROM tf, nd GROUP BY term, n_docs),
s AS (SELECT tf.doc_id, tf.term, tf.tf,
             CAST(tf.tf * idf.idf_scaled AS BIGINT) AS score_scaled
      FROM tf JOIN idf USING (term))
SELECT doc_id, term, tf, score_scaled,
       rnk
FROM (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score_scaled DESC, term ASC) AS BIGINT) AS rnk
      FROM s)
WHERE rnk <= 3
""",
        # unigram-LM bucketing: per-token improbability quantized to
        # an exact scaled-integer count RATIO before the per-doc sum
        # (r4 gate lesson: floor(scale*ln) flips across engine libm
        # builds; the ratio is pure integer arithmetic — HUGEINT
        # here, DECIMAL(38,0) on the Spark side — so the hash can
        # never drift). Sums are order-independent integers.
        "doc_lm_perplexity": f"""
WITH t AS (SELECT doc_id, {_TOKS_SAFE} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS token FROM t),
c AS (SELECT token, count(*) AS c FROM e GROUP BY token),
tot AS (SELECT sum(c) AS N, count(*) AS V FROM c),
q AS (SELECT token,
             (CAST(1000000 AS HUGEINT) * (N + V)) // (c + 1) AS q
      FROM c, tot),
p AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             sum(q.q) AS sum_q
      FROM e JOIN q USING (token) GROUP BY e.doc_id),
s AS (SELECT d.doc_id,
             coalesce(p.n_tokens, 0) AS n_tokens,
             CAST(CASE WHEN coalesce(p.n_tokens, 0) = 0 THEN 0
                       ELSE p.sum_q // p.n_tokens END AS BIGINT)
               AS score_scaled
      FROM documents d LEFT JOIN p USING (doc_id))
SELECT doc_id, n_tokens, score_scaled,
       CAST(ntile(3) OVER (ORDER BY score_scaled ASC, doc_id ASC)
            AS BIGINT) AS bucket
FROM s
""",
        # packing: per-shard ordered window cumsum; doc_id is unique,
        # so RANGE/ROWS framing agree on both engines
        "doc_pack_assignments": f"""
WITH t AS (SELECT doc_id, CAST(doc_id % 32 AS INT) AS shard,
                  CAST(len({_TOKS_SAFE}) AS BIGINT) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS pstart
      FROM t)
SELECT doc_id, shard, n_tokens,
       CAST(floor(pstart / 256.0) AS BIGINT) AS pack_id,
       CAST(pstart % 256 AS BIGINT) AS offset_in_pack
FROM c
""",
        # exact interpolated quantiles: quantile_cont == Spark
        # percentile (linear interpolation between closest ranks)
        "doc_length_quantiles": """
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       min(n_chars) AS min_len, max(n_chars) AS max_len,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS p75,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS p90,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.99) AS p99
FROM documents GROUP BY lang
""",
        # C4-style line dedup: same planted-boilerplate augmentation,
        # boilerplate = line in >=3 DISTINCT docs; cleaned_md5 is the
        # md5 of surviving lines rejoined with \n in original order
        # (string_agg ... ORDER BY idx FILTER (WHERE NOT rm);
        # coalesce('') covers the doc whose every line was removed)
        "doc_line_dedup": """
WITH aug AS (
  SELECT doc_id,
    coalesce(text, '')
    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '(c) corpus footer'
              || chr(10) || 'All rights reserved.' ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN chr(10)
              || 'Subscribe to our newsletter today' ELSE '' END
      AS text
  FROM documents
),
l AS (
  SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS lines
  FROM aug
),
occ AS (
  SELECT doc_id,
         unnest([{'idx': i, 'line': lines[i]}
                 for i in range(1, len(lines) + 1)], recursive := true)
  FROM l
),
boiler AS (
  SELECT line FROM (SELECT DISTINCT doc_id, line FROM occ)
  GROUP BY line HAVING count(*) >= 3
),
m AS (
  SELECT o.doc_id, o.idx, o.line, b.line IS NOT NULL AS rm
  FROM occ o LEFT JOIN boiler b ON o.line = b.line
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed_lines,
       CAST(sum(CASE WHEN rm THEN length(line) ELSE 0 END) AS BIGINT)
         AS n_removed_chars,
       md5(coalesce(string_agg(line, chr(10) ORDER BY idx)
                    FILTER (WHERE NOT rm), '')) AS cleaned_md5
FROM m GROUP BY doc_id
""",
        # per-label centroid sums, exploded to one scalar row per
        # (label, dimension): unnest-with-ordinality mirrors the numpy
        # matrix sum; floor(v*1e6) in double is bit-identical on both
        # engines (no round-half ambiguity), integer sums are
        # order-independent; pos is 0-based to match the kernel
        # P13: every fence variant must recover the exact inner query,
        # which is a pure closed form of doc_id — the oracle states the
        # expected output rather than re-deriving the cleaning steps
        "kg_clean_cypher": """
SELECT doc_id,
       'MATCH (s:Server {id: ''' || CAST(doc_id AS VARCHAR)
         || '''}) RETURN s' AS cypher
FROM documents
""",
        # real-PNG decode stats: the synthetic corpus is grayscale
        # w = 16 + doc_id%32, h = 16 + (doc_id*7)%32, pixel(r,c) =
        # (doc_id+r+c)%256 — the oracle regenerates every cell and
        # sums, checking the decoder bit-for-bit per image
        "multimodal_decode_stats": """
WITH d AS (
  SELECT doc_id,
         16 + doc_id % 32 AS w,
         16 + (doc_id * 7) % 32 AS h
  FROM documents),
r AS (SELECT doc_id, w, h, unnest(range(h)) AS rr FROM d),
cells AS (SELECT doc_id, w, h, rr, unnest(range(w)) AS cc FROM r)
SELECT doc_id,
       CAST(any_value(w) AS INTEGER) AS width,
       CAST(any_value(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum((doc_id + rr + cc) % 256) AS BIGINT) AS sum_pixels
FROM cells GROUP BY doc_id
""",
        # resize: target dims by integer bounded-box shrink; input
        # pixel (r, c) belongs to output bin ((r*oh)//h, (c*ow)//w);
        # each output pixel is the integer mean of its bin — exactly
        # multimodal.box_downsample's arithmetic
        "multimodal_resize_stats": """
WITH geom AS (
  SELECT doc_id,
         16 + doc_id % 32 AS w,
         16 + (doc_id * 7) % 32 AS h
  FROM documents),
tgt AS (
  SELECT doc_id, w, h,
         CASE WHEN greatest(w, h) <= 16 THEN w
              ELSE greatest(1, (w * 16) // greatest(w, h)) END AS ow,
         CASE WHEN greatest(w, h) <= 16 THEN h
              ELSE greatest(1, (h * 16) // greatest(w, h)) END AS oh
  FROM geom),
rr AS (SELECT doc_id, w, h, ow, oh, unnest(range(h)) AS r FROM tgt),
px AS (
  SELECT doc_id, w, h, ow, oh, r, unnest(range(w)) AS c
  FROM rr),
pxv AS (
  SELECT doc_id, ow, oh,
         (r * oh) // h AS oi, (c * ow) // w AS oj,
         (doc_id + r + c) % 256 AS v
  FROM px),
bins AS (
  SELECT doc_id, any_value(ow) AS ow, any_value(oh) AS oh, oi, oj,
         sum(v) // count(*) AS bv
  FROM pxv GROUP BY doc_id, oi, oj)
SELECT doc_id,
       CAST(any_value(ow) AS INTEGER) AS width,
       CAST(any_value(oh) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(bv) AS BIGINT) AS sum_pixels
FROM bins GROUP BY doc_id
""",
        # frame sampling: clip i has 2 + doc_id%7 frames; n_frames=4
        # keeps all when total<=4 else distinct round-half-up indices
        # (2*i*(total-1)+3)//6; frame fi is synth_png(doc_id+131*fi)
        "multimodal_frame_stats": """
WITH clips AS (SELECT doc_id, 2 + doc_id % 7 AS total FROM documents),
idx AS (
  SELECT doc_id, CAST(unnest(range(total)) AS INTEGER) AS frame_idx
  FROM clips WHERE total <= 4
  UNION ALL
  SELECT DISTINCT doc_id, frame_idx FROM (
    SELECT doc_id,
           CAST((2 * unnest(range(4)) * (total - 1) + 3) // 6
                AS INTEGER) AS frame_idx
    FROM clips WHERE total > 4)),
f AS (
  SELECT doc_id, frame_idx,
         CAST(frame_idx * 1000 // 24 AS BIGINT) AS ts_ms,
         doc_id + 131 * frame_idx AS fid
  FROM idx),
g AS (
  SELECT doc_id, frame_idx, ts_ms, fid,
         16 + fid % 32 AS w, 16 + (fid * 7) % 32 AS h
  FROM f),
gr AS (
  SELECT doc_id, frame_idx, ts_ms, fid, w, h, unnest(range(h)) AS r
  FROM g),
px AS (
  SELECT doc_id, frame_idx, ts_ms, w, h,
         (fid + r + unnest(range(w))) % 256 AS v
  FROM gr)
SELECT doc_id, frame_idx, ts_ms,
       CAST(any_value(w) AS INTEGER) AS width,
       CAST(any_value(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(v) AS BIGINT) AS sum_pixels
FROM px GROUP BY doc_id, frame_idx, ts_ms
""",
        # real-BMP decode stats: the synthetic corpus is 24-bit RGB
        # w = 12 + doc_id%24, h = 12 + (doc_id*5)%24, channels
        # R=(d+r+c)%256 G=(d+2r+c)%256 B=(d+r+2c)%256; sum_pixels
        # covers all channels — checks the BMP decoder (padding,
        # bottom-up order, BGR swap) bit-for-bit per image
        "multimodal_bmp_stats": """
WITH d AS (
  SELECT doc_id,
         12 + doc_id % 24 AS w,
         12 + (doc_id * 5) % 24 AS h
  FROM documents),
r AS (SELECT doc_id, w, h, unnest(range(h)) AS rr FROM d),
cells AS (SELECT doc_id, w, h, rr, unnest(range(w)) AS cc FROM r)
SELECT doc_id,
       CAST(any_value(w) AS INTEGER) AS width,
       CAST(any_value(h) AS INTEGER) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum((doc_id + rr + cc) % 256
                + (doc_id + 2 * rr + cc) % 256
                + (doc_id + rr + 2 * cc) % 256) AS BIGINT) AS sum_pixels
FROM cells GROUP BY doc_id
""",
        # real-WAV decode stats: mono 16-bit PCM,
        # rate = 8000*(1+doc_id%3), n = 256 + (doc_id*11)%512,
        # sample(i) = ((doc_id*7 + i*13) % 4096) - 2048; the oracle
        # regenerates every sample and checks rate/count/floor-ms
        # duration/|s| sum and peak against the RIFF decoder
        "multimodal_audio_stats": """
WITH d AS (
  SELECT doc_id,
         8000 * (1 + doc_id % 3) AS rate,
         256 + (doc_id * 11) % 512 AS n
  FROM documents),
s AS (
  SELECT doc_id, rate, n,
         abs(((doc_id * 7 + unnest(range(n)) * 13) % 4096) - 2048) AS a
  FROM d)
SELECT doc_id,
       CAST(any_value(rate) AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(any_value(n) AS BIGINT) AS n_samples,
       CAST(any_value(n) * 1000 // any_value(rate) AS BIGINT)
         AS duration_ms,
       CAST(sum(a) AS BIGINT) AS sum_abs,
       CAST(max(a) AS BIGINT) AS peak_abs
FROM s GROUP BY doc_id
""",
        # real-GIF decode stats: palette pal[i] = (i, 2i%256, 3i%256),
        # w = 10 + doc_id%20, h = 10 + (doc_id*3)%20, palette index
        # (doc_id + 3r + 5c) % 256 — the oracle regenerates every
        # palette-mapped cell, checking the LZW decoder bit-for-bit
        # SURT: canonical form is pinned by the web_canonical_urls
        # oracle; reversed host + ')' + path?query
        "web_surt_keys": """
SELECT doc_id,
       'com,site' || (doc_id % 7) || ')/Path/' || doc_id
         || '?a=1&b=' || (doc_id % 5) AS surt
FROM documents
""",
        # CDX rows: url/ts closed-form as in warc_roundtrip; surt is
        # the deterministic reversal of the planted host; cdx_ok = 1
        # is the engine-side ranged-refetch certification
        "web_cdx_index": """
SELECT 'https://' || source || '.example.org/doc/' || doc_id AS url,
       'org,example,' || source || ')/doc/' || doc_id AS surt,
       CAST(1600000000 + doc_id % 86400 AS BIGINT) AS ts_epoch,
       CAST(1 AS INTEGER) AS cdx_ok
FROM documents
""",
        # politeness slots: identical window arithmetic
        "web_fetch_schedule": """
SELECT doc_id, source AS domain,
       CAST((row_number() OVER (PARTITION BY source ORDER BY doc_id)
             - 1)
            * (500 + (ascii(substr(source, length(source), 1)) % 3)
               * 250) AS BIGINT) AS fetch_at_ms
FROM documents
""",
        # GK-sketch certification: exact n per group; the rank-error
        # flags are asserted engine-side (accuracy 1000 bounds rank
        # error at 1e-3, threshold 0.011 adds tie slack)
        "events_quantile_sketch": """
SELECT event_type, count(*) AS n,
       CAST(1 AS INTEGER) AS p50_ok,
       CAST(1 AS INTEGER) AS p90_ok
FROM events GROUP BY event_type
""",
        # BFS min-depths via recursive CTE over the same closed-form
        # graph; UNION dedups (node, depth) states, min() collapses
        # to the hop distance
        "graph_bfs_depths": """
WITH RECURSIVE
n AS (SELECT count(*) AS n FROM documents),
e AS (
  SELECT doc_id AS u, (doc_id * 7 + 3) % n.n AS v FROM documents, n
  UNION ALL
  SELECT doc_id, (doc_id * 13 + 5) % n.n FROM documents, n),
bi AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
bfs(node, depth) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
  UNION
  SELECT bi.v, bfs.depth + 1
  FROM bfs JOIN bi ON bi.u = bfs.node
  WHERE bfs.depth < 4)
SELECT node, CAST(min(depth) AS INTEGER) AS depth
FROM bfs GROUP BY node
""",
        # lossy JPEG, integer-exact: constant gray tiles are DC-only,
        # so decode(encode(v)) = clamp(2*floor((v-128)/2 + .5) + 128)
        # per tile; 3 channels x 64 px per tile
        "multimodal_jpeg_stats": """
WITH v AS (
  SELECT d.doc_id,
         least(255, greatest(0,
           2 * CAST(floor((((d.doc_id * 31 + t.t * 97) % 256) - 128)
                          / 2.0 + 0.5) AS BIGINT) + 128)) AS y
  FROM documents d, range(16) t(t))
SELECT doc_id,
       CAST(32 AS INTEGER) AS width,
       CAST(32 AS INTEGER) AS height,
       CAST(1024 AS BIGINT) AS n_pixels,
       CAST(3 * 64 * sum(y) AS BIGINT) AS sum_pixels
FROM v GROUP BY doc_id
""",
        # quarantine split: k = doc_id % 8 — 0/1/2 decode to the same
        # closed forms as the per-codec stats oracles (PNG/BMP/GIF),
        # 3..7 are engineered malformations that MUST come back as
        # quarantined rows with zeroed stats
        "multimodal_quarantine_stats": """
WITH d AS (SELECT doc_id, doc_id % 8 AS k FROM documents),
png AS (SELECT doc_id, 16 + doc_id % 32 AS w, 16 + (doc_id * 7) % 32 AS h
        FROM d WHERE k = 0),
png_s AS (
  SELECT doc_id,
         CAST(any_value(w) AS INTEGER) AS width,
         CAST(any_value(h) AS INTEGER) AS height,
         CAST(count(*) AS BIGINT) AS n_pixels,
         CAST(sum((doc_id + rr + cc) % 256) AS BIGINT) AS sum_pixels
  FROM (SELECT doc_id, w, h, rr, unnest(range(w)) AS cc
        FROM (SELECT doc_id, w, h, unnest(range(h)) AS rr FROM png))
  GROUP BY doc_id),
bmp AS (SELECT doc_id, 12 + doc_id % 24 AS w, 12 + (doc_id * 5) % 24 AS h
        FROM d WHERE k = 1),
bmp_s AS (
  SELECT doc_id,
         CAST(any_value(w) AS INTEGER) AS width,
         CAST(any_value(h) AS INTEGER) AS height,
         CAST(count(*) AS BIGINT) AS n_pixels,
         CAST(sum((doc_id + rr + cc) % 256
                  + (doc_id + 2 * rr + cc) % 256
                  + (doc_id + rr + 2 * cc) % 256) AS BIGINT) AS sum_pixels
  FROM (SELECT doc_id, w, h, rr, unnest(range(w)) AS cc
        FROM (SELECT doc_id, w, h, unnest(range(h)) AS rr FROM bmp))
  GROUP BY doc_id),
gif AS (SELECT doc_id, 10 + doc_id % 20 AS w, 10 + (doc_id * 3) % 20 AS h
        FROM d WHERE k = 2),
gif_s AS (
  SELECT doc_id,
         CAST(any_value(w) AS INTEGER) AS width,
         CAST(any_value(h) AS INTEGER) AS height,
         CAST(count(*) AS BIGINT) AS n_pixels,
         CAST(sum(idx + (2 * idx) % 256 + (3 * idx) % 256) AS BIGINT)
           AS sum_pixels
  FROM (SELECT doc_id, w, h,
               (doc_id + 3 * rr + 5 * unnest(range(w))) % 256 AS idx
        FROM (SELECT doc_id, w, h, unnest(range(h)) AS rr FROM gif))
  GROUP BY doc_id)
SELECT doc_id, CAST(0 AS BIGINT) AS quarantined,
       width, height, n_pixels, sum_pixels FROM png_s
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), width, height, n_pixels, sum_pixels
FROM bmp_s
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), width, height, n_pixels, sum_pixels
FROM gif_s
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS INTEGER), CAST(0 AS INTEGER),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM d WHERE k >= 3
""",
        "multimodal_gif_stats": """
WITH d AS (
  SELECT doc_id,
         10 + doc_id % 20 AS w,
         10 + (doc_id * 3) % 20 AS h
  FROM documents),
r AS (SELECT doc_id, w, h, unnest(range(h)) AS rr FROM d),
cells AS (SELECT doc_id, w, h,
                 (doc_id + 3 * rr + 5 * unnest(range(w))) % 256 AS idx
          FROM r),
SELECTED AS (
  SELECT doc_id,
         CAST(any_value(w) AS INTEGER) AS width,
         CAST(any_value(h) AS INTEGER) AS height,
         CAST(count(*) AS BIGINT) AS n_pixels,
         CAST(sum(idx + (2 * idx) % 256 + (3 * idx) % 256) AS BIGINT)
           AS sum_pixels
  FROM cells GROUP BY doc_id)
SELECT * FROM SELECTED
""",
        # DSIR importance scores: unigram+bigram bag features, weight
        # = add-1-smoothed scaled count ratio target/raw as an exact
        # floor quotient (the documented integer deviation from the
        # paper's log-ratio), per-doc multiplicity-weighted sum
        "doc_dsir_scores": """
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM documents),
f AS (
  SELECT doc_id, lang, unnest(list_concat(
           toks,
           CASE WHEN len(toks) >= 2 THEN
             [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
           ELSE [] END)) AS feat
  FROM t),
cr AS (SELECT feat, count(*) AS c_raw FROM f GROUP BY feat),
ct AS (SELECT feat, count(*) AS c_target FROM f
       WHERE lang = 'en' GROUP BY feat),
w AS (
  SELECT cr.feat,
         ((coalesce(c_target, 0) + 1) * 1000000) // (c_raw + 1)
           AS w_scaled
  FROM cr LEFT JOIN ct ON cr.feat = ct.feat),
s AS (
  SELECT doc_id, count(*) AS n_feats, sum(w_scaled) AS score_scaled
  FROM f JOIN w USING (feat) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
       CAST(coalesce(s.score_scaled, 0) AS BIGINT) AS score_scaled
FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
""",
        # k-core: kcore_cte is the 16-round MATERIALIZED-CTE unrolled
        # peel built above oracle_sql()'s dict
        "corpus_bpe_encode": bpe_encode_cte,
        "part_cooccur_kcore": kcore_cte,
        # triangle census of the part co-occurrence graph; with the
        # u < v canonical edge convention each triangle {a<b<c}
        # appears exactly once as (a,b)+(b,c)+(a,c), so the oracle
        # skips the engine's degree ordering (count is identical)
        "part_cooccur_triangles": """
WITH pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem),
e AS (SELECT DISTINCT a.p AS u, b.p AS v
      FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p),
n AS (SELECT count(DISTINCT x) AS n_nodes
      FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)),
tri AS (SELECT count(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
SELECT CAST(n.n_nodes AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles
FROM n, tri
""",
        # URL canonicalization: the oracle rebuilds the messy input
        # the same way and emits the EXPECTED canonical form in
        # closed form (scheme/host lowercased, www./default port/
        # trailing slash/fragment/tracking param gone, params sorted)
        "web_canonical_urls": """
SELECT doc_id,
       'HTTPS://WWW.Site' || (doc_id % 7) || '.com'
         || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
         || '/Path/' || doc_id
         || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
         || '?utm_source=x&b=' || (doc_id % 5) || '&a=1'
         || CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END AS url,
       'https://site' || (doc_id % 7) || '.com/Path/' || doc_id
         || '?a=1&b=' || (doc_id % 5) AS canon_url
FROM documents
""",
        # WARC round trip: every output column is closed-form in the
        # documents row (url/ts arithmetic, md5 of the utf-8 body the
        # writer planted), so a green row certifies the parser
        # recovered byte-identical payloads through real gzip-member
        # WARC segments
        "warc_roundtrip": """
SELECT 'https://' || source || '.example.org/doc/' || doc_id AS url,
       CAST(1600000000 + doc_id % 86400 AS BIGINT) AS ts_epoch,
       CAST(200 AS INTEGER) AS status,
       md5(text) AS payload_md5,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
""",
        # N-Triples export: the oracle rebuilds each line with the
        # same escape chains (backslash first, then quote/NL/CR/TAB;
        # IRIs percent-encode space — the only forbidden IRI char in
        # these values, the engine applies the full §2.2 set)
        "kg_ntriples_export": """
WITH base AS (SELECT 'https://askg.example/kg/' AS b),
edges AS (
  SELECT '<' || b || replace('nation ' || n_name, ' ', '%20') || '> '
         || '<' || b || 'IN_REGION> '
         || '<' || b || replace(r_name, ' ', '%20') || '> .' AS line
  FROM nation, region, base WHERE n_regionkey = r_regionkey),
attrs AS (
  SELECT '<' || b || replace('doc ' || doc_id, ' ', '%20') || '> '
         || '<' || b || 'text> "'
         || replace(replace(replace(replace(replace(
              'say "' || text || '"' || chr(92) || chr(10) || chr(9) || 'ok',
              chr(92), chr(92) || chr(92)),
              '"', chr(92) || '"'),
              chr(10), chr(92) || 'n'),
              chr(13), chr(92) || 'r'),
              chr(9), chr(92) || 't')
         || '" .' AS line
  FROM documents, base)
SELECT line FROM edges UNION ALL SELECT line FROM attrs
""",
        # robots decisions re-derived closed-form; CASE order encodes
        # the longest-match precedence (Allow /private/ok len 11 >
        # Disallow /private/ len 9 > Disallow /*.zip$ len 7 >
        # Disallow /data/ len 6; unmatched -> allowed)
        "web_robots_filter": """
WITH u AS (
  SELECT doc_id, source AS domain,
         (CASE WHEN doc_id % 5 = 0 THEN '/private/'
               WHEN doc_id % 5 = 1 THEN '/private/ok/'
               WHEN doc_id % 5 = 2 THEN '/data/'
               ELSE '/pub/' END)
         || doc_id
         || (CASE WHEN doc_id % 7 = 0 THEN '.zip'
                  ELSE '.html' END) AS path
  FROM documents)
SELECT doc_id, domain, path,
       CAST(CASE
         WHEN path LIKE '/private/ok%' THEN 1
         WHEN path LIKE '/private/%' THEN 0
         WHEN path LIKE '%.zip' THEN 0
         WHEN path LIKE '/data/%'
              AND ascii(substr(domain, length(domain), 1)) % 2 = 0
           THEN 0
         ELSE 1 END AS INTEGER) AS allowed
FROM u
""",
        # the pruned read must equal the full-table filter exactly;
        # pruned=1 is asserted engine-side (files_read < files_total)
        "catalog_pruned_scan": """
SELECT event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       CAST(1 AS INTEGER) AS pruned
FROM events
WHERE event_id BETWEEN 1000 AND 1999
GROUP BY event_type
""",
        # exact-k per-stratum holdout: same md5 rank order as the
        # engine's window (hex md5 compares lexicographically =
        # numerically at fixed width; doc_id tiebreak)
        "doc_eval_holdout": """
SELECT doc_id, lang, CAST(sample_rank AS INTEGER) AS sample_rank
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
  FROM documents)
WHERE sample_rank <= 20
""",
        # sketch certification: the engine asserts its own HLL error
        # bound in-engine; the oracle pins the exact counts and that
        # the flag came out 1 for every group
        "events_distinct_sketch": """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       CAST(1 AS INTEGER) AS sketch_ok
FROM events GROUP BY event_type
""",
        "emb_label_centroids": """
WITH e AS (
  SELECT label, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
s AS (
  SELECT label, CAST(i - 1 AS BIGINT) AS pos,
         CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
              AS BIGINT) AS sum_scaled
  FROM e GROUP BY label, i),
n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
      FROM embeddings GROUP BY label)
SELECT s.label, s.pos, n.n_vecs, s.sum_scaled
FROM s JOIN n ON s.label = n.label
""",
        # link-graph owner in-degree over the mcpmarket family: every
        # page carries 2 hrefs to github.com/<source>/<card-name>;
        # doc_id%5==0 pages repeat card 1's name, so they contribute 1
        # distinct target instead of 2 — pure closed forms of
        # (doc_id, source), no HTML parsing needed oracle-side
        "web_pagerank_quantized": pagerank_sql,
        # anchor texts: closed form of the fuzzy (+%10 variant) and
        # mcpmarket (+%5 repeated-card) page families — one 'code'
        # link per fuzzy page, two 'gh' card links per mcpmarket page
        # collapsing onto one target when the second card repeats the
        # first; rank ordering mirrors the engine's window exactly
        "web_anchor_texts": """
WITH d AS (
  SELECT doc_id, source,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
           CAST(doc_id AS VARCHAR) AS stem,
         md5(CAST(doc_id AS VARCHAR)) || '-' ||
           CAST(doc_id AS VARCHAR) AS fstem
  FROM documents),
links AS (
  SELECT source, 'github.com/' || source || '/' || fstem || '-qq'
           AS target, 'code' AS anchor, 1 AS n FROM d
  UNION ALL
  SELECT source, 'github.com/' || source || '/' || fstem || '-qq-alt',
         'code', 1 FROM d WHERE doc_id % 10 = 0
  UNION ALL
  SELECT source, 'github.com/' || source || '/' || stem || '-a',
         'gh', CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END FROM d
  UNION ALL
  SELECT source, 'github.com/' || source || '/' || stem || '-b',
         'gh', 1 FROM d WHERE doc_id % 5 <> 0),
counts AS (
  SELECT 'github.com/' || source AS owner, target, anchor,
         CAST(sum(n) AS BIGINT) AS n_links
  FROM links GROUP BY 1, 2, 3)
SELECT owner, target, anchor, n_links,
       CAST(row_number() OVER (PARTITION BY owner
              ORDER BY n_links DESC, target ASC, anchor ASC) AS BIGINT)
         AS rnk
FROM counts
""",
        "web_owner_indegree": """
SELECT 'github.com/' || source AS owner,
       CAST(2 * count(*) AS BIGINT) AS n_links,
       CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 2 END) AS BIGINT)
         AS n_targets,
       CAST(count(*) AS BIGINT) AS n_src_pages
FROM documents GROUP BY source
""",
        "doc_sample_mixture": """
SELECT doc_id, lang FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
  CASE lang WHEN 'en' THEN '8000' WHEN 'de' THEN '4000'
            WHEN 'es' THEN '4000' WHEN 'fr' THEN '2000'
            WHEN 'zh' THEN '2000' ELSE '1000' END
""",
        # contamination: distinct-4-gram equi-join between the train
        # and eval splits; the engine joins on xxhash64 gram keys
        # (collision P ~ m^2/2^64 — the documented trade shared with
        # dedup_ngram_pairs)
        "doc_contamination": f"""
WITH t AS (SELECT doc_id, {_TOKS_SAFE} AS toks FROM documents),
g AS (SELECT doc_id, unnest(list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
         for i in range(1, len(toks) - 2)])) AS gram
      FROM t WHERE len(toks) >= 4)
SELECT tr.doc_id AS train_doc_id, ev.doc_id AS eval_doc_id,
       count(*) AS n_shared_grams
FROM g tr JOIN g ev ON tr.gram = ev.gram
WHERE tr.doc_id % 97 <> 0 AND ev.doc_id % 97 = 0
GROUP BY 1, 2
""",
        "doc_fingerprints": """
SELECT doc_id,
       md5(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')))
         AS fingerprint
FROM documents
""",
        "doc_category_counts": """
WITH cats AS (
  SELECT doc_id, unnest(flatten([
    CASE WHEN lower(coalesce(text,'') || ' ') LIKE '%database%'
           OR lower(coalesce(text,'')) LIKE '%sql%'
           OR lower(coalesce(text,'')) LIKE '%postgres%'
           OR lower(coalesce(text,'')) LIKE '%mysql%'
           OR lower(coalesce(text,'')) LIKE '%mongodb%'
           OR lower(coalesce(text,'')) LIKE '%redis%'
         THEN ['database'] ELSE [] END,
    CASE WHEN lower(coalesce(text,'')) LIKE '%file%'
           OR lower(coalesce(text,'')) LIKE '%directory%'
           OR lower(coalesce(text,'')) LIKE '%folder%'
           OR lower(coalesce(text,'')) LIKE '%storage%'
         THEN ['file_system'] ELSE [] END,
    CASE WHEN lower(coalesce(text,'')) LIKE '%api%'
           OR lower(coalesce(text,'')) LIKE '%rest%'
           OR lower(coalesce(text,'')) LIKE '%graphql%'
           OR lower(coalesce(text,'')) LIKE '%webhook%'
           OR lower(coalesce(text,'')) LIKE '%http%'
         THEN ['api_integration'] ELSE [] END,
    CASE WHEN lower(coalesce(text,'')) LIKE '%git%'
           OR lower(coalesce(text,'')) LIKE '%code%'
           OR lower(coalesce(text,'')) LIKE '%development%'
           OR lower(coalesce(text,'')) LIKE '%build%'
         THEN ['development_tools'] ELSE [] END,
    CASE WHEN lower(coalesce(text,'')) LIKE '%data%'
           OR lower(coalesce(text,'')) LIKE '%etl%'
           OR lower(coalesce(text,'')) LIKE '%transform%'
           OR lower(coalesce(text,'')) LIKE '%process%'
           OR lower(coalesce(text,'')) LIKE '%analytics%'
         THEN ['data_processing'] ELSE [] END,
    CASE WHEN lower(coalesce(text,'')) LIKE '%aws%'
           OR lower(coalesce(text,'')) LIKE '%azure%'
           OR lower(coalesce(text,'')) LIKE '%gcp%'
           OR lower(coalesce(text,'')) LIKE '%cloud%'
           OR lower(coalesce(text,'')) LIKE '%kubernetes%'
         THEN ['cloud_services'] ELSE [] END,
    CASE WHEN lower(coalesce(text,'')) LIKE '%slack%'
           OR lower(coalesce(text,'')) LIKE '%discord%'
           OR lower(coalesce(text,'')) LIKE '%email%'
           OR lower(coalesce(text,'')) LIKE '%notification%'
           OR lower(coalesce(text,'')) LIKE '%message%'
         THEN ['communication'] ELSE [] END,
    CASE WHEN lower(coalesce(text,'')) LIKE '%auth%'
           OR lower(coalesce(text,'')) LIKE '%login%'
           OR lower(coalesce(text,'')) LIKE '%security%'
           OR lower(coalesce(text,'')) LIKE '%jwt%'
         THEN ['authentication'] ELSE [] END,
    CASE WHEN lower(coalesce(text,'')) LIKE '%monitor%'
           OR lower(coalesce(text,'')) LIKE '%metrics%'
           OR lower(coalesce(text,'')) LIKE '%logging%'
           OR lower(coalesce(text,'')) LIKE '%observability%'
         THEN ['monitoring'] ELSE [] END,
    CASE WHEN lower(coalesce(text,'')) LIKE '%search%'
           OR lower(coalesce(text,'')) LIKE '%index%'
           OR lower(coalesce(text,'')) LIKE '%elasticsearch%'
           OR lower(coalesce(text,'')) LIKE '%solr%'
         THEN ['search'] ELSE [] END,
    CASE WHEN lower(coalesce(text,'')) LIKE '%ai%'
           OR lower(coalesce(text,'')) LIKE '%ml%'
           OR lower(coalesce(text,'')) LIKE '%machine learning%'
           OR lower(coalesce(text,'')) LIKE '%neural%'
           OR lower(coalesce(text,'')) LIKE '%model%'
         THEN ['ai_ml'] ELSE [] END])) AS category
  FROM documents),
final AS (
  SELECT coalesce(c.category, 'other') AS category
  FROM documents d LEFT JOIN cats c ON d.doc_id = c.doc_id)
SELECT category, count(*) AS n FROM final GROUP BY category
""",
        "dedup_exact_groups": """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ',
             'g'))) AS fingerprint
  FROM documents)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM fp GROUP BY fingerprint HAVING count(*) > 1
""",
        # incremental dedup: the asymmetric inverted-index join (inc
        # grams x base grams); same gram text vs xxhash64 key trade
        "dedup_incremental": f"""
WITH t AS (SELECT doc_id, {_TOKS_SAFE} AS toks FROM documents),
g AS (SELECT doc_id, unnest(list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         for i in range(1, len(toks) - 1)])) AS gram
      FROM t WHERE len(toks) >= 3),
sz AS (SELECT doc_id, count(*) AS n_g FROM g GROUP BY doc_id),
fp AS (SELECT doc_id,
              md5(trim(regexp_replace(lower(coalesce(text, '')),
                                      '\\s+', ' ', 'g'))) AS fpr
       FROM documents),
ex AS (SELECT DISTINCT i.doc_id FROM fp i
       WHERE i.doc_id % 3 = 0 AND i.fpr IN
             (SELECT fpr FROM fp b WHERE b.doc_id % 3 <> 0)),
inter AS (SELECT i.doc_id AS inc_id, b.doc_id AS base_id,
                 count(*) AS n_common
          FROM g i JOIN g b ON i.gram = b.gram
          WHERE i.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
          GROUP BY 1, 2),
near AS (SELECT inc_id, CAST(count(*) AS BIGINT) AS n_near
         FROM inter
         JOIN sz si ON si.doc_id = inc_id
         JOIN sz sb ON sb.doc_id = base_id
         WHERE n_common >= 0.5 * (si.n_g + sb.n_g - n_common)
         GROUP BY inc_id)
SELECT d.doc_id,
       CAST(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS exact_dup,
       coalesce(near.n_near, 0) AS n_near_dups
FROM documents d
LEFT JOIN ex ON d.doc_id = ex.doc_id
LEFT JOIN near ON d.doc_id = near.inc_id
WHERE d.doc_id % 3 = 0
""",
        # duplicate-substring coverage: stride-1 15-token windows; the
        # engine keys windows by xxhash64, the oracle by the window
        # TEXT — identical output modulo 64-bit collisions (the
        # documented trade shared with dedup_ngram_pairs). Interval
        # union via lead(): fixed-length spans sorted by start cover
        # min(w, next-start) tokens each, w for the last.
        "dedup_substring_spans": f"""
WITH t AS (SELECT doc_id, {_TOKS_SAFE} AS toks FROM documents),
base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks
         FROM t),
w AS (SELECT doc_id, i, array_to_string(toks[i:i+14], ' ') AS gram
      FROM base, unnest(generate_series(1, len(toks) - 14)) AS g(i)
      WHERE len(toks) >= 15),
d AS (SELECT gram FROM w GROUP BY gram HAVING count(*) > 1),
hit AS (SELECT w.doc_id, w.i FROM w JOIN d USING (gram)),
m AS (SELECT doc_id, i,
             lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
      FROM hit),
cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
               CAST(sum(least(15, coalesce(nxt - i, 15))) AS BIGINT)
                 AS dup_tokens
        FROM m GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       CAST(greatest(b.n_tokens - 14, 0) AS BIGINT) AS n_windows,
       coalesce(c.n_dup_windows, 0) AS n_dup_windows,
       coalesce(c.dup_tokens, 0) AS dup_tokens
FROM base b LEFT JOIN cov c USING (doc_id)
""",
        "dedup_ngram_pairs": grams_cte,
        "dedup_near_clusters": clusters_cte,
        # minhash is LSH-blocked but at this corpus's separation (planted
        # dups >=0.8 Jaccard, background <=0.3) its pair set equals the
        # exact join's — asserted here; recall trade documented in dedup.py
        "dedup_minhash_pairs": f"""
WITH pairs AS ({grams_cte})
SELECT doc_a, doc_b FROM pairs
""",
        # simhash is DETERMINISTIC end-to-end: the 6x10-bit banding is
        # pigeonhole-complete for Hamming<=5, so the Spark output is
        # exactly {pairs: hamming(sketch_a, sketch_b) <= 5}. The oracle
        # recomputes the Charikar sketch (distinct 3-gram shingles,
        # md5[:15 hex] = 60-bit hashes, per-bit majority vote) and
        # all-pairs-filters on Hamming — fine at oracle scale.
        "dedup_simhash_pairs": r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text,''),
                                           '[ \t\n\r\f\v]+'),
                     x -> x <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, len(w) - 1)]) AS grams
  FROM toks
),
hashes AS (
  SELECT doc_id, ('0x' || substr(md5(g),1,15))::UBIGINT AS h
  FROM sh, unnest(grams) AS t(g)
),
bits AS (
  SELECT doc_id, b.b,
         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
  FROM hashes, (SELECT unnest(range(60)) AS b) b
  GROUP BY doc_id, b.b
),
sk0 AS (
  SELECT doc_id,
         sum(CASE WHEN votes > 0 THEN (1::UBIGINT << b)
                  ELSE 0 END)::UBIGINT AS simhash
  FROM bits GROUP BY doc_id
),
sketches AS (
  SELECT d.doc_id, coalesce(s.simhash, 0)::UBIGINT AS simhash
  FROM documents d LEFT JOIN sk0 s USING (doc_id)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sketches a JOIN sketches b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
""",
        "dedup_embedding_pairs": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
""",
        "ann_lsh_topk": ann_lsh_sql,
        "ann_ivf_topk": ann_ivf_sql,
        "ann_recall_report": ann_recall_sql,
        "ann_topk": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.vq, e.v) AS cosine
  FROM q JOIN e ON e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
""",
        "events_latest_per_user": """
SELECT user_id, event_id, event_type, ts FROM (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
""",
        "events_counts_by_type": """
SELECT event_type, count(*) AS n FROM events GROUP BY event_type
""",
        "events_hourly_counts": """
SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n
FROM events GROUP BY 1, 2
""",
        # point-in-time lookup via DuckDB's native ASOF LEFT JOIN;
        # right side pre-deduped on (user_id, ts) by greatest event_id
        # — the same tie rule asof_join applies, so the match is
        # deterministic on both engines
        "events_asof_join": """
WITH p AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id, ts, value FROM (
    SELECT user_id, event_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click') WHERE rn = 1
)
SELECT p.user_id, p.event_id, p.ts, p.value,
       c.event_id AS prior_event_id, c.ts AS prior_ts,
       c.value AS prior_value
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
        # pivot = conditional aggregation with a fixed column list
        "events_type_pivot": """
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
         AS click,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
         AS error,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS purchase,
       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT)
         AS signup,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)
         AS view
FROM events GROUP BY user_id
""",
        # trailing-window counts: integer day = floor(epoch/86400) on
        # both engines; RANGE frame over day numbers handles gaps
        "events_rolling_weekly": """
WITH d AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS n_day
  FROM events GROUP BY 1, 2)
SELECT user_id, day, n_day,
       CAST(sum(n_day) OVER (PARTITION BY user_id ORDER BY day
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_window
FROM d
""",
        "events_cohort_retention": """
WITH a AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS active_week
  FROM events),
c AS (SELECT user_id, min(active_week) AS cohort_week FROM a GROUP BY 1)
SELECT c.cohort_week, a.active_week,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_keys
FROM a JOIN c USING (user_id)
GROUP BY 1, 2
""",
        # first-touch ordered funnel: stage i = min ts of step i at or
        # after stage i-1's first qualifying ts
        "events_funnel": """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
SELECT 1 AS step_idx, 'view' AS step,
       CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_keys
UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
UNION ALL SELECT 3, 'purchase',
       CAST((SELECT count(*) FROM s3) AS BIGINT)
""",
        # sessionization: second-truncated gap comparison mirrors
        # Spark's unix_timestamp (floor-to-second) exactly
        "events_sessions": """
WITH o AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev
  FROM events),
f AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(prev)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM o),
s AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
  FROM f)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT)
         AS duration_sec
FROM s GROUP BY user_id, session_id
""",
        "events_json_extract": """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
""",
        "top_customers_by_revenue": """
WITH agg AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey)
SELECT c.c_custkey, c.c_name, a.revenue, a.n_orders
FROM agg a JOIN customer c ON a.o_custkey = c.c_custkey
ORDER BY a.revenue DESC, c.c_custkey LIMIT 10
""",
        "lineitem_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
        "nation_lineitem_volume": """
SELECT n.n_name, count(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
        "part_name_normalized": """
SELECT p_partkey,
  regexp_replace(
    regexp_replace(
      trim(regexp_replace(
        regexp_replace(lower(coalesce(p_name, '')), '[^a-z0-9\\s]', '', 'g'),
        '\\s+', ' ', 'g')),
      '^(mcp[-_\\s]*)?', ''),
    '[-_\\s]*(server|mcp)$', '') AS norm_name
FROM part
""",
        "docs_per_lang": """
SELECT lang, count(DISTINCT source) AS n_sources, count(*) AS n_docs
FROM documents GROUP BY lang
""",
        # rows-only (approximate / not SQL-expressible, documented):
        #   kg_fixture_entities  (difflib similarity not SQL-expressible)
        #   ann_lsh_topk         (approximate ANN, recall tested/benched)
        #   multimodal_decode_stats (stubbed decode, schema-level check)
    }
    # corpus-level reject-reason breakdown composes over the existing
    # quality-filter oracle as a subquery (same trick as kg_triples_diff)
    oracles["doc_quality_report"] = f"""
WITH qf AS ({oracles["doc_quality_filter"]}),
r AS (SELECT unnest(string_split(reasons, ',')) AS reason
      FROM qf WHERE reasons <> '')
SELECT reason, CAST(count(*) AS BIGINT) AS n_docs FROM r GROUP BY reason
UNION ALL SELECT '__keep__', CAST(sum(keep) AS BIGINT) FROM qf
"""
    return oracles
