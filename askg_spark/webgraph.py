"""Web-link-graph operators over the Common-Crawl-style pages table:
outlink extraction, per-target/per-owner in-degree, and a distributed
fixed-iteration PageRank — the link-analysis half of a web curation
pipeline (harmonic/PageRank centrality is a standard quality prior for
crawl corpora next to the text signals in textops).

Reference analog: none (the reference crawls registries one page at a
time and never builds a link graph); this family is "beyond the
reference" training-data-pipeline surface, same as dedup/textops.

Design notes (100 TB posture):
  * Link extraction is one JVM regex pass over the html column
    (`regexp_extract_all`) — no Python, no shuffle; the scan prunes to
    (url, html) only.
  * In-degree is a single keyed groupBy with map-side partial
    aggregation; owner rollup reuses the same shuffle key prefix.
  * PageRank runs a FIXED iteration count (no per-iteration
    convergence collect — the lesson of the round-1 CC loop): dangling
    mass is folded in via a 1-row aggregate crossJoin (broadcast, stays
    lazy), and lineage is truncated with a MEMORY_AND_DISK
    localCheckpoint every `checkpoint_every` iterations so the plan
    doesn't grow superlinearly. One job per iteration, zero driver
    synchronization besides the scheduled actions themselves.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from askg_spark.session import checkpoint, operator_scope, persist, release

# double-quoted href attributes; the corpus renderer escapes embedded
# quotes (webcorpus._esc), so [^"]* is exact for our page families and
# the standard approximation for wild HTML
HREF_RE = r'href="([^"]*)"'


def extract_outlinks(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (src_url, href), one row per href
    occurrence in document order. Pure JVM regex, columnar scan of two
    columns only."""
    html = F.col("html").cast("string")
    return pages.select(
        F.col("url").alias("src_url"),
        F.explode(F.regexp_extract_all(html, F.lit(HREF_RE), F.lit(1)))
         .alias("href"),
    )


def normalize_target(href: Column) -> Column:
    """scheme://www.host/path/ -> host/path (lowercased host is left
    to the caller if wanted; our corpus emits lowercase hosts)."""
    t = F.regexp_replace(href, r"^[a-z][a-z0-9+.-]*://", "")
    t = F.regexp_replace(t, r"^www\.", "")
    return F.regexp_replace(t, r"/$", "")


def target_owner(target: Column) -> Column:
    """Rollup key: for forge-style targets (host/owner/repo...) the
    first two segments (host/owner); bare hosts stay themselves."""
    return F.regexp_extract(target, r"^([^/]+(?:/[^/]+)?)", 1)


TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)="


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an http(s) URL for crawl-dedup keys — the
    normalization step a web pipeline runs before URL-level dedup /
    frontier checks, as a single pure Column expression (codegen, no
    UDF), reproducible bit-for-bit by a SQL oracle:

      1. strip the #fragment
      2. lowercase the scheme and host (path/query case preserved)
      3. drop a leading www. and a default :80 / :443 port
      4. drop tracking query params (utm_*, fbclid, gclid, msclkid,
         ref) and SORT the survivors byte-lexicographically (param
         order never distinguishes resources in practice; sorting
         makes the key order-insensitive)
      5. strip a trailing / from the path

    Deliberately conservative: no %-decoding (decoding can change
    semantics), no param-value touching, non-http(s) inputs pass
    through steps 1/4/5 unchanged."""
    u = F.regexp_replace(url, r"#.*$", "")                    # 1
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://",
                                      1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))  # 2
    hostport = F.regexp_replace(hostport, r"^www\.", "")         # 3
    # default-port strip is SCHEME-conditional: http://h:443 is a
    # different resource from http://h and must not collide with it
    hostport = (F.when(scheme == "http",
                       F.regexp_replace(hostport, r":80$", ""))
                .when(scheme == "https",
                      F.regexp_replace(hostport, r":443$", ""))
                .otherwise(hostport))
    tail = F.regexp_replace(rest, r"^[^/?]*", "")
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    query = F.regexp_replace(F.regexp_extract(tail, r"\?(.*)$", 1),
                             r"^\?", "")
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE))       # 4
    query_c = F.array_join(F.array_sort(params), "&")
    path_c = F.regexp_replace(path, r"/$", "")                  # 5
    canon = F.concat(
        F.when(scheme == "", F.lit("")).otherwise(
            F.concat(scheme, F.lit("://"))),
        hostport, path_c,
        F.when(query_c == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), query_c)))
    # non-URL strings (no scheme): keep original host casing by
    # rebuilding from the raw rest
    return F.when(scheme == "", F.concat(
        F.regexp_replace(F.regexp_extract(u, r"^([^?]*)", 1), r"/$", ""),
        F.when(query_c == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), query_c)))).otherwise(canon)


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) index key — the
    key format Common Crawl's CDX index and every web archive use:
    the canonical URL's host reversed comma-wise, then ')' and the
    path+query, e.g. `com,example)/path?a=1`. Reversed hosts make a
    byte-sorted key file cluster by registrable domain, so one
    RANGE-partitioned sort of 10^12 keys gives per-domain locality
    for free (politeness budgeting, per-site dedup, prefix lookups).

    Pure Column expression on top of `canonicalize_url` — same
    zero-UDF, oracle-reproducible contract."""
    cu = canonicalize_url(url)
    rest = F.regexp_replace(cu, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host = F.regexp_extract(rest, r"^([^/?]*)", 1)
    tail = F.regexp_replace(rest, r"^[^/?]*", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    return F.concat(rev, F.lit(")"),
                    F.when(tail == "", F.lit("/")).otherwise(tail))


# href + anchor text of a double-quoted <a>; [^<]* anchor body stops
# at the closing tag, so nested markup inside an anchor is skipped
# (conservative — matches what a production extractor keeps anyway)
ANCHOR_RE = r'<a href="([^"]*)"[^>]*>([^<]*)</a>'


def anchor_texts(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (owner, target, anchor), one row per
    <a href>anchor</a> occurrence — the classic web-corpus signal
    (anchor text describes the TARGET page better than the target's
    own text; it's a standard retrieval/quality feature aggregated
    per target at corpus scale).

    One JVM regex pass extracts hrefs and anchor bodies as two
    parallel arrays (regexp_extract_all returns a single group, so
    the pattern runs twice) zipped positionally — no Python, no
    shuffle, scan pruned to (html) only."""
    h = F.col("html").cast("string")
    pairs = F.arrays_zip(
        F.regexp_extract_all(h, F.lit(ANCHOR_RE), F.lit(1)).alias("href"),
        F.regexp_extract_all(h, F.lit(ANCHOR_RE), F.lit(2)).alias("anchor"))
    ex = (pages.select(F.explode(pairs).alias("p"))
          .select(F.col("p.href").alias("href"),
                  F.trim(F.col("p.anchor")).alias("anchor")))
    target = normalize_target(F.col("href"))
    return ex.select(target_owner(target).alias("owner"),
                     target.alias("target"), "anchor")


def target_anchor_stats(pages: DataFrame) -> DataFrame:
    """Per-(target, anchor) link counts with a per-owner rank:
    -> (owner, target, anchor, n_links, rnk), rnk ordering
    (n_links DESC, target ASC, anchor ASC).

    Plan: groupBy(owner, target, anchor) with map-side partial
    counts (one shuffle), then a row_number window partitioned by
    owner — the second exchange re-keys on the owner prefix only.
    At web scale the owner partition is the skew risk (a hot domain
    collects millions of distinct targets); the window sorts within
    one partition, so hot owners should be range-salted first if a
    full rank is required — callers that only need top-k per owner
    can pre-filter with a count threshold before the window."""
    counts = (anchor_texts(pages)
              .groupBy("owner", "target", "anchor")
              .agg(F.count(F.lit(1)).alias("n_links")))
    w = Window.partitionBy("owner").orderBy(
        F.desc("n_links"), F.asc("target"), F.asc("anchor"))
    return counts.select(
        "owner", "target", "anchor", "n_links",
        F.row_number().over(w).cast("long").alias("rnk"))


def owner_indegree(pages: DataFrame) -> DataFrame:
    """Link-graph in-degree rolled up to the target owner:
    -> (owner, n_links, n_targets, n_src_pages). n_links counts every
    href occurrence, n_targets the distinct normalized targets under
    the owner, n_src_pages the distinct linking pages. One explode +
    one groupBy (distincts share the same shuffle key)."""
    links = extract_outlinks(pages).select(
        "src_url", normalize_target(F.col("href")).alias("target"))
    return (
        links.select("src_url", "target",
                     target_owner(F.col("target")).alias("owner"))
        .groupBy("owner")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("target").alias("n_targets"),
            F.countDistinct("src_url").alias("n_src_pages"),
        )
    )


def page_owner_edges(pages: DataFrame) -> DataFrame:
    """Distinct (src, dst) edges from pages to link-target owners —
    the bipartite graph PageRank runs over in the driver query."""
    links = extract_outlinks(pages)
    return links.select(
        F.col("src_url").alias("src"),
        target_owner(normalize_target(F.col("href"))).alias("dst"),
    ).distinct()


class _AqeOff:
    """Temporarily disable AQE: inside a fixed-point loop every
    exchange AQE re-plans becomes its own driver-scheduled job — tiny
    per-iteration frames turn into dozens of ~1s scheduling rounds
    (the round-1 CC pathology). Restores the prior setting on exit,
    exception or not. Conf is per-SESSION: pagerank() applies this to
    a child session, so a caller's concurrent queries never see it."""

    def __init__(self, spark):
        self._spark = spark

    def __enter__(self):
        self._prev = self._spark.conf.get("spark.sql.adaptive.enabled",
                                          "true")
        self._spark.conf.set("spark.sql.adaptive.enabled", "false")
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.adaptive.enabled", self._prev)
        return False


class _ShufflePartitions:
    """Loop-scoped spark.sql.shuffle.partitions override. Same
    session-global caveat as _AqeOff (conf is per-session; concurrent
    queries on the same session see the override while held)."""

    def __init__(self, spark, n: int):
        self._spark, self._n = spark, int(n)

    def __enter__(self):
        self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)
        return False


DAMPING = 0.85


@operator_scope
def pagerank(edges: DataFrame, iterations: int = 10,
             checkpoint_every: int = 4) -> DataFrame:
    """Distributed power-iteration PageRank over (src, dst) edges:
    -> (node, rank), sum(rank) == 1 at every step (dangling-node mass
    is redistributed uniformly).

    rank_{t+1}(v) = (1-d)/N + d * (sum_{u->v} rank_t(u)/outdeg(u)
                                   + dangling_mass_t / N),  d = DAMPING

    Zero per-iteration driver synchronization AND zero per-iteration
    materialization: every round is lazy — the dangling mass is NOT a
    second pass over `ranks` but the 1-row total of the inflow
    aggregate itself (sum_v inflow(v) == sum of linked nodes' rank, so
    one shuffle serves both terms; at execution the repeated subtree is
    a ReusedExchange, not a recompute), crossJoined back as a broadcast
    row. `ranks` is referenced exactly once per round, so the logical
    plan grows ~2x per iteration via the inflow double-reference —
    bounded by a MEMORY_AND_DISK localCheckpoint every
    `checkpoint_every` rounds and at the end (the ONLY eager points).
    AQE is disabled for the loop body (restored via context manager):
    with it on, every exchange materializes as its own driver job, so
    a checkpoint of k rounds costs ~4k scheduling rounds on tiny
    frames instead of one job (measured 43s -> ~5s for the sf0.001
    driver graph). The AQE-off + width overrides apply to a CHILD
    session (same SparkContext, cache and executors; isolated conf)
    bridged via global temp views, so a caller's concurrent queries
    on the parent session never see them. The only collect is the
    initial vertex count."""
    # edges is referenced 3x (verts union, outdeg, fan) — persist, or
    # an expensive upstream (page render + regex extract) re-executes
    # per reference (measured 39s -> 12s for the sf0.001 driver query)
    edges = persist(edges.select("src", "dst").distinct(),
                    StorageLevel.MEMORY_AND_DISK)
    verts = persist(edges.select(F.col("src").alias("node"))
                    .union(edges.select(F.col("dst").alias("node")))
                    .distinct(),
                    StorageLevel.MEMORY_AND_DISK)
    n = verts.count()
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))

    # (src -> dst, 1/outdeg(src)) is loop-invariant; one narrow frame
    outdeg = edges.groupBy("src").agg(
        (F.lit(1.0) / F.count(F.lit(1))).alias("w"))
    fan = persist(edges.join(outdeg, "src"), StorageLevel.MEMORY_AND_DISK)

    # Data-proportional shuffle width for the loop body: with AQE off
    # (below), every exchange inherits spark.sql.shuffle.partitions —
    # on a small graph that is conf-many near-empty tasks per join/agg
    # per iteration, pure scheduler latency (measured: the sf0.1
    # driver graph, 520 nodes, spent ~10 s of a 10.3 s query there).
    # Width scales with edge count and only ever SHRINKS from the
    # session conf, so big graphs keep their configured parallelism.
    m = edges.count()
    spark = edges.sparkSession
    cur_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(cur_width, -(-m // 100_000)))

    # loop body runs on a child session: same SparkContext, executors
    # and (shared-SharedState) cache, but ISOLATED conf — the AQE-off
    # and shuffle-width overrides below cannot affect queries a caller
    # runs concurrently on the parent session. The persisted fan/verts
    # frames cross the session boundary as global temp views; the
    # child's scans resolve to the same analyzed plans, so the shared
    # CacheManager serves them from the parent's persisted data.
    import uuid

    child = spark.newSession()
    tag = f"askg_pr_{uuid.uuid4().hex}"
    fan.createOrReplaceGlobalTempView(f"{tag}_fan")
    verts.createOrReplaceGlobalTempView(f"{tag}_verts")
    fan_c = child.table(f"global_temp.{tag}_fan")
    verts_c = child.table(f"global_temp.{tag}_verts")

    ranks = verts_c.select("node", F.lit(1.0 / n).alias("rank"))
    try:
        ranks = _pagerank_loop(
            child, fan_c, verts_c, ranks, iterations, n, width,
            checkpoint_every)
    finally:
        spark.catalog.dropGlobalTempView(f"{tag}_fan")
        spark.catalog.dropGlobalTempView(f"{tag}_verts")
    # the final ranks frame is an eager checkpoint — self-contained —
    # so the scope releases the loop-invariant caches on return
    return ranks


def _pagerank_loop(spark, fan, verts, ranks, iterations, n, width,
                   checkpoint_every):
    base = (1.0 - DAMPING) / n
    prev = None
    with _AqeOff(spark), _ShufflePartitions(spark, width):
        for it in range(iterations):
            inflow = (
                fan.join(ranks, fan["src"] == ranks["node"])
                .select(F.col("dst").alias("node"),
                        (F.col("rank") * F.col("w")).alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("inflow"))
            )
            # sum_v inflow(v) = sum of linked nodes' rank -> dangling
            # mass = 1 - that total; same exchange as `inflow`, reused
            linked_mass = (inflow.groupBy()
                           .agg(F.coalesce(F.sum("inflow"), F.lit(0.0))
                                .alias("m")))
            ranks = (
                verts.join(inflow, "node", "left")
                .crossJoin(F.broadcast(linked_mass))
                .select(
                    "node",
                    (F.lit(base)
                     + F.lit(DAMPING)
                     * (F.coalesce(F.col("inflow"), F.lit(0.0))
                        + (F.lit(1.0) - F.col("m")) / F.lit(float(n))))
                    .alias("rank"),
                )
            )
            if (it + 1) % checkpoint_every == 0 or it == iterations - 1:
                ranks = checkpoint(ranks)
                if prev is not None:
                    release(prev)
                prev = ranks
    return ranks
