"""The workloads. Each one generates its inputs from the seed,
runs one untimed full-size pass in ``setup``, and then runs timed
passes through ``one_pass`` until the run's time and sample floors are
met. Every pass checks its outputs; a wrong or missing output counts
as a failed operation and never stops the run.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from askg_spark import bpe, dedup, fixtures, graphops, search, textops
from askg_spark.linking import candidate_edges
from askg_spark.pipeline import PipelineConfig, run_pipeline

from perfbench import inputs
from perfbench.harness import WORK, Span, Spans, log, tree_cpu_s

# Input sizes and timed-pass floors per scale ("tiny" is the
# self-check's). kg: 2 passes x 50 requests gives the 100 requests a
# p90 needs (ten samples beyond it).
SIZES = {
    "full": {"kg_servers": 500, "corpus_docs": 1000,
             "min_passes": {"kg": 2, "corpus": 2}},
    "tiny": {"kg_servers": 40, "corpus_docs": 200,
             "min_passes": {"kg": 1, "corpus": 1}},
}


@dataclass
class PassRecord:
    """One timed pass. ``batch_*`` is the batch part (the whole pass
    unless the workload also serves requests in it)."""
    wall: float = 0.0
    cpu: float = 0.0
    batch_wall: float | None = None
    batch_cpu: float | None = None
    spans: list[Span] = field(default_factory=list)
    latencies_ms: list[float] = field(default_factory=list)
    cached_after: int = 0
    extra: dict = field(default_factory=dict)


class Run:
    """Per-run state shared with the workload: the Spark session,
    operation accounting and the output checks."""

    def __init__(self, session, seed: int, scale: str, corrupt: bool):
        self.session = session
        self.seed = seed
        self.sizes = SIZES[scale]
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.spans = Spans()

    @property
    def spark(self):
        return self.session.spark

    def check(self, what: str, got, want) -> bool:
        """One checked operation. With ``corrupt`` set, the first
        output checked in the timed phase is altered first, which must
        show as a failure."""
        self.attempted += 1
        if self.corrupt and self.spans.pass_no > 0:
            got, self.corrupt = ("corrupted", got), False
        if got != want:
            self.failed += 1
            log(f"check failed: {what}: got {str(got)[:200]} "
                f"want {str(want)[:200]}")
            return False
        return True

    def guarded(self, what: str, fn):
        """Run ``fn``; an exception counts as one failed operation."""
        try:
            return fn()
        except Exception:  # the run must go on and report the failure
            self.attempted += 1
            self.failed += 1
            log(f"operation failed: {what}\n{traceback.format_exc()}")
            return None

    def expected(self, key: str, value):
        """Pin an output across runs: the first run with this seed and
        size stores ``value``; later runs return the stored one."""
        path = WORK / "expected" / f"{key}-seed{self.seed}.json"
        path.parent.mkdir(parents=True, exist_ok=True)
        if path.exists():
            return json.loads(path.read_text())
        path.write_text(json.dumps(value))
        return json.loads(path.read_text())


def digest(df: DataFrame, cols: list[str]) -> list:
    """Order-independent (row count, sum of 64-bit row hashes)."""
    row = df.agg(F.count(F.lit(1)),
                 F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).collect()[0]
    return [int(row[0]), str(row[1])]


# ------------------------------------------------------------------- kg

SERVE_EDGE_TYPES = ("same_author", "similar_functionality")
# One neighbourhood request per 50 (2%): at ~30x the cost of a search
# it sits above p90, which then measures the search tail, not the
# boundary between the request types.
ROUND_SHAPE = {"term": 25, "semantic": 24, "neighbors": 1}
BFS_DEPTH = 2


class KG:
    """The KG's two users in one cycle: each pass builds the graph from
    pages (``run_pipeline`` plus one action over the triples), then one
    closed-loop client sends a round of requests to it: term search,
    semantic search and 2-hop neighbourhoods over the same_author and
    similar_functionality edges."""

    name = "kg"
    _record_names = {"extract": "extract", "link": "linking", "cc": "cc",
                     "canonicalize": "canonicalize",
                     "relations": "relations", "triples": "triples"}
    span_names = {"term": "search.term", "semantic": "search.semantic",
                  "neighbors": "graphops.neighbors"}

    def __init__(self, run: Run):
        self.run = run
        self.path = str(run.session.run_dir / "pages")
        self.n = run.sizes["kg_servers"]
        self.round_no = 0
        self._want: dict = {}

    def generate(self) -> None:
        fixtures.generate_pages(self.run.spark, self.n, seed=self.run.seed) \
            .write.parquet(self.path)

    def setup(self) -> None:
        self.pages = self.run.spark.read.parquet(self.path)
        got = self._build(Spans())
        self.want = self.run.expected(f"kg-{self.n}", got)
        self.run.check("kg warm-pass triples vs earlier runs", got,
                       self.want)
        self.ents_pd = self.res.entities.select(
            "id", "name", "description", "popularity_score", "categories",
            "operations").toPandas()
        self.adj = inputs.adjacency(self.edges.toPandas())
        self.rounds = inputs.request_mix(
            self.run.seed, sorted(self.ents_pd["id"]), 64, ROUND_SHAPE)
        warm = {k: a for k, a in self.rounds[-1]}  # one request per kind
        self._serve(list(warm.items()), Spans(), [])

    def _build(self, spans: Spans) -> list:
        t0 = time.time()
        res = run_pipeline(self.run.spark, self.pages, PipelineConfig())
        t1 = time.time()
        # the served graph: entities are checkpointed by run_pipeline
        triples = res.triples.persist()
        out = digest(triples, ["subj", "pred", "obj"])
        t2 = time.time()
        # StageTimer records laid end to end, ending where run_pipeline
        # returned. Extract's span starts at the call: before its first
        # record, run_pipeline builds and plans the extract and enrich
        # frames (~5% of the pass). Relations and triples only build
        # plans there; their real work runs in the materialize action.
        recs = res.timer.records
        start = t1 - sum(r["sec"] for r in recs)
        for i, r in enumerate(recs):
            spans.add(self._record_names[r["stage"]], t0 if i == 0 else start,
                      start + r["sec"])
            start += r["sec"]
        spans.add("materialize", t1, t2)
        self.res = res
        self.edges = (triples.filter(F.col("pred").isin(*SERVE_EDGE_TYPES))
                      .select(F.col("subj").alias("src"),
                              F.col("obj").alias("dst")))
        return out

    def _request(self, kind: str, arg: str):
        ents = self.res.entities
        if kind == "term":
            return [r.id for r in search.search_entities(ents, arg).collect()]
        if kind == "semantic":
            return [r.id for r in search.semantic_search(ents, arg).collect()]
        seeds = self.run.spark.createDataFrame([(arg,)], "node string")
        return graphops.bfs_depths(self.edges, seeds,
                                   max_depth=BFS_DEPTH).count()

    def _expected(self, kind: str, arg: str):
        key = (kind, arg)
        if key not in self._want:
            if kind == "term":
                v = inputs.expected_term(self.ents_pd, arg)
            elif kind == "semantic":
                v = inputs.expected_semantic(self.ents_pd, arg)
            else:
                v = inputs.expected_bfs_nodes(self.adj, arg, BFS_DEPTH)
            self._want[key] = v
        return self._want[key]

    def _serve(self, batch, spans: Spans, latencies_ms: list) -> None:
        for kind, arg in batch:
            t0 = time.time()
            got = self.run.guarded(f"{kind} {arg}",
                                   lambda: self._request(kind, arg))
            t1 = time.time()
            spans.add(self.span_names[kind], t0, t1)
            latencies_ms.append((t1 - t0) * 1e3)
            if got is not None:
                self.run.check(f"{kind} {arg}", got,
                               self._expected(kind, arg))

    def one_pass(self, rec: PassRecord) -> None:
        pid = os.getpid()
        c0, t0 = tree_cpu_s(pid), time.monotonic()
        out = self._build(self.run.spans)
        rec.batch_wall = time.monotonic() - t0
        rec.batch_cpu = tree_cpu_s(pid) - c0
        if self.run.check("kg triples (count, hash)", out, self.want):
            batch = self.rounds[self.round_no % (len(self.rounds) - 1)]
            self.round_no += 1
            self._serve(batch, self.run.spans, rec.latencies_ms)

    def counts(self) -> dict[str, float]:
        """Row counts of the last pass's layer outputs (untimed)."""
        res = self.res
        mentions = res.mentions.count()
        entities = res.entities.count()
        edges = candidate_edges(res.mentions, PipelineConfig().link).count()
        return {"extract.mentions_out": mentions,
                "extract.rejects_out": res.rejects.count(),
                "linking.edges_out": edges,
                "canonicalize.entities_out": entities,
                "canonicalize.entities_per_mention":
                    entities / mentions if mentions else 0.0,
                "triples.rows_out": self.want[0]}


# --------------------------------------------------------------- corpus

class Corpus:
    """Training-data layers over a seeded documents table with planted
    exact and near duplicates."""

    name = "corpus"

    def __init__(self, run: Run):
        self.run = run
        self.path = str(run.session.run_dir / "documents")
        self.n = run.sizes["corpus_docs"]
        self.want: dict | None = None

    def generate(self) -> None:
        docs, self.planted = inputs.documents(self.run.seed, self.n)
        self.run.spark.createDataFrame(docs).write.parquet(self.path)

    def setup(self) -> None:
        self.docs = self.run.spark.read.parquet(self.path)
        got = self._pass_body(Spans(), {})
        self.want = self.run.expected(f"corpus-{self.n}", got)
        self.run.check("corpus warm-pass outputs vs earlier runs", got,
                       self.want)
        self.run.check("planted exact duplicates found",
                       got["dedup.exact"][1], len(self.planted))

    def _pass_body(self, spans: Spans, extra: dict) -> dict:
        docs, out = self.docs, {}

        def step(layer: str, fn):
            out[layer] = self.run.guarded(
                layer, lambda: spans.timed(layer, fn))

        def exact():
            groups = (dedup.exact_duplicate_groups(docs)
                      .select("doc_ids").collect())
            together = {tuple(g.doc_ids) for g in groups}
            found = sum(any(a in g and b in g for g in together)
                        for a, b in self.planted)
            extra["planted_found"] = found
            return [len(groups), found]

        step("dedup.exact", exact)
        step("dedup.ngram", lambda: digest(
            dedup.ngram_jaccard_pairs(docs), ["doc_a", "doc_b", "n_common"]))
        step("dedup.minhash", lambda: digest(
            dedup.minhash_pairs(docs), ["doc_a", "doc_b"]))
        step("dedup.simhash", lambda: digest(
            dedup.simhash_pairs(docs), ["doc_a", "doc_b"]))
        step("dedup.clusters", lambda: digest(
            dedup.near_dup_clusters(docs), ["doc_id", "cluster_id"]))
        step("textops.top_terms", lambda: digest(
            textops.top_terms_tfidf(docs, k=3),
            ["doc_id", "term", "score_scaled", "rnk"]))
        step("textops.collocations", lambda: digest(
            textops.collocations(docs, k=20, min_count=5),
            ["w1", "w2", "n_pair", "pmi_scaled", "rnk"]))
        step("textops.quality", lambda: digest(
            textops.quality_filter(docs), ["doc_id", "keep", "reasons"]))
        step("bpe.train", lambda: bpe.train_bpe(
            bpe.word_type_counts(docs), n_merges=10, min_freq=2))
        merges = out["bpe.train"] or []
        extra["n_merges"] = len(merges)
        step("bpe.encode", lambda: digest(
            bpe.apply_merges(docs, merges), ["token", "n"]))
        # JSON round trip: stored expectations come back as lists
        return json.loads(json.dumps(out))

    def one_pass(self, rec: PassRecord) -> None:
        out = self._pass_body(self.run.spans, rec.extra)
        for layer, want in self.want.items():
            self.run.check(layer, out.get(layer), want)
        self.run.check("planted exact duplicates found",
                       rec.extra.get("planted_found"), len(self.planted))


WORKLOADS = {w.name: w for w in (KG, Corpus)}
