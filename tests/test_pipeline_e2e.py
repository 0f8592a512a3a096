"""End-to-end: pages -> triples, P/R >= 0.95 vs the pure-Python oracle
(BASELINE.json gate), determinism, and entity-level dedup accuracy."""
from __future__ import annotations

import pytest

from askg_spark.fixtures import generate_pages, server_profile
from askg_spark.pipeline import PipelineConfig, run_pipeline
from tests.ref_oracle import oracle_triples

N_SERVERS = 24
SEED = 42


@pytest.fixture(scope="module")
def result(spark):
    pages = generate_pages(spark, n_servers=N_SERVERS, seed=SEED)
    res = run_pipeline(spark, pages, PipelineConfig())
    triples = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}
    entities = res.entities.collect()
    return res, triples, entities


def test_triple_precision_recall_vs_oracle(result):
    _, got, _ = result
    want, _ = oracle_triples(N_SERVERS, SEED)
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    assert precision >= 0.95, (
        f"precision {precision:.3f}; extra={sorted(got - want)[:10]}")
    assert recall >= 0.95, (
        f"recall {recall:.3f}; missing={sorted(want - got)[:10]}")


def test_entity_count_matches_ground_truth(result):
    """Every logical server collapses to exactly one canonical entity."""
    _, _, entities = result
    expected = sum(
        1 for k in range(N_SERVERS)
        if server_profile(SEED, k) is not None)
    assert len(entities) == expected == N_SERVERS


def test_fuzzy_twins_absorbed(result):
    """Twin pages (name + 'x', different repo, same org) must merge into
    the base entity — the fuzzy path, not exact keys."""
    _, _, entities = result
    twin_ks = [k for k in range(N_SERVERS)
               if server_profile(SEED, k)["fuzzy_twin"]]
    assert twin_ks, "fixture must contain fuzzy twins"
    by_id = {e["id"]: e for e in entities}
    for k in twin_ks:
        p = server_profile(SEED, k)
        owners = [e for e in by_id.values()
                  if e["name"] and e["name"].lower().startswith(
                      p["name"].split("-")[0])
                  and str(p["k"]) in str(e["name"])]
        # the twin mention is a member of some entity, and no entity is
        # named exactly the twin variant
        twin_urls = [u for e in entities for u in e["member_urls"]
                     if u.startswith("https://mcp.so/server/")
                     and f"{p['name']}x" in u]
        assert twin_urls, f"twin page for k={k} missing from members"
        del owners


def test_no_triples_from_noise_or_non_mcp(result):
    res, got, _ = result
    rejects = {r["reason"] for r in res.rejects.collect()}
    assert "security_checkpoint" in rejects or "tiny_body" in rejects
    # noise URLs never appear as member urls
    for e in res.entities.collect():
        for u in e["member_urls"]:
            assert "blocked-" not in u and "junk-" not in u


def test_determinism_two_runs(spark, result):
    _, first, _ = result
    pages = generate_pages(spark, n_servers=N_SERVERS, seed=SEED)
    res2 = run_pipeline(spark, pages, PipelineConfig())
    second = {(r["subj"], r["pred"], r["obj"]) for r in res2.triples.collect()}
    assert first == second


def test_only_returned_frames_stay_persisted(spark, result):
    """run_pipeline releases its link-edge and CC label checkpoints:
    every RDD it leaves persisted is the mentions cache or the entities
    checkpoint, and the lazy triples, which read only entities, are
    unchanged."""
    _, first, _ = result

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    pages = generate_pages(spark, n_servers=N_SERVERS, seed=SEED)
    res = run_pipeline(spark, pages, PipelineConfig())
    cached = spark._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(res.mentions._jdf).get()
    mentions_rdd = cached.cachedRepresentation().cacheBuilder() \
        .cachedColumnBuffers().id()
    entities_rdd = res.entities._jdf.queryExecution().analyzed().rdd().id()
    left = persisted() - before
    assert entities_rdd in left
    assert left <= {mentions_rdd, entities_rdd}
    assert {(r["subj"], r["pred"], r["obj"])
            for r in res.triples.collect()} == first


def test_triples_unique_on_spo(result):
    res, _, _ = result
    n = res.triples.count()
    d = res.triples.select("subj", "pred", "obj").distinct().count()
    assert n == d


def test_include_hierarchy_optin(spark, result):
    """Default build emits zero HAS_SUBCATEGORY edges (reference
    parity); PipelineConfig(include_hierarchy=True) appends exactly
    the 3 static ontology edges."""
    _, triples, _ = result
    assert not any(p == "HAS_SUBCATEGORY" for _, p, _ in triples)
    pages = generate_pages(spark, n_servers=6, seed=SEED)
    res = run_pipeline(spark, pages,
                       PipelineConfig(include_hierarchy=True))
    got = {(r["subj"], r["pred"], r["obj"])
           for r in res.triples.filter("pred = 'HAS_SUBCATEGORY'")
           .collect()}
    assert got == {
        ("api_integration", "HAS_SUBCATEGORY", "authentication"),
        ("cloud_services", "HAS_SUBCATEGORY", "monitoring"),
        ("file_system", "HAS_SUBCATEGORY", "search"),
    }


def test_count_pages_matches_rendered_count(spark):
    """count_pages (profile arithmetic, no HTML render) must equal the
    rendered frame's count — it feeds the bench throughput
    denominator."""
    from askg_spark.fixtures import count_pages
    n = generate_pages(spark, n_servers=173, seed=SEED).count()
    assert count_pages(spark, 173, SEED) == n


def test_determinism_across_partitioning(spark, result):
    """The oracle gate depends on partitioning-invariant output: the
    same corpus repartitioned differently AND run under a different
    shuffle width must emit the identical (s,p,o) set."""
    _, first, _ = result
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        pages = generate_pages(spark, n_servers=N_SERVERS, seed=SEED) \
            .repartition(7)
        res2 = run_pipeline(spark, pages, PipelineConfig())
        second = {(r["subj"], r["pred"], r["obj"])
                  for r in res2.triples.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert first == second


def test_negative_samples_semantics(spark):
    """Within-predicate corruption: neg_obj is a DIFFERENT object of
    the same predicate chosen by the md5 rank (fallback +1 on self-
    collision incl. wraparound), single-object predicates yield NULL,
    and the pick is deterministic across partitionings."""
    import hashlib

    from askg_spark import triples as T

    rows = [("s1", "p", "a"), ("s2", "p", "b"), ("s3", "p", "c"),
            ("s4", "q", "only")]
    tr = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {(r["subj"], r["pred"], r["obj"]): r["neg_obj"]
           for r in T.negative_samples(tr).collect()}
    objs = ["a", "b", "c"]

    def expect(s, p, o):
        h = int(hashlib.md5(f"{s}|{p}|{o}".encode())
                .hexdigest()[:8], 16) % 3
        cand = objs[h]
        return cand if cand != o else objs[(h + 1) % 3]

    for s, p, o in rows[:3]:
        assert got[(s, p, o)] == expect(s, p, o) != o
    assert got[("s4", "q", "only")] is None
    got2 = {(r["subj"], r["pred"], r["obj"]): r["neg_obj"]
            for r in T.negative_samples(tr.repartition(7)).collect()}
    assert got2 == got
