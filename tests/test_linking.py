"""Linking: exact-key stars, LSH candidate recall, scorer thresholds —
all compared against the pure-Python oracle's decisions."""
from __future__ import annotations

from itertools import combinations

from askg_spark.enrich import enrich_mentions
from askg_spark.extract import extract_mentions
from askg_spark.fixtures import generate_pages
from askg_spark.linking import (LinkConfig, candidate_edges, exact_edges,
                                fuzzy_edges)
from tests import ref_oracle as O

N_SERVERS = 24


def _enriched(spark):
    pages = generate_pages(spark, n_servers=N_SERVERS, seed=42)
    mentions, _ = extract_mentions(pages)
    return enrich_mentions(mentions).persist()


def _oracle_pairs(kind: str):
    """All mention pairs the oracle links, as frozensets of mention_ids."""
    mentions = O.extract_all_mentions(N_SERVERS, seed=42)
    pairs = set()
    if kind == "exact":
        for key_fn in (
            lambda m: O.norm_repo_url(m["repository"]) if m["repository"] else None,
            lambda m: (O.norm_name(m["name"]) + "|" + O.norm_name(m["author"]))
            if m["name"] and m["author"] else None,
            O.content_hash,
        ):
            groups = {}
            for m in mentions:
                k = key_fn(m)
                if k:
                    groups.setdefault(k, []).append(m["mention_id"])
            for ids in groups.values():
                for a, b in combinations(ids, 2):
                    pairs.add(frozenset((a, b)))
    else:
        for a, b in combinations(mentions, 2):
            na, nb = O.norm_name(a["name"]), O.norm_name(b["name"])
            if not na or not nb or na == nb:
                continue
            comp = O._composite(a, b)
            similar = comp > 0.7
            fuzzy = O._ratio(na, nb) > 0.85 and similar
            high = (similar and a["registry"] != b["registry"]
                    and O._detailed(a, b) > 0.9)
            if fuzzy or high:
                pairs.add(frozenset((a["mention_id"], b["mention_id"])))
    return pairs


def _closure(pairs):
    uf = O.UnionFind()
    for p in pairs:
        a, b = tuple(p)
        uf.union(a, b)
    comps = {}
    for p in pairs:
        for x in p:
            comps.setdefault(uf.find(x), set()).add(x)
    return {frozenset(v) for v in comps.values()}


def test_exact_edges_same_connectivity_as_oracle(spark):
    e = _enriched(spark)
    got = [(r["src"], r["dst"]) for r in exact_edges(e).collect()]
    # compare transitive closures — the star decomposition is allowed to
    # pick different edges than all-pairs, the components must match
    assert _closure({frozenset(p) for p in got}) == _closure(_oracle_pairs("exact"))


def test_fuzzy_pipeline_matches_oracle_decisions(spark):
    """The pipeline's fuzzy scorer: LSH blocking must recover 100% of
    the oracle's fuzzy pairs on the fixture corpus (recall), and the
    gate + rescoring UDFs must accept exactly the oracle-accepted set
    (precision of decisions)."""
    e = _enriched(spark)
    got = {frozenset((r["src"], r["dst"]))
           for r in fuzzy_edges(e, LinkConfig()).collect()}
    want = _oracle_pairs("fuzzy")
    assert want - got == set(), f"LSH/scorer missed {len(want - got)} oracle pairs"
    assert got - want == set(), f"scorer accepted {len(got - want)} extra pairs"
    assert len(want) > 0  # fixture must actually exercise the fuzzy path


def test_registry_sets_the_name_floor(spark):
    """Below the 0.85 name gate only a cross-registry pair can merge
    (J6). Two pairs with name ratio ~0.82 and otherwise identical
    attributes: the cross-registry pair links, the same-registry pair
    does not — the oracle's decision for each. The fixture corpus has
    no same-registry pair in that band, so this boundary is planted."""
    def row(mid, registry, name, repo):
        return {"mention_id": mid, "registry": registry, "name": name,
                "author": "acme labs", "description": "maps and tiles",
                "categories": ["geo"], "implementation_language": "python",
                "repository": f"https://github.com/acme/{repo}",
                "norm_name": O.norm_name(name),
                "norm_author": O.norm_name("acme labs"),
                "github_org": "acme"}

    rows = [row("m1", "glama", "geo tiles", "a"),
            row("m2", "glama", "geo tiles pro", "b"),
            row("m3", "glama", "vector store", "c"),
            row("m4", "mcpso", "vector store lite", "d")]
    want = set()
    for a, b in combinations(rows, 2):
        ratio = O._ratio(a["norm_name"], b["norm_name"])
        similar = O._composite(a, b) > 0.7
        if similar and (ratio > 0.85 or (a["registry"] != b["registry"]
                                         and O._detailed(a, b) > 0.9)):
            want.add((a["mention_id"], b["mention_id"]))
    assert want == {("m3", "m4")}
    mentions = spark.createDataFrame(
        rows, "mention_id string, registry string, name string, "
              "author string, description string, categories array<string>, "
              "implementation_language string, repository string, "
              "norm_name string, norm_author string, github_org string")
    got = {(r["src"], r["dst"])
           for r in fuzzy_edges(mentions, LinkConfig()).collect()}
    assert got == want


def test_np_quick_ratio_is_exact():
    """The batched numpy quick_ratio must equal difflib's quick_ratio
    bit-for-bit on norm_name-charset strings, so the vectorized
    `qr <= floor` rejection in the gate stage is exactly difflib's own
    quick_ratio-before-ratio cascade."""
    import random
    from difflib import SequenceMatcher

    import pandas as pd

    from askg_spark.linking import _np_quick_ratio

    charset = "abcdefghijklmnopqrstuvwxyz0123456789 "
    rng = random.Random(7)
    rows = []
    for _ in range(300):
        a = "".join(rng.choice(charset) for _ in range(rng.randint(1, 30)))
        b = "".join(rng.choice(charset) for _ in range(rng.randint(1, 30)))
        rows.append((a.strip() or "a", b.strip() or "b"))
    # adversarial: shared prefixes, near-dups, disjoint charsets,
    # extreme length skew, one-side-empty
    rows += [("alpha server", "alpha server 2"), ("abc", "xyz"),
             ("data processing 9", "data processing 9 "),
             ("a", "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"), ("", "abc")]
    a = pd.Series([r[0] for r in rows])
    b = pd.Series([r[1] for r in rows])
    qr = _np_quick_ratio(a, b)
    for i, (x, y) in enumerate(rows):
        want = SequenceMatcher(None, x, y).quick_ratio()
        assert qr[i] == want, (x, y, qr[i], want)


def test_candidate_edges_union(spark):
    e = _enriched(spark)
    edges = candidate_edges(e, LinkConfig())
    assert edges.count() > 0
    assert edges.columns == ["src", "dst"]
