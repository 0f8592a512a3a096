"""Seeded inputs the workloads feed to the program, and the in-process
pandas recomputations that check the serving answers.

All randomness comes from ``numpy.random.default_rng(seed)`` (or
``fixtures.generate_pages``'s own seed), so one seed gives one input.
"""

from __future__ import annotations

from collections import deque

import numpy as np
import pandas as pd

from askg_spark.search import (SEARCH_CATEGORY_KEYWORDS,
                               SEARCH_OPERATION_KEYWORDS, extract_search_terms)

# ------------------------------------------------------------- corpus

# The 30-word vocabulary and the length / lang / source mix of the
# sf0.1 `documents` table, so the training-data layers see the same
# shape of input as bench.py's sf0.1 run.
DOC_VOCAB = ("spark window merge table column vector stream value data "
             "small join filter big group hash customer sort order slow "
             "line part fast row the agg key query a scan batch").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(seed: int, n_docs: int, plant_share: float = 0.01
              ) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """-> (docs with doc_id/text/lang/source/n_chars, planted exact
    duplicate pairs (original, copy)).

    ``plant_share`` of the base docs get an exact copy (case-changed
    for half of them: the exact fingerprint ignores case) and as many
    get a near copy with two words replaced."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(DOC_VOCAB, n)) for n in lens]
    n_plant = max(1, int(n_docs * plant_share))
    exact_src = rng.choice(n_docs, n_plant, replace=False)
    near_src = rng.choice(n_docs, n_plant, replace=False)
    planted = []
    for i, src in enumerate(exact_src):
        t = texts[src]
        texts.append(t.upper() if i % 2 else t)
        planted.append((int(src), len(texts) - 1))
    for src in near_src:
        words = texts[src].split()
        for j in rng.choice(len(words), 2, replace=False):
            words[j] = "dup"
        texts.append(" ".join(words))
    n = len(texts)
    df = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
    })
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    return df, planted


# -------------------------------------------------------------- serve

# Name stems, category seed words and tool words of the fixture
# corpus, plus a few that match nothing.
SEARCH_TERMS = ["orbit", "quartz", "falcon", "cobalt", "harbor", "zephyr",
                "bridge", "forge", "vault", "beacon", "postgres", "webhook",
                "kubernetes", "slack", "observability", "neural", "storage",
                "index", "connector", "capabilities", "nomatch-term"]


def request_mix(seed: int, entity_ids: list[str], n_rounds: int,
                round_shape: dict[str, int]) -> list[list[tuple[str, str]]]:
    """Seeded closed-loop request rounds: each round holds
    ``round_shape[kind]`` requests of each kind in a seeded order.
    Request = (kind, argument)."""
    rng = np.random.default_rng(seed + 1)
    cat_kws = sorted({k for ks in SEARCH_CATEGORY_KEYWORDS.values()
                      for k in ks})
    op_kws = sorted({k for ks in SEARCH_OPERATION_KEYWORDS.values()
                     for k in ks})
    bfs_seeds = sorted(entity_ids)

    def arg(kind: str) -> str:
        if kind == "term":
            return SEARCH_TERMS[rng.integers(len(SEARCH_TERMS))]
        if kind == "semantic":
            return (f"find {cat_kws[rng.integers(len(cat_kws))]} "
                    f"{op_kws[rng.integers(len(op_kws))]} servers")
        return bfs_seeds[rng.integers(len(bfs_seeds))]

    rounds = []
    for _ in range(n_rounds):
        kinds = [k for k, n in round_shape.items() for _ in range(n)]
        rng.shuffle(kinds)
        rounds.append([(k, arg(k)) for k in kinds])
    return rounds


def _lower(s) -> str:
    return "" if s is None else str(s).lower()


def _top_ids(ents: pd.DataFrame, score: pd.Series, keep: pd.Series,
             limit: int) -> list[str]:
    hit = pd.DataFrame({"id": ents["id"], "score": score})[keep]
    hit = hit.sort_values(["score", "id"], ascending=[False, True],
                          kind="mergesort")
    return hit["id"].head(limit).tolist()


def expected_term(ents: pd.DataFrame, term: str, limit: int = 10
                  ) -> list[str]:
    """search.search_entities recomputed: name hit 10, description hit
    8, plus popularity * 0.001; score > 0; (score desc, id asc)."""
    t = term.lower()
    name_hit = ents["name"].map(lambda s: t in _lower(s))
    desc_hit = ents["description"].map(lambda s: t in _lower(s))
    score = ((name_hit * 10.0 + desc_hit * 8.0)
             + ents["popularity_score"].fillna(0).astype(float) * 0.001)
    return _top_ids(ents, score, score > 0, limit)


def expected_semantic(ents: pd.DataFrame, prompt: str, limit: int = 10
                      ) -> list[str]:
    """search.semantic_search recomputed: text 3/2, 2 per matched
    category, 1.5 per matched operation, popularity * 0.1."""
    terms = extract_search_terms(prompt)
    low = prompt.lower()
    cats, ops = set(terms["categories"]), set(terms["operations"])
    text = [3.0 if low in _lower(n) else 2.0 if low in _lower(d) else 0.0
            for n, d in zip(ents["name"], ents["description"])]
    cat = [len(set(c if c is not None else ()) & cats) * 2.0
           for c in ents["categories"]]
    op = [len(set(o if o is not None else ()) & ops) * 1.5
          for o in ents["operations"]]
    pop = ents["popularity_score"].fillna(0).astype(float) * 0.1
    score = ((pd.Series(text, index=ents.index) + pd.Series(cat, index=ents.index))
             + pd.Series(op, index=ents.index)) + pop
    return _top_ids(ents, score, score >= 0.0, limit)


def expected_bfs_nodes(adj: dict[str, set[str]], seed_id: str,
                       max_depth: int) -> int:
    """Nodes within ``max_depth`` undirected hops of ``seed_id``,
    seed included."""
    depth = {seed_id: 0}
    todo = deque([seed_id])
    while todo:
        u = todo.popleft()
        if depth[u] == max_depth:
            continue
        for v in adj.get(u, ()):
            if v not in depth:
                depth[v] = depth[u] + 1
                todo.append(v)
    return len(depth)


def adjacency(edges: pd.DataFrame) -> dict[str, set[str]]:
    adj: dict[str, set[str]] = {}
    for s, d in zip(edges["src"], edges["dst"]):
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    return adj
