"""Distributed BPE (byte-pair encoding) tokenizer training.

A training-data pipeline at 10^12 documents trains its tokenizer on
the corpus it just cleaned; BPE (Sennrich et al. 2016) is the
standard algorithm. Merge decisions are inherently sequential (each
argmax depends on every earlier merge), so training is one heavy
aggregation, then a small loop:

* the corpus collapses ONCE to a word-TYPE table (word, n) — at web
  scale ~10^7-10^8 types from 10^12 tokens. One Spark job fetches up
  to ``_DRIVER_MAX_TYPES + 1`` of its rows as (symbols, n), the
  symbols split by Spark, so Python never re-splits a word;
* at or below ``_DRIVER_MAX_TYPES`` types — an exact size, known from
  that fetch — the merge loop runs in the driver, as standard BPE
  trainers do: pair counts are kept incrementally, a pair -> types
  index makes a merge touch only the types that hold the pair, and a
  lazy-deletion heap keyed (-freq, left, right) yields the next merge;
* above it the loop stays in Spark: per merge one weighted pair-count
  shuffle (arrays_zip of two slices, explode — no Python) and a
  one-row argmax collect. Each round's symbol arrays are a lazy local
  checkpoint, released once the next round's argmax job has read it,
  so every round reads a one-round-deep plan.

Both paths merge greedily left to right (post-merge symbols take part
in later matches, so 'aaa' under (a, a) becomes [aa, a]), stop when
the best pair's count drops below ``min_freq``, and break ties on
(-freq, left, right). Python orders ``str`` by code point and Spark
orders strings by their UTF-8 bytes, which is the same order, so the
merge table is a pure function of the corpus whichever path runs.
Certified in tests against an independent pure-python reference
(exact merge-table equality), on both paths.
"""

from __future__ import annotations

import heapq
from collections import Counter

from pyspark.sql import DataFrame, functions as F

from askg_spark.session import checkpoint, operator_scope, release

__all__ = ["word_type_counts", "train_bpe", "apply_merges"]

_EOW = "</w>"

# Word types at or below which training runs in the driver. On a
# synthetic 10^6-type table the driver loop made 1,000 merges in 180 s
# with a 3.1 GB peak RSS, on a 4-vCPU host where one Spark round over
# the same table took 6.9 s (BENCH.md, "BPE training").
_DRIVER_MAX_TYPES = 1_000_000


def word_type_counts(docs: DataFrame) -> DataFrame:
    """(word, n): lowercased whitespace-token types of ``text`` with
    occurrence counts — the one corpus-sized aggregation of BPE
    training."""
    return (docs
            .select(F.explode(F.split(F.lower(F.col("text")),
                                      r"\s+")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n")))


def _initial_symbols(word_col: F.Column) -> F.Column:
    """Character symbols plus a terminal end-of-word marker symbol."""
    chars = F.filter(F.split(word_col, ""), lambda c: c != F.lit(""))
    return F.concat(chars, F.array(F.lit(_EOW)))


def _merge_expr(col: F.Column, left: F.Column, right: F.Column,
                merged: F.Column) -> F.Column:
    """Greedy left-to-right merge of adjacent (left, right) into
    `merged`, as a Column fold: a symbol equal to `right` joins the
    accumulator's last symbol when that one is `left`."""
    return F.aggregate(
        col,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (x == right),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged))
        ).otherwise(F.concat(acc, F.array(x))))


def _apply_table(col: F.Column, merges: list[tuple[str, str, int]]
                 ) -> F.Column:
    """`col` under every merge of `merges`, in order, as ONE fold over
    a merges-array literal: the plan is the same size for any table
    length (one nested fold per merge stopped analysis at 96 merges,
    past the analyzer's 100-iteration cap). A merge whose two symbols
    are not both present leaves the array as it is."""
    if not merges:
        return col
    table = F.array(*[
        F.struct(F.lit(a).alias("l"), F.lit(b).alias("r"),
                 F.lit(a + b).alias("m"))
        for a, b, _ in merges])
    return F.aggregate(table, col, lambda syms, m: F.when(
        F.array_contains(syms, m["l"]) & F.array_contains(syms, m["r"]),
        _merge_expr(syms, m["l"], m["r"], m["m"])).otherwise(syms))


def _pair_counts(types: DataFrame) -> DataFrame:
    s = F.col("syms")
    pairs = F.arrays_zip(
        F.slice(s, 1, F.size(s) - 1),
        F.slice(s, 2, F.size(s) - 1)).alias("p")
    return (types
            .filter(F.size(s) >= 2)
            .select("n", F.explode(pairs).alias("p"))
            .select("n",
                    F.col("p")["0"].alias("left"),
                    F.col("p")["1"].alias("right"))
            .groupBy("left", "right")
            .agg(F.sum("n").alias("freq")))


def _merged(syms: list[str], a: str, b: str, ab: str) -> list[str]:
    """`syms` with each (a, b) occurrence, scanning left to right over
    symbols not yet consumed, replaced by the one symbol `ab`."""
    out, i, last = [], 0, len(syms) - 1
    while i <= last:
        if i < last and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_in_driver(types: list[tuple[list[str], int]], n_merges: int,
                     min_freq: int) -> list[tuple[str, str, int]]:
    words = [syms for syms, _ in types]
    weight = [n for _, n in types]
    freq: dict[tuple[str, str], int] = {}
    holders: dict[tuple[str, str], set[int]] = {}
    for i, syms in enumerate(words):
        for p in zip(syms, syms[1:]):
            freq[p] = freq.get(p, 0) + weight[i]
            holders.setdefault(p, set()).add(i)
    heap = [(-f, a, b) for (a, b), f in freq.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    while heap and len(merges) < n_merges:
        neg, a, b = heapq.heappop(heap)
        if freq.get((a, b)) != -neg:
            continue  # stale: the pair's count moved after this push
        if -neg < min_freq:
            break
        merges.append((a, b, -neg))
        ab = a + b  # one string object shared by every merged type
        for i in holders.pop((a, b)):
            old, new = words[i], _merged(words[i], a, b, ab)
            words[i] = new
            now = Counter(zip(new, new[1:]))
            delta = now.copy()
            delta.subtract(zip(old, old[1:]))
            for p, d in delta.items():
                if d:
                    f = freq.get(p, 0) + d * weight[i]
                    if f:
                        freq[p] = f
                        heapq.heappush(heap, (-f, *p))
                    else:
                        del freq[p]
                if p in now:
                    holders.setdefault(p, set()).add(i)
                elif p in holders:
                    holders[p].discard(i)
    return merges


def _train_in_spark(types: DataFrame, n_merges: int, min_freq: int
                    ) -> list[tuple[str, str, int]]:
    merges: list[tuple[str, str, int]] = []
    cur, prev = checkpoint(types, eager=False), None
    for _ in range(n_merges):
        best = (_pair_counts(cur)
                .orderBy(F.desc("freq"), "left", "right")
                .limit(1)
                .collect())
        if prev is not None:
            release(prev)  # the argmax job has materialized `cur`
        if not best or best[0]["freq"] < min_freq:
            break
        merges.append((best[0]["left"], best[0]["right"],
                       int(best[0]["freq"])))
        prev, cur = cur, checkpoint(cur.select(
            "n", _apply_table(F.col("syms"), merges[-1:]).alias("syms")),
            eager=False)
    return merges


@operator_scope
def train_bpe(word_counts: DataFrame, n_merges: int = 10,
              min_freq: int = 2) -> list[tuple[str, str, int]]:
    """Learn up to `n_merges` merges; returns [(left, right, freq)]
    in merge order. Stops early when the best pair drops below
    `min_freq`. Runs in the driver when the table has at most
    ``_DRIVER_MAX_TYPES`` word types, as a Spark loop otherwise."""
    types = word_counts.select(
        "n", _initial_symbols(F.col("word")).alias("syms"))
    rows = types.limit(_DRIVER_MAX_TYPES + 1).collect()
    if len(rows) <= _DRIVER_MAX_TYPES:
        return _train_in_driver([(r["syms"], r["n"]) for r in rows],
                                n_merges, min_freq)
    del rows  # the Spark loop reads the table from Spark
    return _train_in_spark(types, n_merges, min_freq)


def apply_merges(docs: DataFrame,
                 merges: list[tuple[str, str, int]]) -> DataFrame:
    """Segment every document under a learned merge table:
    -> (token, n) corpus token counts. The merge table is applied as
    one Column fold over its literal (see :func:`_apply_table`) in ONE
    projection, no Python, no extra passes.

    The fold runs over DISTINCT WORD TYPES, not occurrences (same
    collapse the trainer uses): segmentation is a pure function of
    the word, so the corpus first reduces to (word, n_words) and the
    merge fold touches each type once, with per-type counts summed
    back per emitted symbol — on real corpora types are orders of
    magnitude fewer than tokens (measured 16.1 s -> 0.9 s warm at
    sf0.1 for a 10-merge table)."""
    syms = _apply_table(_initial_symbols(F.col("word")), merges)
    return (word_type_counts(docs)
            .select(F.col("n"), F.explode(syms).alias("token"))
            .groupBy("token")
            .agg(F.sum("n").alias("n")))
