"""Distributed BPE vs an independent pure-python reference."""
from __future__ import annotations

import random
from collections import Counter

import pytest

from askg_spark import bpe


# ---- reference implementation (Sennrich-style, dict-based) ----------

def _ref_word_counts(texts):
    c = Counter()
    for t in texts:
        for w in t.lower().split():
            c[w] += 1
    return c


def _ref_train(word_counts, n_merges, min_freq=2):
    vocab = {tuple(list(w) + ["</w>"]): n for w, n in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        stats = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += n
        if not stats:
            break
        (a, b), freq = min(stats.items(),
                           key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if freq < min_freq:
            break
        merges.append((a, b, freq))
        new_vocab = {}
        for syms, n in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def test_merge_table_matches_reference(spark):
    texts = ["the cat sat on the mat",
             "the cats sat", "a banana bandana",
             "low lower lowest low low", "aaa aaaa aa"]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    wc = bpe.word_type_counts(docs)
    got = bpe.train_bpe(wc, n_merges=12, min_freq=2)
    exp = _ref_train(_ref_word_counts(texts), 12, 2)
    assert got == exp
    # overlap semantics actually exercised: some merge output feeds a
    # later merge (post-merge symbols participate)
    assert len(got) >= 6


def test_greedy_overlap_semantics(spark):
    # 'aaa' under (a, a): greedy left-to-right -> [aa, a, </w>]
    docs = spark.createDataFrame([("aaa aaa",)], "text string")
    wc = bpe.word_type_counts(docs)
    merges = bpe.train_bpe(wc, n_merges=1, min_freq=1)
    assert merges[0][:2] == ("a", "a") and merges[0][2] == 4
    toks = {r.token: r.n
            for r in bpe.apply_merges(docs, merges).collect()}
    assert toks == {"aa": 2, "a": 2, "</w>": 2}


def _ref_segment(texts, merges):
    """Token counts of `texts` with each merge applied in order."""
    ref = Counter()
    for t in texts:
        for w in t.lower().split():
            syms = list(w) + ["</w>"]
            for a, b, _ in merges:
                out = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                syms = out
            ref.update(syms)
    return dict(ref)


def _random_texts(seed, n_texts=4, n_words=60):
    rng = random.Random(seed)
    return [" ".join("".join(rng.choice("abcdefghijkl")
                             for _ in range(rng.randint(3, 10)))
                     for _ in range(n_words))
            for _ in range(n_texts)]


def test_apply_matches_reference_segmentation(spark):
    texts = ["the cat sat on the mat", "the cats sat"]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    merges = bpe.train_bpe(bpe.word_type_counts(docs), n_merges=8,
                           min_freq=1)
    # and a table longer than the 95 merges that one nested fold per
    # merge could analyze
    long_texts = _random_texts(7)
    long_merges = _ref_train(_ref_word_counts(long_texts), 160, 1)
    assert len(long_merges) == 160
    for texts, merges in ((texts, merges), (long_texts, long_merges)):
        docs = spark.createDataFrame([(t,) for t in texts], "text string")
        got = {r.token: r.n
               for r in bpe.apply_merges(docs, merges).collect()}
        assert got == _ref_segment(texts, merges)


def test_real_corpus_sample(spark):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(120).select("text"))
    texts = [r.text for r in docs.collect()]
    got = bpe.train_bpe(bpe.word_type_counts(docs), n_merges=10)
    exp = _ref_train(_ref_word_counts(texts), 10)
    assert got == exp and len(got) == 10


def test_apply_merges_chained_merge_units(spark):
    """Chained merges consume earlier merges' symbols: under
    t+h -> th, th+e -> the, the+</w> -> the</w>, the word 'the'
    segments to exactly ['the</w>'] and 'other' keeps the 'th' unit
    mid-word ('o t h e r' -> o, th, e, r, </w>)."""
    docs = spark.createDataFrame([(0, "the other")],
                                 "doc_id long, text string")
    merges = [("t", "h", 0), ("th", "e", 0), ("the", "</w>", 0)]
    got = {r["token"]: r["n"]
           for r in bpe.apply_merges(docs, merges).collect()}
    # 'the' -> the</w>; 'other' -> o th e r </w> (no 'the': the 'th'
    # merge fires first pass, leaving [o, th, e, r]; 'th'+'e' merges
    # next pass -> [o, the, r, </w>]... replay: merge2 th+e -> the)
    assert got["the</w>"] == 1
    assert got["o"] == 1 and got["r"] == 1 and got["</w>"] == 1
    assert got["the"] == 1  # from 'other': o-[the]-r


# ---- the driver and Spark training paths ----------------------------

def _sf_docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("text")


def _spark_path(mp):
    # a gate below every table's size selects the Spark loop
    mp.setattr(bpe, "_DRIVER_MAX_TYPES", 0)


def test_driver_path_trains_to_the_min_freq_stop(spark):
    docs = _sf_docs(spark)
    texts = [r.text for r in docs.collect()]
    got = bpe.train_bpe(bpe.word_type_counts(docs), n_merges=1000)
    assert 64 <= len(got) < 1000  # min_freq ended it, not n_merges
    assert got == _ref_train(_ref_word_counts(texts), 1000)


def test_spark_path_matches_reference_and_driver_path(spark, monkeypatch):
    docs = _sf_docs(spark)
    texts = [r.text for r in docs.collect()]
    wc = bpe.word_type_counts(docs)
    driver = bpe.train_bpe(wc, n_merges=40)
    _spark_path(monkeypatch)
    got = bpe.train_bpe(wc, n_merges=40)
    assert len(got) == 40
    assert got == _ref_train(_ref_word_counts(texts), 40)
    assert got == driver


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_non_bmp_tie_breaks_by_code_point(spark, monkeypatch, path):
    # 'ｚ' (U+FF5A) sorts before '𝔞' (U+1D51E) by code point and by
    # UTF-8 bytes, after it by UTF-16 units; the two top pairs tie
    texts = ["ｚ𝔞 𝔞ｚ ｚ 𝔞", "ｚ𝔞 𝔞ｚ ｚ 𝔞"]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    if path == "spark":
        _spark_path(monkeypatch)
    got = bpe.train_bpe(bpe.word_type_counts(docs), n_merges=6)
    exp = _ref_train(_ref_word_counts(texts), 6)
    assert exp[0][:2] == ("ｚ", "</w>")
    assert got == exp


def test_driver_path_runs_one_fetch(spark):
    texts = ["the cat sat on the mat", "the cats sat", "a banana bandana",
             "low lower lowest low low", "aaa aaaa aa"]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    wc = bpe.word_type_counts(docs)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = sched.numTotalJobs()
    got = bpe.train_bpe(wc, n_merges=12, min_freq=2)
    assert len(got) == 12
    # the word-type aggregation's shuffle stage and the fetch
    assert sched.numTotalJobs() - jobs <= 2
