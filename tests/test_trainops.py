"""Training-data operators: dedup strategies, similarity search, text
analysis, multimodal plumbing — tested on the driver's sf0.001 tables
plus handcrafted edge cases."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from askg_spark import dedup, multimodal, simsearch, textops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").persist()


# ---------------------------------------------------------------- textops

def test_token_and_quality_counts(spark):
    df = spark.createDataFrame(
        [(1, "the quick  fox"), (2, ""), (3, None), (4, "  padded  ")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.quality_counts(df).collect()}
    assert got[1]["n_tokens"] == 3
    assert got[1]["n_stopword_tokens"] == 1     # 'the'
    assert got[2]["n_tokens"] == 0
    assert got[3]["n_tokens"] == 0
    assert got[4]["n_tokens"] == 1
    assert got[1]["n_chars"] == len("the quick  fox")
    assert got[1]["n_alpha_chars"] == len("thequickfox")
    assert got[1]["n_punct_chars"] == 0
    assert got[1]["n_bpe_tokens"] == 3


def test_bpe_token_count_splits_runs(spark):
    # "don't stop!!" -> [don]['][t][ stop][!!] = 5 (no contraction
    # rules — the lookahead-free pretokenizer); digits split from
    # letters: "v2.0" -> [v][2][.][0] = 4; whitespace never counted
    df = spark.createDataFrame(
        [(1, "don't stop!!"), (2, "v2.0"), (3, None), (4, "   ")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_bpe_tokens"]
           for r in textops.quality_counts(df).collect()}
    assert got == {1: 5, 2: 4, 3: 0, 4: 0}
    punct = {r["doc_id"]: r["n_punct_chars"]
             for r in textops.quality_counts(df).collect()}
    assert punct[1] == 3  # ' !!
    assert punct[2] == 1  # .


def test_quality_filter_rules(spark):
    long_good = "the word of nice " * 20              # 80 toks, 50% stopwords
    short = "tiny doc"                                 # too_short
    symbols = "the of and to a !!! ### $$$ %%% ^^^ &&& *** ((( )))" * 3
    df = spark.createDataFrame(
        [(1, long_good), (2, short), (4, symbols)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.quality_filter(
        df, min_tokens=5).collect()}
    assert got[1]["keep"] == 1 and got[1]["reasons"] == ""
    assert got[2]["keep"] == 0 and "too_short" in got[2]["reasons"]
    assert got[4]["keep"] == 0 and "high_symbol" in got[4]["reasons"]
    # reasons are emitted in fixed QUALITY_RULES order
    multi = spark.createDataFrame([(9, "zz qq")], "doc_id long, text string")
    r9 = textops.quality_filter(multi).collect()[0]
    names = r9["reasons"].split(",")
    assert r9["keep"] == 0 and len(names) >= 2
    order = [n for n, _ in textops.QUALITY_RULES]
    assert names == sorted(names, key=order.index)


def test_lang_id_markers_and_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "der die das und"),
         (3, "no markers here whatsoever"), (4, None),
         (5, "the der")],  # tie 1-1 -> first-listed language (en) wins
        "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"]
           for r in textops.lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "und", 4: "und", 5: "en"}


def _brute_repetition(text, n):
    """Pure-Python mirror of repetition_stats for one doc + gram size."""
    from collections import Counter
    toks = text.split() if text and text.strip() else []
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)] \
        if len(toks) >= n else []
    c = Counter(grams)
    top = max(sorted(c.items()), key=lambda kv: kv[1]) if c else ("", 0)
    return {
        "n": len(grams),
        "n_dup": sum(v - 1 for v in c.values()),
        "top_count": top[1],
        "top_gram": top[0],
    }


def test_repetition_stats_lines_and_grams(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"),          # top 2-gram 'a b' x3, 'b a' x2
         (2, "x\ny\nx\nz z\nz z"),    # dup lines: x (2), 'z z' (2)
         (3, ""), (4, None),
         (5, "q w e r t")],           # all grams unique
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.repetition_stats(df).collect()}
    assert got[1]["n_2grams"] == 5
    assert got[1]["top_2gram_count"] == 3
    assert got[1]["top_2gram"] == "a b"
    assert got[1]["n_dup_2grams"] == 3          # 'a b' x2 extra + 'b a' x1
    assert got[1]["n_3grams"] == 4
    assert got[1]["top_3gram_count"] == 2       # 'a b a' x2 (= 'b a b')
    assert got[2]["n_lines"] == 5
    assert got[2]["n_dup_lines"] == 2           # second 'x', second 'z z'
    assert got[2]["n_dup_line_chars"] == len("x") + len("z z")
    assert got[3]["n_lines"] == 1 and got[3]["n_2grams"] == 0
    assert got[3]["top_2gram"] == ""
    assert got[4]["n_2grams"] == 0
    assert got[5]["n_dup_2grams"] == 0 and got[5]["top_2gram_count"] == 1


def test_repetition_stats_tie_breaks_to_smallest_gram(spark):
    # 'b c' and 'a b' both occur twice -> smallest gram wins
    df = spark.createDataFrame(
        [(1, "b c x a b y b c z a b")], "doc_id long, text string")
    r = textops.repetition_stats(df).collect()[0]
    assert r["top_2gram_count"] == 2
    assert r["top_2gram"] == "a b"


def test_repetition_stats_matches_bruteforce(spark, docs):
    rows = {r["doc_id"]: r
            for r in textops.repetition_stats(docs).collect()}
    for d in docs.select("doc_id", "text").collect():
        want2 = _brute_repetition(d["text"], 2)
        want3 = _brute_repetition(d["text"], 3)
        g = rows[d["doc_id"]]
        assert (g["n_2grams"], g["n_dup_2grams"], g["top_2gram_count"],
                g["top_2gram"]) == (want2["n"], want2["n_dup"],
                                    want2["top_count"], want2["top_gram"])
        assert (g["n_3grams"], g["n_dup_3grams"], g["top_3gram_count"]) \
            == (want3["n"], want3["n_dup"], want3["top_count"])


def test_quality_filter_extended_repetition_rules(spark):
    line = "the elephant and gorilla of a python to running worlds"
    repetitive = "\n".join([line] * 4)      # 40 toks, 4 identical lines
    clean = ("the quick brown foxes jumped over lazy dogs and then "
             "swiftly ran across seven green fields while the bright "
             "morning sun was rising over distant misty mountains "
             "casting long shadows")        # 30 distinct-ish tokens
    df = spark.createDataFrame(
        [(1, repetitive), (2, clean)], "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in textops.quality_filter_extended(df).collect()}
    assert got[2]["keep"] == 1 and got[2]["reasons"] == ""
    assert got[1]["keep"] == 0
    assert got[1]["reasons"] == \
        "dup_lines,dup_line_chars,top_2gram,dup_3grams"


def test_repetition_stats_random_multiline_corpus(spark):
    # seeded random docs over a tiny alphabet with newlines mixed in:
    # exercises dup-line runs, gram ties, single-token lines — all
    # against the pure-Python mirror (line stats recomputed here)
    import random
    from collections import Counter
    rng = random.Random(7)
    docs = []
    for i in range(120):
        toks = [rng.choice(["a", "b", "c", "aa\nb", "x"])
                for _ in range(rng.randrange(0, 25))]
        docs.append((i, " ".join(toks) if toks else rng.choice(["", None])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.repetition_stats(df).collect()}
    for doc_id, text in docs:
        lines = (text or "").split("\n")
        lc = Counter(lines)
        g = got[doc_id]
        assert g["n_lines"] == len(lines)
        assert g["n_dup_lines"] == sum(v - 1 for v in lc.values())
        assert g["n_dup_line_chars"] == sum(
            (v - 1) * len(k) for k, v in lc.items())
        w2 = _brute_repetition(text, 2)
        assert (g["n_2grams"], g["n_dup_2grams"], g["top_2gram_count"],
                g["top_2gram"]) == (w2["n"], w2["n_dup"], w2["top_count"],
                                    w2["top_gram"])


def test_pii_scan_counts_and_redaction(spark):
    import hashlib
    txt = "mail bob@corp.io or b.a+x@a.co, ip 10.0.0.1, call +1 555 123 4567"
    df = spark.createDataFrame(
        [(1, txt), (2, "clean text"), (3, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.pii_scan(df).collect()}
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) \
        == (2, 1, 1)
    red = ("mail <EMAIL> or <EMAIL>, ip <IP>, call <PHONE>")
    assert got[1]["redacted_md5"] == hashlib.md5(red.encode()).hexdigest()
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) \
        == (0, 0, 0)
    assert got[3]["redacted_md5"] == hashlib.md5(b"").hexdigest()


def test_stratified_sample_deterministic_and_stratified(spark, docs):
    import hashlib
    rates = {"en": 0.5, "de": 0.25}
    s1 = textops.stratified_sample(docs, rates, default_rate=0.0625)
    s2 = textops.stratified_sample(docs, rates, default_rate=0.0625)
    got1 = {r["doc_id"] for r in s1.select("doc_id").collect()}
    got2 = {r["doc_id"] for r in s2.select("doc_id").collect()}
    assert got1 == got2 and got1          # deterministic, non-empty
    # exact per-row mirror: md5-prefix threshold per stratum
    thr = {"en": "8000", "de": "4000"}
    want = set()
    for r in docs.select("doc_id", "lang").collect():
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:4]
        if h < thr.get(r["lang"], "1000"):
            want.add(r["doc_id"])
    assert got1 == want


def test_stratified_sample_full_keep_rate(spark, docs):
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    out = textops.stratified_sample(
        docs, {lg: 1.0 for lg in langs}, default_rate=1.0)
    assert out.count() == docs.count()    # rate 1.0 keeps every row


def test_contamination_check_bruteforce(spark, docs):
    ev = docs.filter(F.col("doc_id") % 11 == 0)
    tr = docs.filter(F.col("doc_id") % 11 != 0)
    got = {(r["train_doc_id"], r["eval_doc_id"]): r["n_shared_grams"]
           for r in dedup.contamination_check(tr, ev, n=3).collect()}

    def gramset(text, n=3):
        t = text.split() if text and text.strip() else []
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

    rows = docs.select("doc_id", "text").collect()
    evs = [(r["doc_id"], gramset(r["text"])) for r in rows
           if r["doc_id"] % 11 == 0]
    trs = [(r["doc_id"], gramset(r["text"])) for r in rows
           if r["doc_id"] % 11 != 0]
    want = {}
    for tid, tg in trs:
        for eid, eg in evs:
            shared = len(tg & eg)
            if shared:
                want[(tid, eid)] = shared
    assert got == want and want           # non-vacuous at sf0.001


def test_fingerprint_normalizes_case_and_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " HELLO WORLD \n")],
        "doc_id long, text string")
    fps = {r["fingerprint"] for r in textops.fingerprints(df).collect()}
    assert len(fps) == 1


# ---------------------------------------------------------------- dedup

def test_exact_dedup_and_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "Same  Text"), (3, "different")],
        "doc_id long, text string")
    groups = dedup.exact_duplicate_groups(df).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["canonical_doc_id"] == 1
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(df).collect())
    assert kept == [1, 3]


def test_ngram_jaccard_finds_planted_near_dups(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs).collect()
    assert len(pairs) > 0
    for p in pairs:  # threshold respected
        assert p["n_common"] * 2 >= p["n_union"]


def test_near_dup_clusters_transitive(spark):
    # A~B and B~C by shared grams, A!~C directly -> one cluster {A,B,C};
    # D, E byte-identical modulo case -> fingerprint edge; F isolated
    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(3, base + " one two"), (1, base + " one three"),
         (2, base + " four five" if False else base + " one two three"),
         (10, "Totally Different Words Here Now"),
         (11, "totally different words here now"),
         (12, "isolated lonely document text")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.near_dup_clusters(df, threshold=0.5).collect()}
    assert got[1] == got[2] == got[3] == 1      # numeric-min root
    assert got[10] == got[11] == 10
    assert got[12] == 12


def test_minhash_matches_exact_join_on_separated_corpus(spark, docs):
    exact = {(r["doc_a"], r["doc_b"])
             for r in dedup.ngram_jaccard_pairs(docs).collect()}
    mh = {(r["doc_a"], r["doc_b"])
          for r in dedup.minhash_pairs(docs).collect()}
    assert mh == exact


def test_simhash_near_dups_have_small_hamming(spark, docs):
    """Planted near-dup pairs (ngram jaccard >= 0.5) must collide under
    simhash banding with low Hamming distance."""
    planted = {(r["doc_a"], r["doc_b"])
               for r in dedup.ngram_jaccard_pairs(docs).collect()}
    sh = {(r["doc_a"], r["doc_b"]): r["hamming"]
          for r in dedup.simhash_pairs(docs).collect()}
    found = planted & set(sh)
    assert len(found) >= len(planted) * 0.8
    assert all(sh[p] <= 5 for p in found)


def test_embedding_dup_pairs_symmetric_and_thresholded(spark, emb):
    got = dedup.embedding_dup_pairs(emb, threshold=0.4).collect()
    assert all(r["vec_a"] < r["vec_b"] for r in got)
    assert len(got) == len({(r["vec_a"], r["vec_b"]) for r in got})


# ---------------------------------------------------------------- simsearch

def test_brute_force_topk_exact(spark, emb):
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = simsearch.brute_force_topk(emb, q, k=4).collect()
    assert len(got) == 12
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4]
        assert qid not in {r["neighbor_id"] for r in rows}  # self excluded


def test_lsh_topk_recall(spark, emb):
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in simsearch.brute_force_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in simsearch.lsh_topk(emb, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    # multiprobe (Hamming<=1 per query band) makes a band miss
    # ~(0.15)^12 per true pair — 40 benched pairs should never lose one
    assert recall == 1.0, f"LSH recall {recall}"


def test_ivf_topk_recall_and_determinism(spark, emb):
    import numpy as np
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in simsearch.brute_force_topk(emb, q, k=5).collect()}
    cent = simsearch.kmeans_centroids(emb, n_cells=16, n_iter=5)
    assert cent.shape == (16, 64)
    # training is deterministic: hash-seeded init + fixed-order driver
    # reduce of the per-batch partial sums
    assert np.array_equal(cent, simsearch.kmeans_centroids(emb, 16, 5))
    approx = {(r["query_id"], r["neighbor_id"])
              for r in simsearch.ivf_topk(emb, q, k=5, centroids=cent,
                                          nprobe=14).collect()}
    recall = len(exact & approx) / len(exact)
    # the synthetic corpus is near-isotropic (no cosine cluster
    # structure), so the driver-contract probe fraction (14/16) is the
    # measured >=0.95 point — see __spark_entry__.ann_ivf_topk
    assert recall >= 0.95, f"IVF recall {recall}"
    # every vector lands in exactly one inverted list
    assign = simsearch.ivf_assign(emb, cent)
    assert assign.count() == emb.count()
    assert assign.select("vec_id").distinct().count() == emb.count()


def test_lsh_signatures_deterministic(spark, emb):
    s1 = {r["vec_id"]: r["signature"]
          for r in simsearch.lsh_signatures(emb.limit(50)).collect()}
    s2 = {r["vec_id"]: r["signature"]
          for r in simsearch.lsh_signatures(emb.limit(50)).collect()}
    assert s1 == s2


# ---------------------------------------------------------------- multimodal

def test_multimodal_decode_schema_and_quarantine(spark):
    df = spark.createDataFrame(
        [(1, "payload bytes here"), (2, None)], "doc_id long, text string")
    attached = multimodal.attach_payload(df)
    decoded = multimodal.decode_media(attached).collect()
    by_id = {r["doc_id"]: r for r in decoded}
    ok = by_id[1]
    assert ok["decode_error"] is None
    assert 64 <= ok["width"] <= 319 and 64 <= ok["height"] <= 319
    assert len(ok["features"]) == multimodal.FEATURE_DIM
    assert all(-1.0 <= f <= 1.0 for f in ok["features"])
    bad = by_id[2]
    assert bad["decode_error"] == "empty_payload"
    assert bad["width"] is None


def test_multimodal_quarantine_stats_per_class(spark):
    """Every corruption class in synth_corrupt_payload lands on the
    intended side of the quarantine split, and valid payloads keep
    their exact per-codec pixel stats (closed forms of doc_id)."""
    ids = list(range(16))  # two full doc_id % 8 cycles
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = multimodal.synth_corrupt_corpus(docs)
    got = {r["doc_id"]: r for r in
           multimodal.quarantine_stats(media).collect()}
    assert len(got) == 16  # EVERY row comes back, unlike pixel_stats
    for i in ids:
        k = i % 8
        r = got[i]
        if k in (0, 1, 2):  # valid PNG / BMP / GIF
            assert r["quarantined"] == 0
            px, w, h = multimodal.decode_image_array(
                multimodal.synth_corrupt_payload(i))
            assert (r["width"], r["height"]) == (w, h)
            assert r["n_pixels"] == px.shape[0] * px.shape[1]
            assert r["sum_pixels"] == int(px.astype("int64").sum())
        else:  # truncated PNG / bad magic / truncated GIF / SOI+junk / empty
            assert r["quarantined"] == 1, f"class {k} not quarantined"
            assert (r["width"], r["height"], r["n_pixels"],
                    r["sum_pixels"]) == (0, 0, 0, 0)


def test_multimodal_decode_deterministic(spark, docs):
    a = multimodal.decode_media(
        multimodal.attach_payload(docs.limit(20))).collect()
    b = multimodal.decode_media(
        multimodal.attach_payload(docs.limit(20))).collect()
    key = lambda r: (r["doc_id"], r["width"], r["height"],
                     tuple(r["features"] or []))
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_multimodal_resize_bounds_and_quarantine(spark):
    df = spark.createDataFrame(
        [(1, "x" * 4096), (2, None)], "doc_id long, text string")
    out = multimodal.resize_media(
        multimodal.attach_payload(df), max_side=96).collect()
    by_id = {r["doc_id"]: r for r in out}
    ok = by_id[1]
    assert ok["resize_error"] is None
    assert max(ok["width"], ok["height"]) <= 96
    assert len(ok["payload"]) <= 4096      # downscale never grows bytes
    # aspect ratio preserved within integer truncation
    dec = multimodal.decode_media(
        multimodal.attach_payload(df.filter("doc_id = 1"))).collect()[0]
    src_ratio = dec["width"] / dec["height"]
    out_ratio = ok["width"] / ok["height"]
    assert abs(src_ratio - out_ratio) < 0.1
    assert by_id[2]["resize_error"] == "empty_payload"


def test_multimodal_frame_sampling(spark):
    df = spark.createDataFrame(
        [(1, "clip payload"), (2, None)], "doc_id long, text string")
    out = multimodal.sample_frames(
        multimodal.attach_payload(df), n_frames=4).collect()
    frames = sorted((r["frame_idx"], r["ts_ms"], bytes(r["frame"]))
                    for r in out if r["doc_id"] == 1)
    assert 1 <= len(frames) <= 4
    idxs = [f[0] for f in frames]
    assert idxs[0] == 0                     # first frame always sampled
    assert idxs == sorted(set(idxs))        # unique ascending
    assert all(f[1] == f[0] * 1000 // 24 for f in frames)  # 24fps ts
    assert len({f[2] for f in frames}) == len(frames)  # distinct bytes
    quarantined = [r for r in out if r["doc_id"] == 2]
    assert len(quarantined) == 1
    assert quarantined[0]["sample_error"] == "empty_payload"
    # determinism across runs
    again = multimodal.sample_frames(
        multimodal.attach_payload(df), n_frames=4).collect()
    assert sorted((r["doc_id"], r["frame_idx"],
                   bytes(r["frame"] or b"")) for r in out) == \
           sorted((r["doc_id"], r["frame_idx"],
                   bytes(r["frame"] or b"")) for r in again)


def test_box_downsample_matches_naive_reference():
    """Vectorized reduceat box filter == per-pixel reference loop on
    random images across channel counts and awkward scale ratios."""
    import numpy as np
    rng = np.random.RandomState(7)
    for ch in (1, 2, 3, 4):
        for (w, h, ow, oh) in [(16, 16, 16, 16), (17, 23, 5, 7),
                               (31, 16, 16, 8), (9, 40, 1, 13)]:
            px = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
            got = multimodal.box_downsample(px, ow, oh)
            assert got.shape == (oh, ow, ch)
            ref = np.zeros((oh, ow, ch), dtype=np.int64)
            cnt = np.zeros((oh, ow, 1), dtype=np.int64)
            for r in range(h):
                for c in range(w):
                    ref[(r * oh) // h, (c * ow) // w] += px[r, c]
                    cnt[(r * oh) // h, (c * ow) // w] += 1
            assert (got == (ref // cnt).astype(np.uint8)).all(), \
                (ch, w, h, ow, oh)


def test_encode_png_roundtrip_all_channel_counts():
    import numpy as np
    rng = np.random.RandomState(11)
    for ch in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(13, 21, ch), dtype=np.uint8)
        back, w, h = multimodal.decode_png_array(multimodal.encode_png(px))
        assert (w, h) == (21, 13) and (back == px).all()


def test_resize_media_real_png_path(spark):
    """resize_media on real PNGs: output payload is a valid PNG whose
    pixels equal box_downsample of the source, dims from the integer
    bounded-box rule, never upscaled."""
    import numpy as np
    ids = [0, 3, 40, 999]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {r["doc_id"]: r for r in multimodal.resize_media(
        multimodal.synth_png_corpus(docs), max_side=16).collect()}
    for i in ids:
        src, sw, sh = multimodal.decode_png_array(multimodal.synth_png(i))
        ow, oh = multimodal.resize_target(sw, sh, 16)
        row = out[i]
        assert row["resize_error"] is None
        assert (row["width"], row["height"]) == (ow, oh)
        assert max(ow, oh) <= 16
        px, w, h = multimodal.decode_png_array(bytes(row["payload"]))
        assert (w, h) == (ow, oh)
        want = src if (ow, oh) == (sw, sh) else \
            multimodal.box_downsample(src, ow, oh)
        assert (px == want).all()
    assert np.array_equal(
        multimodal.resize_target(16, 16, 16), (16, 16))  # no upscale


def test_sample_indices_integer_rounding():
    si = multimodal.sample_indices
    assert si(3, 4) == [0, 1, 2]            # total <= n: all frames
    assert si(5, 4) == [0, 1, 3, 4]         # round-half-up spacing
    assert si(8, 4) == [0, 2, 5, 7]
    assert si(10, 1) == [0]
    assert si(0, 4) == []
    for total in range(1, 40):
        for n in range(1, 8):
            got = si(total, n)
            assert got == sorted(set(got))
            assert got[0] == 0
            if n >= 2 and total >= 2:
                assert got[-1] == total - 1  # last always included


def test_sample_frames_real_container(spark):
    """ASKGVID1 clips: sampled rows carry the EXACT frame bytes sliced
    from the container (index seek), 24fps integer timestamps, and a
    corrupt index quarantines instead of crashing."""
    ids = [0, 5, 13]                        # totals 2, 7, 8
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = multimodal.sample_frames(
        multimodal.synth_video_corpus(docs), n_frames=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i in ids:
        total = 2 + i % 7
        want_idx = multimodal.sample_indices(total, 4)
        got = sorted(by_doc[i], key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in got] == want_idx
        for r in got:
            assert bytes(r["frame"]) == multimodal.synth_png(
                i + 131 * r["frame_idx"])
            assert r["ts_ms"] == r["frame_idx"] * 1000 // 24
    bad = multimodal.VID_MAGIC + b"\x00\x00\x00\x05short"
    df = spark.createDataFrame(
        [(99, bytearray(bad), ("video/x-askg-raster", len(bad)))],
        "doc_id long, payload binary, "
        "media_meta struct<content_type:string, n_bytes:long>")
    qrows = multimodal.sample_frames(df).collect()
    assert len(qrows) == 1 and qrows[0]["sample_error"]


def test_line_dedup_c4_semantics(spark):
    import hashlib

    boiler = "All rights reserved."
    docs = spark.createDataFrame(
        [
            (1, f"alpha one\n{boiler}\nbody a"),
            (2, f"beta two\n{boiler}"),
            (3, f"{boiler}\ngamma three"),
            # pair-only shared line: occurs in 2 docs -> kept
            (4, "shared pair line\ndelta"),
            (5, "shared pair line\nepsilon"),
            # per-doc repetition: 'echo' 3x in ONE doc -> kept
            # (min_docs counts distinct documents, not occurrences)
            (6, "echo\necho\necho"),
            (7, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           textops.line_dedup(docs, min_docs=3).collect()}

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    # boilerplate stripped from all three docs, order preserved
    assert out[1]["n_removed_lines"] == 1
    assert out[1]["cleaned_md5"] == md5("alpha one\nbody a")
    assert out[2]["cleaned_md5"] == md5("beta two")
    assert out[3]["cleaned_md5"] == md5("gamma three")
    assert out[1]["n_removed_chars"] == len(boiler)
    # 2-doc line survives
    assert out[4]["n_removed_lines"] == 0
    assert out[4]["cleaned_md5"] == md5("shared pair line\ndelta")
    # intra-doc repetition survives
    assert out[6]["n_removed_lines"] == 0
    assert out[6]["cleaned_md5"] == md5("echo\necho\necho")
    # null text = one empty line, only present in this doc -> kept
    assert out[7]["n_lines"] == 1
    assert out[7]["cleaned_md5"] == md5("")


def test_line_dedup_removes_everything_leaves_empty_doc(spark):
    import hashlib

    docs = spark.createDataFrame(
        [(i, "only boiler") for i in range(1, 5)],
        "doc_id long, text string",
    )
    out = textops.line_dedup(docs, min_docs=3).collect()
    assert all(r["n_removed_lines"] == 1 for r in out)
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert all(r["cleaned_md5"] == empty_md5 for r in out)


def test_token_vocabulary_counts_and_order(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, None), (4, "")],
        "doc_id long, text string")
    out = textops.token_vocabulary(df, k=10).collect()
    assert [(r["token"], r["n_occurrences"], r["n_docs"]) for r in out] \
        == [("a", 3, 2), ("b", 1, 1), ("c", 1, 1)]
    # tie between b and c broken token-ascending; k truncates
    top2 = textops.token_vocabulary(df, k=2).collect()
    assert [r["token"] for r in top2] == ["a", "b"]


def test_length_quantiles_interpolation(spark):
    df = spark.createDataFrame(
        [(i, "en", v) for i, v in enumerate([10, 20, 30, 40])],
        "doc_id long, lang string, n_chars long")
    r = textops.length_quantiles(df).collect()[0]
    assert r["n"] == 4 and r["min_len"] == 10 and r["max_len"] == 40
    # linear interpolation: p50 of [10,20,30,40] = 25.0
    assert r["p50"] == 25.0
    assert r["p25"] == 17.5


def test_label_centroids_exact_scaled_sums(spark):
    import numpy as np

    rows = [(1, [0.5, -0.25]), (1, [0.1, 0.2]), (2, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    out = {(r["label"], r["pos"]): r
           for r in simsearch.label_centroids(df).collect()}
    # floor semantics on float32-promoted doubles, per element
    def fsum(vs):
        m = np.floor(np.stack(vs).astype("float32").astype("float64")
                     * 1e6).astype("int64")
        return m.sum(axis=0).tolist()
    exp1 = fsum([rows[0][1], rows[1][1]])
    assert out[(1, 0)]["n_vecs"] == 2
    assert [out[(1, 0)]["sum_scaled"], out[(1, 1)]["sum_scaled"]] == exp1
    assert [out[(2, 0)]["sum_scaled"], out[(2, 1)]["sum_scaled"]] == \
        [1000000, 1000000]
    # exploded shape: one row per (label, dim), all columns scalar
    assert len(out) == 4


def test_oov_stats_against_vocab(spark):
    df = spark.createDataFrame(
        [(1, "a a b rare1"), (2, "a b rare2"), (3, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textops.oov_stats(df, vocab_k=2).collect()}
    # vocab = {a (3x), b (2x)}; rare1/rare2 are OOV
    assert out[1]["n_tokens"] == 4 and out[1]["n_oov"] == 1
    assert out[2]["n_tokens"] == 3 and out[2]["n_oov"] == 1
    # empty doc -> (0, 0) row still present
    assert out[3]["n_tokens"] == 0 and out[3]["n_oov"] == 0


def test_pack_assignments_cumsum_and_offsets(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         [(0, 100), (2, 200), (4, 60), (1, 50)]],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.pack_assignments(
        docs, budget=128, shards=2).collect()}
    # shard 0 stream in doc_id order: 0 (100 tok), 2 (200), 4 (60)
    assert (out[0]["pack_id"], out[0]["offset_in_pack"]) == (0, 0)
    assert (out[2]["pack_id"], out[2]["offset_in_pack"]) == (0, 100)
    assert (out[4]["pack_id"], out[4]["offset_in_pack"]) == (2, 44)
    # shard 1: doc 1 starts its own stream
    assert (out[1]["shard"], out[1]["pack_id"],
            out[1]["offset_in_pack"]) == (1, 0, 0)


def test_normalize_text_nfc_lineendings_controls(spark):
    import hashlib

    df = spark.createDataFrame(
        [(1, "cafe\u0301 x"),      # decomposed (7 ch) -> composed (6)
         (2, "a\r\nb\rc"),             # \r\n and \r -> \n
         (3, "k\x01e\x1fep\tok\n"),    # C0 stripped, \t and \n kept
         (4, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.normalize_text(df).collect()}

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert out[1]["n_chars_before"] == 7
    assert out[1]["n_chars_after"] == 6
    assert out[1]["norm_md5"] == md5("caf\u00e9 x")
    assert out[2]["norm_md5"] == md5("a\nb\nc")
    assert out[3]["norm_md5"] == md5("keep\tok\n")
    assert out[4]["norm_md5"] == md5("")


def test_png_decoder_all_filters_and_rgb():
    """Hand-encode scanlines with every PNG row filter (None/Sub/Up/
    Average/Paeth) and check the decoder reconstructs the reference
    pixels; RGB and RGBA rasters included."""
    import struct
    import zlib

    import numpy as np

    def encode(px, colortype, filters):
        h, w, ch = px.shape
        sig = multimodal.PNG_SIG

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

        def paeth(a, b, c):
            return multimodal._paeth(a, b, c)

        flat = px.reshape(h, w * ch).astype(int)
        scan = b""
        prior = np.zeros(w * ch, dtype=int)
        for r in range(h):
            f = filters[r % len(filters)]
            line = flat[r]
            enc = np.zeros(w * ch, dtype=int)
            for i in range(w * ch):
                a = line[i - ch] if i >= ch else 0
                b = prior[i]
                c = prior[i - ch] if i >= ch else 0
                if f == 0:
                    enc[i] = line[i]
                elif f == 1:
                    enc[i] = (line[i] - a) % 256
                elif f == 2:
                    enc[i] = (line[i] - b) % 256
                elif f == 3:
                    enc[i] = (line[i] - (a + b) // 2) % 256
                else:
                    enc[i] = (line[i] - paeth(a, b, c)) % 256
            scan += bytes([f]) + bytes(enc.tolist())
            prior = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
        return (sig + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(scan))
                + chunk(b"IEND", b""))

    rng = np.random.default_rng(7)
    for colortype, ch in ((0, 1), (2, 3), (6, 4)):
        px = rng.integers(0, 256, size=(7, 5, ch), dtype=np.uint8)
        payload = encode(px, colortype, filters=[0, 1, 2, 3, 4])
        got, w, h = multimodal.decode_png_array(payload)
        assert (w, h) == (5, 7)
        assert (got == px).all(), f"colortype {colortype} mismatch"


def test_png_decoder_quarantines_unsupported(spark):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="signature"):
        multimodal.decode_png_array(b"JFIF not a png")
    # 16-bit depth -> unsupported, surfaces as decode_error in the frame
    import struct
    import zlib
    sig = multimodal.PNG_SIG

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    bad16 = (sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
             + chunk(b"IEND", b""))
    df = spark.createDataFrame(
        [(1, bytearray(bad16), ("image/png", len(bad16)))],
        "doc_id long, payload binary, "
        "media_meta struct<content_type:string, n_bytes:long>")
    rows = multimodal.decode_media(df).collect()
    assert rows[0]["decode_error"] and "unsupported" in rows[0]["decode_error"]
    assert rows[0]["width"] is None


def test_png_decoder_quarantines_corrupt_not_crash(spark):
    """Malformed payloads that raise zlib.error (corrupt IDAT) or
    struct.error (truncated IHDR) inside parsing must surface as
    ValueError -> decode_error quarantine rows, not Spark task death
    (advisory: neither is a ValueError subclass)."""
    import struct
    import zlib

    import pytest as _pytest
    sig = multimodal.PNG_SIG

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    # valid IHDR, garbage (non-zlib) IDAT bytes -> zlib.error inside
    corrupt_idat = (sig
                    + chunk(b"IHDR",
                            struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
                    + chunk(b"IDAT", b"\xff\x00garbage-not-zlib")
                    + chunk(b"IEND", b""))
    # IHDR chunk with a short body -> struct.error inside
    short_ihdr = sig + chunk(b"IHDR", b"\x00\x01\x02")
    for payload in (corrupt_idat, short_ihdr):
        with _pytest.raises(ValueError, match="corrupt PNG"):
            multimodal.decode_png_array(payload)
    df = spark.createDataFrame(
        [(1, bytearray(corrupt_idat), ("image/png", len(corrupt_idat))),
         (2, bytearray(short_ihdr), ("image/png", len(short_ihdr)))],
        "doc_id long, payload binary, "
        "media_meta struct<content_type:string, n_bytes:long>")
    rows = {r["doc_id"]: r for r in multimodal.decode_media(df).collect()}
    for i in (1, 2):
        assert rows[i]["decode_error"] and "corrupt" in rows[i]["decode_error"]
        assert rows[i]["width"] is None
    # png_pixel_stats drops (not crashes on) the same payloads
    assert multimodal.png_pixel_stats(df).count() == 0


def test_png_pixel_stats_closed_form(spark):
    docs = spark.createDataFrame([(i,) for i in (0, 3, 40, 999)],
                                 "doc_id long")
    media = multimodal.synth_png_corpus(docs)
    out = {r["doc_id"]: r for r in
           multimodal.png_pixel_stats(media).collect()}
    for d in (0, 3, 40, 999):
        w, h = 16 + d % 32, 16 + (d * 7) % 32
        want = sum((d + r + c) % 256 for r in range(h) for c in range(w))
        assert out[d]["width"] == w and out[d]["height"] == h
        assert out[d]["n_pixels"] == w * h
        assert out[d]["sum_pixels"] == want


def test_decode_media_real_path_for_png(spark):
    """PNG payloads take the real decoder (exact dims), non-PNG keeps
    the md5 fallback — both through the same Arrow surface."""
    png = multimodal.synth_png(5)
    df = spark.createDataFrame(
        [(5, bytearray(png), ("image/png", len(png))),
         (6, bytearray(b"plain text payload"), ("text/plain", 18))],
        "doc_id long, payload binary, "
        "media_meta struct<content_type:string, n_bytes:long>")
    rows = {r["doc_id"]: r for r in multimodal.decode_media(df).collect()}
    assert rows[5]["width"] == 16 + 5 % 32
    assert rows[5]["height"] == 16 + 35 % 32
    assert rows[5]["decode_error"] is None
    # fallback geometry is md5-derived, still deterministic
    assert rows[6]["width"] is not None and rows[6]["decode_error"] is None


def test_png_roundtrip_property_random_filters():
    """Property: any baseline 8-bit raster encoded with arbitrary
    per-row filters decodes to the original pixels (pure-python
    reference encoder inside the test)."""
    import struct
    import zlib

    import numpy as np

    def encode(px, colortype, filters):
        h, w, ch = px.shape

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

        flat = px.reshape(h, w * ch).astype(int)
        scan, prior = b"", np.zeros(w * ch, dtype=int)
        for r in range(h):
            f, line = filters[r], flat[r]
            enc = np.zeros(w * ch, dtype=int)
            for i in range(w * ch):
                a = line[i - ch] if i >= ch else 0
                b = prior[i]
                c = prior[i - ch] if i >= ch else 0
                pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2,
                        4: multimodal._paeth(a, b, c)}[f]
                enc[i] = (line[i] - pred) % 256
            scan += bytes([f]) + bytes(enc.tolist())
            prior = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
        return (multimodal.PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(scan))
                + chunk(b"IEND", b""))

    rng = np.random.default_rng(123)
    for trial in range(25):
        ct, ch = [(0, 1), (2, 3), (4, 2), (6, 4)][trial % 4]
        h, w = int(rng.integers(1, 12)), int(rng.integers(1, 12))
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        filters = rng.integers(0, 5, size=h).tolist()
        got, gw, gh = multimodal.decode_png_array(encode(px, ct, filters))
        assert (gw, gh) == (w, h)
        assert (got == px).all(), (trial, ct, filters)


def test_bmp_roundtrip_and_closed_form():
    """encode_bmp/decode_bmp_array round-trip arbitrary rasters
    (incl. widths whose scanlines need 4-byte padding), and the
    synthetic corpus raster matches its closed form."""
    import numpy as np

    rng = np.random.default_rng(7)
    for _ in range(20):
        h, w = int(rng.integers(1, 15)), int(rng.integers(1, 15))
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        got, gw, gh = multimodal.decode_bmp_array(multimodal.encode_bmp(px))
        assert (gw, gh) == (w, h) and (got == px).all()
    for d in (0, 5, 77, 1234):
        px, w, h = multimodal.decode_bmp_array(multimodal.synth_bmp(d))
        assert (w, h) == (12 + d % 24, 12 + (d * 5) % 24)
        r = np.arange(h)[:, None]
        c = np.arange(w)[None, :]
        assert (px[:, :, 0] == (d + r + c) % 256).all()
        assert (px[:, :, 1] == (d + 2 * r + c) % 256).all()
        assert (px[:, :, 2] == (d + r + 2 * c) % 256).all()


def test_bmp_decode_quarantines_malformed():
    import pytest as _pytest

    for bad in (b"BMxx", b"NOTABMP",
                multimodal.synth_bmp(3)[:30],          # truncated header
                multimodal.synth_bmp(3)[:80]):         # truncated pixels
        with _pytest.raises(ValueError):
            multimodal.decode_bmp_array(bad)
    # 32-bit / compressed headers quarantine, not crash
    import struct
    good = bytearray(multimodal.synth_bmp(3))
    good[28:30] = struct.pack("<H", 32)
    with _pytest.raises(ValueError):
        multimodal.decode_bmp_array(bytes(good))


def test_image_stats_dispatch_png_and_bmp(spark):
    """image_pixel_stats handles a mixed PNG+BMP corpus through the
    signature dispatcher; sums cover all channels."""
    png, bmp = multimodal.synth_png(9), multimodal.synth_bmp(9)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(bmp))],
        "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in
           multimodal.image_pixel_stats(df).collect()}
    d = 9
    w, h = 16 + d % 32, 16 + (d * 7) % 32
    assert out[1]["n_pixels"] == w * h
    bw, bh = 12 + d % 24, 12 + (d * 5) % 24
    want = sum(((d + r + c) % 256) + ((d + 2 * r + c) % 256)
               + ((d + r + 2 * c) % 256)
               for r in range(bh) for c in range(bw))
    assert out[2]["width"] == bw and out[2]["height"] == bh
    assert out[2]["sum_pixels"] == want


def test_resize_media_real_bmp_path(spark):
    """BMP payloads run the REAL resize kernel and re-encode as BMP
    (format-preserving), pixels matching box_downsample exactly."""
    import numpy as np

    d = 40  # 28x24 source, > max_side
    bmp = multimodal.synth_bmp(d)
    df = spark.createDataFrame(
        [(d, bytearray(bmp), ("image/bmp", len(bmp)))],
        "doc_id long, payload binary, "
        "media_meta struct<content_type:string, n_bytes:long>")
    row = multimodal.resize_media(df, max_side=10).collect()[0]
    src, w, h = multimodal.decode_bmp_array(bmp)
    ow, oh = multimodal.resize_target(w, h, 10)
    assert (row["width"], row["height"]) == (ow, oh)
    got, gw, gh = multimodal.decode_bmp_array(bytes(row["payload"]))
    assert (got == multimodal.box_downsample(src, ow, oh)).all()


def test_wav_roundtrip_mono_stereo_and_8bit():
    """encode_wav/decode_wav round-trip; 8-bit unsigned payloads
    decode re-centered; non-PCM formats quarantine."""
    import struct

    import numpy as np
    import pytest as _pytest

    rng = np.random.default_rng(11)
    for ch in (1, 2, 4):
        s = rng.integers(-32768, 32767, size=(50, ch), dtype=np.int64)
        got, rate, bits = multimodal.decode_wav(
            multimodal.encode_wav(s, 44100))
        assert rate == 44100 and bits == 16 and (got == s).all()
    # hand-built 8-bit unsigned mono: values 0..255 -> -128..127
    data = bytes(range(256))
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav8 = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    got, rate, bits = multimodal.decode_wav(wav8)
    assert bits == 8 and got[0, 0] == -128 and got[255, 0] == 127
    # float PCM (format 3) quarantines
    fmt3 = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body3 = (b"fmt " + struct.pack("<I", len(fmt3)) + fmt3
             + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
    with _pytest.raises(ValueError):
        multimodal.decode_wav(
            b"RIFF" + struct.pack("<I", 4 + len(body3)) + b"WAVE" + body3)
    with _pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFX1234WAVE")


def test_wav_sample_stats_closed_form(spark):
    docs = spark.createDataFrame([(i,) for i in (0, 2, 51, 400)],
                                 "doc_id long")
    media = multimodal.synth_wav_corpus(docs)
    out = {r["doc_id"]: r for r in
           multimodal.wav_sample_stats(media).collect()}
    for d in (0, 2, 51, 400):
        rate = 8000 * (1 + d % 3)
        n = 256 + (d * 11) % 512
        vals = [((d * 7 + i * 13) % 4096) - 2048 for i in range(n)]
        r = out[d]
        assert r["sample_rate"] == rate and r["n_channels"] == 1
        assert r["n_samples"] == n
        assert r["duration_ms"] == n * 1000 // rate
        assert r["sum_abs"] == sum(abs(v) for v in vals)
        assert r["peak_abs"] == max(abs(v) for v in vals)


def test_dsir_scores_brute_force(spark):
    """DSIR weights/scores match an exact python recomputation on a
    tiny corpus: unigram+bigram multiset features, add-1-smoothed
    scaled count-ratio weights, multiplicity-weighted per-doc sums."""
    from collections import Counter

    rows = [(0, "the cat sat", "en"), (1, "the cat", "en"),
            (2, "le chat noir", "fr"), (3, "", "fr"),
            (4, "the the the", "de")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r for r in
           textops.dsir_scores(df, df.filter(F.col("lang") == "en"))
           .collect()}

    def feats(s):
        ws = s.split()
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    raw = Counter(f for _, t, _ in rows for f in feats(t))
    tgt = Counter(f for _, t, lg in rows if lg == "en" for f in feats(t))
    for doc_id, text, _ in rows:
        fs = feats(text)
        want = sum(((tgt[f] + 1) * 1_000_000) // (raw[f] + 1) for f in fs)
        assert got[doc_id]["n_feats"] == len(fs)
        assert got[doc_id]["score_scaled"] == want, (doc_id, text)
    # English docs score above the out-of-distribution ones per feature
    assert (got[0]["score_scaled"] / got[0]["n_feats"]
            > got[2]["score_scaled"] / got[2]["n_feats"])


def test_dsir_bucketed_path_matches_exact_when_no_collisions(spark):
    """The n_buckets (xxhash64-bucketed) scale path produces the same
    scores as the exact-feature path when buckets don't collide (large
    n_buckets, tiny vocabulary) — the 10^12-regime approximation is
    exactly the hash-collision error and nothing else."""
    rows = [(0, "alpha beta", "en"), (1, "beta gamma", "fr"),
            (2, "alpha beta", "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tgt = df.filter(F.col("lang") == "en")
    exact = {r["doc_id"]: (r["n_feats"], r["score_scaled"])
             for r in textops.dsir_scores(df, tgt).collect()}
    bucketed = {r["doc_id"]: (r["n_feats"], r["score_scaled"])
                for r in textops.dsir_scores(df, tgt, n_buckets=1 << 20)
                .collect()}
    assert exact == bucketed


def test_triangle_stats_known_graphs(spark):
    from askg_spark import graphops

    # K4 (4 triangles) + a disjoint path 10-11-12 (0 triangles), with
    # duplicate/reversed/self edges the canonicalization must absorb
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(b, a) for a, b in k4] + [(2, 2), (10, 11), (11, 12),
                                            (10, 11)]
    df = spark.createDataFrame(edges, "u long, v long")
    row = graphops.triangle_stats(df).collect()[0]
    assert row["n_nodes"] == 7          # 0..3 + 10..12
    assert row["n_edges"] == 8          # 6 in K4 + 2 path
    assert row["n_triangles"] == 4


def test_cooccurrence_edges_and_triangles(spark):
    from askg_spark import graphops

    # groups: {1,2,3} and {2,3,4} -> edges 12 13 23 23 24 34 -> dedup 5
    # triangle {1,2,3} and {2,3,4} -> 2 triangles
    rows = [(100, 1), (100, 2), (100, 3), (200, 2), (200, 3), (200, 4),
            (200, 4)]
    df = spark.createDataFrame(rows, "g long, item long")
    e = graphops.cooccurrence_edges(df, "g", "item")
    assert sorted((r["u"], r["v"]) for r in e.collect()) == \
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    row = graphops.triangle_stats(e).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 5, 2)


def test_gif_synth_roundtrip_closed_form():
    import numpy as np

    for d in (0, 7, 123, 999):
        px, w, h = multimodal.decode_gif_array(multimodal.synth_gif(d))
        assert (w, h) == (10 + d % 20, 10 + (d * 3) % 20)
        r = np.arange(h)[:, None]
        c = np.arange(w)[None, :]
        idx = (d + 3 * r + 5 * c) % 256
        assert (px[:, :, 0] == idx).all()
        assert (px[:, :, 1] == (2 * idx) % 256).all()
        assert (px[:, :, 2] == (3 * idx) % 256).all()


def test_gif_real_compressed_lzw_stream():
    """The decoder handles genuinely COMPRESSED LZW (dictionary
    growth, width bumps, KwKwK self-reference) — the synth encoder
    only emits literal codes, so this builds a real compressor in the
    test and round-trips repetitive data that forces long dict
    entries."""
    import struct

    import numpy as np

    def lzw_encode(data: bytes, min_code: int) -> bytes:
        clear, end = 1 << min_code, (1 << min_code) + 1
        codes, width = [clear], min_code + 1
        dct = {bytes([i]): i for i in range(clear)}
        table_len = end + 1
        wbuf = data[:1]
        widths = [min_code + 1]

        def emit(code):
            codes.append(code)
            widths.append(width)

        widths = [width]  # width of the initial clear code
        for ch in data[1:]:
            wk = wbuf + bytes([ch])
            if wk in dct:
                wbuf = wk
                continue
            emit(dct[wbuf])
            dct[wk] = table_len
            table_len += 1
            # decoder appends one entry per code AFTER the first, so
            # its table runs one behind this counter: bump at +1
            if table_len == (1 << width) + 1 and width < 12:
                width += 1
            wbuf = bytes([ch])
        emit(dct[wbuf])
        emit(end)
        acc = nbits = 0
        out = bytearray()
        for code, cw in zip(codes, widths):
            acc |= code << nbits
            nbits += cw
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = np.random.default_rng(5)
    w, h = 40, 30
    # repetitive rows -> real dictionary reuse incl. KwKwK patterns
    base = rng.integers(0, 8, size=w, dtype=np.uint8)
    idx = np.tile(base, (h, 1))
    idx[::3] = (idx[::3] + 1) % 8
    i = np.arange(256, dtype=np.int64)
    pal = np.stack([i, i, i], axis=1).astype(np.uint8)
    stream = lzw_encode(idx.reshape(-1).tobytes(), 8)
    blocks = b"".join(
        bytes([min(255, len(stream) - o)]) + stream[o:o + 255]
        for o in range(0, len(stream), 255)) + b"\x00"
    gif = (b"GIF89a" + struct.pack("<HHBBB", w, h, 0x87, 0, 0)
           + pal.tobytes()
           + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
           + bytes([8]) + blocks + b"\x3B")
    got, gw, gh = multimodal.decode_gif_array(gif)
    assert (gw, gh) == (w, h)
    assert (got[:, :, 0] == idx).all()


def test_gif_quarantines_malformed():
    import pytest as _pytest

    good = multimodal.synth_gif(3)
    for bad in (b"GIF00a" + good[6:], good[:20], good[:-10],
                b"JUNKJUNKJUNK"):
        with _pytest.raises(ValueError):
            multimodal.decode_gif_array(bad)
    # interlace flag set -> quarantine, not wrong pixels
    ba = bytearray(good)
    # image descriptor follows 13-byte header + 768-byte GCT
    desc = 13 + 768
    assert ba[desc] == 0x2C
    ba[desc + 9] |= 0x40
    with _pytest.raises(ValueError):
        multimodal.decode_gif_array(bytes(ba))


def test_image_dispatch_includes_gif(spark):
    gif = multimodal.synth_gif(11)
    df = spark.createDataFrame([(11, bytearray(gif))],
                               "doc_id long, payload binary")
    row = multimodal.image_pixel_stats(df).collect()[0]
    d = 11
    w, h = 10 + d % 20, 10 + (d * 3) % 20
    want = sum((v % 256) + (2 * (v % 256)) % 256 + (3 * (v % 256)) % 256
               for r in range(h) for c in range(w)
               for v in [(d + 3 * r + 5 * c)])
    assert (row["width"], row["height"]) == (w, h)
    assert row["sum_pixels"] == want


def test_resize_media_gif_reencodes_png(spark):
    """GIF payloads run the real resize kernel; output container is
    PNG (box filter yields true-color pixels — no palette quantizer),
    pixels matching box_downsample of the palette-mapped source."""
    d = 15  # 25x15 -> shrink at max_side 10
    gif = multimodal.synth_gif(d)
    df = spark.createDataFrame(
        [(d, bytearray(gif), ("image/gif", len(gif)))],
        "doc_id long, payload binary, "
        "media_meta struct<content_type:string, n_bytes:long>")
    row = multimodal.resize_media(df, max_side=10).collect()[0]
    src, w, h = multimodal.decode_gif_array(gif)
    ow, oh = multimodal.resize_target(w, h, 10)
    assert (row["width"], row["height"]) == (ow, oh)
    got, gw, gh = multimodal.decode_png_array(bytes(row["payload"]))
    assert (got == multimodal.box_downsample(src, ow, oh)).all()


def test_stratified_topk_exact_k_and_determinism(spark):
    import hashlib

    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(60)] + [(100, "zh")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = textops.stratified_topk(df, k=5).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert {k: len(v) for k, v in by_lang.items()} == \
        {"en": 5, "de": 5, "fr": 5, "zh": 1}   # stratum smaller than k
    # rank order = (md5(doc_id), doc_id), exactly reproducible
    for lang, got in by_lang.items():
        ids = [i for i, lg in rows if lg == lang]
        want = sorted(ids, key=lambda i: (hashlib.md5(
            str(i).encode()).hexdigest(), i))[:5]
        got_sorted = [r["doc_id"] for r in
                      sorted(got, key=lambda r: r["sample_rank"])]
        assert got_sorted == want, lang


def test_gif_property_random_compressed_all_code_sizes():
    """Property: for random palettes (4..256 colors, so LZW min code
    sizes 2..8) and random index rasters, a real compressed LZW
    stream decodes to the original pixels — dictionary growth, width
    bumps and small-alphabet edge cases included."""
    import struct

    import numpy as np

    def lzw_encode(data: bytes, min_code: int) -> bytes:
        clear, end = 1 << min_code, (1 << min_code) + 1
        codes, widths = [clear], [min_code + 1]
        width = min_code + 1
        dct = {bytes([i]): i for i in range(clear)}
        table_len = end + 1
        wbuf = data[:1]
        for ch in data[1:]:
            wk = wbuf + bytes([ch])
            if wk in dct:
                wbuf = wk
                continue
            codes.append(dct[wbuf])
            widths.append(width)
            dct[wk] = table_len
            table_len += 1
            if table_len == (1 << width) + 1 and width < 12:
                width += 1
            wbuf = bytes([ch])
        codes.append(dct[wbuf])
        widths.append(width)
        codes.append(end)
        widths.append(width)
        acc = nbits = 0
        out = bytearray()
        for code, cw in zip(codes, widths):
            acc |= code << nbits
            nbits += cw
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = np.random.default_rng(42)
    for trial in range(30):
        pal_bits = int(rng.integers(2, 9))           # 2..8
        n_colors = 1 << pal_bits
        w, h = int(rng.integers(1, 30)), int(rng.integers(1, 30))
        # mix runs (dictionary reuse) with noise
        idx = rng.integers(0, n_colors, size=(h, w), dtype=np.uint8)
        if trial % 3 == 0 and h > 2:
            idx[1::2] = idx[0]                        # repeated rows
        pal = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
        stream = lzw_encode(idx.reshape(-1).tobytes(), pal_bits)
        blocks = b"".join(
            bytes([min(255, len(stream) - o)]) + stream[o:o + 255]
            for o in range(0, len(stream), 255)) + b"\x00"
        gif = (b"GIF89a"
               + struct.pack("<HHBBB", w, h, 0x80 | (pal_bits - 1), 0, 0)
               + pal.tobytes()
               + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
               + bytes([pal_bits]) + blocks + b"\x3B")
        got, gw, gh = multimodal.decode_gif_array(gif)
        assert (gw, gh) == (w, h), trial
        assert (got == pal[idx]).all(), (trial, pal_bits, w, h)


def test_new_ops_cross_partitioning_determinism(spark):
    """DSIR scores and the triangle census are partitioning-invariant:
    identical results under different repartitionings and shuffle
    widths — the distributed-determinism bar every oracle-checked
    operator has to meet."""
    from askg_spark import graphops

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text", "lang")
    li = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .select("l_orderkey", "l_partkey")

    def dsir_rows(d):
        return sorted(
            (r["doc_id"], r["n_feats"], r["score_scaled"])
            for r in textops.dsir_scores(
                d, d.filter(F.col("lang") == "en")).collect())

    a = dsir_rows(docs.repartition(3))
    b = dsir_rows(docs.repartition(17, "lang"))
    assert a == b and len(a) > 0

    def tri_row(frame):
        e = graphops.cooccurrence_edges(frame, "l_orderkey", "l_partkey")
        r = graphops.triangle_stats(e).collect()[0]
        return (r["n_nodes"], r["n_edges"], r["n_triangles"])

    assert tri_row(li.repartition(2)) == tri_row(li.repartition(13))


def test_duplicate_span_stats_interval_merge(spark):
    """Hand-checked w=3 corpus: cross-doc shared spans, overlapping
    windows merging into one interval, self-repetition counting as
    duplication, and short docs yielding zero windows."""
    rows = [
        (0, "a b c d e f"),   # shares [a b c], [b c d] with doc 1
        (1, "x a b c d y"),
        (2, "z z z z"),       # self-repeated window (i=1, i=2)
        (3, "q r s"),         # one unique window
        (4, "u v"),           # < w tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dedup.duplicate_span_stats(df, w=3).collect()}
    assert len(got) == 5
    # doc 0: dup windows at token 1,2 -> union [1,5) = 4 tokens
    assert (got[0]["n_windows"], got[0]["n_dup_windows"],
            got[0]["dup_tokens"]) == (4, 2, 4)
    assert (got[1]["n_dup_windows"], got[1]["dup_tokens"]) == (2, 4)
    # doc 2: both windows identical -> whole doc covered
    assert (got[2]["n_windows"], got[2]["n_dup_windows"],
            got[2]["dup_tokens"]) == (2, 2, 4)
    assert (got[3]["n_windows"], got[3]["dup_tokens"]) == (1, 0)
    assert (got[4]["n_tokens"], got[4]["n_windows"],
            got[4]["dup_tokens"]) == (2, 0, 0)


def test_floor_div_exact_and_overflow_guard(spark):
    """The shared quantization primitive: floor(num/den) bit-equal to
    python // across magnitudes INCLUDING values where BIGINT
    multiplication would have wrapped (the r5 engine-independent
    contract is pure decimal integer arithmetic); and _guarded_long
    RAISES on a > 2^63-1 result instead of wrapping or nulling."""
    from pyspark.sql import functions as F

    cases = [(7, 3), (6, 3), (0, 5), (1, 1),
             (10**17 * 3 + 1, 7),          # near-BIGINT numerator
             (10**25, 10**7),              # BIGINT-overflow numerator
             (10**25 + 123456789, 999999937)]
    df = spark.createDataFrame(
        [(str(n), str(d)) for n, d in cases], "n string, d string")
    got = df.select(
        textops.floor_div_exact(
            F.col("n").cast("decimal(38,0)"),
            F.col("d").cast("decimal(38,0)")).cast("string").alias("q")
    ).collect()
    assert [int(r["q"]) for r in got] == [n // d for n, d in cases]

    ok = spark.range(1).select(
        textops._guarded_long(F.lit(5).cast("decimal(38,0)"), "t"))
    assert ok.collect()[0][0] == 5
    import pytest as _pytest
    with _pytest.raises(Exception, match="exceeds BIGINT range"):
        spark.range(1).select(
            textops._guarded_long(
                F.lit(str(2**63)).cast("decimal(38,0)"), "t")).collect()


def test_guarded_long_guards_both_ends(spark):
    """_guarded_long keeps both BIGINT end points and RAISES below
    -2^63 as it does above 2^63-1, instead of wrapping or nulling."""
    from pyspark.sql import functions as F

    def guarded(v):
        return spark.range(1).select(textops._guarded_long(
            F.lit(str(v)).cast("decimal(38,0)"), "t")).collect()[0][0]

    assert guarded(-2**63) == -2**63
    assert guarded(2**63 - 1) == 2**63 - 1
    with pytest.raises(Exception, match="exceeds BIGINT range"):
        guarded(-2**63 - 1)


def test_unigram_lm_scores_exact_integers(spark):
    """Closed-form check of the exact count-ratio pipeline: token
    counts a=3 b=2 c=1 (N=6, V=3), add-one inverse probability
    q = (1e6*(N+V)) // (c+1) quantized per DISTINCT token (pure
    integer arithmetic — the r5 engine-independent contract), per-doc
    truncating-div average, NTILE buckets."""
    rows = [(0, "a a b"), (1, "a b"), (2, "c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    q = {t: (1_000_000 * 9) // (c + 1)
         for t, c in {"a": 3, "b": 2, "c": 1}.items()}
    want = {
        0: (3, (2 * q["a"] + q["b"]) // 3),
        1: (2, (q["a"] + q["b"]) // 2),
        2: (1, q["c"]),
    }
    got = {r["doc_id"]: r for r in
           textops.unigram_lm_scores(df).collect()}
    for d, (n, score) in want.items():
        assert (got[d]["n_tokens"], got[d]["score_scaled"]) == (n, score)
    # scores order 0 < 1 < 2 (rarer tokens -> higher improbability)
    assert [got[d]["bucket"] for d in (0, 1, 2)] == [1, 2, 3]


def test_kcore_peel_cascade_and_backstop(spark):
    """5-clique + pendant chain 5-6-7: the 2-core removes 7 then
    (cascade) 6, keeping the clique at inside-degree 4; an impossible
    k empties the graph; max_rounds too small raises instead of
    returning a non-fixed-point."""
    from askg_spark import graphops

    clique = [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b]
    edges = spark.createDataFrame(clique + [(5, 6), (6, 7)],
                                  "u long, v long")
    core = {r["node"]: r["degree"]
            for r in graphops.kcore(edges, k=2).collect()}
    assert core == {n: 4 for n in range(1, 6)}
    assert graphops.kcore(edges, k=5).count() == 0
    with pytest.raises(RuntimeError):
        graphops.kcore(edges, k=2, max_rounds=1)


def test_incremental_dedup_flags(spark):
    """Increment docs flagged against a fixed base: byte-different
    but canonically-equal text hits the exact arm, heavy 3-gram
    overlap hits the near arm, novel text hits neither."""
    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string")
    inc = spark.createDataFrame(
        [(30, "  ALPHA beta   gamma delta epsilon ZETA "),  # exact
         (31, "one two three four five six eight"),          # near
         (32, "totally different words entirely here now")], # novel
        "doc_id long, text string")
    got = {r["doc_id"]: (r["exact_dup"], r["n_near_dups"])
           for r in dedup.incremental_dedup_flags(base, inc).collect()}
    assert got[30][0] == 1
    assert got[31] == (0, 1)   # 4/6 shared grams -> jaccard 4/6 >= .5
    assert got[32] == (0, 0)
    # the near arm is case-SENSITIVE (raw grams, same semantics as
    # dedup_ngram_pairs) while the exact arm canonicalizes — the
    # upper-cased copy hits exact only
    assert got[30][1] == 0


def test_domain_stats_rollup(spark):
    """Cross-domain mirrored content marks BOTH hosting domains'
    n_dup_docs; short docs counted per threshold; token sums exact."""
    rows = [
        (0, "d1", "mirrored page body with some shared words"),
        (1, "d2", "mirrored page body with some shared words"),
        (2, "d1", "tiny"),
        (3, "d2", "a regular page " + "tok " * 20),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                                     "text string")
    got = {r["domain"]: r for r in
           textops.domain_stats(df, short_tokens=5).collect()}
    assert (got["d1"]["n_docs"], got["d1"]["n_dup_docs"],
            got["d1"]["n_short_docs"]) == (2, 1, 1)
    assert (got["d2"]["n_docs"], got["d2"]["n_dup_docs"],
            got["d2"]["n_short_docs"]) == (2, 1, 0)
    assert got["d1"]["total_tokens"] == 7 + 1
    assert got["d2"]["total_tokens"] == 7 + 23


def test_top_terms_tfidf_ordering(spark):
    """3-doc corpus with hand-computed exact-ratio idf
    (idf = 1e6 * n_docs // df — the r5 engine-independent contract):
    corpus-wide terms get the minimum weight and sink, doc-unique
    terms top the ranking, ties break term-ascending."""
    rows = [(0, "common rare0 rare0 shared"),
            (1, "common rare1 shared"),
            (2, "common only2")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in textops.top_terms_tfidf(df, k=2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["rnk"], r["term"], r["tf"], r["score_scaled"]))
    idf = {df_: (1_000_000 * 3) // df_ for df_ in (1, 2, 3)}
    for d in got:
        got[d].sort()
    # doc 0: rare0 tf=2 idf(1) beats shared tf=1 idf(2)
    assert got[0] == [(1, "rare0", 2, 2 * idf[1]),
                      (2, "shared", 1, idf[2])]
    # doc 2: only2 unique; corpus-wide 'common' gets the floor weight
    assert got[2] == [(1, "only2", 1, idf[1]), (2, "common", 1, idf[3])]


def test_chunk_assignments_boundaries(spark):
    """budget=5, overlap=2 (stride 3): exact starts/lengths including
    the short final chunk, the n<=budget single-chunk case, md5 of
    the rejoined slice, and empty docs dropping out."""
    import hashlib

    toks9 = [f"t{i}" for i in range(1, 10)]
    rows = [(0, " ".join(toks9)),   # 9 tokens -> chunks @1,4,7
            (1, "a b c"),           # single chunk
            (2, "")]                # no rows
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in textops.chunk_assignments(df, budget=5, overlap=2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["start_tok"], r["n_chunk_tokens"],
             r["chunk_md5"]))
    for d in got:
        got[d].sort()

    def h(ts):
        return hashlib.md5(" ".join(ts).encode()).hexdigest()

    assert got[0] == [(0, 1, 5, h(toks9[0:5])),
                      (1, 4, 5, h(toks9[3:8])),
                      (2, 7, 3, h(toks9[6:9]))]
    assert got[1] == [(0, 1, 3, h(["a", "b", "c"]))]
    assert 2 not in got


def test_r4c_ops_cross_partitioning_determinism(spark):
    """The session's new operators are partitioning-invariant:
    identical rows under different repartitionings — duplicate-span
    coverage (hash-join + window merge), incremental flags, LM
    buckets (global NTILE), and the k-core fixed point."""
    from askg_spark import graphops

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")

    def spans(d):
        return sorted(tuple(r) for r in
                      dedup.duplicate_span_stats(d, w=15).collect())

    assert spans(docs.repartition(3)) == spans(docs.repartition(17))

    def lm(d):
        return sorted(tuple(r) for r in
                      textops.unigram_lm_scores(d).collect())

    assert lm(docs.repartition(2)) == lm(docs.repartition(13, "doc_id"))

    li = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .select("l_orderkey", "l_partkey")

    def core(frame):
        e = graphops.cooccurrence_edges(frame, "l_orderkey", "l_partkey")
        return sorted(tuple(r) for r in graphops.kcore(e, k=40).collect())

    assert core(li.repartition(2)) == core(li.repartition(11))


def test_collocations_pmi_integers(spark):
    """Hand-computed corpus: the always-adjacent pair tops the PMI
    ranking; pmi_scaled = (1e6*N*c_ab) // (c_a*c_b) — the exact
    scaled ratio (r5 engine-independent contract; ln is monotone so
    the ranking equals log-PMI's)."""
    # 'new york' x5 always adjacent; 'the cat' x5 but 'the' also
    # appears 5 more times alone -> lower PMI
    rows = [(i, "new york the cat") for i in range(5)] + \
           [(i + 5, "the dog runs fast") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["rnk"], r["w1"], r["w2"], r["n_pair"], r["pmi_scaled"])
           for r in textops.collocations(df, k=6, min_count=5).collect()]
    got.sort()

    n_total = 40
    # new(5) york(5) pair(5)
    pmi_ny = (1_000_000 * n_total * 5) // (5 * 5)
    # york(5) the(10) pair(5)
    pmi_yt = (1_000_000 * n_total * 5) // (5 * 10)
    by_pair = {(w1, w2): (r, n, p) for r, w1, w2, n, p in got}
    assert by_pair[("new", "york")][2] == pmi_ny
    assert by_pair[("york", "the")][2] == pmi_yt
    # ranking: highest PMI first; 'new york' outranks 'york the'
    assert by_pair[("new", "york")][0] < by_pair[("york", "the")][0]


def test_random_walks_deterministic_hrw_choice(spark):
    """Walks on a triangle+pendant graph match a Python replay of the
    rendezvous-hash rule (argmin over neighbors of md5(start|t|d)),
    duplicate edge rows change nothing, isolated starts NULL-pad, and
    the result is invariant to input partitioning."""
    import hashlib

    from askg_spark import graphops

    rows = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "x"),
            ("a", "b")]  # duplicate edge: argmin is idempotent
    edges = spark.createDataFrame(rows, "u string, v string")
    starts = spark.createDataFrame([("a",), ("x",), ("lone",)],
                                   "n string")
    got = {r["start"]: (r["hop_1"], r["hop_2"], r["hop_3"], r["hop_4"])
           for r in graphops.random_walks(edges, starts, 4).collect()}

    nbrs = {"a": ["b", "c"], "b": ["a", "c"],
            "c": ["a", "b", "x"], "x": ["c"]}

    def replay(start):
        cur, hops = start, []
        for t in range(1, 5):
            cur = min(nbrs[cur], key=lambda d: hashlib.md5(
                f"{start}|{t}|{d}".encode()).hexdigest())
            hops.append(cur)
        return tuple(hops)

    assert got["a"] == replay("a")
    assert got["x"] == replay("x")
    assert got["lone"] == (None, None, None, None)
    got2 = {r["start"]: (r["hop_1"], r["hop_2"], r["hop_3"], r["hop_4"])
            for r in graphops.random_walks(
                edges.repartition(5), starts, 4).collect()}
    assert got2 == got
