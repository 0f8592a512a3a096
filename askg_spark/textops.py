"""Text-analysis operators for a large-scale training-data pipeline:
tokenization stats, quality signals, language ID, fingerprinting,
ontology classification — all pure Column expressions (JVM-side,
whole-stage codegen; zero Python in the hot path).

Parity note: every function here has an exact ANSI-SQL oracle
(__spark_entry__.oracle_sql). Outputs are integers/strings only — no
floating-point ratios — so cross-engine value hashes match exactly; a
consumer derives ratios downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from askg_spark.ontology import classify_categories

# tiny function-word profiles for the language-ID heuristic; matched as
# whole tokens (not substrings) to keep the signal clean
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "and", "to"]),
    ("de", ["der", "die", "das", "und", "nicht"]),
    ("es", ["el", "los", "las", "que", "y"]),
    ("fr", ["le", "la", "les", "et", "ne"]),
    ("zh", ["的", "是", "了", "在", "我"]),
]


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty/null text -> empty array."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))


def ngrams_from_tokens(toks: Column, n: int = 3,
                       distinct: bool = True) -> Column:
    """Word n-grams (space-joined) from a token-ARRAY column; < n
    tokens -> empty. ``distinct=False`` keeps every occurrence (the
    repetition-stats input); True (default) is the set-semantics
    variant the dedup joins use.

    `toks` must be a plain column reference (not an inline expression):
    Catalyst inlines a higher-order lambda's free expressions into
    every use site, so an inline `split()` here would re-run the regex
    per `element_at` — measured 8.9s -> 0.5s at sf0.1 (n=3 means 3
    splits per gram) when callers project the token array first."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + j) for j in range(n)]))
    out = F.array_distinct(grams) if distinct else grams
    return F.when(F.size(toks) >= n, out) \
            .otherwise(F.array().cast("array<string>"))


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


# BPE-ish pretokenizer: the GPT-2 split classes (optionally space-
# prefixed letter runs / digit runs / punct runs) minus the lookahead
# tail rule, which RE2 (the DuckDB oracle engine) cannot express —
# whitespace between matches is simply not counted. ASCII classes so
# Java (Spark) and RE2 (DuckDB) agree byte-for-byte.
BPE_TOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+"


def bpe_token_count(text: Column) -> Column:
    """Subword-ish token count: matches of BPE_TOKEN_RE (letter runs,
    digit runs, punctuation runs — each optionally space-prefixed).
    Tracks BPE vocab token counts far better than whitespace counting
    on punctuation-dense or CJK text; pure JVM regexp_count."""
    return F.regexp_count(F.coalesce(text, F.lit("")),
                          F.lit(BPE_TOKEN_RE)).cast("long")


def quality_counts(df: DataFrame) -> DataFrame:
    """Per-document quality signals as exact integer counts:
    n_tokens, n_stopword_tokens, n_long_tokens (len>20, a gibberish
    signal), n_chars, n_alpha_chars. Ratios are the consumer's division.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = tokens(F.col("text"))
    stop = F.array([F.lit(w) for _, ws in LANG_MARKERS for w in ws])
    return df.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))
               ).cast("long").alias("n_stopword_tokens"),
        F.size(F.filter(toks, lambda t: F.length(t) > 20)
               ).cast("long").alias("n_long_tokens"),
        F.length(text).cast("long").alias("n_chars"),
        F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
        .cast("long").alias("n_alpha_chars"),
        # explicit whitespace set: Java \s and RE2 \s differ on \x0B
        F.length(F.regexp_replace(text, r"[A-Za-z0-9 \t\n\r\f]", ""))
        .cast("long").alias("n_punct_chars"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


# Gopher-style quality rules (Rae et al. 2021, table A1 shape) as pure
# integer arithmetic — no floats, so the DuckDB oracle hashes match
# exactly. Fixed emission order = list order.
QUALITY_RULES: list[tuple[str, str]] = [
    ("too_short", "n_tokens < {min_tokens}"),
    ("too_long", "n_tokens > 100000"),
    # mean word length outside [3, 10]: alpha chars per token, cross-
    # multiplied to stay integral
    ("bad_mean_word_len",
     "n_alpha_chars < 3 * n_tokens OR n_alpha_chars > 10 * n_tokens"),
    # stopword fraction < 0.06  <=>  50*stop < 3*tokens
    ("low_stopword", "50 * n_stopword_tokens < 3 * n_tokens"),
    # symbol-to-char ratio > 0.1
    ("high_symbol", "10 * n_punct_chars > n_chars"),
    # >10% of tokens longer than 20 chars (gibberish / base64 blobs)
    ("gibberish", "10 * n_long_tokens > n_tokens"),
]


def _keep_reasons(signals: DataFrame, rules: list[tuple[str, str]],
                  min_tokens: int) -> DataFrame:
    """(doc_id, keep 0/1, reasons comma-joined in ``rules`` order)."""
    reasons = F.concat_ws(",", *[
        F.when(F.expr(tmpl.format(min_tokens=min_tokens)), F.lit(name))
        for name, tmpl in rules])
    return signals.select(
        "doc_id",
        (reasons == "").cast("long").alias("keep"),
        reasons.alias("reasons"),
    )


def quality_filter(df: DataFrame, min_tokens: int = 25) -> DataFrame:
    """Gopher-style document quality filter for training-data curation:
    -> (doc_id, keep 0/1, reasons comma-joined in QUALITY_RULES order).

    Every rule is an integer comparison over :func:`quality_counts`
    signals (whole-stage codegen; one scan, no shuffle), so the filter
    costs one projection at any corpus size and the exact SQL oracle
    reproduces it bit-for-bit. The default ``min_tokens`` is tuned so
    the synthetic corpus (10-99-token docs) splits instead of
    degenerating to all-keep/all-reject."""
    return _keep_reasons(quality_counts(df), QUALITY_RULES, min_tokens)


def _run_scan(arr: Column) -> Column:
    """One linear pass over a SORTED string array -> struct(top_count,
    top_val, n_dup, n_dup_chars):

      top_count / top_val   longest run = the most frequent value;
                            ties resolve to the SMALLEST value (only a
                            strictly longer run displaces the champion,
                            and runs arrive in sorted order)
      n_dup / n_dup_chars   occurrences beyond each value's first
                            (sum over values of (count-1), and of
                            (count-1)*length(value))

    `F.aggregate` keeps the whole scan a JVM-side expression — linear
    per document, zero Python, zero shuffle — vs the O(distinct x
    total) `transform(array_distinct(..), d -> size(filter(..)))`
    shape, which is quadratic on long documents, or an explode +
    groupBy(doc, value), which shuffles the full gram mass of the
    corpus for a per-document-local statistic."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top_count"),
        F.lit(None).cast("string").alias("top_val"),
        F.lit(0).cast("long").alias("n_dup"),
        F.lit(0).cast("long").alias("n_dup_chars"),
    )

    def merge(s, x):
        same = F.coalesce(s["prev"] == x, F.lit(False))
        run = F.when(same, s["run"] + 1).otherwise(F.lit(1).cast("long"))
        new_top = run > s["top_count"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(new_top, run).otherwise(s["top_count"]).alias("top_count"),
            F.when(new_top, x).otherwise(s["top_val"]).alias("top_val"),
            (s["n_dup"] + F.when(same, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long"))).alias("n_dup"),
            (s["n_dup_chars"] + F.when(same, F.length(x).cast("long"))
             .otherwise(F.lit(0).cast("long"))).alias("n_dup_chars"),
        )

    def fin(s):
        return F.struct(
            s["top_count"].alias("top_count"),
            F.coalesce(s["top_val"], F.lit("")).alias("top_val"),
            s["n_dup"].alias("n_dup"),
            s["n_dup_chars"].alias("n_dup_chars"),
        )

    return F.aggregate(F.array_sort(arr), init, merge, fin)


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1) as exact
    integers: duplicate-line counts/chars and duplicate / most-frequent
    word-2-gram and 3-gram counts. Ratios (dup-line fraction, top-gram
    fraction) are the consumer's division, keeping cross-engine value
    hashes exact.

      n_lines, n_dup_lines, n_dup_line_chars   lines = split on \\n
                                               (no trimming); dups are
                                               occurrences beyond each
                                               distinct line's first
      n_2grams, n_dup_2grams,
      top_2gram_count, top_2gram               non-distinct word grams;
                                               top tie -> smallest gram
      n_3grams, n_dup_3grams, top_3gram_count

    Plan shape: two stacked projections, no shuffle, no Python — the
    per-array frequency scan is a sorted-run-length `F.aggregate`
    (see :func:`_run_scan`), linear per document at any corpus size.
    Reference analog: none (training-data curation operator); rule
    thresholds (e.g. dup-line fraction > 0.30 -> reject) belong to the
    caller, composing with :func:`quality_filter`."""
    t = F.coalesce(F.col("text"), F.lit(""))
    base = df.select(
        "doc_id",
        F.split(t, "\n", -1).alias("_lines"),
        tokens(F.col("text")).alias("_toks"),
    )
    staged = base.select(
        "doc_id", "_lines",
        ngrams_from_tokens(F.col("_toks"), 2, distinct=False).alias("_g2"),
        ngrams_from_tokens(F.col("_toks"), 3, distinct=False).alias("_g3"),
    )
    scanned = staged.select(
        "doc_id",
        F.size("_lines").cast("long").alias("n_lines"),
        F.size("_g2").cast("long").alias("n_2grams"),
        F.size("_g3").cast("long").alias("n_3grams"),
        _run_scan(F.col("_lines")).alias("_ls"),
        _run_scan(F.col("_g2")).alias("_s2"),
        _run_scan(F.col("_g3")).alias("_s3"),
    )
    return scanned.select(
        "doc_id",
        "n_lines",
        F.col("_ls")["n_dup"].alias("n_dup_lines"),
        F.col("_ls")["n_dup_chars"].alias("n_dup_line_chars"),
        "n_2grams",
        F.col("_s2")["n_dup"].alias("n_dup_2grams"),
        F.col("_s2")["top_count"].alias("top_2gram_count"),
        F.col("_s2")["top_val"].alias("top_2gram"),
        "n_3grams",
        F.col("_s3")["n_dup"].alias("n_dup_3grams"),
        F.col("_s3")["top_count"].alias("top_3gram_count"),
    )


# PII patterns chosen for byte-identical semantics across Java regex
# (Spark) and RE2 (the DuckDB oracle): ASCII classes, bounded repeats,
# \b word boundaries — no lookarounds (RE2 has none). Redaction applies
# the replacements IN LIST ORDER over the text (email first, so an
# address's host part is consumed before the ip/phone patterns see it);
# counts are over the ORIGINAL text per pattern, independently.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}", "<PHONE>"),
]


def pii_scan(df: DataFrame) -> DataFrame:
    """PII detection + redaction for training-data curation:
    -> (doc_id, n_email, n_ipv4, n_phone, redacted_md5).

    Counts are non-overlapping matches of each :data:`PII_PATTERNS`
    regex over the original text (`regexp_count`, JVM-side);
    `redacted_md5` is the md5 of the text after replacing each pattern
    with its tag in list order — the hash (not the redacted body)
    keeps the output narrow for the cross-engine value compare; a real
    pipeline would project the redacted text itself. One scan, no
    shuffle, whole-stage codegen."""
    t = F.coalesce(F.col("text"), F.lit(""))
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = t
    for _, pat, rep in PII_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
    return df.select("doc_id", *counts, F.md5(red).alias("redacted_md5"))


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      default_rate: float = 0.0) -> DataFrame:
    """Deterministic hash-based stratified sampling — the mixture-
    weighting step of a training-data pipeline (e.g. downsample Common
    Crawl, upweight curated sources), reproducible across runs,
    engines, and partitionings.

    A row is kept iff the first 4 hex digits of md5(doc_id) — a uniform
    16-bit value, compared lexicographically, which for fixed-width hex
    IS numeric order — fall below round(rate * 65536) for its ``lang``
    stratum.
    Per-key deterministic: no RNG state, no seed plumbing, identical
    results on any cluster layout, and a row's fate never changes when
    other rows appear (stable under incremental reruns). Pure filter:
    no shuffle, codegen, pushes down past column pruning."""
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)

    def thr_lit(rate: float):
        # rate >= 1.0 -> "g", one char above the hex alphabet, so every
        # 4-hex digest compares below it (full keep); "10000" would NOT
        # work — lexicographically it sorts under "2***".."f***"
        n = max(0, min(65536, round(rate * 65536)))
        return F.lit("g" if n == 65536 else format(n, "04x"))

    thr = thr_lit(default_rate)
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col("lang") == stratum, thr_lit(rate)) \
            .otherwise(thr)
    return df.filter(h < thr)


def stratified_topk(df: DataFrame, k: int, strata_col: str = "lang",
                    key_col: str = "doc_id") -> DataFrame:
    """Deterministic EXACT-k per-stratum sample — the eval-holdout
    selection step (hold out exactly k docs per language/source for
    benchmarks), where `stratified_sample`'s rate-based filter gives
    only an EXPECTED count. Rows are ranked inside each stratum by
    (md5(key), key) — a uniform pseudo-random but fully deterministic
    order — and the top k kept, with the rank emitted.
    -> input columns + (sample_rank int).

    Scale shape: one window shuffle on the stratum key. Stratum
    cardinality is the skew axis (a 'en' stratum at web scale is
    ~half the corpus) — for huge strata, pre-filter with
    `stratified_sample` at ~10x the target rate first so the window
    sorts k*10 rows per stratum, not the stratum."""
    from pyspark.sql import Window

    h = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(key_col))
    return (df.withColumn("sample_rank",
                          F.row_number().over(w).cast("int"))
              .filter(F.col("sample_rank") <= int(k)))


# Repetition rejection rules (Gopher §A1.1 second block) as integer
# cross-multiplications over repetition_stats columns; emission order =
# list order, appended after QUALITY_RULES in the extended filter.
REPETITION_RULES: list[tuple[str, str]] = [
    # duplicate-line fraction > 0.30
    ("dup_lines", "10 * n_dup_lines > 3 * n_lines AND n_lines > 1"),
    # fraction of characters in duplicate lines > 0.20
    ("dup_line_chars",
     "5 * n_dup_line_chars > n_line_chars AND n_lines > 1"),
    # most frequent 2-gram covers > 0.10 of all 2-grams
    ("top_2gram", "10 * top_2gram_count > n_2grams AND n_2grams > 0"),
    # duplicate 3-grams (occurrences beyond first) > 0.30 of 3-grams
    ("dup_3grams", "10 * n_dup_3grams > 3 * n_3grams AND n_3grams > 0"),
]


def quality_filter_extended(df: DataFrame) -> DataFrame:
    """Full Gopher-style filter: the :data:`QUALITY_RULES` signal rules
    plus the :data:`REPETITION_RULES` repetition rules, one keep/reject
    row per document with comma-joined reasons in fixed order.

    The whole composition is stacked projections over one scan — no
    join, no shuffle, no Python: char/token signals and the
    sorted-run-length repetition scans are computed side by side from
    the same staged (lines, tokens, grams) columns.

    `n_line_chars` (denominator of dup_line_chars) = total characters
    across lines = n_chars minus the n_lines-1 newline separators."""
    t = F.coalesce(F.col("text"), F.lit(""))
    stop = F.array([F.lit(w) for _, ws in LANG_MARKERS for w in ws])
    base = df.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars"),
        F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
        .cast("long").alias("n_alpha_chars"),
        F.length(F.regexp_replace(t, r"[A-Za-z0-9 \t\n\r\f]", ""))
        .cast("long").alias("n_punct_chars"),
        F.split(t, "\n", -1).alias("_lines"),
        tokens(F.col("text")).alias("_toks"),
    )
    staged = base.select(
        "doc_id", "n_chars", "n_alpha_chars", "n_punct_chars",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(F.filter("_toks", lambda x: F.array_contains(stop, x)))
        .cast("long").alias("n_stopword_tokens"),
        F.size(F.filter("_toks", lambda x: F.length(x) > 20))
        .cast("long").alias("n_long_tokens"),
        "_lines",
        ngrams_from_tokens(F.col("_toks"), 2, distinct=False).alias("_g2"),
        ngrams_from_tokens(F.col("_toks"), 3, distinct=False).alias("_g3"),
    )
    scanned = staged.select(
        "doc_id", "n_chars", "n_alpha_chars", "n_punct_chars",
        "n_tokens", "n_stopword_tokens", "n_long_tokens",
        F.size("_lines").cast("long").alias("n_lines"),
        F.size("_g2").cast("long").alias("n_2grams"),
        F.size("_g3").cast("long").alias("n_3grams"),
        _run_scan(F.col("_lines")).alias("_ls"),
        _run_scan(F.col("_g2")).alias("_s2"),
        _run_scan(F.col("_g3")).alias("_s3"),
    )
    signals = scanned.select(
        "doc_id", "n_chars", "n_alpha_chars", "n_punct_chars",
        "n_tokens", "n_stopword_tokens", "n_long_tokens",
        "n_lines", "n_2grams", "n_3grams",
        F.col("_ls")["n_dup"].alias("n_dup_lines"),
        F.col("_ls")["n_dup_chars"].alias("n_dup_line_chars"),
        (F.col("n_chars") - (F.col("n_lines") - F.lit(1)))
        .alias("n_line_chars"),
        F.col("_s2")["top_count"].alias("top_2gram_count"),
        F.col("_s3")["n_dup"].alias("n_dup_3grams"),
    )
    return _keep_reasons(signals, QUALITY_RULES + REPETITION_RULES, 25)


def lang_id(df: DataFrame) -> DataFrame:
    """Marker-token language ID: per language, count matching tokens;
    argmax with first-listed-language tie-break; 'und' when no marker
    hits. Deterministic, SQL-expressible, vocabulary-driven."""
    toks = tokens(F.col("text"))

    def marker_score(ws: list[str]):
        arr = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {lang: marker_score(ws) for lang, ws in LANG_MARKERS}
    # argmax with first-listed tie-break: greatest (score, -position)
    # struct — struct ordering is lexicographic, so max score wins and
    # the earliest language wins ties
    langs = [lang for lang, _ in LANG_MARKERS]
    top = F.greatest(*[
        F.struct(scores[lang].alias("s"), F.lit(-i).alias("p"),
                 F.lit(lang).alias("l"))
        for i, lang in enumerate(langs)
    ])
    best = F.when(top["s"] > 0, top["l"]).otherwise(F.lit("und"))
    return df.select("doc_id", best.alias("lang_pred"))


def fingerprints(df: DataFrame) -> DataFrame:
    """Canonical content fingerprint: md5 over lowercased,
    whitespace-collapsed text — the exact-dedup key."""
    norm = F.trim(F.regexp_replace(
        F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "))
    return df.select("doc_id", F.md5(norm).alias("fingerprint"))


def categorize_documents(df: DataFrame) -> DataFrame:
    """Ontology mention detection (P2 classifier) over free text, with
    no name: -> (doc_id, category) one row per matched category."""
    return df.select(
        "doc_id",
        F.explode(classify_categories(F.lit(None).cast("string"),
                                      F.col("text"))).alias("category"),
    )


def line_dedup(df: DataFrame, min_docs: int = 3) -> DataFrame:
    """C4-style cross-document line-level deduplication (Raffel et al.
    2020 §2.2): a line that occurs in >= ``min_docs`` DISTINCT
    documents is corpus boilerplate (nav bars, cookie banners, license
    footers) and is removed from every document that contains it.
    -> (doc_id, n_lines, n_removed_lines, n_removed_chars, cleaned_md5)
    with cleaned_md5 = md5 of the surviving lines re-joined with \\n in
    original order (the hash keeps the compare frame narrow; a real
    pipeline projects the cleaned text itself).

    Plan (2 shuffles, both keyed and combinable):
      1. per-doc `array_distinct` of lines (map-side), explode, groupBy
         line -> distinct-doc count. Partial aggregation makes the
         shuffle carry one row per (doc, distinct line).
      2. explode all line occurrences with position, left-anti-ish
         join against the boilerplate line set (left join + null
         filter keeps AQE free to broadcast when the set is small),
         then groupBy doc to reassemble in order.
    Lines are compared verbatim (no trim/case-fold) so the operator is
    exactly mirrored by the SQL oracle; at 10^12-doc scale the join key
    would be xxhash64(line)<<64|crc32 rather than the raw string — the
    shuffle carries 16 bytes instead of the line — at ~2^-96 collision
    odds. min_docs counts documents, not occurrences, so a single page
    repeating its own header never loses it."""
    t = F.coalesce(F.col("text"), F.lit(""))
    lines = df.select("doc_id", F.split(t, "\n", -1).alias("_lines"))

    boiler = (
        lines.select(F.explode(F.array_distinct("_lines")).alias("line"))
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= int(min_docs))
        .select("line")
    )

    occ = lines.select(
        "doc_id",
        F.posexplode("_lines").alias("idx", "line"),
    )
    marked = (
        occ.join(boiler.withColumn("_boiler", F.lit(True)),
                 on="line", how="left")
        .select("doc_id", "idx", "line",
                F.coalesce("_boiler", F.lit(False)).alias("_rm"))
    )
    kept_struct = F.array_sort(F.collect_list(
        F.when(~F.col("_rm"), F.struct(F.col("idx"), F.col("line")))))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_rm").cast("long")).alias("n_removed_lines"),
            F.sum(F.when(F.col("_rm"), F.length("line")).otherwise(F.lit(0)))
             .cast("long").alias("n_removed_chars"),
            kept_struct.alias("_kept"),
        )
        .select(
            "doc_id", "n_lines", "n_removed_lines", "n_removed_chars",
            F.md5(F.array_join(
                F.transform("_kept", lambda s: s["line"]), "\n"))
             .alias("cleaned_md5"),
        )
    )


def token_vocabulary(df: DataFrame, k: int = 100) -> DataFrame:
    """Corpus-wide token vocabulary: top-``k`` whitespace tokens by
    total occurrence count (ties broken token-ascending for a total
    order). -> (token, n_occurrences, n_docs).

    The workhorse of tokenizer training / vocab pruning. Plan: one
    explode + one keyed groupBy — partial aggregation combines counts
    map-side, so the shuffle carries one row per (partition, distinct
    token), not per occurrence; the final top-k is a TakeOrdered over
    the aggregated frame (no global sort materialization).

    ``n_docs`` counts distinct ``doc_id`` values (count(DISTINCT
    doc_id), the oracle definition — stable under task retry and
    duplicate doc rows); a frame without that column falls back to a
    synthetic per-row id, which is retry-deterministic only for
    deterministic single-stage inputs."""
    # n_docs needs a per-source-row id; project it before the explode
    rid = (F.col("doc_id") if "doc_id" in df.columns
           else F.monotonically_increasing_id())
    toks = df.select("text", rid.alias("_rid")) \
        .select(F.explode(tokens(F.col("text"))).alias("token"), "_rid")
    return (toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.countDistinct("_rid").alias("n_docs"))
            .orderBy(F.desc("n_occurrences"), F.asc("token"))
            .limit(int(k)))


def length_quantiles(df: DataFrame) -> DataFrame:
    """Per-``lang`` distribution of ``n_chars`` for corpus curation: exact
    linear-interpolation percentiles (Spark `percentile`, not the
    approximate sketch) plus min/max/count. Exact-oracle-able against
    DuckDB `quantile_cont` — both implement the same interpolated
    quantile definition."""
    v = F.col("n_chars").cast("double")
    pcts = [0.25, 0.5, 0.75, 0.9, 0.99]
    qcols = [F.percentile(v, F.lit(p)).alias(f"p{int(p * 100)}")
             for p in pcts]
    return (df.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("n_chars").alias("min_len"),
                 F.max("n_chars").alias("max_len"),
                 *qcols))


def oov_stats(df: DataFrame, vocab_k: int = 100) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-k
    vocabulary: -> (doc_id, n_tokens, n_oov). High OOV fraction vs a
    corpus-level vocabulary is a standard gibberish/encoding-noise
    signal next to the Gopher rules. Two passes: the vocab top-k
    (see :func:`token_vocabulary`), then a broadcast left join of the
    exploded tokens against it — the vocab is k rows, so the join is
    map-side at any corpus size. Zero-token docs are re-attached with
    (0, 0) via a left join on the source frame."""
    vocab = (token_vocabulary(df, k=vocab_k)
             .select("token").withColumn("_in", F.lit(True)))
    toks = df.select("doc_id",
                     F.explode(tokens(F.col("text"))).alias("token"))
    per_doc = (toks.join(F.broadcast(vocab), "token", "left")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
                     .cast("long").alias("n_oov")))
    return (df.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("n_oov", F.lit(0)).alias("n_oov")))


def pack_assignments(df: DataFrame, budget: int = 2048,
                     shards: int = 32) -> DataFrame:
    """GPT-style sequence-packing assignment: documents are
    concatenated in deterministic order and split into fixed
    ``budget``-token training sequences; each doc gets the pack it
    STARTS in and its token offset there.
    -> (doc_id, shard, n_tokens, pack_id, offset_in_pack).

    Scale shape: a single global concatenation order would be one
    window partition — instead docs are sharded by ``doc_id %
    shards`` (each shard is an independent token stream, the way a
    distributed tokenizer writes one output stream per task) and the
    running token count is a per-shard ordered window cumsum. All
    outputs are exact integers; the oracle mirrors the same window.
    At 10^12 docs, `shards` scales with the cluster (one stream per
    output partition) and the window state is a single running sum."""
    from pyspark.sql import Window
    t = df.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(int(shards))).cast("int").alias("shard"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return t.select(
        "doc_id", "shard", "n_tokens",
        F.floor(start / int(budget)).cast("long").alias("pack_id"),
        F.pmod(start, F.lit(int(budget))).cast("long")
         .alias("offset_in_pack"),
    )


def normalize_text(df: DataFrame) -> DataFrame:
    """Unicode normalization for multilingual training corpora:
    NFC-compose, normalize line endings (\\r\\n and \\r -> \\n), strip
    C0 control characters (except \\t and \\n).
    -> (doc_id, n_chars_before, n_chars_after, norm_md5) with
    norm_md5 = md5 of the normalized text (hash keeps the compare
    frame narrow; a real pipeline projects the text).

    NFC has no Spark builtin, so this is the one textops operator on
    the Python path — an Arrow-batched mapInPandas over
    `unicodedata.normalize` (C-implemented, ~10^6 short strings/s per
    core; the same Unicode tables DuckDB's `nfc_normalize` oracle
    uses, so outputs agree byte-for-byte). Line-ending + control-char
    cleanup happens on the pandas batch too — one Python stage, not
    three."""
    import hashlib
    import re
    import unicodedata

    import pandas as pd

    ctrl = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")

    def run(batches):
        for pdf in batches:
            raw = pdf["text"].fillna("")
            norm = []
            for s in raw:
                s2 = unicodedata.normalize("NFC", s)
                s2 = s2.replace("\r\n", "\n").replace("\r", "\n")
                norm.append(ctrl.sub("", s2))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_chars_before": [len(s) for s in raw],
                "n_chars_after": [len(s) for s in norm],
                "norm_md5": [hashlib.md5(s.encode()).hexdigest()
                             for s in norm],
            })

    return df.select("doc_id", "text").mapInPandas(
        run, "doc_id long, n_chars_before long, n_chars_after long, "
             "norm_md5 string")


# fixed-point scale of every exact integer score here: a ratio r is
# reported as floor(r * 10^6)
_SCALE = 1_000_000


def _dsir_features(df: DataFrame) -> DataFrame:
    """Per-doc hashed-n-gram feature stream for DSIR scoring: unigrams
    + bigrams WITH multiplicity (the paper's bag-of-ngrams model) ->
    (doc_id, feat). One projection, no UDF."""
    toks = tokens(F.col("text"))
    t = df.select("doc_id", toks.alias("_toks"))
    feats = F.concat(
        F.col("_toks"),
        ngrams_from_tokens(F.col("_toks"), n=2, distinct=False))
    return t.select("doc_id", F.explode(feats).alias("feat"))


def dsir_weights(raw: DataFrame, target: DataFrame,
                 n_buckets: int | None = None) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): estimate a raw
    and a target distribution over unigram+bigram features and weight
    each feature by how much more the target uses it.

    -> (feat, w_scaled) with
       w_scaled = ((c_target + 1) * 10^6) // (c_raw + 1)

    Deviation from the paper, by design: the paper weights log-ratios
    of hashed-bucket probabilities; logs are transcendental and two
    engines' libm disagree in the last ulp, so this uses the
    add-1-smoothed count RATIO as an exact scaled integer — the same
    ordering for resampling top-k (monotone in the ratio), but every
    value reproducible bit-for-bit by a SQL oracle. `n_buckets` (the
    paper's 10^4-bucket hashing trick, xxhash64 here) bounds the
    weight table for the 10^12-doc regime where the exact feature
    vocabulary would itself be huge — with it the table is
    broadcast-sized regardless of corpus size; without it features
    stay raw strings (the oracle-checkable test-scale path).

    Scale shape: two explode->groupBy counts (one shuffle each, both
    map-side combined) + one join on the feature key. `target` is
    normally a small filtered slice of `raw` (quality sample, wiki
    slice), so its count pass is cheap."""
    rf = _dsir_features(raw)
    tf = _dsir_features(target)
    if n_buckets is not None:
        key = lambda d: d.select(  # noqa: E731
            F.pmod(F.xxhash64("feat"), F.lit(int(n_buckets))).alias("feat"))
        rf, tf = key(rf), key(tf)
    rc = rf.groupBy("feat").agg(F.count(F.lit(1)).alias("c_raw"))
    tc = tf.groupBy("feat").agg(F.count(F.lit(1)).alias("c_target"))
    # target features the raw corpus lacks only matter when target is
    # NOT a subset of raw; full outer keeps the estimator symmetric
    # `div`, not `/`: float division loses exactness past 2^53 —
    # integral `div` keeps the scaled weight a true floor quotient at
    # any corpus size (and bit-equal to the oracle's `//`)
    return (rc.join(tc, "feat", "full_outer")
              .select(
                  "feat",
                  F.expr(f"CAST(((coalesce(c_target, 0) + 1)"
                         f" * {_SCALE}L)"
                         f" div (coalesce(c_raw, 0) + 1) AS BIGINT)")
                  .alias("w_scaled")))


def dsir_scores(raw: DataFrame, target: DataFrame,
                n_buckets: int | None = None) -> DataFrame:
    """Per-document DSIR importance score over `raw`:
    -> (doc_id, n_feats, score_scaled) where score_scaled sums the
    doc's feature weights (multiplicity counted) and n_feats is the
    doc's feature count — rank by score_scaled / n_feats (or gumbel
    top-k on it) to select target-like training data. Docs with zero
    features (empty text) emit n_feats = 0, score_scaled = 0.

    The weight frame is broadcast when `n_buckets` bounds it;
    unbucketed it joins on the feature key (one shuffle each side,
    skew-safe: feature frequency skew lands in the groupBy partial
    aggregation, not the join)."""
    w = dsir_weights(raw, target, n_buckets)
    if n_buckets is not None:
        w = F.broadcast(w)
    rf = _dsir_features(raw)
    if n_buckets is not None:
        rf = rf.select(
            "doc_id",
            F.pmod(F.xxhash64("feat"), F.lit(int(n_buckets))).alias("feat"))
    per_doc = (rf.join(w, "feat")
                 .groupBy("doc_id")
                 .agg(F.count(F.lit(1)).alias("n_feats"),
                      F.sum("w_scaled").alias("score_scaled")))
    return (raw.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
                    F.coalesce("score_scaled", F.lit(0))
                     .alias("score_scaled")))


_LONG_MAX = (1 << 63) - 1
_LONG_MIN = -(1 << 63)


def floor_div_exact(num: Column, den: Column) -> Column:
    """floor(num / den) for NON-NEGATIVE integer-valued columns,
    computed with zero float/transcendental ops so two engines can
    never disagree: widen to DECIMAL(38,0), subtract the exact
    remainder, divide the now-exactly-divisible pair (decimal
    division of an exact multiple yields the exact integer at any
    result scale), and narrow back through DECIMAL(38,0).

    This is the shared quantization primitive behind the LM / TF-IDF
    / PMI scores: the r4 gate proved floor(scale*ln(x)) is NOT an
    engine-independent contract (a 1-ulp libm difference between two
    DuckDB builds flipped a floor and went red), so every score here
    is a floor of an exact count RATIO instead — bit-reproducible by
    integer arithmetic in any SQL engine (DuckDB mirror: HUGEINT
    `//`). Returns DECIMAL(38,0); callers cast to BIGINT behind a
    range guard."""
    n = num.cast("decimal(38,0)")
    d = den.cast("decimal(38,0)")
    return ((n - n % d) / d).cast("decimal(38,0)")


def _guarded_long(col: Column, what: str) -> Column:
    """CAST exact-decimal -> BIGINT that RAISES on a value outside
    [-2^63, 2^63-1] instead of silently wrapping/nulling (advisor r4:
    document the envelope in code, not just prose). The guard is a
    per-row codegen branch — free next to the shuffle it follows."""
    return (F.when(col.between(F.lit(_LONG_MIN).cast("decimal(38,0)"),
                               F.lit(_LONG_MAX).cast("decimal(38,0)")),
                   col.cast("long"))
            .otherwise(F.raise_error(
                F.lit(f"{what} exceeds BIGINT range")).cast("long")))


def unigram_lm_scores(df: DataFrame) -> DataFrame:
    """CCNet-style language-model quality bucketing (Wenzek et al.
    2020) with the LM reduced to an add-one-smoothed UNIGRAM model
    trained on the corpus itself: per-doc mean token improbability,
    then an NTILE split into head/middle/tail buckets.

    -> (doc_id, n_tokens, score_scaled, bucket) where
       score_scaled = (Σ q(tok)) div n_tokens,
       q(tok) = (10^6 * (N + V)) div (c_tok + 1)
    — the add-one-smoothed INVERSE probability of each token as an
    exact scaled integer — and bucket ∈ 1..3 by NTILE ordered on
    (score_scaled, doc_id); 1 = head (most predictable text).

    Deviation from CCNet, by design: the paper buckets on perplexity
    (mean LOG inverse probability); logs are transcendental and the
    r4 gate proved two engines' libm can disagree in the last ulp
    (floor(scale*ln) went red across DuckDB builds), so this scores
    the mean inverse probability itself — the same
    rare-tokens-score-high quality signal, monotone per token in the
    true logprob, but every value an exact integer a SQL oracle
    reproduces bit-for-bit (the dsir_weights count-ratio pattern).
    q and the per-doc sum are computed in DECIMAL(38,0) (exact at any
    corpus size); the BIGINT output cast raises on overflow rather
    than wrapping, which happens past ~9e12-token corpora.

    Plan (100 TB posture): token counts are one groupBy(token) with
    map-side combine; (N, V) is a 1-row aggregate cross-joined lazily
    (broadcast); scoring joins the exploded token stream to the
    q table on the token key — frequency skew lands in the count
    aggregation, not the join, and the per-doc reduction is a second
    keyed groupBy. The final NTILE is a single total-order window:
    fine for per-snapshot bucketing; at 10^12 docs replace it with
    thresholds from an approx-quantile pass over score_scaled (same
    contract, documented trade)."""
    from pyspark.sql import Window

    toks_e = (df.select("doc_id", tokens(F.col("text")).alias("_t"))
              .select("doc_id", F.explode(F.col("_t")).alias("token")))
    counts = toks_e.groupBy("token").agg(
        F.count(F.lit(1)).alias("c"))
    tot = counts.agg(F.sum("c").alias("N"),
                     F.count(F.lit(1)).alias("V"))
    q = (counts.crossJoin(F.broadcast(tot))
         .select("token",
                 floor_div_exact(
                     F.lit(_SCALE).cast("decimal(38,0)") *
                     (F.col("N") + F.col("V")).cast("decimal(38,0)"),
                     F.col("c") + 1).alias("q")))
    per_doc = (toks_e.join(q, "token")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum("q").alias("sum_q")))
    scored = (df.select("doc_id").join(per_doc, "doc_id", "left")
              .select("doc_id",
                      F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                      F.coalesce(F.col("sum_q"),
                                 F.lit(0).cast("decimal(38,0)"))
                      .alias("sum_q"))
              .select("doc_id", "n_tokens",
                      F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
                       .otherwise(_guarded_long(
                           floor_div_exact(F.col("sum_q"),
                                           F.col("n_tokens")),
                           "unigram_lm_scores score_scaled"))
                       .alias("score_scaled")))
    w = Window.orderBy(F.asc("score_scaled"), F.asc("doc_id"))
    return scored.select(
        "doc_id", "n_tokens", "score_scaled",
        F.ntile(3).over(w).cast("long").alias("bucket"))


def domain_stats(df: DataFrame, short_tokens: int = 20) -> DataFrame:
    """Domain-level curation rollup — the RefinedWeb/C4-style signal
    for KEEPING or DROPPING whole sites rather than documents (domain
    spam shows up as high duplicate fractions and short-page farms
    long before per-doc filters fire).

    -> (domain = source, n_docs, total_tokens, n_short_docs,
    n_dup_docs), all
    exact BIGINTs; n_dup_docs counts docs whose canonical fingerprint
    occurs more than once CORPUS-WIDE (cross-domain mirrors count for
    every domain that hosts a copy — the signal a mirror-farm
    detector wants).

    Plan: one fingerprint groupBy builds the duplicate-fingerprint
    dimension (hash-keyed shuffle), a left_semi marks dup docs, token
    counts are a pure Column expression, and the rollup is a single
    groupBy(domain) with map-side partial aggregation — domain skew
    (one giant host) lands in the partial agg, not a join."""
    fp = fingerprints(df)
    dup_fps = (fp.groupBy("fingerprint")
               .agg(F.count(F.lit(1)).alias("c"))
               .filter(F.col("c") > 1).select("fingerprint"))
    dup_ids = (fp.join(dup_fps, "fingerprint", "left_semi")
               .select("doc_id", F.lit(1).cast("long").alias("is_dup")))
    n_tok = token_count(F.col("text"))
    base = (df.select("doc_id", F.col("source").alias("domain"),
                      n_tok.alias("n_tokens"))
            .join(dup_ids, "doc_id", "left"))
    return (base.groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum(F.when(F.col("n_tokens") < short_tokens, 1)
                       .otherwise(0)).cast("long").alias("n_short_docs"),
                 F.sum(F.coalesce("is_dup", F.lit(0))).cast("long")
                  .alias("n_dup_docs")))


def top_terms_tfidf(df: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k keywords by TF-IDF — the classic semantic
    index / keyword-extraction primitive.

    -> (doc_id, term, tf, score_scaled, rnk), rnk 1..k per doc by
    (score DESC, term ASC); score_scaled = tf * idf_scaled with
    idf_scaled = (10^6 * N_docs) div df_term — the raw inverse
    document frequency as an exact scaled integer, the same
    quantize-each-DISTINCT-value-then-do-integer-arithmetic contract
    as unigram_lm_scores. Deviation from textbook TF-IDF, by design:
    ln(N/df) is transcendental and the r4 gate proved floor(scale*ln)
    is not reproducible across engine libm builds, so the idf weight
    is the count ratio itself (monotone in the true idf; corpus-wide
    terms still sink — df=N gives the minimum weight 10^6). All
    intermediates are exact DECIMAL(38,0); the BIGINT output cast
    raises on overflow instead of wrapping.

    Plan: tf is one groupBy(doc, term) with map-side combine; df is
    one groupBy(term) over the DISTINCT doc-term frame (reuses the
    same exchange key prefix); idf joins back on the term key where
    term-frequency skew is absorbed by the preceding aggregation; the
    top-k is a per-doc row_number window — bounded work per doc, no
    corpus-wide sort."""
    from pyspark.sql import Window

    tf = (df.select("doc_id", tokens(F.col("text")).alias("_t"))
          .select("doc_id", F.explode(F.col("_t")).alias("term"))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.agg(
        F.count_distinct(F.col("doc_id")).alias("n_docs"))
    idf = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_"))
           .crossJoin(F.broadcast(n_docs))
           .select("term",
                   floor_div_exact(
                       F.lit(_SCALE).cast("decimal(38,0)") *
                       F.col("n_docs").cast("decimal(38,0)"),
                       F.col("df_")).alias("idf_scaled")))
    scored = (tf.join(idf, "term")
              .select("doc_id", "term", F.col("tf").cast("long")
                      .alias("tf"),
                      _guarded_long(
                          F.col("tf").cast("decimal(38,0)") *
                          F.col("idf_scaled"),
                          "top_terms_tfidf score_scaled")
                      .alias("score_scaled")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_scaled"), F.asc("term"))
    return (scored.select("doc_id", "term", "tf", "score_scaled",
                          F.row_number().over(w).cast("long")
                          .alias("rnk"))
            .filter(F.col("rnk") <= k))


def chunk_assignments(df: DataFrame, budget: int = 64,
                      overlap: int = 16) -> DataFrame:
    """Retrieval-prep chunking: split each document's token stream
    into overlapping windows of ``budget`` tokens with ``overlap``
    carried between neighbors (stride = budget - overlap) — the
    standard RAG/embedding-index preprocessing step.

    -> (doc_id, chunk_id, start_tok, n_chunk_tokens, chunk_md5);
    chunk_md5 hashes the space-rejoined token slice, so a green
    oracle pins the exact slice boundaries, not just the counts.
    Chunk count per doc: 1 if n <= budget else
    1 + ceil((n - budget) / stride); the final chunk may be short
    (never empty), and empty docs produce no rows.

    Plan: one projection builds the per-doc chunk array (transform
    over a sequence — no Python, no shuffle) and explodes it; work
    and output are linear in token count with the documented
    ~budget/stride duplication factor. Deliberately stateless and
    embarrassingly parallel: chunking is the map side of an
    embedding-index build, so there is nothing to shuffle until the
    downstream index groups by chunk key."""
    stride = budget - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than budget")
    t = (df.select("doc_id", tokens(F.col("text")).alias("toks"))
         .select("doc_id", "toks",
                 F.size("toks").cast("long").alias("n")))
    n_chunks = F.when(F.col("n") <= 0, F.lit(0)) \
        .when(F.col("n") <= budget, F.lit(1)) \
        .otherwise(1 + F.ceil((F.col("n") - budget) /
                              F.lit(float(stride))).cast("long"))
    chunk = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            k.cast("long").alias("chunk_id"),
            (k * stride + 1).cast("long").alias("start_tok"),
            F.least(F.lit(budget).cast("long"),
                    F.col("n") - k * stride).alias("n_chunk_tokens"),
            F.md5(F.concat_ws(
                " ", F.slice(F.col("toks"), k * stride + 1, budget)))
             .alias("chunk_md5")))
    return (t.filter(F.col("n") > 0)
            .select("doc_id", F.explode(chunk).alias("c"))
            .select("doc_id", F.col("c.chunk_id").alias("chunk_id"),
                    F.col("c.start_tok").alias("start_tok"),
                    F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
                    F.col("c.chunk_md5").alias("chunk_md5")))


def collocations(df: DataFrame, k: int = 20,
                 min_count: int = 5) -> DataFrame:
    """Collocation / phrase mining over adjacent token bigrams —
    the word2vec-phrases-style signal (Mikolov et al. 2013) used to
    promote "new york"-type units into a tokenizer vocabulary:
    PMI(a,b) = ln(N·c_ab / (c_a·c_b)) over corpus counts.

    -> top-``k`` rows (w1, w2, n_pair, pmi_scaled, rnk) among bigrams
    with c_ab >= min_count; ordering (pmi_scaled DESC, w1, w2).

    Integer contract: pmi_scaled = (10^6·N·c_ab) div (c_a·c_b) — the
    PMI RATIO as an exact scaled integer instead of its log. ln is
    monotone, so the top-k ranking equals the true-PMI ranking up to
    quantization ties; and because the r4 gate proved
    floor(scale·ln(x)) flips across engine libm builds, the ratio —
    pure DECIMAL(38,0) integer arithmetic (HUGEINT in the DuckDB
    oracle) — is the engine-independent contract (the dsir_weights
    pattern). The BIGINT output cast raises on overflow instead of
    wrapping.

    Plan: bigram counts are one groupBy over the exploded adjacent-
    pair stream (map-side combine; the only corpus-mass shuffle),
    unigram counts one more, both joined on word keys where frequency
    skew was already absorbed by the aggregations; the global top-k is
    a TakeOrdered, not a full sort."""
    t = df.select(tokens(F.col("text")).alias("_t"))
    uni = (t.select(F.explode(F.col("_t")).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    n_tok = uni.agg(F.sum("c").alias("n_total"))
    pairs = (t.select(F.explode(
                ngrams_from_tokens(F.col("_t"), n=2, distinct=False))
                .alias("bg"))
             .groupBy("bg").agg(F.count(F.lit(1)).alias("n_pair"))
             .filter(F.col("n_pair") >= min_count)
             .select(F.split("bg", " ").getItem(0).alias("w1"),
                     F.split("bg", " ").getItem(1).alias("w2"),
                     "n_pair"))

    scored = (pairs
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("c").alias("c1")), "w1")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("c").alias("c2")), "w2")
              .crossJoin(F.broadcast(n_tok))
              .select("w1", "w2", F.col("n_pair").cast("long")
                      .alias("n_pair"),
                      _guarded_long(
                          floor_div_exact(
                              F.lit(_SCALE).cast("decimal(38,0)") *
                              F.col("n_total").cast("decimal(38,0)") *
                              F.col("n_pair").cast("decimal(38,0)"),
                              F.col("c1").cast("decimal(38,0)") *
                              F.col("c2").cast("decimal(38,0)")),
                          "collocations pmi_scaled")
                      .alias("pmi_scaled")))
    from pyspark.sql import Window

    # orderBy().limit(k) plans as TakeOrdered (per-partition top-k +
    # driver merge of k·p rows) — the rank window then runs over just
    # the k survivors, never a corpus-wide single-partition sort
    order = [F.desc("pmi_scaled"), F.asc("w1"), F.asc("w2")]
    top = scored.orderBy(*order).limit(k)
    return top.select("w1", "w2", "n_pair", "pmi_scaled",
                      F.row_number().over(Window.orderBy(*order))
                      .cast("long").alias("rnk"))
