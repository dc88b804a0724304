"""Text analysis operators: tokenization, quality scoring, language ID,
token counting, document fingerprinting.

Everything here is built from JVM Column expressions (split / regexp /
higher-order array functions) — no Python in the hot path — so the
operators run inside whole-stage codegen and scale linearly with
partitions. The one exception is the winnowed rolling-hash fingerprint
tier at the bottom: an Arrow-batched numpy kernel (sliding-window
matmul), the designed tier for per-character work.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warp_spark.artifacts import locked_mutation
from warp_spark.localdf import small_rows_df

# Small function-word lists per language for the n-gram/stopword-hit
# language heuristic. Deliberately tiny: the heuristic is argmax of hit
# counts, which is cheap and fully SQL-expressible.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}

# ~English function words used for the quality stopword-ratio signal
QUALITY_STOPWORDS = STOPWORDS["en"]

# BPE-ish token pattern: letter runs, digit runs, single non-space symbols
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def _hits(toks: Column, words: list[str]) -> Column:
    wordlist = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordlist, t)))


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_token_count(text: Column) -> Column:
    """BPE-ish regex token count (letter runs / digit runs / symbols)."""
    return F.regexp_count(text, F.lit(BPE_PATTERN))


def quality_features(text: Column) -> dict[str, Column]:
    """Quality-scoring signals: length, token stats, punctuation and
    stopword ratios, and a linear quality score. All ratios are plain
    IEEE divisions — deterministic across engines."""
    toks = tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    n_stop = _hits(toks, QUALITY_STOPWORDS)
    avg_token_len = (n_chars - (n_tokens - 1)) / n_tokens  # chars net of separators
    punct_ratio = n_punct / n_chars
    stop_ratio = n_stop / n_tokens
    # linear quality proxy: longer docs with function words and little
    # punctuation noise score higher
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + (1 - F.least(punct_ratio * 10, F.lit(1.0))) * 0.2
    )
    return {
        "n_tokens": n_tokens,
        "avg_token_len": avg_token_len,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": F.round(score, 6),
    }


def language_scores(text: Column) -> dict[str, Column]:
    toks = tokens(text)
    return {lang: _hits(toks, words) for lang, words in STOPWORDS.items()}


def language_id(text: Column) -> Column:
    """Argmax of stopword hits with a deterministic preference order;
    'und' (undetermined) when no list scores a hit.

    Shaped as ONE ``aggregate`` pass over the token array. The naive
    greatest(scores) + per-language WHEN form textually duplicates the
    tokenize+filter tree ~(langs²)× — CollapseProject inlines each
    single-textual-use subtree (same pathology as dedup.py's minhash) —
    measured ~7× slower. Here the argmax runs in the ``finish`` lambda
    where the count vector is a bound variable, evaluated once."""
    langs = list(STOPWORDS)
    wordlists = F.array(*[F.array(*[F.lit(w) for w in STOPWORDS[l]]) for l in langs])
    lang_lits = F.array(*[F.lit(l) for l in langs])

    def argmax(acc: Column) -> Column:
        return F.when(F.array_max(acc) <= 0, F.lit("und")).otherwise(
            # first occurrence of the max → earlier languages win ties,
            # matching the oracle's first-WHEN-match order
            F.element_at(lang_lits, F.array_position(acc, F.array_max(acc)).cast("int"))
        )

    return F.aggregate(
        tokens(text),
        F.array_repeat(F.lit(0), len(langs)),
        lambda acc, t: F.zip_with(acc, wordlists, lambda a, ws: a + F.array_contains(ws, t).cast("int")),
        argmax,
    )


def repetition_features(text: Column) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 "repetition
    removal"): the fraction of the document covered by its most frequent
    token, and the fraction of duplicate word bigrams. High values mark
    boilerplate/template text that per-document quality ratios miss.

    Pure array HOFs — whole-stage codegen, no shuffle. The top-token
    count is the longest equal-run in the SORTED token array, folded in
    one aggregate() pass carrying (prev, run, best) — O(n log n) per
    document vs O(distinct·n) for the naive count-each-distinct form
    (measured 5.5× faster on the sf0.1 corpus, same values). For
    pathological single-docs (book-length) explode+groupBy(doc_id,
    token) remains the spill-safe form."""
    toks = tokens(text)
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top = F.aggregate(F.array_sort(toks), acc0, _step, lambda a: a["best"])
    return {
        "top_token_frac": F.round(top.cast("double") / n, 6),
        "dup_bigram_frac": F.when(
            F.size(bigrams) > 0,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams), 6
            ),
        ).otherwise(F.lit(0.0)),
    }


# PII patterns kept to the Java-regex ∩ RE2 common subset (no lookaround)
# so the same pattern strings run on Spark and any RE2-based engine.
# Replacement order matters: emails before phones (a phone pattern would
# eat an address's digit runs), IPs before phones (dotted digit quads).
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d().\- ]{6,}\d", "<PHONE>"),
]


def scrub_pii(text: Column) -> dict[str, Column]:
    """Redact emails / IPv4s / phone-shaped digit runs with typed
    placeholder tokens, returning the scrubbed text plus per-kind match
    counts. Chained JVM regexp_replace — no Python, no shuffle; each
    count is taken on the previous stage's output so overlapping
    patterns are never double-counted."""
    out = text
    cols: dict[str, Column] = {}
    for name, pat, repl in PII_PATTERNS:
        cols[f"n_{name}"] = F.regexp_count(out, F.lit(pat))
        out = F.regexp_replace(out, pat, repl)
    cols["scrubbed"] = out
    return cols


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized,
    lowercased text — the exact-dedup key."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def _char_run_fold(chars: Column) -> Column:
    """One fold over a SORTED char array carrying (prev, run, k, s):
    each run end adds c·log2(c) for that character's count and bumps the
    distinct counter; the finish step closes the last run. Returns a
    struct(k = distinct chars, s = Σ c·log2(c) in sorted-alphabet
    order)."""
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("k"),
        F.lit(0.0).alias("s"),
    )

    def _step(acc, x):
        closes = acc["prev"].isNotNull() & (x != acc["prev"])
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        rd = acc["run"].cast("double")
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            (acc["k"] + closes.cast("int")).alias("k"),
            F.when(closes, acc["s"] + rd * F.log2(rd)).otherwise(acc["s"]).alias("s"),
        )

    def _finish(acc):
        rd = acc["run"].cast("double")
        return F.struct(
            (acc["k"] + (acc["run"] > 0).cast("int")).alias("k"),
            F.when(acc["run"] > 0, acc["s"] + rd * F.log2(rd)).otherwise(acc["s"]).alias("s"),
        )

    return F.aggregate(chars, acc0, _step, _finish)


def _sorted_chars(text: Column) -> Column:
    return F.array_sort(
        F.regexp_extract_all(F.lower(text), F.lit(r"[\s\S]"), F.lit(0))
    )


def char_entropy_features(text: Column) -> dict[str, Column]:
    """Per-document character-unigram Shannon entropy — a cheap
    gibberish/boilerplate signal (near-zero for repeated padding, high
    for encrypted/base64 noise; natural language sits in a stable band).

    H = log2(n) − s/n with s from the sorted-run fold
    (``_char_run_fold``) — the longest-equal-run discipline from
    ``repetition_features``: O(n log n) per doc in codegen, no shuffle,
    no Python. (A per-distinct-char ``filter(chars, c = d)`` counting
    formulation re-inlines the char extraction per distinct char under
    CollapseProject — the minhash-chain pathology — measured 32× slower
    at sf0.1.) Term order is the sorted-alphabet order and the oracle
    folds the identical c·log2(c) list with the identical 0.0 init and
    the same final log2(n) − s/n ops, so the float result is
    engine-identical.

    NOTE: the returned Columns share subtrees; selecting several of them
    in ONE projection re-evaluates the fold per use. The hot path is
    ``char_entropy(df)``, which stages chars → fold → arithmetic so each
    evaluates once."""
    chars = _sorted_chars(text)
    n = F.size(chars)
    folded = _char_run_fold(chars)
    ent = F.log2(n) - folded["s"] / n
    return {
        "n_chars": n,
        "n_distinct_chars": folded["k"],
        "char_entropy": F.when(n == 0, F.lit(0.0)).otherwise(F.round(ent, 6)),
    }


def char_entropy(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Staged hot path for char entropy: the sorted char array and the
    run fold each live in their OWN projection, so the multi-use
    subtrees are referenced, not textually re-inlined — chars extract
    once, the fold runs once, only the final arithmetic fans out."""
    s1 = df.select(F.col(id_col), _sorted_chars(F.col(text_col)).alias("__cs"))
    s2 = s1.select(
        F.col(id_col),
        F.size("__cs").alias("n_chars"),
        _char_run_fold(F.col("__cs")).alias("__f"),
    )
    n = F.col("n_chars")
    ent = F.log2(n) - F.col("__f")["s"] / n
    return s2.select(
        F.col(id_col),
        n.alias("n_chars"),
        F.col("__f")["k"].alias("n_distinct_chars"),
        F.when(n == 0, F.lit(0.0)).otherwise(F.round(ent, 6)).alias("char_entropy"),
    )


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text analysis: all quality features + language + fingerprint."""
    text = F.col(text_col)
    cols = quality_features(text)
    cols["lang_pred"] = language_id(text)
    cols["fingerprint"] = fingerprint(text)
    return df.withColumns(cols)


# ---------------------------------------------------------------------------
# Benchmark decontamination — token-n-gram overlap vs an eval corpus
# ---------------------------------------------------------------------------


def ngram_hashes_from_tokens(tk: Column, n: int = 13) -> Column:
    """Distinct hashed token n-grams from a token-array column:
    enumerate start offsets with ``sequence``, hash each n-token window
    via ``xxhash64(concat_ws(...))`` inside a ``transform`` — one pass,
    whole-stage codegen, no Python. Documents shorter than ``n`` tokens
    yield an empty array (``sequence(1, size-n+1)`` would count DOWN for
    short docs, hence the explicit guard).

    ``tk`` MUST be a materialized column reference, not the raw
    ``split(...)`` tree: the split appears (textually once) inside the
    transform lambda, and Catalyst legally inlines single-use upstream
    trees into lambdas that then execute once PER ELEMENT — re-splitting
    the whole document for every gram, O(len²) per doc (measured 80×
    on the sf0.1 corpus; same CollapseProject pathology as the MinHash
    signature fold, dedup.py). Projecting the token array under an alias
    first makes it a multi-use non-cheap alias, which CollapseProject
    keeps as-is. ``ngram_hashes`` below stages this correctly."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(tk, i, n))),
    )
    return F.when(F.size(tk) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<bigint>")
    )


def ngram_hashes(
    df: DataFrame, text_col: str, out_col: str, n: int = 13
) -> DataFrame:
    """Append a distinct-hashed-token-n-gram column. Two projections by
    design — tokens materialized under an alias, then the gram transform
    over the alias — so the tokenizer runs once per document, not once
    per gram (see ``ngram_hashes_from_tokens``)."""
    tk = "_ngram_tokens"
    return (
        df.withColumn(tk, tokens(F.col(text_col)))
        .withColumn(out_col, ngram_hashes_from_tokens(F.col(tk), n))
        .drop(tk)
    )


def ngram_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    broadcast_benchmark: bool = True,
    keep_clean: bool = False,
) -> DataFrame:
    """Benchmark decontamination: per-training-document overlap with an
    evaluation corpus, measured as shared distinct token n-grams (the
    GPT-3/PaLM-style 13-gram contamination check). Returns one row per
    contaminated document — ``(id, matched_ngrams, total_ngrams,
    overlap_frac)`` — or every training document when ``keep_clean``.

    Distributed shape: the benchmark side collapses to a distinct set of
    64-bit n-gram hashes — eval sets are MB-scale against a 100 TB train
    corpus, so it broadcasts (set ``broadcast_benchmark=False`` to
    shuffle-join a corpus-sized right side instead). The train side
    explodes its per-doc distinct hash array and left-joins the
    broadcast set, so the only wide exchange is the per-doc count
    aggregation of (id, 8-byte hash) tuples — text never shuffles.
    Hashing trades exactness for never moving strings; at 64 bits a
    million-gram eval set collides with probability ~1e-7."""
    # explode_outer + explicit isNotNull, NOT plain explode: explode
    # makes InferFiltersFromGenerate add a `size(grams) > 0` predicate
    # that pushes below the token projection and re-inlines the gram
    # tree into a per-doc filter (the O(len²) pathology again, this
    # time at filter eval). explode_outer infers nothing; the null rows
    # die on the cheap post-generate isNotNull.
    bench = (
        ngram_hashes(benchmark.select(text_col), text_col, "_grams", n)
        .select(F.explode_outer("_grams").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    exploded = ngram_hashes(
        train.select(id_col, text_col), text_col, "_grams", n
    ).select(
        F.col(id_col),
        F.size("_grams").cast("long").alias("total_ngrams"),
        F.explode_outer("_grams").alias("g"),
    )
    out = (
        exploded.join(bench, "g", "left")
        .groupBy(id_col, "total_ngrams")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("matched_ngrams"))
        .select(
            id_col,
            "matched_ngrams",
            "total_ngrams",
            F.round(
                F.col("matched_ngrams").cast("double")
                / F.greatest(F.col("total_ngrams"), F.lit(1)),
                6,
            ).alias("overlap_frac"),
        )
    )
    return out if keep_clean else out.filter(F.col("matched_ngrams") >= 1)


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the O(1)-artifact alternative to the
# broadcast-join 13-gram check above
# ---------------------------------------------------------------------------

def ngram_strings_from_tokens(tk: Column, n: int = 13) -> Column:
    """Distinct token n-grams as STRINGS (space-joined) — the form the
    md5-position bloom path hashes on both engines. Same staging
    discipline as ``ngram_hashes_from_tokens`` (tk must be an alias)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
    )
    return F.when(F.size(tk) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def bloom_positions_from_hex(h: Column, m_bits: int, k: int) -> Column:
    """The ``k`` bit positions from an ALREADY-COMPUTED md5 hex string:
    disjoint 8-hex-char slices mod ``m_bits``. Callers must md5 the
    gram ONCE and pass the hex — building the array from ``md5(g)``
    inline duplicates the md5 subtree per slice, and higher-order-
    function lambdas get no common-subexpression elimination (k=4
    md5s per gram, measured 4× the probe cost). md5's 32 hex chars
    bound k ≤ 4."""
    return F.array(
        *[
            (F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("long") % m_bits)
            for j in range(k)
        ]
    )


def bloom_positions(g: Column, m_bits: int, k: int) -> Column:
    """Bit positions of one n-gram — md5 evaluated once, replicable in
    any engine with md5 (the same cross-engine discipline as the
    minhash oracle's hash pairs). Prefer ``bloom_positions_from_hex``
    with a staged md5 column when probing inside HOF lambdas."""
    return bloom_positions_from_hex(F.md5(g), m_bits, k)


def train_bloom_filter(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 13,
    m_bits: int = 65536,
    k: int = 4,
) -> list[int]:
    """Build the benchmark bloom filter DISTRIBUTED: explode the eval
    set's distinct grams to their bit positions, distinct-reduce (the
    shuffle is bounded by ``m_bits`` rows), and collect only the set
    positions — an O(m_bits/8)-byte trained artifact (8 KiB at the
    default), the same bounded-collect discipline as IVF centroids and
    the tokenizer vocab. Returns the filter as ``m_bits/64`` packed
    longs ready to closure-ship.

    vs. ``ngram_contamination``: the broadcast-join check ships the
    full distinct gram-hash set (O(|eval grams|) — MBs for a real eval
    suite) and is exact; the bloom artifact is constant-size with a
    tunable false-positive rate and ZERO join on the probe side — the
    standard first-pass filter before the exact check at 100 TB."""
    tk = "_bloom_tokens"
    pos = (
        benchmark.select(text_col)
        .withColumn(tk, tokens(F.col(text_col)))
        .select(ngram_strings_from_tokens(F.col(tk), n).alias("_grams"))
        .select(F.explode_outer("_grams").alias("g"))
        .filter(F.col("g").isNotNull())
        .select(F.md5("g").alias("h"))  # md5 once, staged before the slices
        .select(
            F.explode(bloom_positions_from_hex(F.col("h"), m_bits, k)).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in pos:
        p = int(r["p"])
        words[p // 64] |= 1 << (p % 64)
    # pack to SIGNED 64-bit so the literals round-trip Spark's LongType
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_contamination(
    train: DataFrame,
    bloom_words: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    m_bits: int = 65536,
    k: int = 4,
) -> DataFrame:
    """Probe every training document's n-grams against the trained
    bloom filter — entirely MAP-SIDE: the filter is a 1024-long literal
    array in the closure, the per-gram test is k word-index/bit-mask
    probes inside a higher-order ``filter``, and the per-doc counts come
    out of the same projection. No join, no shuffle, no Python — the
    probe cost at 100 TB is pure codegen over the scan.

    Returns one row per training doc: ``id_col, total_ngrams,
    n_flagged, bloom_contaminated`` (n_flagged counts distinct grams
    whose k bits are all set — true matches plus the filter's
    deterministic false positives, which an oracle replaying the same
    md5 positions reproduces exactly)."""
    words = F.array(*[F.lit(w).cast("long") for w in bloom_words])
    tk, gr = "_bloom_tokens", "_bloom_grams"

    def bit_set(p: Column) -> Column:
        word = F.element_at(words, (p / 64).cast("int") + 1)
        # call_function: the SQL shiftleft takes a column bit count,
        # the pyspark wrapper only a python int
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        return word.bitwiseAND(mask) != 0

    # md5 each gram ONCE in its own transform, then probe positions from
    # the staged hex — the HOF-lambda analog of the CollapseProject
    # staging rule (no common-subexpression elimination inside lambdas;
    # inlining md5 into the position array costs k=4 md5s per gram)
    hx = "_bloom_md5"
    flagged = F.filter(
        F.col(hx),
        lambda h: F.forall(
            bloom_positions_from_hex(h, m_bits, k), lambda p: bit_set(p)
        ),
    )
    return (
        train.select(F.col(id_col), F.col(text_col))
        .withColumn(tk, tokens(F.col(text_col)))
        .withColumn(gr, ngram_strings_from_tokens(F.col(tk), n))
        .withColumn(hx, F.transform(F.col(gr), lambda g: F.md5(g)))
        .select(
            F.col(id_col),
            F.size(gr).cast("long").alias("total_ngrams"),
            F.size(flagged).cast("long").alias("n_flagged"),
        )
        .withColumn("bloom_contaminated", F.col("n_flagged") >= 1)
    )


# ---------------------------------------------------------------------------
# BPE merge training — real byte-pair-encoding over the distributed
# word histogram (Sennrich et al., ACL'16)
# ---------------------------------------------------------------------------

def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
) -> list[tuple[str, str, str, int]]:
    """Train ``n_merges`` BPE merges: per iteration, count adjacent
    symbol pairs over the word HISTOGRAM (pair frequency weighted by
    word count — the standard trick that bounds every iteration by the
    vocabulary, not the corpus), pick the argmax under the total order
    (count DESC, pair ASC — deterministic, engine-reproducible), apply
    the merge map-side, repeat. Returns [(left, right, merged,
    weighted_count)] — the trained artifact is O(n_merges).

    Scale shape: ONE corpus-wide shuffle up front (word histogram);
    each iteration then shuffles only (pair, count) rows bounded by
    |vocab| × avg word length, plus a 1-row argmax collect — the same
    bounded-driver-traffic discipline as the tokenizer vocab.

    Word encoding: symbols joined with DOUBLE spaces and double-space
    padding at both ends (``"  h  i  "``). A merge (a, b) is then
    ``replace(enc, ' a  b ', ' ab ')`` — each match consumes ONE space
    from each surrounding gap and the replacement restores it, so
    left-to-right non-overlapping replace() merges every adjacent
    occurrence in one pass (the naive single-space encoding misses
    every second occurrence in runs like ``a b a b``). replace() has
    identical semantics in Spark and DuckDB, which is what makes the
    oracle an exact replay."""
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # split to characters via zero-width lookbehind (Java regex; every
    # char becomes a symbol), then the double-space encoding
    chars = F.split(F.col("w"), "(?<=.)")
    enc0 = F.concat(F.lit("  "), F.concat_ws("  ", chars), F.lit("  "))
    state = words.select("w", "cnt", enc0.alias("enc"))
    merges: list[tuple[str, str, str, int]] = []
    for _ in range(n_merges):
        toks = F.filter(F.split(F.col("enc"), "  "), lambda x: x != "")
        # guard single-symbol words: sequence(1, 0) counts DOWN in Spark
        # (same trap as ngram_hashes_from_tokens)
        pairs = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        best = (
            state.select(F.col("cnt"), F.explode(pairs).alias("p"))
            .groupBy("p")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("p").asc())
            .limit(1)
            .collect()
        )
        if not best:  # pragma: no cover - corpus exhausted of pairs
            break
        left, right = best[0]["p"].split(" ")
        merged, wc = left + right, int(best[0]["c"])
        merges.append((left, right, merged, wc))
        state = state.select(
            "w",
            "cnt",
            F.call_function(
                "replace",
                F.col("enc"),
                F.lit(f" {left}  {right} "),
                F.lit(f" {merged} "),
            ).alias("enc"),
        )
    return merges


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply trained BPE merges map-side: every word is char-encoded
    (the same double-space form as training) and each merge is one
    replace() in training order, all inside a single higher-order
    ``transform`` over the word array — pure codegen'd Column ops, no
    join, no shuffle, no Python. This is the tokenizer-APPLY leg of the
    loop (``bpe_train`` is the trainer); the per-doc output is the
    compression the merges bought.

    Returns ``id_col, n_words, n_chars_tokenized, n_bpe_tokens`` — all
    exact integers."""
    words_raw = tokens(F.col(text_col))

    def segment_count(w: Column) -> Column:
        chars = F.split(w, "(?<=.)")
        e = F.concat(F.lit("  "), F.concat_ws("  ", chars), F.lit("  "))
        for left, right, merged, _ in merges:
            e = F.call_function(
                "replace", e, F.lit(f" {left}  {right} "), F.lit(f" {merged} ")
            )
        return F.size(F.filter(F.split(e, "  "), lambda x: x != ""))

    staged = df.select(
        F.col(id_col),
        F.filter(words_raw, lambda w: F.length(w) > 0).alias("__w"),
    )
    per_word = F.transform(F.col("__w"), segment_count)
    return staged.select(
        F.col(id_col),
        F.size("__w").cast("long").alias("n_words"),
        F.aggregate(
            F.transform(F.col("__w"), F.length),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars_tokenized"),
        F.aggregate(
            per_word, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Rolling-hash fingerprints (winnowing) — partial-overlap detection
# ---------------------------------------------------------------------------

WINNOW_PRIME = 1_000_000_007
WINNOW_BASE = 257


def rolling_fingerprints(text_col: Column, k: int = 8, window: int = 4) -> Column:
    """Winnowed rolling-hash fingerprints (Schleimer et al., "Winnowing:
    Local Algorithms for Document Fingerprinting", SIGMOD'03): hash every
    k-gram of the normalized text with a polynomial rolling hash, then
    keep the minimum hash of each ``window`` of consecutive k-grams
    (rightmost-min tie-break), deduplicating consecutive picks.

    Guarantees: any shared substring of length ≥ k + window - 1 between
    two documents yields at least one shared fingerprint — the basis for
    partial-overlap/plagiarism-style dedup that whole-document hashing
    (``fingerprint``) cannot see.

    Arrow-batched numpy kernel: the per-doc work is a sliding-window
    matmul (n-k+1, k) @ powers  mod p — vectorized, no Python loop over
    characters. Returns array<bigint> (sorted distinct)."""
    import numpy as np
    from pyspark.sql import types as T

    powers = np.array(
        [pow(WINNOW_BASE, k - 1 - j, WINNOW_PRIME) for j in range(k)], dtype=np.int64
    )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def winnow(texts: pd.Series) -> pd.Series:
        # hash the whole Arrow batch in ONE sliding-window matmul over
        # the concatenated byte buffer (per-doc slices are recovered by
        # offset — k-grams never straddle a boundary because each doc's
        # slice ends k-1 positions early); only the cheap per-doc
        # sliding-min winnowing stays in the loop.
        encs = []
        for t in texts:
            if t is None:
                encs.append(None)
            else:
                encs.append(" ".join(t.lower().split()).encode("utf-8"))
        blobs = [e for e in encs if e]
        buf = (
            np.frombuffer(b"".join(blobs), dtype=np.uint8).astype(np.int64)
            if blobs
            else np.zeros(0, dtype=np.int64)
        )
        if len(buf) >= k:
            grams = np.lib.stride_tricks.sliding_window_view(buf, k)
            # values ≤ 255·p per term, k terms: < 2^63 — no overflow
            all_hashes = (grams * powers).sum(axis=1) % WINNOW_PRIME
        else:
            all_hashes = np.zeros(0, dtype=np.int64)
        out = []
        pos = 0
        for e in encs:
            if e is None:
                out.append(None)
                continue
            n = len(e)
            if n < k:
                out.append([])
                pos += n
                continue
            hashes = all_hashes[pos : pos + n - k + 1]
            pos += n
            if len(hashes) <= window:
                out.append([int(hashes.min())])
                continue
            wins = np.lib.stride_tricks.sliding_window_view(hashes, window)
            # rightmost minimum per window (standard winnowing tie-break)
            rev_arg = window - 1 - np.argmin(wins[:, ::-1], axis=1)
            picks = wins[np.arange(len(wins)), rev_arg]
            out.append(sorted(set(int(x) for x in picks)))
        return pd.Series(out)

    return winnow(text_col)


def winnow_overlap_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 25,
    window: int = 16,
    min_shared: int = 2,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Candidate partially-overlapping pairs: documents sharing at least
    ``min_shared`` winnowed fingerprints. Same scale shape as the other
    near-dup finders: explode fingerprints, bucket by fingerprint value
    (capping degenerate buckets), expand intra-bucket pairs JVM-side,
    then count shared prints per pair — shuffles only (id, fingerprint)
    tuples, never text.

    Parameter discipline matters here more than anywhere else in the
    dedup suite: a small ``k`` turns common boilerplate phrases into
    fingerprints shared by thousands of documents, and the intra-bucket
    pair expansion goes quadratic on zero-signal buckets (measured:
    k=8/window=4 on the 5k-doc synthetic corpus emitted 10.6M pairs in
    70 s; k=25/window=16 finds the true 348 overlaps). MOSS-style
    guarantees hold at any k — pick k ≥ the shortest match worth
    reporting (25 chars ≈ 4-5 words) and cap fingerprint buckets hard:
    a print shared by ``max_bucket_size`` docs is boilerplate, not
    overlap."""
    from warp_spark.skew import ensure_min_partitions

    # the fingerprint UDF is the CPU stage — give it a partition per
    # core even when the source is one parquet split (same move as
    # dedup.simhash_near_pairs). explode_outer + isNotNull, NOT plain
    # explode: explode's inferred `size(fps) > 0` filter pushes below
    # the repartition Exchange and ExtractPythonUDFs then materializes a
    # SECOND ArrowEvalPython for it — the whole winnow kernel ran twice,
    # once single-task on the pre-repartition file split (2.4× measured)
    fp = (
        ensure_min_partitions(df.select(id_col, text_col))
        .select(
            F.col(id_col), rolling_fingerprints(F.col(text_col), k, window).alias("fps")
        )
        .select(F.col(id_col), F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    from warp_spark.pipeline.dedup import bucket_pair_lists

    buckets = fp.groupBy("fp").agg(F.collect_list(id_col).alias("m"))
    m = F.col("m")
    pair_lists = bucket_pair_lists(
        m,
        lambda x, y: F.struct(
            F.least(x, y).alias("id_a"), F.greatest(x, y).alias("id_b")
        ),
    )
    return (
        buckets.filter(F.size(m).between(2, max_bucket_size))
        .select(F.explode(pair_lists).alias("p"))
        .select("p.*")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Vocabulary tokenization — corpus-trained token→id mapping applied as a
# broadcast map (the "apply the tokenizer" step of a training pipeline)
# ---------------------------------------------------------------------------

def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 512,
) -> list[tuple[str, int]]:
    """Train a frequency vocabulary over the BPE-ish tokens: the top
    ``vocab_size`` tokens by (count DESC, token ASC) — a total order, so
    the cutoff is deterministic and engine-reproducible. Ids start at 1;
    0 is reserved for OOV.

    The count is fully distributed (explode → partial/final groupBy);
    only the ``vocab_size``-row result is collected — the vocab is the
    small trained artifact of this operator, exactly like IVF centroids
    (similarity.py), and is then closure-shipped to executors as a map
    literal."""
    toks = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), F.lit(0))
    ).alias("tok")
    top = (
        df.select(toks)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .collect()
    )
    return [(r["tok"], i + 1) for i, r in enumerate(top)]


def tokenize_ids(
    df: DataFrame,
    vocab: list[tuple[str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Map every document to its token-id sequence under ``vocab``
    (unknown tokens → 0). Pure map-side HOFs over a literal map — no
    join, no shuffle, no Python: the scale cost is one codegen'd map
    probe per token."""
    mapping = F.create_map(
        *[lit for tok, tid in vocab for lit in (F.lit(tok), F.lit(tid))]
    )
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), F.lit(0))
    ids = F.transform(toks, lambda t: F.coalesce(F.element_at(mapping, t), F.lit(0)))
    return df.select(
        F.col(id_col),
        ids.alias("token_ids"),
        F.size(ids).alias("n_tokens"),
        F.size(F.filter(ids, lambda i: i == 0)).alias("n_oov"),
    )


def source_token_kl(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    vocab_size: int = 512,
) -> DataFrame:
    """Distribution drift per corpus slice: KL(p_s ‖ q) in bits between
    each group's token distribution p_s and the corpus-wide q, over the
    trained top-``vocab_size`` vocabulary — the signal a mixture monitor
    watches when a new crawl slice arrives.

    Scale shape: one explode→(group, id) count shuffle bounded by corpus
    tokens; everything after lives on the counts table (≤ groups×vocab
    rows), where the group/global totals are window sums and the KL term
    list is folded per group in ascending-id order (sort_array over the
    collected struct list) — deterministic float summation, same
    discipline as the char-entropy fold. Zero-count terms contribute 0
    and are simply absent; q(t) > 0 for every vocab token by
    construction."""
    vocab = build_vocab(df, text_col, vocab_size)
    mapping = F.create_map(
        *[lit for tok, tid in vocab for lit in (F.lit(tok), F.lit(tid))]
    )
    from pyspark.sql.window import Window

    tok_exp = df.select(
        F.col(group_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), F.lit(0))
        ).alias("tok"),
    ).select(F.col(group_col), F.element_at(mapping, F.col("tok")).alias("id"))
    cs = (
        tok_exp.filter(F.col("id").isNotNull())
        .groupBy(group_col, "id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_s = F.sum("c").over(Window.partitionBy(group_col))
    cg = F.sum("c").over(Window.partitionBy("id"))
    n = F.sum("c").over(Window.partitionBy())
    p = F.col("c").cast("double") / F.col("n_s")
    q = F.col("cg").cast("double") / F.col("n")
    staged = cs.select(
        F.col(group_col),
        F.col("id"),
        n_s.alias("n_s"),
        cg.alias("cg"),
        n.alias("n"),
        F.col("c"),
    ).select(
        F.col(group_col),
        F.col("id"),
        F.col("n_s"),
        (p * F.log2(p / q)).alias("t"),
    )
    return staged.groupBy(group_col).agg(
        F.max("n_s").alias("n_tokens_in_vocab"),
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("id", "t"))),
                F.lit(0.0),
                lambda acc, x: acc + x["t"],
            ),
            6,
        ).alias("kl_bits"),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 512,
) -> DataFrame:
    """Language-model quality proxy (the CCNet/perplexity-filter shape):
    train an add-one-smoothed bigram model over the corpus's token-id
    sequences (OOV = id 0 participates like any token) and score every
    document by its average log2 bigram probability — low scores mark
    gibberish and boilerplate the per-doc ratio features miss.

    Scale shape: the model's two counts (each bigram's, and its
    context's) are window counts over the exploded bigram stream, both
    over ONE exchange on ``prev`` (the (prev, cur) window's clustering
    is implied by it), so the corpus is tokenized and shuffled once and
    no count table is joined back. A window buffers its ``prev`` group,
    which spills to disk for a very frequent context token. The per-doc
    average folds its terms in POSITION order from a sorted collected
    list, so the float summation order is pinned and the DuckDB oracle
    replays the identical fold."""
    from pyspark.sql.window import Window

    ids = tokenize_ids(df, build_vocab(df, text_col, vocab_size), id_col, text_col)
    n = F.col("n_tokens")
    # a guard, not a filter: a pushed-down filter re-inlines the
    # tokenizer below it; a NULL array explodes to no rows
    big_arr = F.when(n >= 2, F.zip_with(
        F.slice(F.col("token_ids"), 1, n - 1),
        F.slice(F.col("token_ids"), 2, n - 1),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    ))
    big = (
        ids.select(F.col(id_col), F.posexplode(big_arr).alias("pos", "bg"))
        .select(F.col(id_col), "pos", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    )
    denom = vocab_size + 1  # vocabulary including the OOV id
    terms = (
        big.withColumn("cc", F.count(F.lit(1)).over(Window.partitionBy("prev")))
        .withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("prev", "cur")))
        .select(
            F.col(id_col),
            "pos",
            F.log2((F.col("c") + 1).cast("double") / (F.col("cc") + denom)).alias("t"),
        )
    )
    agg = terms.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("pos", "t"))),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("__s"),
    )
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.when(
                F.col("n_bigrams") > 0, F.round(F.col("__s") / F.col("n_bigrams"), 6)
            ).alias("avg_log2_prob"),
        )
    )


# ---------------------------------------------------------------------------
# DataFrame-level PII redaction (the catalog / hot-path form of
# scrub_pii above)
# ---------------------------------------------------------------------------

# scrub_pii's rules plus an SSN-shaped rule.  ORDER IS SEMANTICS —
# rules apply sequentially, each on the text the previous rule
# produced: the IPv4 rule must precede the loose phone rule (an IP is
# a phone-shaped digit run) and so must the SSN rule (a 3-2-4 group is
# too).  Patterns stay in the Java-regex ∩ RE2 subset like
# PII_PATTERNS (no lookaround/backrefs).
PII_RULES = [PII_PATTERNS[0], PII_PATTERNS[1]] + [
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    PII_PATTERNS[2],
]


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """DataFrame-level staged variant of ``scrub_pii``: same sequential
    count-then-replace semantics (each count is of ACTUAL redactions —
    taken on the text state its rule sees, so overlapping categories
    never double-count one span), but each intermediate text lives in
    its OWN projection.  ``scrub_pii`` nests the replace chain inside
    every count expression — fine for ad-hoc Column use, but the
    nesting re-evaluates each regexp_replace once per downstream
    reader; the staged form runs every regex exactly once per row, the
    shape a 100 TB scrub pass needs.  Still pure JVM Column ops in
    whole-stage codegen; nothing shuffles.

    Emits ``id_col, n_email, n_ipv4, n_ssn, n_phone, redacted_md5`` —
    the md5 of the fully-redacted text proves the replacement BYTES
    (not just the counts) match the differential oracle.
    """
    out = df.select(F.col(id_col), F.col(text_col).alias("__t0"))
    for i, (name, pat, tag) in enumerate(PII_RULES):
        cur, nxt = f"__t{i}", f"__t{i + 1}"
        kept = [id_col] + [f"n_{n}" for n, _, _ in PII_RULES[:i]]
        out = out.select(
            *kept,
            F.regexp_count(F.col(cur), F.lit(pat)).cast("long").alias(f"n_{name}"),
            F.regexp_replace(F.col(cur), pat, tag).alias(nxt),
        )
    final = f"__t{len(PII_RULES)}"
    return out.select(
        F.col(id_col),
        *[F.col(f"n_{n}") for n, _, _ in PII_RULES],
        F.md5(F.col(final)).alias("redacted_md5"),
    )


def dsir_importance(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS'23): score
    every raw-pool document by how target-like its hashed n-gram
    feature counts are under two smoothed bag-of-buckets models —
    log w(d) = Σ_k c_dk · log( p_target(k) / p_raw(k) ) — so
    resampling by w shifts the raw pool toward the target domain.
    Features here are hashed unigram tokens (md5 prefix mod
    ``buckets``); the bucket space is the generalization axis — the
    paper's bigrams are one concat away.  Weights are in log2 (a
    constant factor off the paper's ln; rank order identical).

    Float discipline: bucket models use +1 smoothing over exact
    integer counts; each bucket's log-ratio is ONE log2 of an
    exactly-represented rational (products < 2^53), and each
    document's terms fold in ascending-bucket order from a 0.0 init —
    the KL-fold recipe, so the SQL replay value-matches.

    Scale shape: one explode→(doc, bucket) count shuffle bounded by
    corpus tokens; the model is a ``buckets``-row table (window sums
    over it are bounded by the bucket count) broadcast back onto the
    per-doc counts.  Nothing O(corpus) ever sits on one task or the
    driver.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        is_target.alias("__tgt"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), F.lit(0))
        ).alias("tok"),
    )
    # md5-prefix bucket: DuckDB replays ('0x' || substring(md5(tok),1,8))::BIGINT % buckets
    k = (F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long") % buckets)
    kt = toks.select(F.col(id_col), "__tgt", k.alias("k"))
    counts = kt.groupBy("k").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("__tgt"), 0).otherwise(1)).alias("cr"),
    )
    w_all = Window.partitionBy()
    nt = F.sum("ct").over(w_all)
    nr = F.sum("cr").over(w_all)
    staged = counts.select("k", "ct", "cr", nt.alias("nt"), nr.alias("nr"))
    lr = staged.select(
        "k",
        F.log2(
            ((F.col("ct") + 1).cast("double") * (F.col("nr") + buckets))
            / ((F.col("cr") + 1).cast("double") * (F.col("nt") + buckets))
        ).alias("lr"),
    )
    cd = (
        kt.filter(~F.col("__tgt"))
        .groupBy(id_col, "k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    terms = cd.join(F.broadcast(lr), "k").select(
        F.col(id_col), F.col("k"), F.col("c"), (F.col("c") * F.col("lr")).alias("t")
    )
    return terms.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("k", "t"))),
                F.lit(0.0),
                lambda acc, x: acc + x["t"],
            ),
            6,
        ).alias("dsir_log2w"),
    )


# ---------------------------------------------------------------------------
# n-gram novelty — per-document first-occurrence rate (round 8)
# ---------------------------------------------------------------------------


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's
    distinct token n-grams that first appear in THIS document when the
    corpus is walked in ``id_col`` order — the data-freshness signal a
    training pipeline uses to decide whether late-crawled documents
    still add anything beyond what earlier snapshots covered (the
    complement of Lee et al.'s duplicate-span census: spans measure
    repetition, novelty measures contribution).

    Plan (all JVM-side, Θ(distinct grams) shuffle of 8-byte hashes —
    document text never shuffles, same discipline as
    ngram_contamination above):
      1. explode each doc's DISTINCT hashed n-grams (staged token
         array, see ngram_hashes_from_tokens for the CollapseProject
         trap it avoids);
      2. min(doc_id) per gram — the gram's first document;
      3. join back on the gram hash (the groupBy and the join share
         the same key, so AQE reuses one Exchange) and count, per doc,
         how many grams it owns first.
    Documents with fewer than ``n`` tokens have no grams and are
    reported with n_grams = 0, novelty 0.
    """
    # explode_outer + isNotNull, NOT plain explode: explode's inferred
    # `size(grams) > 0` filter re-inlines the gram tree per doc (the
    # O(len²) CollapseProject pathology — see ngram_contamination)
    pairs = (
        ngram_hashes(df.select(id_col, text_col), text_col, "__nv_g", n)
        .select(id_col, F.explode_outer("__nv_g").alias("gh"))
        .filter(F.col("gh").isNotNull())
    )
    first = pairs.groupBy("gh").agg(F.min(id_col).alias("__first_doc"))
    per_doc = (
        pairs.join(first, "gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("__first_doc") == F.col(id_col), 1).otherwise(0)
            ).cast("long").alias("novel_grams"),
        )
    )
    # left join so gram-less (short) docs still report a row
    base = df.select(id_col)
    out = base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("novel_grams", F.lit(0)).cast("long").alias("novel_grams"),
    )
    # exact-ppm rate, floor(x+0.5) half-up: novel*1e6 is integer-exact
    # in a double and IEEE division is deterministic cross-engine,
    # unlike round() on a boundary-prone ratio (see validate_rules)
    return out.withColumn(
        "novelty_ppm",
        F.floor(
            (F.col("novel_grams") * F.lit(1_000_000)).cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
            + F.lit(0.5)
        ).cast("long"),
    )


def oov_report(
    df: DataFrame,
    group_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 24,
) -> DataFrame:
    """Tokenizer-coverage report: train a top-``vocab_size`` frequency
    vocab on the corpus (build_vocab — deterministic count DESC, token
    ASC cutoff), then roll up per ``group_cols`` the exact token and
    OOV counts and the OOV rate in ppm — the pre-flight a training
    pipeline runs before committing to a tokenizer: which
    language/source slices will shred into unknown tokens.

    Scale: the vocab is a bounded trained artifact (collected once,
    closure-shipped as a map literal); scoring is tokenize_ids' pure
    map-side probe — no shuffle until the final small groupBy."""
    vocab = build_vocab(df, text_col=text_col, vocab_size=vocab_size)
    scored = tokenize_ids(df, vocab, id_col=id_col, text_col=text_col)
    joined = df.select(id_col, *group_cols).join(scored, id_col)
    ppm = F.floor(
        (F.sum("n_oov") * F.lit(1_000_000)).cast("double")
        / F.greatest(F.sum("n_tokens"), F.lit(1)).cast("double")
        + F.lit(0.5)
    ).cast("long")
    return (
        joined.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_oov").cast("long").alias("oov_tokens"),
            ppm.alias("oov_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 ranking — the lexical leg of retrieval, exact cross-engine (round 8)
# ---------------------------------------------------------------------------


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-``k`` per query (Robertson-Spärck Jones):
    score(q, d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = log2((N − df + ½)/(df + ½) + 1).

    Cross-engine exact by construction: every model input (tf, df, dl,
    N, Σdl) is an exact integer; each per-term contribution is one
    fixed-parenthesization double expression over those integers
    (mirrored verbatim in the SQL oracle — per-row IEEE arithmetic is
    bit-identical); per-(query, doc) scores fold term contributions in
    ascending-term order from a 0.0 init (the KL-fold discipline); and
    ranking ties break on the doc id.  avgdl enters as dl·N/Σdl with
    the division LAST so both engines divide identical doubles.

    Scale shape: the query set is a literal broadcast (a handful of
    terms); the corpus explodes only tokens MATCHING query terms
    (filter inside the array before the generator, so the exploded
    volume is Θ(query-term hits), not Θ(corpus tokens)); df/N/Σdl are
    bounded aggregates; the final top-k is one per-query window over
    the scored candidates.  Document text never shuffles.
    """
    from pyspark.sql.window import Window

    terms = sorted({t for _, ts in queries for t in ts})
    term_lits = F.array(*[F.lit(t) for t in terms])
    spark = docs.sparkSession

    tk = "_bm25_tk"
    base = (
        docs.select(F.col(id_col), F.col(text_col))
        .withColumn(tk, tokens(F.col(text_col)))
        .select(
            id_col,
            F.size(tk).cast("long").alias("dl"),
            F.filter(tk, lambda t: F.array_contains(term_lits, t)).alias("__hits"),
        )
    )
    tf = (
        base.select(id_col, "dl", F.explode_outer("__hits").alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    row = stats.first()
    n_docs, total_dl = row["n_docs"], row["total_dl"]
    if not n_docs or not total_dl:
        # empty corpus (or all-empty documents): sum("dl") is NULL and
        # the avgdl division below would be 0/0 — short-circuit to an
        # empty result with the output schema
        return small_rows_df(
            spark, [], f"query_id long, rank int, {id_col} long, score_ppm long"
        )
    qdf = small_rows_df(
        spark,
        [(qid, t) for qid, ts in queries for t in set(ts)],
        "query_id long, term string",
    )
    joined = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qdf), "term")
    )
    idf = F.log2(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0)
        - F.lit(b)
        + F.lit(b) * F.col("dl") * F.lit(float(n_docs)) / F.lit(float(total_dl))
    )
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / norm
    scored = joined.select(
        "query_id", id_col, F.col("term"), contrib.alias("c")
    )
    per_pair = scored.groupBy("query_id", id_col).agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        per_pair.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            id_col,
            F.floor(F.col("score") * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long")
            .alias("score_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf frequency spectrum — the corpus-law report (round 9)
# ---------------------------------------------------------------------------


def zipf_spectrum(
    docs: DataFrame,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` token frequency spectrum with an exact least-squares
    Zipf fit over (log2 rank, log2 count) — the corpus-law health
    report (a natural corpus has slope ≈ −1; template/boilerplate
    floods flatten the head, spam inflates the tail).

    Cross-engine float discipline: the four regression sums fold
    rank-ascending from a 0.0 init with per-term fixed
    parenthesization (the KL-fold rule), slope/intercept are staged so
    both engines derive intercept from the SAME slope double, and all
    reported ratios are floor(x·1e6 + 0.5) ppm.

    Scale shape: token counts are one map-side-combinable groupBy; the
    top-k head is a distributed TakeOrdered (never a global window
    over the vocabulary); ranking, the cumulative-coverage window and
    the fit all run on the bounded k-row artifact; corpus totals cross
    to the driver as one row.
    """
    from pyspark.sql.window import Window

    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("__n_total"),
        F.count(F.lit(1)).cast("long").alias("__vocab"),
    )
    spec = (
        counts.orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
            ),
        )
    )
    wcum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = spec.withColumn("cum_cnt", F.sum("cnt").over(wcum))

    pts = spec.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("rank").alias("r"), F.col("cnt").alias("c")))
        ).alias("a")
    )
    x = lambda s: F.log2(s["r"].cast("double"))  # noqa: E731
    y = lambda s: F.log2(s["c"].cast("double"))  # noqa: E731
    fold = lambda term: F.aggregate(  # noqa: E731
        F.col("a"), F.lit(0.0), lambda acc, s: acc + term(s)
    )
    sums = pts.select(
        F.size("a").cast("double").alias("kk"),
        fold(x).alias("sx"),
        fold(y).alias("sy"),
        fold(lambda s: x(s) * y(s)).alias("sxy"),
        fold(lambda s: x(s) * x(s)).alias("sxx"),
    )
    sl = sums.select(
        "kk",
        "sx",
        "sy",
        (
            (F.col("kk") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("kk") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("slope"),
    )
    fin = sl.select(
        F.floor(F.col("slope") * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("zipf_slope_ppm"),
        F.floor(
            ((F.col("sy") - F.col("slope") * F.col("sx")) / F.col("kk"))
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("zipf_intercept_ppm"),
    )
    from warp_spark.catalog import _scalar_join

    out = _scalar_join(cum, totals, fin)
    return out.select(
        "rank",
        "token",
        F.col("cnt").cast("long").alias("cnt"),
        F.floor(
            (F.col("cnt") * F.lit(1_000_000)).cast("double") / F.col("__n_total")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("freq_ppm"),
        F.floor(
            (F.col("cum_cnt") * F.lit(1_000_000)).cast("double") / F.col("__n_total")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cum_freq_ppm"),
        F.col("__vocab").alias("vocab_size"),
        "zipf_slope_ppm",
        "zipf_intercept_ppm",
    ).orderBy("rank")


def heaps_growth(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct token ``n``-gram TYPES
    observed in the first-``t`` document prefix (``id_col`` order) at
    exponentially spaced prefix thresholds, with a least-squares fit of
    log2 V = intercept + β·log2 N (N = running token count).  Gram
    types, not unigrams: the synthetic corpus has a ~31-word
    vocabulary, so unigram V(n) saturates instantly (the r4
    set-similarity lesson), while gram types keep growing.

    Scale shape — no global prefix window anywhere:
      * thresholds are the ≤64 powers of two up to max(doc_id)+1 (one
        scalar to the driver, the bounded-artifact discipline);
      * prefix totals come from a COVER EXPLODE (each doc/gram emits
        one row per threshold that includes it — Θ(rows·log N), the
        events_active_users pattern) into plain hash aggregations;
      * gram first-occurrence is min(doc_id) per 8-byte gram hash
        (text never shuffles; the string-side oracle certifies no
        collisions);
      * the fit folds over the ≤64-row artifact with the KL-fold
        discipline (ascending-threshold order, 0.0 init, staged β).
    """
    mx = docs.agg(F.max(F.col(id_col))).first()[0]
    if mx is None:
        # empty corpus: max(doc_id) is NULL — short-circuit to a typed
        # empty result (mirrors the bm25_topk empty-corpus guard)
        return small_rows_df(
            docs.sparkSession,
            [],
            "threshold long, n_docs long, cum_tokens long, "
            "gram_vocab long, heaps_beta_ppm long, heaps_intercept_ppm long",
        )
    ts = [1 << j for j in range(64) if (1 << j) <= int(mx) + 1]
    if ts[-1] != int(mx) + 1:
        ts.append(int(mx) + 1)
    th_lit = F.array(*[F.lit(int(t)).cast("long") for t in ts])

    tk = "_hp_tokens"
    per_doc = (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias(tk))
        .select(
            id_col,
            F.size(F.filter(F.col(tk), lambda x: x != F.lit(""))).cast("long").alias("tc"),
        )
    )
    dc = (
        per_doc.select(
            "tc", F.explode(F.filter(th_lit, lambda t: t > F.col(id_col))).alias("t")
        )
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tc").cast("long").alias("cum_tokens"),
        )
    )
    pairs = (
        ngram_hashes(docs.select(id_col, text_col), text_col, "__hp_g", n)
        .select(id_col, F.explode_outer("__hp_g").alias("gh"))
        .filter(F.col("gh").isNotNull())
    )
    fd = pairs.groupBy("gh").agg(F.min(F.col(id_col)).alias("fdoc"))
    gc = (
        fd.select(F.explode(F.filter(th_lit, lambda t: t > F.col("fdoc"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    )
    pts = (
        dc.join(gc, "t", "left")
        .select(
            "t", "n_docs", "cum_tokens",
            F.coalesce(F.col("vocab"), F.lit(0)).cast("long").alias("vocab"),
        )
        .filter((F.col("vocab") >= 1) & (F.col("cum_tokens") >= 1))
    )

    arr = pts.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("t").alias("tt"),
                    F.col("cum_tokens").alias("nn"),
                    F.col("vocab").alias("vv"),
                )
            )
        ).alias("a")
    )
    x = lambda s: F.log2(s["nn"].cast("double"))  # noqa: E731
    y = lambda s: F.log2(s["vv"].cast("double"))  # noqa: E731
    fold = lambda term: F.aggregate(  # noqa: E731
        F.col("a"), F.lit(0.0), lambda acc, s: acc + term(s)
    )
    sums = arr.select(
        F.size("a").cast("double").alias("kk"),
        fold(x).alias("sx"),
        fold(y).alias("sy"),
        fold(lambda s: x(s) * y(s)).alias("sxy"),
        fold(lambda s: x(s) * x(s)).alias("sxx"),
    )
    sl = sums.select(
        "kk", "sx", "sy",
        (
            (F.col("kk") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("kk") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("beta"),
    )
    fin = sl.select(
        F.floor(F.col("beta") * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("heaps_beta_ppm"),
        F.floor(
            ((F.col("sy") - F.col("beta") * F.col("sx")) / F.col("kk"))
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("heaps_intercept_ppm"),
    )
    from warp_spark.catalog import _scalar_join

    return (
        _scalar_join(pts, fin)
        .select(
            F.col("t").alias("threshold"),
            "n_docs",
            "cum_tokens",
            F.col("vocab").alias("gram_vocab"),
            "heaps_beta_ppm",
            "heaps_intercept_ppm",
        )
        .orderBy("threshold")
    )


def pmi_bigrams(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` adjacent-token bigram collocations by pointwise mutual
    information — the classic collocation extractor (Church & Hanks
    1990) every corpus-analysis pass runs to find multi-word units
    worth protecting from tokenizer splits.

    The score is the PMI *lift* ``N·c_ab / (c_left(a)·c_right(b))``
    (= 2^PMI) rather than its logarithm — the ranking is identical (log2
    is monotone) and the lift stays ONE double division of exact
    integers, bit-identical across engines, where log2() is
    libm-dependent at the last ulp (the tfidf lesson, re-measured here:
    Spark vs DuckDB log2 differ by 1 ulp on this corpus).  ``N`` is the
    total bigram count, the marginals are sums of pair counts, and the
    products ride decimal(38,0) (HUGEINT in the oracle); a ``min_count``
    floor suppresses the rare-pair lift explosion.

    Scale shape: one token explode into a map-side-combinable
    (w1, w2) hash aggregate — after which everything operates on the
    DISTINCT-BIGRAM table, never raw tokens: marginals are two re-aggs
    of pair counts, joined back on their own keys (input-fraction
    shuffles); N is a 1-row aggregate inlined as a literal (the
    bounded-artifact discipline); the head is a distributed
    TakeOrdered.  The token arrays are staged under an alias before the
    pair transform (the CollapseProject rule)."""
    from warp_spark.catalog import _scalar_join

    tk = "_pmi_tokens"
    staged = docs.select(
        F.filter(tokens(F.col(text_col)), lambda x: x != F.lit("")).alias(tk)
    )
    pair_col = F.when(
        F.size(F.col(tk)) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col(tk)) - 1),
            lambda i: F.struct(
                F.element_at(F.col(tk), i).alias("w1"),
                F.element_at(F.col(tk), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (
        staged.select(F.explode_outer(pair_col).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.w1", "p.w2")
    )
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    lm = pc.groupBy("w1").agg(F.sum("c_ab").alias("c_left"))
    rm = pc.groupBy("w2").agg(F.sum("c_ab").alias("c_right"))
    n = pc.agg(F.sum("c_ab").cast("decimal(38,0)").alias("__n_pairs"))
    sc = (
        _scalar_join(pc.filter(F.col("c_ab") >= min_count), n)
        .join(lm, "w1")
        .join(rm, "w2")
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_left",
            "c_right",
            (
                (F.col("__n_pairs") * F.col("c_ab")).cast("double")
                / (
                    F.col("c_left").cast("decimal(38,0)") * F.col("c_right")
                ).cast("double")
            ).alias("pmi_lift"),
        )
    )
    return sc.orderBy(F.col("pmi_lift").desc(), "w1", "w2").limit(k)


# ---------------------------------------------------------------------------
# Persistable BM25 lexical index — the retrieval-cost-amortization
# sibling of the IVF-PQ vector index (similarity.py::persist_ivfpq_index)
# ---------------------------------------------------------------------------


def build_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
) -> None:
    """Persist the lexical index as two parquet artifacts: postings
    (term, doc_id, tf, dl) PARTITIONED BY a term-hash bucket — probing
    a query's terms is partition pruning, the inverted file as a
    physical layout — plus the 1-row corpus stats (n_docs, total_dl as
    exact integers).  dl is denormalized into the postings so the
    probe never joins a doc-length table.  Tokenization is byte-
    identical to bm25_topk's (lowercased whitespace split), so a
    probe's scores equal the in-query scorer's exactly."""
    tk = "_bm25_tk"
    base = (
        docs.select(F.col(id_col), F.col(text_col))
        .withColumn(tk, tokens(F.col(text_col)))
        .select(
            id_col,
            F.size(tk).cast("long").alias("dl"),
            F.explode(tk).alias("term"),
        )
    )
    postings = (
        base.groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings"
    )
    # stats WITHOUT a second tokenize pass (r14, guide §1.2): the old
    # form re-tokenized the whole corpus just to count docs and sum
    # lengths.  total_dl = Σ_doc dl = Σ_doc Σ_term tf — an exact
    # identity — so it rolls up from the postings artifact just
    # written (a columnar index scan, never a text re-scan); a doc
    # with no tokens has no postings and contributes 0 either way.
    # n_docs counts ALL docs incl. zero-token ones, so it comes from
    # the docs frame directly — a count(1) that reads no text.
    n_docs = docs.count()
    stats = docs.sparkSession.read.parquet(f"{path}/postings").agg(
        F.lit(int(n_docs)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("tf"), F.lit(0)).cast("long").alias("total_dl"),
        # persisted so the probe derives its bucket modulus from the
        # artifact — an index built with a non-default n_buckets is
        # probed with the RIGHT partition pruning (r10 ADVICE)
        F.lit(int(n_buckets)).cast("int").alias("n_buckets"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


@locked_mutation
def append_bm25_index(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> bool:
    """Absorb a new document slice into a persisted BM25 index WITHOUT
    re-tokenizing the standing corpus (the lexical leg of the
    incremental-maintenance discipline; dedup leg:
    dedup.py::append_dedup_index).  BM25 state is append-friendly by
    construction: postings rows are per (term, doc) — a new doc's rows
    never collide with persisted ones — and the probe re-derives df
    from the postings it reads, so the only mutable state is the 1-row
    stats (n_docs, total_dl), which updates additively in exact
    integers.  Append-then-probe therefore equals
    rebuild-then-probe EXACTLY, with no cap caveat (pytest-pinned).

    No-re-append precondition (r12 verdict item 3): a slice holding
    already-indexed ids would double their postings and inflate the
    stats, silently breaking append ≡ rebuild — so the function
    returns ``False`` (caller must full-rebuild, the
    append_dedup_index contract) when any slice id already appears in
    the postings.  The check is a single-column (column-pruned)
    semi-join over the postings' id column: a common word's bucket
    holds most docs, so partition pruning buys nothing for the
    lexical index — but it reads one long column of the INDEX, never
    a corpus re-tokenization.

    The slice's postings are appended INTO the term-hash bucket
    partitioning (modulus read FROM the stats artifact, never a
    hardcoded constant), so probe-side partition pruning keeps
    working.  Reference analogue: MutableDataset row insertion
    (MutableData.swift:40-63).

    Concurrency: the ENTIRE verb — overlap precondition, postings
    append, stats overwrite — holds the canonical ``<path>.lock``
    (artifacts.locked_mutation, r13 verdict item 3), so two appends,
    or an append racing a delete/compact, serialize instead of both
    passing the precondition."""
    tk = "_bm25_tk"
    st = spark.read.parquet(f"{path}/stats").first()
    n_buckets = int(st["n_buckets"]) if "n_buckets" in st.asDict() else 16
    # ONE tokenize pass over the slice (guide §1.2: the old form read
    # and tokenized new_docs twice — once for the postings, once for
    # the stats increments — and scanned it a third time for the
    # overlap ids); every downstream job reads the checkpointed
    # per-doc token arrays instead of the source
    doc_tk = (
        new_docs.select(F.col(id_col), tokens(F.col(text_col)).alias(tk))
        .localCheckpoint(eager=True)
    )
    overlap = (
        spark.read.parquet(f"{path}/postings")
        .select(id_col)
        .join(doc_tk.select(id_col).distinct(), id_col, "leftsemi")
        .limit(1)
        .count()
    )
    if overlap:
        return False  # slice re-delivers indexed ids: rebuild honestly
    base = doc_tk.select(
        id_col,
        F.size(tk).cast("long").alias("dl"),
        F.explode(tk).alias("term"),
    )
    postings = (
        base.groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
    )
    postings.write.mode("append").partitionBy("bucket").parquet(
        f"{path}/postings"
    )
    inc = doc_tk.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(F.size(tk)), F.lit(0)).cast("long").alias("dl"),
    ).first()
    small_rows_df(
        spark,
        [(int(st["n_docs"]) + int(inc["n"]), int(st["total_dl"]) + int(inc["dl"]), n_buckets)],
        "n_docs long, total_dl long, n_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    return True


@locked_mutation
def delete_from_bm25_index(
    spark,
    path: str,
    del_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> bool:
    """Remove documents from a persisted BM25 index WITHOUT
    re-tokenizing the standing corpus — the lexical leg of the delete
    discipline (dedup leg: dedup.py::delete_from_dedup_index;
    takedowns / retention expiry / right-to-be-forgotten against a
    standing index).  BM25 state deletes cleanly: postings rows are
    per (term, doc) and df/idf re-derive at probe time, so removal is
    an anti-join on the id plus an exact-integer decrement of the
    1-row stats (n_docs, total_dl).

    ``del_docs`` must carry the documents AS INDEXED: the slice is
    re-tokenized (one slice pass) and verified row-for-row against
    the standing postings — every recomputed (term, id, tf, dl) must
    exist, and the ids' indexed rows must number exactly the
    recomputed rows, so an id that was never indexed, an id indexed
    under different text, or a double-appended id all REFUSE
    (``False``, caller rebuilds on the remaining corpus).  A common
    word's bucket holds most docs, so the rewrite is a full postings
    pass (index-sized, the compaction cost class — one read →
    anti-join → write per delete batch, never a corpus
    re-tokenization); the ENTIRE verb holds the canonical
    ``<path>.lock`` (artifacts.locked_mutation, r13 verdict item 3).

    Zero-token refusal (r13 verdict item 7): a slice row whose text
    tokenizes to NOTHING (null or whitespace-only) has no postings to
    verify, so its indexed-ness is unverifiable — a never-indexed
    zero-token id would sail through the matched/indexed_for_ids
    checks (0 == 0) and silently over-decrement n_docs.  Such slices
    REFUSE outright; the caller rebuilds on the remaining corpus,
    where the zero-token doc's membership is decided by the corpus
    itself, not by an unverifiable claim."""
    import os

    from warp_spark.artifacts import swap_artifact_dir, unique_sibling_tmp

    tk = "_bm25_tk"
    st = spark.read.parquet(f"{path}/stats").first()
    n_buckets = int(st["n_buckets"]) if "n_buckets" in st.asDict() else 16
    # ONE tokenize pass over the slice (guide §1.2: the old form
    # re-tokenized del_docs a second time just to derive the stats
    # decrements): checkpoint the per-doc token arrays once, derive
    # both the recomputed postings and the slice totals from that
    doc_tk = (
        del_docs.select(F.col(id_col), tokens(F.col(text_col)).alias(tk))
        .localCheckpoint(eager=True)
    )
    del_post = (
        doc_tk.select(
            id_col,
            F.size(tk).cast("long").alias("dl"),
            F.explode(tk).alias("term"),
        )
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint(eager=True)
    )
    # n/dl decrements come from the SLICE itself, in the same pass
    # that counts zero-token rows (null or whitespace-only text):
    # those have no postings, so nothing verifiable ties them to the
    # index — refuse rather than risk decrementing n_docs for a doc
    # that was never indexed (r13 verdict item 7)
    inc = doc_tk.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(F.size(tk)), F.lit(0)).cast("long").alias("dl"),
        F.sum(
            F.when(F.coalesce(F.size(tk), F.lit(0)) <= 0, 1).otherwise(0)
        ).cast("long").alias("n_zero"),
    ).first()
    if int(inc["n"]) == 0:
        return True
    if int(inc["n_zero"]) > 0:
        return False  # zero-token rows: indexed-ness unverifiable
    n_del_rows = del_post.count()
    del_ids = doc_tk.select(id_col).distinct()
    postings = spark.read.parquet(f"{path}/postings")
    # ONE postings pass answers both verification counts (previously
    # two scans): rows of the requested ids anywhere in the index
    # (indexed_for_ids), flagged by whether they match a recomputed
    # (term, id, dl, tf) row exactly (matched — del_post's ids are a
    # subset of del_ids, so the semi-filter drops no matchable row and
    # the keys are unique post-groupBy, so the left join fans out
    # nothing; counts equal the old two-scan form row-for-row)
    ver = (
        postings.join(del_ids, id_col, "leftsemi")
        .join(
            del_post.withColumn("__m", F.lit(1)),
            ["term", id_col, "dl", "tf"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("indexed_for_ids"),
            F.coalesce(F.sum("__m"), F.lit(0)).alias("matched"),
        )
        .first()
    )
    if int(ver["matched"]) != n_del_rows or int(ver["indexed_for_ids"]) != n_del_rows:
        return False  # absent id, text drift, or duplicated postings
    tmp = unique_sibling_tmp(os.path.join(path, "postings"), tag="delete")
    (
        postings.join(del_ids, id_col, "left_anti")
        # the anti-join hoists the key column; restore the build-time
        # column order so the artifact stays layout-faithful
        .select("term", id_col, "dl", "tf", "bucket")
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    swap_artifact_dir(os.path.join(path, "postings"), tmp, locked=True)
    small_rows_df(
        spark,
        [
            (
                int(st["n_docs"]) - int(inc["n"]),
                int(st["total_dl"]) - int(inc["dl"]),
                n_buckets,
            )
        ],
        "n_docs long, total_dl long, n_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    return True


@locked_mutation
def compact_bm25_index(spark, path: str) -> None:
    """Rewrite an append-grown BM25 index into its canonical file
    layout with IDENTICAL content (the dedup.py::compact_dedup_index
    discipline — LSM compaction / Delta OPTIMIZE for the lexical
    index): each append adds one file per touched term-hash bucket, so
    probe-side pruning slowly degrades into a small-files scan;
    compaction re-clusters the postings to one file per bucket
    partition and carries the stats row and marker files over
    unchanged.  Content-preserving by construction (read → repartition
    → write), so probe-before == probe-after exactly.  Built in a
    unique sibling scratch dir while the whole verb holds the
    canonical ``<path>.lock`` (artifacts.locked_mutation, r13 verdict
    item 3 — the same lock every mutation verb serializes on)."""
    import os
    import shutil

    from warp_spark.artifacts import swap_artifact_dir, unique_sibling_tmp

    st = spark.read.parquet(f"{path}/stats")
    strow = st.first()
    n_buckets = int(strow["n_buckets"]) if "n_buckets" in strow.asDict() else 16
    tmp = unique_sibling_tmp(path, tag="compact")
    spark.read.parquet(f"{path}/postings").repartition(
        n_buckets, "bucket"
    ).write.partitionBy("bucket").parquet(f"{tmp}/postings")
    st.coalesce(1).write.parquet(f"{tmp}/stats")
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if os.path.isfile(full):
            shutil.copy2(full, os.path.join(tmp, name))
    swap_artifact_dir(path, tmp, locked=True)


def bm25_index_probe(
    spark,
    path: str,
    queries: list,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Answer BM25 top-k FROM the persisted index, no corpus pass: the
    postings scan carries bucket-IN (partition pruning over the
    persisted layout) and term-IN (row-group pushdown) filters, so
    only the query terms' lists are read; df re-derives from the
    pruned postings (per-term doc count — identical to the build-time
    value by construction); n_docs/total_dl load as the 1-row stats
    artifact.  The scoring expression is the bm25_topk one verbatim
    (same parenthesization, same ascending-term 0.0-init fold, same
    tiebreak), so persisted-then-probed results are IDENTICAL to
    trained-in-query results."""
    from pyspark.sql.window import Window

    terms = sorted({t for _, ts in queries for t in ts})
    # stats first: the bucket MODULUS comes from the artifact (written
    # by build_bm25_index), so an index built with a non-default
    # n_buckets is probed with the right partition pruning — never a
    # hardcoded 16 (r10 ADVICE).  Pre-stamp artifacts without the
    # column fall back to the historical default.
    st = spark.read.parquet(f"{path}/stats").first()
    n_docs, total_dl = st["n_docs"], st["total_dl"]
    n_buckets = st["n_buckets"] if "n_buckets" in st.asDict() else 16
    # bucket ids for the query terms via the same JVM hash (bounded:
    # one row per distinct term)
    tdf = small_rows_df(spark, [(t,) for t in terms], "term string")
    bks = sorted(
        r["b"]
        for r in tdf.select(
            F.pmod(F.xxhash64("term"), F.lit(int(n_buckets))).cast("int").alias("b")
        )
        .distinct()
        .collect()
    )
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(bks) & F.col("term").isin(terms))
        .select("term", id_col, "dl", "tf")
    )
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    if not n_docs or not total_dl:
        return small_rows_df(
            spark, [], f"query_id long, rank int, {id_col} long, score_ppm long"
        )
    qdf = small_rows_df(
        spark,
        [(qid, t) for qid, ts in queries for t in set(ts)],
        "query_id long, term string",
    )
    joined = postings.join(F.broadcast(dfreq), "term").join(
        F.broadcast(qdf), "term"
    )
    idf = F.log2(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0)
        - F.lit(b)
        + F.lit(b) * F.col("dl") * F.lit(float(n_docs)) / F.lit(float(total_dl))
    )
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / norm
    scored = joined.select("query_id", id_col, F.col("term"), contrib.alias("c"))
    per_pair = scored.groupBy("query_id", id_col).agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        per_pair.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            id_col,
            F.floor(F.col("score") * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long")
            .alias("score_ppm"),
        )
    )
