"""Text analysis operators over document corpora (BASELINE.json north
star). All native column expressions — regex/string ops stay inside
whole-stage codegen; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny built-in stopword inventories for the n-gram/stopword language
# heuristic. Deliberately small: the operator's shape (per-language
# overlap scoring + argmax) is what scales, the lists are config.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for", "on", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las", "por", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une", "que", "est"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich", "des", "auf"],
}

TOKEN_RE = r"\w+|[^\w\s]"  # BPE-ish: words or single punctuation marks


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc stats: chars, whitespace tokens, mean token length,
    punctuation ratio."""
    t = F.col(text_col)
    tok = tokens(t)
    n_tok = F.size(tok)
    tok_chars = F.aggregate(
        F.transform(tok, lambda w: F.length(w)), F.lit(0), lambda a, v: a + v
    )
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return docs.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(tok_chars / n_tok, 6).alias("mean_token_len"),
        F.round(n_punct / F.length(t), 6).alias("punct_ratio"),
    )


def token_count_bpe_ish(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token count under a BPE-ish regex (words ∪ punctuation marks) —
    the cheap proxy for tokenizer-cost estimation at corpus scale."""
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)).alias(
            "n_bpe_tokens"
        ),
    )


def quality_expr(text_col: str = "text") -> Column:
    """The composite quality heuristic as a bare column expression —
    usable as a narrow filter (no join-back) by pipeline stages."""
    t = F.col(text_col)
    tok = tokens(t)
    n_tok = F.size(tok)
    tok_chars = F.aggregate(
        F.transform(tok, lambda w: F.length(w)), F.lit(0), lambda a, v: a + v
    )
    mean_len = tok_chars / n_tok
    punct_ratio = (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))) / F.length(t)
    score = (
        0.4 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0)))
        + 0.3 * F.least(mean_len / 10.0, F.lit(1.0))
    )
    return F.round(score, 6)


def quality_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Composite quality heuristic in [0,1]: length, punctuation sanity,
    token-shape — the standard cheap pre-filter before expensive model
    scoring."""
    return docs.select(F.col(id_col), quality_expr(text_col).alias("quality"))


def lang_guess_expr(text_col: str = "text") -> Column:
    """The stopword-overlap language guess as a bare column expression
    (see :func:`lang_id`) — usable as a narrow filter by pipeline
    stages."""
    tok_set = F.array_distinct(tokens(F.col(text_col)))
    entries = []
    for lang, words in sorted(STOPWORDS.items()):
        lit_words = F.array(*[F.lit(w) for w in words])
        score = F.size(F.array_intersect(tok_set, lit_words))
        entries.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*entries))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-overlap language ID: score each language by distinct
    stopword hits, argmax with deterministic tiebreak, 'und' when no
    list matches. array_max(struct(score, lang)) keeps it one
    projection — no join, no shuffle; on score ties the
    lexicographically LAST language code wins (struct ordering)."""
    tok_set = F.array_distinct(tokens(F.col(text_col)))
    entries = []
    for lang, words in sorted(STOPWORDS.items()):
        lit_words = F.array(*[F.lit(w) for w in words])
        score = F.size(F.array_intersect(tok_set, lit_words))
        entries.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*entries))
    return docs.select(
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "lang_guess"
        ),
        best["score"].alias("stopword_hits"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    hash every char k-gram, keep the min hash of each sliding window of
    ``window`` consecutive grams, distinct per doc. Near-identical docs
    share most fingerprints (local mutations only disturb nearby
    windows) — the plagiarism/near-dup index primitive.

    Array formulation, ZERO shuffles: the per-doc gram-hash array and
    its sliding minima are plain column transforms, and the per-doc
    distinct is array_distinct — nothing ever leaves its input
    partition. The former version shuffled every gram row through a
    window-over-position exchange; local wall time is unchanged at
    sf0.1 (per-gram hashing dominates either way — md5-parity hashes
    ~780 grams/doc), but at cluster scale the operator is now
    embarrassingly parallel with no exchange to skew or spill.
    Trailing windows shorter than ``window`` still contribute their
    min, matching the previous rows-between semantics and the oracle.

    ``hash_fn``: 'xxhash64' (default — one JVM op per gram, the
    production path) or 'md5-parity' (the surrogate-key construction a
    SQL oracle can reproduce bit-exactly; ~4× the per-gram cost).

    The hash array is materialized in its own projection before the
    sliding-min transform: Catalyst re-evaluates non-lambda subtrees
    inside a higher-order function once PER ELEMENT, so inlining the
    O(n)-cost hash build into the min lambda would be O(n²) per doc
    (the token_shingles / unit_normalize trap)."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if hash_fn == "md5-parity":
        helem = lambda g: F.conv(  # noqa: E731
            F.substring(F.md5(g), 1, 16), 16, -10
        ).cast("long")
    elif hash_fn == "xxhash64":
        helem = F.xxhash64
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5-parity', got {hash_fn!r}")
    from ..functions.skew import fan_out

    t = F.col(text_col)
    n_pos = F.greatest(F.length(t) - k + 1, F.lit(1))
    hv_arr = F.transform(
        F.sequence(F.lit(1), n_pos), lambda p: helem(t.substr(p, F.lit(k)))
    )
    # fan_out: the whole gram-hash build runs in the scan stage; a
    # single-file input would hash every gram on one core (§2.5 —
    # measured 4.7s -> 0.8s at sf0.1)
    hashed = fan_out(docs).select(F.col(id_col), hv_arr.alias("_hv"))
    # sliding min via least(get(i)..get(i+w-1)): F.get past the end is
    # NULL and least() skips nulls, so trailing short windows keep
    # their min — same semantics as the former slice+array_min but
    # without allocating a window-sized array per position (measured
    # 0.5s of 4.7s at sf0.1, output byte-identical)
    # (window 1 keeps every gram hash: least() needs two arguments)
    mins = F.col("_hv") if window == 1 else F.transform(
        F.sequence(F.lit(0), F.size("_hv") - 1),
        lambda i: F.least(*[F.get(F.col("_hv"), i + j) for j in range(window)]),
    )
    return hashed.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def tf_idf_top_terms(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k terms per doc by smoothed TF-IDF.

    Two shuffles total: (doc, token) counts, then token document
    frequencies joined back. The df table is the VOCAB — Zipf-small
    relative to the corpus but still corpus-growing (web-scale noise
    tokens run to billions), so the join carries no broadcast hint:
    AQE broadcasts it while it fits and falls back to a hash join on
    the token key when it doesn't (the same rule as the hot-line /
    hot-shingle caps). The corpus size is a broadcast scalar, not a
    driver-side collect. Scores are rounded before ranking so ordering
    is stable across engines."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tf_idf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 6
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tf_idf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, F.col("rank").cast("int").alias("rank"), "token", "tf_idf")
    )


def char_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shannon entropy (bits) of each doc's character distribution —
    the cheap gibberish/encoding-junk detector: natural prose sits
    ~4-4.5 bits, base64 blobs and key-mash rise toward log2(alphabet),
    single-char runs fall to 0.

    One explode + two map-side-combinable aggs, no join: from the
    per-(doc, char) counts c and doc length n,
    H = log2(n) − Σ c·log2(c) / n — algebraically −Σ (c/n)·log2(c/n)
    without needing n inside the per-char term. Empty docs produce no
    output row (no character mass; mirrored by the oracle's unnest of
    an empty split)."""
    chars = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.length("ch") > 0)
    cnt = chars.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    return cnt.groupBy(id_col).agg(
        F.round(
            F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 6
        ).alias("entropy")
    )


def top_ngrams(
    docs: DataFrame, n: int = 2, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-k most frequent token n-grams — the heavy-hitter
    primitive behind boilerplate detection (the same n-grams repeated
    across millions of scraped pages) and contamination screening.

    Shape: explode per-doc n-grams (token array materialized once, see
    token_shingles for the higher-order-function re-evaluation trap) →
    one map-side-combinable count agg → global top-k. The final
    ordering is (count desc, ngram asc) through ``orderBy().limit(k)``,
    which Spark physically executes as TakeOrderedAndProject: each
    partition keeps only its local top-k heap and the driver merges
    k·n_partitions rows — no global sort at 100 TB. Docs shorter than
    ``n`` tokens contribute their full token span as one gram, matching
    the shingle convention."""
    tokd = docs.select(F.split(F.col(text_col), " ").alias("_toks"))
    toks = F.col("_toks")
    starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return (
        tokd.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def fingerprint(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace-normalized content fingerprint (md5) — the key for
    exact dedup across formatting variants."""
    normalized = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return docs.select(F.col(id_col), F.md5(normalized).alias("fingerprint"))


def unigram_cross_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc cross-entropy (bits/token) against the corpus's own
    unigram distribution — the cheap LM-style quality signal (the
    KenLM-perplexity filter's first rung): documents of common, fluent
    vocabulary score low; rare-token soup (OCR noise, codes, spam)
    scores high. Self-fit, so every token has nonzero probability — no
    smoothing constant to tune.

    Shape at 100 TB: one explode, one map-side-combinable vocab count,
    a hash-join of tokens to their frequencies (the vocab follows a
    Zipf law — far smaller than the corpus; AQE broadcasts it when it
    fits), one 1-row total broadcast, one per-doc aggregate. No
    quadratic step anywhere. The per-doc mean of ~10²-10³ doubles is
    rounded to 6dp on both engines (summation-order noise is ~1e-12,
    the repo's standard float-agg parity contract)."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("tf"))
    total = vocab.agg(F.sum("tf").alias("N"))
    scored = (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), F.log2(F.col("tf") / F.col("N")).alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(-F.avg("lp"), 6).alias("cross_entropy"),
    )


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 of a fixed query-term set against every document —
    the lexical-retrieval primitive behind hard-negative mining,
    contamination screening, and topic-targeted corpus selection.
    Returns (doc_id, n_hits, score) for docs matching ≥1 term;
    idf is the Lucene form ln(1 + (N − df + 0.5)/(df + 0.5)), so
    scores are non-negative even for terms in >half the corpus.

    Shape at 100 TB: the term list is query-sized config (broadcast
    literal IN-filter pushed into the token explode), per-(doc, term)
    tf is one map-side-combinable agg, df/avgdl/N are bounded control
    aggregates broadcast into the scoring projection, and the final
    per-doc sum runs over ≤|terms| rows. One corpus scan, no
    quadratic step."""
    if not terms:
        raise ValueError("terms must be a non-empty list")
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    hits = toks.filter(F.col("token").isin(list(terms)))
    tf = hits.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))  # ≤|terms| rows
    dl = docs.select(F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("dl"))
    stats = docs.agg(
        F.count("*").alias("n_docs")
    ).crossJoin(dl.agg(F.avg("dl").alias("avgdl")))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), (idf * tf_part).alias("s"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_hits"),
        F.round(F.sum("s"), 6).alias("score"),
    )


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.8,
    max_symbol_word_frac: float = 0.1,
    min_stopwords: int = 2,
    stopwords: tuple[str, ...] = _GOPHER_STOPWORDS,
) -> DataFrame:
    """Gopher-style repetition-free quality rules (Rae et al. 2021,
    §A1.1.1), as per-row codegen'd flags: word-count bounds, mean word
    length bounds, alphabetic-word fraction, symbol-word (# / ...)
    fraction, and the ≥2-distinct-English-stopwords requirement.
    Output: the measured features, one boolean per rule, and the AND
    (``gopher_pass``). Pure column expressions over the split word
    array — no shuffle, fuses into the scan; the standard cheap gate a
    corpus pipeline runs BEFORE any shuffling stage."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    word_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, v: a + v
    )
    mean_len = F.round(word_chars / n_words, 6)
    alpha_frac = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))) / n_words, 6
    )
    symbol_frac = F.round(
        F.size(F.filter(words, lambda w: w.contains("#") | w.contains("..."))) / n_words,
        6,
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words), F.array(*[F.lit(s) for s in stopwords])
        )
    )
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mean = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    ok_alpha = alpha_frac >= min_alpha_word_frac
    ok_symbol = symbol_frac <= max_symbol_word_frac
    ok_stop = n_stop >= min_stopwords
    return docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        symbol_frac.alias("symbol_word_frac"),
        n_stop.cast("int").alias("n_stopwords"),
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_len"),
        ok_alpha.alias("ok_alpha"),
        ok_symbol.alias("ok_symbols"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mean & ok_alpha & ok_symbol & ok_stop).alias("gopher_pass"),
    )


def bigram_cross_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc cross-entropy (bits/bigram) under the corpus's own
    bigram model P(w2|w1) = c(w1 w2) / c(w1·) — the second rung of the
    LM-quality ladder above :func:`unigram_cross_entropy`: it punishes
    IMPLAUSIBLE TRANSITIONS (shuffled or spliced text scores high even
    when every individual word is common), which is exactly what the
    unigram model cannot see. Self-fit MLE, so every observed doc
    bigram has nonzero probability — no smoothing constant.

    Scale shape: the bigram table is O(total tokens); both count tables
    are map-side-combinable aggs; scoring is two hash joins on the
    bigram/first-word keys (Zipf-small relative to the corpus — AQE
    broadcasts when they fit). Docs with fewer than 2 tokens have no
    bigrams and drop out (mirrored by the oracle)."""
    t = F.split(F.col(text_col), " ")
    n = F.size(t)
    bg_arr = F.zip_with(
        F.slice(t, 1, n - 1), F.slice(t, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # the bigram occurrence table feeds THREE consumers (both count
    # tables + the scoring join) — checkpoint so the tokenize+explode
    # runs once, not once per consumer. fan_out was A/B'd here and
    # LOSES (0.85 vs 0.98s): the round-robin exchange re-shuffles the
    # full exploded bigram payload, which costs more than the
    # single-core tokenize it parallelizes
    bigrams = (
        docs.select(F.col(id_col), F.explode(bg_arr).alias("bg"))
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .localCheckpoint()
    )
    c2 = bigrams.groupBy("bg").agg(F.count("*").alias("c2"))
    c1 = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    scored = (
        bigrams.join(c2, "bg")
        .join(c1, "w1")
        .select(F.col(id_col), F.log2(F.col("c2") / F.col("c1")).alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(-F.avg("lp"), 6).alias("cross_entropy"),
    )


def readability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    prior quality classifiers and curricula bucket on. Heuristic
    counts, all single-pass codegen regex: words = whitespace splits,
    sentences = terminal-punctuation runs (min 1), syllables = vowel
    groups. The score is per-row arithmetic on exact integer counts
    with literal constants, so both engines produce the identical
    double — no rounding needed (and none applied: rounding is only
    for aggregation noise, which a per-row expression doesn't have)."""
    t = F.col(text_col)
    words = F.size(F.split(F.trim(t), r"\s+"))
    sentences = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+"))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return docs.select(
        "doc_id",
        words.cast("int").alias("n_words"),
        sentences.cast("int").alias("n_sentences"),
        syllables.cast("int").alias("n_syllables"),
        flesch.alias("flesch"),
    )


def oov_rate(
    docs: DataFrame, vocab_size: int = 500, text_col: str = "text"
) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` words — the vocabulary-coverage audit run
    before committing to a tokenizer or a frozen vocab (a source with
    high OOV will fragment into subword soup). Deterministic vocab
    (count DESC, word tiebreak) selected with orderBy+limit — Catalyst
    compiles that to TakeOrderedAndProject per-partition heaps, not a
    single-partition global window; occurrences join the vocab with a
    broadcast-sized table; one aggregation per source."""
    w_tok = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    counts = w_tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(vocab_size)
        .select("w")
    )
    flagged = w_tok.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "w", "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


def pmi_collocations(
    docs: DataFrame, k: int = 50, min_count: int = 5, text_col: str = "text"
) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the
    statistically-surprising adjacent word pairs ("new york", not
    "of the"); the standard corpus-analysis probe for boilerplate
    phrases and domain vocabulary, and a multi-word-token candidate
    generator for tokenizers.

    PMI = ln(p(ab) / (p(a)·p(b))) over adjacent pairs, with a
    ``min_count`` support floor (PMI is notoriously noisy on rare
    pairs). Pairs come from one in-row array transform (no
    self-join); unigram probabilities join onto the
    min_count-floored pair table (AQE broadcasts when the vocab fits); top-k via orderBy+limit
    (TakeOrderedAndProject). The single ln() runs on exact-integer
    rationals, rounded to 6dp — the q_psi_drift-proven parity."""
    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = docs.select(F.explode(w).alias("w")).filter(F.col("w") != "")
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    n_tok = tok.agg(F.count(F.lit(1)).alias("nt"))
    pair_arr = F.expr(
        "transform(sequence(0, size(_w) - 2), i -> struct(_w[i] AS a, _w[i+1] AS b))"
    )
    pairs = (
        docs.select(w.alias("_w"))
        .filter(F.size("_w") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter((F.col("a") != "") & (F.col("b") != ""))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= min_count)
    )
    n_pair = (
        docs.select(w.alias("_w"))
        .filter(F.size("_w") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .filter((F.col("p.a") != "") & (F.col("p.b") != ""))
        .agg(F.count(F.lit(1)).alias("np"))
    )
    # unigram joins stay unhinted: the vocab is sub-linear in corpus
    # size but NOT bounded — AQE broadcasts when it fits; only the
    # 1-row totals are forced broadcasts
    j = (
        pairs.join(uni.withColumnRenamed("w", "a").withColumnRenamed("cw", "ca"), "a")
        .join(uni.withColumnRenamed("w", "b").withColumnRenamed("cw", "cb"), "b")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pair))
    )
    pmi = F.round(
        F.log(
            (F.col("cab").cast("double") / F.col("np"))
            / (
                (F.col("ca").cast("double") / F.col("nt"))
                * (F.col("cb").cast("double") / F.col("nt"))
            )
        ),
        6,
    ) + F.lit(0.0)
    return (
        j.select("a", "b", "cab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(k)
    )


def _word_grams(df: DataFrame, n: int, text_col: str, *keep_cols: Column) -> DataFrame:
    """(keep_cols..., gram) — one row per word n-gram OCCURRENCE; docs
    with fewer than ``n`` tokens contribute nothing.

    The token array is materialized in its own projection before the
    gram-building transform: Catalyst re-evaluates non-lambda subtrees
    inside a higher-order function once PER ELEMENT, so inlining
    split() into the gram lambda re-splits the text once per gram —
    O(tokens²) per doc (the token_shingles trap). The alias is
    referenced more than once (size + slice), so CollapseProject
    leaves it alone.

    fan_out: the tokenize + gram explode runs in the scan stage; a
    single-file corpus would build every gram on one core (§2.5 input
    rebalance — no-op when the scan already has enough splits)."""
    from ..functions.skew import fan_out

    tokd = fan_out(df).select(
        *keep_cols, F.split(F.col(text_col), " ").alias("_toks")
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - n),
        lambda i: F.array_join(F.slice(F.col("_toks"), i + 1, n), " "),
    )
    return tokd.filter(F.size("_toks") >= n).select(
        *[c for c in tokd.columns if c != "_toks"], F.explode(grams).alias("gram")
    )


def ngram_novelty(
    docs: DataFrame,
    ref_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus: the
    fraction of a doc's DISTINCT word n-grams that do NOT appear
    anywhere in the reference — the memorization/contamination dial
    read in the other direction from decontamination (novelty 0 = the
    doc is stitched from reference n-grams; the audit run on synthetic
    or model-generated data before it joins a training mix).

    One distinct-gram table per side, one left-anti-joinable hash join
    on the gram key, counts re-aggregated per doc — all exact
    integers, the ratio is ONE int/int division. Scale: gram tables
    are O(tokens); the join shuffles on the gram key with map-side
    combine ahead of it (distinct before join).

    Returns (doc_id, n_grams, n_novel, novelty) — docs shorter than
    ``n`` tokens have no grams and drop out (mirrored by oracles)."""
    doc_grams = _word_grams(docs, n, text_col, F.col(id_col)).distinct()
    ref_grams = (
        _word_grams(ref_docs, n, text_col)
        .distinct()
        .withColumn("_in_ref", F.lit(1))
    )
    joined = doc_grams.join(ref_grams, "gram", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("_in_ref").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
    ).select(
        id_col,
        "n_grams",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_grams").cast("double")).alias(
            "novelty"
        ),
    )


def vocab_coverage_curve(
    docs: DataFrame,
    sizes: tuple[int, ...] = (100, 500, 1000, 2000, 5000),
    text_col: str = "text",
    exact_window_below: int = 10_000_000,
) -> DataFrame:
    """Token-occurrence coverage of the top-V vocabulary for a grid of
    vocab sizes — the curve that sizes a tokenizer's vocab (or a
    subword budget) against a corpus: coverage(V) = share of all
    token occurrences whose type ranks in the V most frequent types
    (count desc, token asc tiebreak — total order, engine-stable).

    Two physically different plans, IDENTICAL results
    (property-tested equal), gated driver-side on the LITERAL
    ``max(sizes)`` — no gate job:

    * ``max(sizes) < exact_window_below`` — take the top-max(sizes)
      types with a TakeOrderedAndProject (bounded k reduce — never a
      global sort), then rank/cumsum that ≤ max(sizes)-row table with
      a window. Rows past the largest cutoff can never contribute to
      any curve point, so truncation is exact; the window only ever
      sees a bounded relation.
    * otherwise (asking for a 10M+-type cutoff) — no top-k and NO
      window at all: per cutoff V, locate the V-th type in
      (count desc, token asc) order with ``quality.rank_select_kth``'s
      two-pass histogram probe (value = −count, id = token), then one
      predicate aggregate counts/sums the types at-or-above that
      threshold — ~3 bounded passes per cutoff over a
      localCheckpointed type table, each a hash aggregate.

    Counts and cumulative sums are exact BIGINTs; coverage is ONE
    division at render.

    Returns one row per size: (vocab_size, n_types, covered_tokens,
    total_tokens, coverage)."""
    from pyspark.sql import Window

    tok = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("tokn")
    ).filter(F.col("tokn") != "")
    types = tok.groupBy("tokn").agg(F.count(F.lit(1)).cast("long").alias("c"))
    total = types.agg(F.sum("c").cast("long").alias("_total"))

    if max(sizes) < exact_window_below:
        top = types.orderBy(F.desc("c"), F.asc("tokn")).limit(int(max(sizes)))
        w = Window.orderBy(F.desc("c"), F.asc("tokn")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        ranked = top.select(
            F.row_number()
            .over(Window.orderBy(F.desc("c"), F.asc("tokn")))
            .alias("rank"),
            F.sum("c").over(w).alias("cum"),
        )
        size_arr = F.explode(
            F.array(*[F.lit(int(s)) for s in sizes])
        ).alias("vocab_size")
        grid = ranked.sparkSession.range(1).select(size_arr)
        per = (
            ranked.crossJoin(F.broadcast(grid))
            .filter(F.col("rank") <= F.col("vocab_size"))
            .groupBy("vocab_size")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_types"),
                F.max("cum").cast("long").alias("covered_tokens"),
            )
        )
    else:
        from . import quality as _quality

        # avoid re-tokenizing the corpus ~3x per cutoff
        types = types.localCheckpoint(eager=True)
        frames = []
        for v in sizes:
            kth = _quality.rank_select_kth(
                types.withColumn("_negc", -F.col("c")),
                "_negc",
                "tokn",
                k_expr=f"least({int(v)}, n)",
            ).select(
                (-F.col("kth_value")).cast("long").alias("_cth"),
                F.col("kth_id").alias("_tth"),
            )
            at_or_above = (F.col("c") > F.col("_cth")) | (
                (F.col("c") == F.col("_cth"))
                & (F.col("tokn") <= F.col("_tth"))
            )
            stats = (
                types.crossJoin(F.broadcast(kth))
                .filter(at_or_above)
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_types"),
                    F.sum("c").cast("long").alias("covered_tokens"),
                )
            )
            frames.append(
                # an empty threshold (empty corpus) yields zero rows,
                # matching the windowed path's empty groupBy result
                stats.join(kth, F.lit(True), "inner").select(
                    F.lit(int(v)).alias("vocab_size"),
                    "n_types",
                    "covered_tokens",
                )
            )
        per = frames[0]
        for f in frames[1:]:
            per = per.unionByName(f)

    return per.crossJoin(F.broadcast(total)).select(
        F.col("vocab_size").cast("int").alias("vocab_size"),
        "n_types",
        "covered_tokens",
        F.col("_total").alias("total_tokens"),
        (
            F.col("covered_tokens").cast("double")
            / F.col("_total").cast("double")
        ).alias("coverage"),
    )


def ngram_loopiness(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Degenerate-repetition score per document: the share of the
    doc's n-gram OCCURRENCES claimed by its single most repeated
    n-gram — the cheap filter that catches looping model-generated
    text ("the the the…", repeated sentence stubs) which
    length/punctuation heuristics miss. 1/n_grams = no repetition;
    → 1 = the doc is one n-gram on loop.

    Per-doc groupBy on (doc, gram) then a max-count re-aggregate —
    integers end to end, one division at render. Docs with fewer than
    ``n`` tokens drop out (no grams).

    Returns (doc_id, n_ngrams, max_repeat, loop_score)."""
    per_gram = (
        _word_grams(docs, n, text_col, F.col(id_col))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return per_gram.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_ngrams"),
        F.max("c").cast("long").alias("max_repeat"),
    ).select(
        id_col,
        "n_ngrams",
        "max_repeat",
        (
            F.col("max_repeat").cast("double") / F.col("n_ngrams").cast("double")
        ).alias("loop_score"),
    )


def rouge_n(
    pairs: DataFrame,
    docs: DataFrame,
    n: int = 2,
    ref_col: str = "ref_id",
    cand_col: str = "cand_id",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ROUGE-N between (reference, candidate) document pairs: clipped
    n-gram overlap — Σ over distinct grams of min(count_ref,
    count_cand) — with recall (/ref grams), precision (/cand grams)
    and the count-level F1 = 2·overlap/(n_ref + n_cand). The standard
    reference-based eval for summarization / RAG answer faithfulness,
    and the pair-level dial for "how much of A is recycled in B".

    Per-doc gram COUNT tables (not distinct sets — ROUGE clips, it
    does not dedup) join onto the pair list by id, then one full-outer
    gram merge per pair. Exact integers; each ratio is ONE division.
    Pairs whose ref or cand has fewer than ``n`` tokens drop out
    (no grams — mirrored by oracles).

    Returns (ref_id, cand_id, n_ref, n_cand, n_overlap, rouge_recall,
    rouge_precision, rouge_f1)."""
    # the per-doc gram-count table feeds BOTH the ref and cand join
    # legs — checkpoint so the tokenize+explode+aggregate runs once
    gc = (
        _word_grams(docs, n, text_col, F.col(id_col))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    # Dedup the pair list: a duplicated (ref_id, cand_id) row would
    # multiply both-sided grams quadratically through the full_outer
    # merge but one-sided grams only linearly — skewing recall/
    # precision/F1, not just the raw counts.
    p = pairs.select(
        F.col(ref_col).alias("ref_id"), F.col(cand_col).alias("cand_id")
    ).distinct()
    ref = gc.select(
        F.col(id_col).alias("ref_id"), F.col("gram"), F.col("c").alias("_cr")
    ).join(p, "ref_id")
    cand = gc.select(
        F.col(id_col).alias("cand_id"), F.col("gram"), F.col("c").alias("_cc")
    ).join(p, "cand_id")
    merged = ref.join(cand, ["ref_id", "cand_id", "gram"], "full_outer")
    agg = merged.groupBy("ref_id", "cand_id").agg(
        F.sum(F.coalesce(F.col("_cr"), F.lit(0))).cast("long").alias("n_ref"),
        F.sum(F.coalesce(F.col("_cc"), F.lit(0))).cast("long").alias("n_cand"),
        F.sum(
            F.least(
                F.coalesce(F.col("_cr"), F.lit(0)),
                F.coalesce(F.col("_cc"), F.lit(0)),
            )
        ).cast("long").alias("n_overlap"),
    )
    return agg.filter((F.col("n_ref") > 0) & (F.col("n_cand") > 0)).select(
        "ref_id",
        "cand_id",
        "n_ref",
        "n_cand",
        "n_overlap",
        (F.col("n_overlap").cast("double") / F.col("n_ref").cast("double")).alias(
            "rouge_recall"
        ),
        (F.col("n_overlap").cast("double") / F.col("n_cand").cast("double")).alias(
            "rouge_precision"
        ),
        (
            (2 * F.col("n_overlap")).cast("double")
            / (F.col("n_ref") + F.col("n_cand")).cast("double")
        ).alias("rouge_f1"),
    )


def source_overlap(
    docs: DataFrame,
    n: int = 3,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise n-gram Jaccard between corpus SOURCES — the
    mixture-design audit: two feeds with high overlap are near-copies
    of one another (mirror sites, re-crawls, syndication) and
    up-weighting both double-counts the same content. One distinct
    (source, gram) table; the intersection is a gram-keyed self-join
    (combiner-friendly, never |sources|² on data); the union comes by
    inclusion-exclusion from per-source totals. Exact integers, one
    division.

    Returns (source_a, source_b, n_a, n_b, n_common, jaccard) for
    source_a < source_b."""
    # the distinct (source, gram) table feeds THREE consumers (totals
    # + both self-join legs) — checkpoint so the tokenize+explode+
    # distinct runs once
    sg = (
        _word_grams(docs, n, text_col, F.col(source_col).alias("_src"))
        .distinct()
        .localCheckpoint()
    )
    totals = sg.groupBy("_src").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    a = sg.select(F.col("_src").alias("source_a"), "gram")
    b = sg.select(F.col("_src").alias("source_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    ta = totals.select(F.col("_src").alias("source_a"), F.col("_n").alias("n_a"))
    tb = totals.select(F.col("_src").alias("source_b"), F.col("_n").alias("n_b"))
    return (
        inter.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def distinct_ngrams(
    docs: DataFrame,
    n: int = 3,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Distinct-n diversity per group: distinct n-grams / total n-gram
    occurrences — the Self-BLEU-adjacent degeneracy audit for
    model-GENERATED or templated corpora (a source whose ratio
    collapses is emitting the same constructions over and over, and
    up-weighting it teaches the model boilerplate). Complements
    :func:`ngram_loopiness` (within-doc repetition) with the
    across-corpus view.

    One gram explode + one per-group aggregate; the exact distinct
    count rides Spark's two-phase count-distinct expand. Ratio is ONE
    division of exact BIGINTs. Docs with < n tokens contribute
    nothing (mirrored by oracles).

    Returns (<by>, n_grams, n_distinct, distinct_ratio)."""
    g = _word_grams(docs, n, text_col, F.col(by))
    return g.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.countDistinct("gram").cast("long").alias("n_distinct"),
    ).select(
        by,
        "n_grams",
        "n_distinct",
        (F.col("n_distinct").cast("double") / F.col("n_grams").cast("double")).alias(
            "distinct_ratio"
        ),
    )


def tokenizer_fertility(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-fertility audit per group: chars per BPE-ish token
    and BPE-ish tokens per whitespace word — the cheap pre-flight for
    "does this tokenizer fit this corpus": fertility spikes on a feed
    mean its text fragments into many tokens (wrong script, noisy
    markup, heavy punctuation) and its token budget buys less content.
    Uses the repo's BPE-ish regex (words ∪ single punctuation marks)
    so the proxy is tokenizer-agnostic and pure codegen.

    One scan, one per-group aggregate of exact BIGINT sums; each
    ratio is ONE division. Returns (<by>, n_docs, n_chars,
    n_ws_tokens, n_bpe_tokens, chars_per_token, tokens_per_word)."""
    t = F.col(text_col)
    n_bpe = F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), 0)).cast("long")
    n_ws = F.size(F.split(t, " ")).cast("long")
    agg = docs.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length(t).cast("long")).cast("long").alias("n_chars"),
        F.sum(n_ws).cast("long").alias("n_ws_tokens"),
        F.sum(n_bpe).cast("long").alias("n_bpe_tokens"),
    )
    return agg.select(
        by,
        "n_docs",
        "n_chars",
        "n_ws_tokens",
        "n_bpe_tokens",
        (F.col("n_chars").cast("double") / F.col("n_bpe_tokens").cast("double")).alias(
            "chars_per_token"
        ),
        (
            F.col("n_bpe_tokens").cast("double") / F.col("n_ws_tokens").cast("double")
        ).alias("tokens_per_word"),
    )


def ngram_entropy_rate(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group token entropy rate: unigram entropy H(W), bigram
    CONDITIONAL entropy H(W₂|W₁), and the redundancy 1 − H₂/H₁ — the
    information-density audit of a feed. A natural-language source
    sits near H₁ ≈ 10–12 bits with H₂|₁ well below it (context helps);
    templated/boilerplate feeds crater the conditional entropy
    (near-deterministic transitions → redundancy → 1), while
    random/shuffled junk pushes H₂|₁ toward H₁ (redundancy → 0).
    Complements q_bigram_lm (per-DOC score under the corpus model) —
    this is the per-SOURCE model property itself.

    Determinism playbook: each entropy term p·log2(ṕ) is ONE double
    expression quantized to a 1e-12 BIGINT (rint/round_even) before
    the exact integer sum, so the Σ is order-independent and
    bit-identical cross-engine; the final /1e12 is one float op.

    Scale: two map-side-combinable count aggregates over the token /
    bigram tables (Zipf-bounded type keys), one bounded per-group
    reduce. No windows, no driver data.

    Returns one row per group: (<group>, n_tokens, n_bigrams,
    h_unigram, h_bigram_cond, redundancy)."""
    g = F.col(group_col).alias("grp")
    t = F.split(F.col(text_col), " ")
    n = F.size(t)
    toks = docs.select(g, F.explode(t).alias("w")).filter(F.col("w") != "")
    # the unigram type table feeds the total AND the entropy join —
    # checkpoint so the tokenize + count shuffle runs once (Zipf-small)
    uni = (
        toks.groupBy("grp", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    nu = uni.groupBy("grp").agg(F.sum("c").cast("long").alias("n_tok"))
    # term = (c/N)·log2(c/N), quantized 1e-12 → exact BIGINT sum
    p_u = F.col("c").cast("double") / F.col("n_tok").cast("double")
    uq = (
        uni.join(nu, "grp")
        .select("grp", F.rint(p_u * F.log2(p_u) * F.lit(1e12)).cast("long").alias("q"))
        .groupBy("grp")
        .agg(F.sum("q").cast("long").alias("uq"))
    )
    bg_arr = F.zip_with(
        F.slice(t, 1, n - 1), F.slice(t, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # Bigrams follow the unigram convention: a transition is only
    # counted between two NON-empty tokens, so repeated/leading/
    # trailing spaces contribute no '' transitions (ADVICE r11).
    bgs = (
        docs.select(g, F.explode(bg_arr).alias("bg"))
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .filter(
            (F.col("w1") != "")
            & (F.split_part(F.col("bg"), F.lit(" "), F.lit(2)) != "")
        )
    )
    # three consumers (prefix totals, group totals, entropy join) —
    # checkpoint the bigram type table so the explode+count runs once
    c2 = (
        bgs.groupBy("grp", "bg", "w1")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
        .localCheckpoint()
    )
    c1 = c2.groupBy("grp", "w1").agg(F.sum("c2").cast("long").alias("c1"))
    nb = c2.groupBy("grp").agg(F.sum("c2").cast("long").alias("n_bg"))
    # term = (c12/N2)·log2(c12/c1·) — conditional entropy of the
    # transition given the prefix, quantized the same way
    p_b = F.col("c2").cast("double") / F.col("n_bg").cast("double")
    lp = F.log2(F.col("c2").cast("double") / F.col("c1").cast("double"))
    bq = (
        c2.join(c1, ["grp", "w1"])
        .join(nb, "grp")
        .select("grp", F.rint(p_b * lp * F.lit(1e12)).cast("long").alias("q"))
        .groupBy("grp")
        .agg(F.sum("q").cast("long").alias("bq"))
    )
    h1 = -F.col("uq").cast("double") / F.lit(1e12)
    h2 = -F.col("bq").cast("double") / F.lit(1e12)
    return (
        nu.join(uq, "grp")
        .join(nb, "grp", "left")
        .join(bq, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            F.col("n_tok").alias("n_tokens"),
            F.coalesce(F.col("n_bg"), F.lit(0).cast("long")).alias("n_bigrams"),
            h1.alias("h_unigram"),
            F.when(F.col("bq").isNotNull(), h2).alias("h_bigram_cond"),
            F.when(
                F.col("bq").isNotNull() & (F.col("uq") < 0),
                F.round(F.lit(1.0) - h2 / h1, 9),
            ).alias("redundancy"),
        )
    )


def jm_smoothing_sweep(
    docs: DataFrame,
    lambdas: tuple[float, ...] = (0.2, 0.4, 0.6, 0.8),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Jelinek–Mercer interpolation sweep: held-out cross-entropy
    (bits/bigram) of the smoothed bigram model
    P(w₂|w₁) = λ·P_bi(w₂|w₁) + (1−λ)·P_uni⁺(w₂) for a grid of λ — the
    curve that picks an LM-data smoothing weight empirically instead
    of folklore. Train = even doc_id, test = odd doc_id (the repo's
    deterministic split convention); P_uni⁺ is Laplace over the train
    vocabulary plus one unseen slot ((c+1)/(N+V+1)), so every test
    bigram has positive probability and the sweep is well-defined on
    any split.

    Determinism: each DISTINCT test bigram's log2(mix) is quantized to
    a 1e-12 BIGINT, multiplied by its exact multiplicity in
    decimal(38,0)/HUGEINT, and summed exactly; λ and (1−λ) are the
    identical double literals in both engines. Scale: train/test count
    tables are map-side aggs; scoring is two hash joins on Zipf-small
    type keys; the λ grid multiplies the DISTINCT-bigram table only.

    Returns one row per λ: (lam, n_test_bigrams, cross_entropy_bits)."""
    t = F.split(F.col(text_col), " ")
    n = F.size(t)
    bg_arr = F.zip_with(
        F.slice(t, 1, n - 1), F.slice(t, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    train = docs.filter(F.col(id_col) % 2 == 0)
    test = docs.filter(F.col(id_col) % 2 == 1)
    tr_uni = (
        train.select(F.explode(t).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    tr_tot = tr_uni.agg(
        F.sum("cu").cast("long").alias("n_train"),
        F.count(F.lit(1)).cast("long").alias("v_train"),
    )
    # Bigram tables share the unigram convention: only transitions
    # between two NON-empty tokens count (ADVICE r11 — no '' states
    # from repeated/leading/trailing spaces, train and test alike).
    tr_bg = (
        train.select(F.explode(bg_arr).alias("bg"))
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .filter(
            (F.col("w1") != "")
            & (F.split_part(F.col("bg"), F.lit(" "), F.lit(2)) != "")
        )
        .groupBy("bg", "w1")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    tr_pre = tr_bg.groupBy("w1").agg(F.sum("cb").cast("long").alias("cp"))
    te_bg = (
        test.select(F.explode(bg_arr).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    joined = (
        te_bg.join(tr_bg.select("bg", "cb"), "bg", "left")
        .join(tr_pre, "w1", "left")
        .join(tr_uni.select(F.col("w").alias("w2"), "cu"), "w2", "left")
        .crossJoin(F.broadcast(tr_tot))
        .select(
            "m",
            F.when(
                F.col("cb").isNotNull() & F.col("cp").isNotNull(),
                F.col("cb").cast("double") / F.col("cp").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("p_bi"),
            (
                (F.coalesce(F.col("cu"), F.lit(0)).cast("double") + F.lit(1.0))
                / (
                    F.col("n_train").cast("double")
                    + F.col("v_train").cast("double")
                    + F.lit(1.0)
                )
            ).alias("p_uni"),
        )
    )
    # the λ grid re-reads the scored DISTINCT-bigram table once per λ —
    # checkpoint so the train/test count builds and the three scoring
    # joins run once, and each λ is a trivial aggregate over the
    # materialized (m, p_bi, p_uni) rows
    joined = joined.localCheckpoint()
    frames = []
    for lam in lambdas:
        mix = F.lit(float(lam)) * F.col("p_bi") + F.lit(1.0 - float(lam)) * F.col(
            "p_uni"
        )
        q = F.rint(F.log2(mix) * F.lit(1e12)).cast("long")
        frames.append(
            joined.select(
                (q.cast("decimal(38,0)") * F.col("m")).alias("qm"),
                F.col("m"),
            )
            .agg(
                F.sum("m").cast("long").alias("n_test_bigrams"),
                F.round(
                    -F.sum("qm").cast("double")
                    / (F.sum("m").cast("double") * F.lit(1e12)),
                    9,
                ).alias("cross_entropy_bits"),
            )
            .select(
                F.lit(float(lam)).alias("lam"),
                "n_test_bigrams",
                "cross_entropy_bits",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select("lam", "n_test_bigrams", "cross_entropy_bits")


def sentence_stats(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    runon_words: int = 30,
) -> DataFrame:
    """Per-group sentence-segmentation profile: sentence and word
    counts, mean sentences/doc and words/sentence, and the share of
    docs whose mean sentence runs past ``runon_words`` words — the
    corpus-level companion to the per-doc readability score (q_readability
    buckets single documents; a mixture owner compares FEEDS: a feed
    whose "sentences" average 200 words is markup/code, not prose).

    Sentences = terminal-punctuation runs, min 1 per doc (the exact
    readability convention); words = whitespace splits. Everything is
    an exact BIGINT sum off one scan (map-side combinable); each mean
    is ONE double division at render.

    Returns one row per group: (<group>, n_docs, n_sentences,
    n_words, sents_per_doc, words_per_sentence, runon_share)."""
    t = F.col(text_col)
    words = F.size(F.split(F.trim(t), r"\s+")).cast("long")
    sents = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)).cast("long")
    runon = F.when(
        words.cast("double") / sents.cast("double") > F.lit(float(runon_words)), 1
    ).otherwise(0)
    agg = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(sents).cast("long").alias("n_sentences"),
        F.sum(words).cast("long").alias("n_words"),
        F.sum(runon).cast("long").alias("n_runon"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_sentences",
        "n_words",
        F.round(
            F.col("n_sentences").cast("double") / F.col("n_docs").cast("double"), 9
        ).alias("sents_per_doc"),
        F.round(
            F.col("n_words").cast("double") / F.col("n_sentences").cast("double"), 9
        ).alias("words_per_sentence"),
        F.round(
            F.col("n_runon").cast("double") / F.col("n_docs").cast("double"), 9
        ).alias("runon_share"),
    )


def idf_drift(
    docs: DataFrame,
    top_k: int = 20,
    min_df: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top term-level IDF movers between two corpus snapshots (even vs
    odd doc_id halves — the repo's deterministic split convention):
    the LEXICAL drift forensics that names WHICH terms changed weight,
    where the distribution-level drift scores (PSI/JSD/KS) only say
    THAT something moved and the embedding-centroid drift can't name a
    token. A term whose smoothed IDF drops sharply between snapshots
    is flooding in (spam campaign, template rollout); one that jumps
    is a feed going quiet.

    Smoothed idf = ln((n_docs + 1) / (df + 1)) per half; terms must
    reach ``min_df`` document frequency in at least one half (drops
    the hapax noise floor). The drift is rounded to 6dp BEFORE the
    TakeOrdered top-k (the transcendental-ln tiebreak rule), ties on
    term asc. Document frequencies are one distinct + count aggregate
    per half over the (doc, term) grain; the half totals are broadcast
    scalars.

    Returns ``top_k`` rows: (term, df_even, df_odd, idf_even,
    idf_odd, idf_drift)."""
    terms = docs.select(
        (F.col(id_col) % 2 == 0).alias("even"),
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    df_ = (
        terms.select("even", "_id", "term")
        .distinct()
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("even"), 1).otherwise(0)).cast("long").alias("df_even"),
            F.sum(F.when(F.col("even"), 0).otherwise(1)).cast("long").alias("df_odd"),
        )
        .filter((F.col("df_even") >= min_df) | (F.col("df_odd") >= min_df))
    )
    nd = docs.agg(
        F.sum(F.when(F.col(id_col) % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_even"),
        F.sum(F.when(F.col(id_col) % 2 == 0, 0).otherwise(1))
        .cast("long")
        .alias("n_odd"),
    )
    idf_e = F.log(
        (F.col("n_even").cast("double") + F.lit(1.0))
        / (F.col("df_even").cast("double") + F.lit(1.0))
    )
    idf_o = F.log(
        (F.col("n_odd").cast("double") + F.lit(1.0))
        / (F.col("df_odd").cast("double") + F.lit(1.0))
    )
    scored = df_.crossJoin(F.broadcast(nd)).select(
        "term",
        "df_even",
        "df_odd",
        F.round(idf_e, 6).alias("idf_even"),
        F.round(idf_o, 6).alias("idf_odd"),
        F.round(F.abs(idf_e - idf_o), 6).alias("idf_drift"),
    )
    return scored.orderBy(
        F.col("idf_drift").desc(), F.col("term").asc()
    ).limit(top_k)


def stopword_profile(
    docs: DataFrame,
    stopwords: tuple[str, ...] = _GOPHER_STOPWORDS,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_distinct: int = 2,
) -> DataFrame:
    """Per-source stopword-usage profile — the corpus-level view of the
    Gopher stopword gate (gopher_quality_flags checks each DOC for ≥2
    distinct English stopwords; this reports how each SOURCE is doing
    before anyone tunes that threshold): doc count, mean stopword-token
    ratio, mean distinct-stopword count, and how many docs would fail
    the ``min_distinct`` gate. Docs with zero non-empty tokens are
    excluded (their ratio is undefined).

    Determinism: the per-doc ratio is quantized to 1e-12 integer units
    (bround ↔ DuckDB round_even) and summed exactly, so the per-source
    mean is addition-order-independent; every other column is an exact
    integer until one division at render.

    Shape at 100 TB: pure array expressions per row (the stopword list
    is a literal — no join), then one map-side-combinable groupBy on
    the source key. One scan, one bounded shuffle."""
    words = F.filter(
        F.split(F.col(text_col), " "), lambda w: w != F.lit("")
    )
    per_doc = docs.select(
        F.col(group_col).alias("grp"),
        F.size(words).alias("n_words"),
        F.size(F.filter(words, lambda w: w.isin(*stopwords))).alias("n_stop"),
        F.size(
            F.filter(F.array_distinct(words), lambda w: w.isin(*stopwords))
        ).alias("n_distinct_stop"),
    ).filter(F.col("n_words") > 0)
    ratio_q = F.bround(
        F.col("n_stop").cast("double")
        / F.col("n_words").cast("double")
        * F.lit(1e12)
    ).cast("long")
    agg = per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(ratio_q).cast("long").alias("rq"),
        F.sum(F.col("n_distinct_stop").cast("long")).cast("long").alias("ds"),
        F.sum((F.col("n_distinct_stop") < min_distinct).cast("long"))
        .cast("long")
        .alias("n_low_stop"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        F.round(
            F.col("rq").cast("double") / F.col("n_docs").cast("double") / F.lit(1e12),
            6,
        ).alias("avg_stop_ratio"),
        F.round(
            F.col("ds").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("avg_distinct_stop"),
        "n_low_stop",
    )


def query_likelihood_scores(
    docs: DataFrame,
    terms: list[str],
    mu: float = 100.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001) of a fixed query-term set: score(d) = Σ_t ln((c(t,d) +
    μ·p(t|C)) / (|d| + μ)) over ALL query terms (zero-count terms
    contribute the smoothed background mass — the semantic difference
    from bm25_scores, which only sums matched terms). Candidates are
    docs matching ≥1 term (the postings-union convention shared with
    BM25); |d| is the whitespace-split length (the shared dl
    convention) and p(t|C) = cf_t / N over the same tokenization.

    Shape at 100 TB: per-(doc, term) tf is one map-side-combinable
    aggregate over the IN-filtered token explode; cf/N are bounded
    control aggregates broadcast into the scoring grid; the grid is
    |candidates|·|terms| narrow rows and the final per-doc sum runs
    over ≤|terms| values. One corpus scan, no quadratic step."""
    if not terms:
        raise ValueError("terms must be a non-empty list")
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    hits = toks.filter(F.col("token").isin(list(terms)))
    tf = hits.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dl = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("dl")
    )
    cf = hits.groupBy("token").agg(F.count("*").cast("long").alias("cf"))
    n_total = dl.agg(F.sum(F.col("dl").cast("long")).alias("n_corpus"))
    grid = (
        tf.groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        .join(dl, id_col)
        .crossJoin(F.broadcast(cf.crossJoin(n_total)))
        .join(tf, [id_col, "token"], "left")
    )
    c = F.coalesce(F.col("tf"), F.lit(0)).cast("double")
    p_bg = F.col("cf").cast("double") / F.col("n_corpus").cast("double")
    s = F.log(
        (c + F.lit(float(mu)) * p_bg)
        / (F.col("dl").cast("double") + F.lit(float(mu)))
    )
    return grid.groupBy(id_col, "n_hits").agg(
        F.round(F.sum(s), 6).alias("ql_score")
    ).select(F.col(id_col), F.col("n_hits"), "ql_score")


def code_prose_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    keywords: tuple[str, ...] = (
        "def", "return", "import", "class", "function", "var", "const", "void",
    ),
    min_keywords: int = 2,
    min_indent_lines: int = 1,
) -> DataFrame:
    """Per-source code-vs-prose routing profile — the classifier a
    mixed crawl runs before sending documents down the code or the
    natural-language curation branch. Per doc: line count, indented
    lines (4-space prefix), code-keyword token hits, and symbol-char
    ratio over {}();=<>[]; a doc is flagged ``is_code`` when it has
    ≥ ``min_keywords`` keyword tokens AND ≥ ``min_indent_lines``
    indented lines (a structural AND, so prose quoting one keyword
    doesn't flip). Per source: doc/flag counts and quantized mean
    symbol ratio + indent fraction (1e-12 integer units, exact sums).

    Shape at 100 TB: pure per-row array/regex expressions (the keyword
    list is a literal — no join) then one map-side-combinable groupBy
    on the source key. One scan, one bounded shuffle."""
    lines = F.split(F.col(text_col), "\n")
    toks = F.filter(F.split(F.col(text_col), r"[\s(:;]+"), lambda w: w != F.lit(""))
    n_chars = F.length(F.col(text_col))
    sym_chars = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[{}();=<>\[\]]", "")
    )
    per_doc = docs.select(
        F.col(group_col).alias("grp"),
        F.size(lines).alias("n_lines"),
        F.size(F.filter(lines, lambda l: l.startswith("    "))).alias("n_indent"),
        F.size(F.filter(toks, lambda w: w.isin(*keywords))).alias("n_kw"),
        n_chars.alias("n_chars"),
        sym_chars.alias("n_sym"),
    ).filter(F.col("n_chars") > 0)
    is_code = (F.col("n_kw") >= min_keywords) & (
        F.col("n_indent") >= min_indent_lines
    )
    sym_q = F.bround(
        F.col("n_sym").cast("double") / F.col("n_chars").cast("double") * F.lit(1e12)
    ).cast("long")
    ind_q = F.bround(
        F.col("n_indent").cast("double") / F.col("n_lines").cast("double") * F.lit(1e12)
    ).cast("long")
    agg = per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(is_code.cast("long")).cast("long").alias("n_code"),
        F.sum(sym_q).cast("long").alias("sq"),
        F.sum(ind_q).cast("long").alias("iq"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_code",
        F.round(
            F.col("sq").cast("double") / F.col("n_docs").cast("double") / F.lit(1e12),
            6,
        ).alias("avg_symbol_ratio"),
        F.round(
            F.col("iq").cast("double") / F.col("n_docs").cast("double") / F.lit(1e12),
            6,
        ).alias("avg_indent_frac"),
    )
