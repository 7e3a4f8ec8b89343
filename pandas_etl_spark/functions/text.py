"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python UDFs. Designed for the ``documents``
table (doc_id, text, lang, source, n_chars) but generic over any string
column.

Operators: tokenization, token counting, quality scoring
(length/punct/stopword ratios), n-gram-heuristic language ID, document
fingerprinting.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Public-knowledge common function words.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "zu"),
    "fr": ("le", "la", "les", "et", "est", "de", "un", "une", "pour", "dans"),
    "es": ("el", "la", "los", "las", "y", "es", "de", "un", "una", "para"),
    "zh": ("de", "shi", "le", "bu", "wo", "you", "he", "zai", "ren", "ta"),
}

_WS = r"\s+"


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization, lowercased, empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.trim(c)), _WS), lambda t: t != F.lit(""))


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col)).cast("bigint")


# GPT-2-style BPE pre-tokenizer pattern, restricted to constructs RE2 and
# java.util.regex agree on (no lookahead): contraction suffixes, optional
# space + letter run / digit run / punctuation run, whitespace runs.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(col: str | Column) -> Column:
    """Token count under the BPE-ish pre-tokenization regex — the
    LLM-pipeline budget signal (whitespace counts undercount code/punct
    text). Proven bit-identical vs DuckDB's RE2 on the documents table."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), 0)).cast("bigint")


def char_count(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c).cast("bigint")


def punct_ratio(col: str | Column) -> Column:
    """Fraction of characters that are punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?'\"()\[\]{}-]", ""))
    return (n_punct.cast("double") / F.greatest(F.length(c), F.lit(1))).alias("punct_ratio")


def stopword_hits(col: str | Column, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    words = LANG_STOPWORDS[lang]
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(arr, t))).cast("bigint")


def stopword_ratio(col: str | Column, lang: str = "en") -> Column:
    return stopword_hits(col, lang).cast("double") / F.greatest(
        token_count(col), F.lit(1)
    )


def quality_score(col: str | Column) -> Column:
    """Composite heuristic quality score in [0, 1]:
    rewards reasonable length, moderate punctuation, stopword presence.
    Deterministic closed-form — SQL-expressible for the oracle."""
    ntok = token_count(col).cast("double")
    len_score = F.least(ntok / F.lit(20.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(col) * 5, F.lit(1.0))
    stop_score = F.least(stopword_ratio(col) * 10, F.lit(1.0))
    return (0.4 * len_score + 0.3 * punct_pen + 0.3 * stop_score).alias("quality")


def lang_scores(col: str | Column) -> list[Column]:
    """Per-language stopword-hit counts (the language-ID signal)."""
    return [stopword_hits(col, lg).alias(f"hits_{lg}") for lg in sorted(LANG_STOPWORDS)]


def lang_id(col: str | Column) -> Column:
    """Pick the language with the most stopword hits; deterministic
    alphabetical tie-break; 'und' (undetermined) when zero hits."""
    toks = tokens(col)
    pairs = []

    def _contains(arr):
        # close over arr without a default arg: F.filter treats 2-arg
        # lambdas as (element, index)
        return lambda t: F.array_contains(arr, t)

    for lg in sorted(LANG_STOPWORDS):
        arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lg]])
        hits = F.size(F.filter(toks, _contains(arr)))
        pairs.append(F.struct(hits.alias("hits"), F.lit(lg).alias("lg")))
    # ties pick the alphabetically FIRST lang: sort ascending on
    # (-hits, lg) and take element 0.
    sorted_arr = F.sort_array(
        F.array(
            *[
                F.struct(
                    (-p.getField("hits")).alias("neg_hits"), p.getField("lg").alias("lg")
                )
                for p in pairs
            ]
        )
    )
    best = sorted_arr.getItem(0)
    return F.when(
        -best.getField("neg_hits") > 0, best.getField("lg")
    ).otherwise(F.lit("und"))


def fingerprint(col: str | Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized, lowercased text.
    Stable across engines (DuckDB md5 produces identical hex)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), _WS, " "))


def rolling_hashes(norm_col: str, window: int = 8, base: int = 257, mod: int = (1 << 31) - 1) -> Column:
    """Rolling polynomial (Rabin–Karp) hashes over character windows —
    returns ``array<bigint>`` of per-window hashes (winnowing/fingerprint
    candidates). Pure built-in higher-order functions, codegen'd.

    ``norm_col`` must name an ALREADY-NORMALIZED materialized column
    (never inline a regex here — Catalyst evaluates lambda bodies per
    element; measured 8-19× slowdown)."""
    return F.expr(
        f"transform(sequence(1, greatest(length({norm_col}) - {window - 1}, 0)), "
        f"i -> aggregate(filter(split(substring({norm_col}, i, {window}), ''), ch -> ch <> ''), "
        f"0L, (acc, ch) -> pmod(acc * {base} + ascii(ch), {mod})))"
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks —
    the context-window prep step of a training/RAG pipeline. Pure
    explode(sequence) + substring: distributed, no Python, output rows
    ∝ total corpus characters / stride. Chunk ids are 0-based positions,
    so (doc_id, chunk_id) is a stable global key."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    # Column-based expressions (not f-string SQL) so any column name works
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length(F.col(text_col)) - overlap, F.lit(1)),
        F.lit(stride),
    )
    return (
        df.select(F.col(id_col), F.col(text_col), F.posexplode(starts).alias("chunk_id", "start"))
        .select(
            id_col,
            "chunk_id",
            F.col(text_col).substr(F.col("start"), F.lit(chunk_size)).alias("chunk_text"),
        )
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard text-analysis columns to a documents frame."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        char_count(text_col).alias("n_chars_computed"),
        punct_ratio(text_col).alias("punct_ratio"),
        stopword_ratio(text_col).alias("stopword_ratio_en"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fp"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Per-document top-k TF-IDF terms: ``(id, term, tf, score, rnk)``.

    Smoothed idf (sklearn's default): ``ln((N + 1) / (df + 1)) + 1``;
    score = tf · idf, rounded to 6 decimals BEFORE ranking so the
    (score DESC, term ASC) order is identical across engines (ln ulp
    drift can't flip the order of rounded keys except exactly at a
    rounding boundary).

    Plan: one explode → (id, term) count agg (shuffle on the pair), a
    term-level df agg off that (shuffle on term — map-side combined),
    a broadcast 1-row N, and a per-doc window top-k. No Python, no
    driver state; every stage is a plain hash aggregate at any scale."""
    from pyspark.sql import Window as W

    toks = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ncnt = df.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ncnt))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = W.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("id").alias(id_col), "term", F.col("tf").cast("bigint").alias("tf"),
            "score", "rnk",
        )
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity: int = 2048,
    partition_by: str | None = None,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing (the GPT-style training
    layout): documents are laid end-to-end in ``id_col`` order and cut
    into fixed ``capacity``-token context bins; each doc is assigned the
    bin its first token falls in, with its offset inside that bin.

    ``partition_by`` keeps the running sum distributed: packing runs
    independently inside each partition value (bin key = (partition,
    bin_id)) — the global-order variant is a single-reducer window and
    exists only for small corpora (partition_by=None raises unless the
    caller passes allow_global semantics via a partition column).
    Output: (id, n_tokens, bin_id, bin_offset [, partition])."""
    from pyspark.sql import Window as W

    if partition_by is None:
        raise ValueError(
            "pack_sequences needs partition_by=<column>: a global running "
            "sum is a single-reducer sort — partition the corpus (e.g. by "
            "source or a hash prefix) and pack within partitions"
        )
    w = (
        W.partitionBy(partition_by)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    toks = df.select(
        partition_by, F.col(id_col), token_count(text_col).alias("n_tokens")
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        partition_by,
        id_col,
        "n_tokens",
        F.floor(cum_before / capacity).cast("bigint").alias("bin_id"),
        (cum_before % capacity).cast("bigint").alias("bin_offset"),
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Tokenizer-style vocabulary: the ``size`` most frequent tokens with
    stable contiguous ids — ``(token, n bigint, token_id bigint)``, ids
    assigned by (count DESC, token ASC) so the mapping is deterministic
    across runs/engines.

    Plan: distributed count (one shuffle) → distributed top-k
    (TakeOrdered, no global sort) → row_number over the k-row result
    (single partition of k rows — bounded by ``size``, not the corpus)."""
    from pyspark.sql import Window as W

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(size)
    )
    w = W.orderBy(F.desc("n"), F.asc("token"))
    return counts.withColumn("token_id", (F.row_number().over(w) - 1).cast("bigint"))


def word_ngrams(tokens_col: str, n: int) -> Column:
    """Space-joined word n-grams from an ALREADY-MATERIALIZED token-array
    column (see rolling_hashes note on lambda inlining). 1-based
    ``element_at`` so a DuckDB oracle using ``t[i]`` (1-based) mirrors the
    expression verbatim. Short docs guarded explicitly: Spark's
    ``sequence(1, 0)`` is DESCENDING ``[1, 0]`` (DuckDB's is empty) — an
    unguarded expression diverges on docs with < n tokens."""
    parts = " , ' ', ".join(f"element_at({tokens_col}, i + {j})" for j in range(n))
    return F.expr(
        f"if(size({tokens_col}) < {n}, array(), "
        f"transform(sequence(1, size({tokens_col}) - {n - 1}), "
        f"i -> concat({parts})))"
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 use
    duplicate-line and top-n-gram fractions; this corpus is single-line,
    so the n-gram family carries the signal):

    - ``top_word_frac``: count of the most frequent token / n_tokens
    - ``dup_2gram_frac`` / ``dup_3gram_frac``: 1 - distinct/total n-grams
    - ``repetitive``: gate at top_word_frac > 0.20 or dup_2gram_frac > 0.30

    Plan shape: the n-gram stats are PER-ROW array ops (size /
    array_distinct) — cost bounded by each doc's own length, no shuffle.
    Only the top-word count shuffles, and it shuffles (id, token) pairs
    once. At 100 TB that is one wide exchange keyed by (doc, token) with
    map-side partial counts; nothing global."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("t"))
    grams = toks.select(
        id_col,
        F.size("t").cast("bigint").alias("n_tokens"),
        F.size(word_ngrams("t", 2)).cast("bigint").alias("n2"),
        F.size(F.array_distinct(word_ngrams("t", 2))).cast("bigint").alias("d2"),
        F.size(word_ngrams("t", 3)).cast("bigint").alias("n3"),
        F.size(F.array_distinct(word_ngrams("t", 3))).cast("bigint").alias("d3"),
    )
    top = (
        toks.select(id_col, F.explode("t").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").cast("bigint").alias("max_word_count"))
    )
    out = grams.join(top, id_col)
    top_frac = F.col("max_word_count").cast("double") / F.greatest(
        F.col("n_tokens"), F.lit(1)
    )
    dup2 = (F.col("n2") - F.col("d2")).cast("double") / F.greatest(F.col("n2"), F.lit(1))
    dup3 = (F.col("n3") - F.col("d3")).cast("double") / F.greatest(F.col("n3"), F.lit(1))
    return out.select(
        id_col,
        "n_tokens",
        "max_word_count",
        top_frac.alias("top_word_frac"),
        dup2.alias("dup_2gram_frac"),
        dup3.alias("dup_3gram_frac"),
        ((top_frac > 0.20) | (dup2 > 0.30)).alias("repetitive"),
    )


def gopher_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 30,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021, Table A1) —
    the non-repetition rules, complementing ``repetition_stats``:

    - word count within ``[min_words, max_words]``
    - mean word length within [3, 10]
    - symbol-to-word ratio ('#' and '...') <= 0.1
    - >= 80% of words contain at least one alphabetic character
    - >= 2 stopword hits (the 'the/of/to' English function-word check)

    Every rule flag compares EXACT INTEGERS (e.g. mean-word-length in
    [3, 10] tests ``3*n <= sum_len <= 10*n``), so no float rounding can
    flip a gate between engines; the reported ratio columns are
    display-rounded doubles beside the flags.

    Plan shape: pure per-row array expressions over one scan — zero
    shuffles, fully whole-stage-codegen. The 100 TB cost is the scan."""
    t = tokens(text_col)
    raw = F.col(text_col) if isinstance(text_col, str) else text_col
    sw = F.array([F.lit(w) for w in LANG_STOPWORDS["en"]])
    hash_cnt = F.length(raw) - F.length(F.replace(raw, F.lit("#"), F.lit("")))
    ell_cnt = F.floor(
        (F.length(raw) - F.length(F.replace(raw, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    base = df.select(
        F.col(id_col),
        F.size(t).cast("bigint").alias("n_tokens"),
        F.aggregate(
            F.transform(t, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("sum_word_len"),
        F.size(F.filter(t, lambda x: x.rlike("[a-z]")))
        .cast("bigint")
        .alias("n_alpha_words"),
        F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
        .cast("bigint")
        .alias("n_stopwords"),
        (hash_cnt + ell_cnt).cast("bigint").alias("n_symbols"),
    )
    n = F.col("n_tokens")
    n1 = F.greatest(n, F.lit(1))
    words_ok = (n >= min_words) & (n <= max_words)
    mwl_ok = (F.col("sum_word_len") >= 3 * n) & (F.col("sum_word_len") <= 10 * n)
    sym_ok = 10 * F.col("n_symbols") <= n
    alpha_ok = 5 * F.col("n_alpha_words") >= 4 * n
    sw_ok = F.col("n_stopwords") >= 2
    return base.select(
        id_col,
        "n_tokens",
        F.round(F.col("sum_word_len") / n1, 6).alias("mean_word_len"),
        F.round(F.col("n_symbols") / n1, 6).alias("symbol_ratio"),
        F.round(F.col("n_alpha_words") / n1, 6).alias("alpha_word_frac"),
        "n_stopwords",
        (words_ok & mwl_ok & sym_ok & alpha_ok & sw_ok).alias("passes"),
    )


# PII patterns restricted to the construct subset java.util.regex and RE2
# agree on (no lookaround, no backreferences).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "number": r"[0-9]+",
}


def redact_pii(col: str | Column, kinds: tuple[str, ...] = ("email", "number"),
               replacement: str = "[REDACTED]") -> Column:
    """Chained regexp_replace over the named PII pattern families —
    narrow projection, codegen'd, fully pushdown-transparent."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in kinds:
        c = F.regexp_replace(c, PII_PATTERNS[kind], replacement)
    return c


def pii_match_count(col: str | Column, kinds: tuple[str, ...] = ("email", "number")) -> Column:
    """Number of PII matches that redact_pii would replace (counted on
    the ORIGINAL text, pattern by pattern)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.lit(0)
    for kind in kinds:
        n = n + F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS[kind]), 0))
    return n.cast("bigint")


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> DataFrame:
    """Per-document average unigram log-probability — the classic
    perplexity-style quality filter for training corpora (documents far
    below the corpus-typical score are boilerplate/noise candidates).

    Model: add-one-smoothed unigram LM over the corpus's own top-
    ``vocab_size`` tokens (deterministic (count DESC, token) tie-break);
    out-of-vocabulary tokens take the floor probability 1/(N + V + 1)
    where N = total corpus token count, V = vocab_size.

    Plan: one token count (shuffle on token), distributed top-V
    (TakeOrdered), vocab BROADCAST back onto the exploded tokens (no
    second big shuffle), one groupBy(id) average. Output:
    (id, n_tokens, avg_logprob rounded to 6)."""
    toks = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = counts.orderBy(F.desc("n"), F.asc("tok")).limit(vocab_size)
    totals = counts.agg(
        F.sum("n").alias("N_total"), F.lit(vocab_size).alias("V")
    )
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .join(F.broadcast(totals))
        .select(
            "id",
            F.log(
                (F.coalesce(F.col("n"), F.lit(0)) + 1).cast("double")
                / (F.col("N_total") + F.col("V") + 1).cast("double")
            ).alias("lp"),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


_UNK = "\x00unk"  # collides with no whitespace-tokenizer output


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> DataFrame:
    """Per-document average bigram log-probability — the CCNet-style LM
    quality filter one order up from ``unigram_logprob``: fluent text
    scores high, shuffled/boilerplate token soup scores low even when
    its unigram distribution looks normal.

    Model: add-one-smoothed bigram LM over the corpus's own top-
    ``vocab_size`` unigram vocabulary; out-of-vocabulary tokens
    collapse to a single ``<unk>`` symbol, giving V+1 symbol types, so
    P(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V+1) with c(w1,·) the bigram-
    history count. Docs with fewer than two tokens emit no row.

    Plan: one token-count shuffle + distributed top-V (as unigram);
    bigrams from a positional self-join keyed on (id, pos) — a single
    id-keyed shuffle, never a global sort; both count tables are
    BOUNDED by construction (≤ V+1 histories, ≤ (V+1)² bigrams — ~1M
    rows at V=1000) and broadcast back onto the bigram stream. Output:
    (id, n_bigrams, avg_logprob rounded to 6)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = counts.orderBy(F.desc("n"), F.asc("tok")).limit(vocab_size).select("tok")
    mapped = (
        toks.join(F.broadcast(vocab.withColumn("_in", F.lit(1))), "tok", "left")
        .select(
            "id",
            "pos",
            F.when(F.col("_in").isNotNull(), F.col("tok"))
            .otherwise(F.lit(_UNK))
            .alias("m"),
        )
    )
    a = mapped.select("id", "pos", F.col("m").alias("w1"))
    b = mapped.select("id", (F.col("pos") - 1).alias("pos"), F.col("m").alias("w2"))
    big = a.join(b, ["id", "pos"]).select("id", "w1", "w2")
    c1h = big.groupBy("w1").agg(F.count(F.lit(1)).alias("ch"))
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    denom_add = vocab_size + 1  # V vocab symbols + <unk>
    scored = (
        big.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1h), "w1")
        .select(
            "id",
            F.log(
                (F.col("cb") + 1).cast("double")
                / (F.col("ch") + denom_add).cast("double")
            ).alias("lp"),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


def dsir_importance(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023 — public method): score every NON-target document by the
    log-likelihood ratio of its hashed-unigram features under the
    target vs raw distributions; high scorers look like the target
    domain and are the ones importance resampling keeps.

    Features are the hashing trick with the PORTABLE md5 bucket
    (same convention as feature_hash_counts), so the whole transform
    is oracle-checkable. Both bag-of-buckets distributions are add-one
    smoothed over ``n_buckets`` cells.

    Plan: one token explode; the two distributions are ONE bounded
    aggregate (≤ n_buckets rows — target/raw counted side by side) and
    a 1-row totals frame, both broadcast back onto the token stream;
    one groupBy(id) sum. No vocabulary state, no second corpus pass.
    Output: (id, n_tokens, log_ratio rounded to 6) for raw docs —
    ``log_ratio`` is the DSIR importance log-weight."""
    toks = df.select(
        F.col(id_col).alias("id"),
        is_target.alias("t"),
        F.explode(tokens(text_col)).alias("term"),
    ).withColumn(
        "b",
        F.expr(
            "cast(conv(substring(md5(term), 1, 8), 16, 10) as bigint)"
        )
        % F.lit(n_buckets),
    )
    counts = toks.groupBy("b").agg(
        F.sum(F.when(F.col("t"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("t"), 1).otherwise(0)).alias("cr"),
    )
    totals = counts.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    scored = (
        toks.filter(~F.col("t"))
        .join(F.broadcast(counts), "b")
        .join(F.broadcast(totals))
        .select(
            "id",
            F.log(
                (
                    (F.col("ct") + 1).cast("double")
                    / (F.col("nt") + n_buckets).cast("double")
                )
                / (
                    (F.col("cr") + 1).cast("double")
                    / (F.col("nr") + n_buckets).cast("double")
                )
            ).alias("lr"),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("lr"), 6).alias("log_ratio"),
    )


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    max_words: int = 5000,
) -> list[tuple[str, str, int]]:
    """Learn byte-pair-encoding merges from a corpus (the algorithm of
    Sennrich et al. 2016 — public literature; completes the tokenizer
    story next to the GPT-2-style counting regex in bpe_token_count).

    The classic scale shape: BPE trains on the WORD-FREQUENCY TABLE,
    not the corpus — one corpus-wide shuffle builds (word, freq), capped
    at the ``max_words`` most frequent (deterministic freq-desc/word-asc
    order). That table is ≤ ``max_words`` rows by construction, so the
    merge loop itself runs DRIVER-SIDE on the collected table with
    incrementally-maintained pair counts and a lazy max-heap — the exact
    sequential algorithm (greedy best pair, ties lexicographic, stop
    below pair-freq 2), with ZERO Spark jobs per merge (VERDICT r4 #7:
    the previous formulation launched 2 jobs per merge — explode/agg +
    fold — which at 10⁴-merge vocabularies meant tens of thousands of
    driver round-trips over a table that fits in one task). The 100 TB
    corpus is touched exactly once either way.

    Returns [(left, right, pair_freq), ...] in merge order.
    """
    import heapq

    rows = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("w"))
        .limit(max_words)
        .collect()
    )
    words: list[tuple[list[str], int]] = [
        (list(r["w"]), int(r["freq"])) for r in rows if r["w"]
    ]
    # pair stats: weighted counts + inverted index pair -> word ids
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, (syms, f) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(wi)
    # lazy heap: entries go stale when counts change; popped entries are
    # validated against pair_counts before use (fresh entries are pushed
    # on every count increase, so the current best is always present)
    heap = [(-pf, p) for p, pf in pair_counts.items()]
    heapq.heapify(heap)

    def bump(p: tuple[str, str], delta: int, wi: int) -> None:
        pf = pair_counts.get(p, 0) + delta
        if pf <= 0:
            pair_counts.pop(p, None)
        else:
            pair_counts[p] = pf
            if delta > 0:
                heapq.heappush(heap, (-pf, p))
        ws = pair_words.setdefault(p, set())
        ws.add(wi)

    merges: list[tuple[str, str, int]] = []
    while len(merges) < num_merges and heap:
        neg_pf, (l, r) = heapq.heappop(heap)
        pf = -neg_pf
        current = pair_counts.get((l, r))
        if current != pf:
            # stale: decrements don't push refresh entries, so requeue
            # the live count or this pair would vanish from the heap
            if current is not None:
                heapq.heappush(heap, (-current, (l, r)))
            continue
        if pf < 2:
            break
        merges.append((l, r, pf))
        affected = pair_words.pop((l, r), set())
        pair_counts.pop((l, r), None)
        for wi in affected:
            syms, f = words[wi]
            # decrement every old pair of this word, apply the greedy
            # left-to-right merge, then re-add the new pairs
            for p in zip(syms, syms[1:]):
                if p in pair_counts:
                    pair_counts[p] -= f
                    if pair_counts[p] <= 0:
                        pair_counts.pop(p, None)
            out: list[str] = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            words[wi] = (out, f)
            for p in zip(out, out[1:]):
                bump(p, f, wi)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply learned BPE merges (GPT-2-style encode: repeatedly merge
    the LOWEST-RANK adjacent pair) — completes learn_bpe_merges into a
    usable tokenizer. The merge table broadcasts inside an Arrow-batched
    pandas_udf (pure-Python per-word loops are the right tool here: the
    merge loop is data-dependent control flow Catalyst can't express,
    and the vocabulary dict lookup is O(1) per pair)."""
    import re as _re

    ranks = {(l, r): i for i, (l, r, _) in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def enc(s: pd.Series) -> pd.Series:
        def one(t: str) -> list[str]:
            out: list[str] = []
            for w in _re.split(r"\s+", (t or "").strip().lower()):
                if not w:
                    continue
                syms = list(w)
                while len(syms) >= 2:
                    best_rank, best_i = None, None
                    for i, pair in enumerate(zip(syms, syms[1:])):
                        rk = ranks.get(pair)
                        if rk is not None and (best_rank is None or rk < best_rank):
                            best_rank, best_i = rk, i
                    if best_i is None:
                        break
                    syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
                out.extend(syms)
            return out

        return s.map(one)

    return df.withColumn(out_col, enc(F.col(text_col)))


def _query_doc_pred(query_ids, n_queries):
    """Predicate selecting the query documents. ``query_ids`` (any id
    dtype, sparse or string) wins when given; the ``n_queries`` fallback
    means *ids < n_queries* and therefore assumes dense 0-based integer
    ids — with offset/sparse/string ids it silently selects fewer or
    zero query rows, so callers with such corpora must pass explicit
    ``query_ids`` (ADVICE r4)."""
    if query_ids is not None:
        return F.col("id").isin(list(query_ids))
    return F.col("id") < n_queries


def tfidf_cosine_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_queries: int = 3,
    k: int = 5,
    query_ids=None,
) -> DataFrame:
    """Sparse TF-IDF cosine document search: top-``k`` most similar
    corpus documents for each of the first ``n_queries`` docs —
    classical lexical retrieval (the BM25-family baseline that
    complements the dense-embedding ANN operators).

    Plan (all hash aggregates + one term-keyed join — the inverted
    index IS the shuffle): tokenize → (doc, term, tf) agg → term df agg
    → smoothed-idf weights → per-doc L2 norms; the query-side weight
    frame (``n_queries`` docs) broadcasts onto the corpus weights by
    term, partial products sum per (query, doc) pair — only docs
    SHARING a term with the query are ever touched, exactly an
    inverted-index probe. Cosines round to 6 before ranking so the
    (cos DESC, id ASC) order is engine-stable despite float summation
    order differing across engines."""
    from pyspark.sql import Window as W

    toks = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ncnt = df.agg(F.count(F.lit(1)).alias("n"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ncnt))
        .select(
            "id",
            "term",
            (
                F.col("tf") * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("w"),
        )
    )
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    qw = F.broadcast(
        w.filter(_query_doc_pred(query_ids, n_queries)).select(
            F.col("id").alias("query_id"), "term", F.col("w").alias("qw")
        )
    )
    dots = (
        w.join(qw, "term")
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", "id")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
    )
    qnorms = norms.select(F.col("id").alias("query_id"), F.col("nrm").alias("qnrm"))
    sim = (
        dots.join(norms, "id")
        .join(F.broadcast(qnorms), "query_id")
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(F.col("dot") / (F.col("nrm") * F.col("qnrm")), 6).alias("cos_sim"),
        )
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rnk", F.row_number().over(win).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def bm25_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_queries: int = 3,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    query_ids=None,
) -> DataFrame:
    """Okapi BM25 retrieval: top-``k`` corpus docs per query doc (the
    query's terms are its token set). Same inverted-index shuffle shape
    as :func:`tfidf_cosine_topk`; scoring is the canonical
    ``idf · tf(k1+1) / (tf + k1(1-b+b·len/avgdl))`` with the standard
    ``ln(1 + (N-df+0.5)/(df+0.5))`` idf. Scores round to 6 before
    ranking (engine-stable order, same float rule as the TF-IDF op)."""
    from pyspark.sql import Window as W

    toks = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dlen = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    stats = dlen.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
        "avgdl",
    )
    scored = (
        tf.join(dlen, "id")
        .join(idf, "term")
        .select(
            "id",
            "term",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("s"),
        )
    )
    qterms = F.broadcast(
        tf.filter(_query_doc_pred(query_ids, n_queries))
        .select(F.col("id").alias("query_id"), "term")
        .distinct()
    )
    agg = (
        scored.join(qterms, "term")
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", "id")
        .agg(F.round(F.sum("s"), 6).alias("bm25"))
    )
    win = W.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("id"))
    return (
        agg.withColumn("rnk", F.row_number().over(win).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "bm25", "rnk")
    )


def hybrid_rrf_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_queries: int = 3,
    k: int = 5,
    k_each: int = 20,
    k_rrf: int = 60,
    query_ids=None,
) -> DataFrame:
    """Hybrid lexical retrieval by reciprocal-rank fusion (Cormack et
    al. 2009): run BOTH rankers — TF-IDF cosine and Okapi BM25 — to
    depth ``k_each`` per query, score every candidate
    ``sum over systems of 1 / (k_rrf + rank)`` (a document missing from
    one system's list contributes 0 for it), and return the fused
    top-``k``. RRF is the standard zero-tuning way to combine rankers
    whose raw scores are incomparable; k_rrf=60 is the canonical
    damping constant.

    Scale shape: the two retrieval legs are the existing
    inverted-index term-join plans; the fusion itself works on
    QUERY-BOUNDED frames only — a full-outer equi-join of two
    ≤ |queries|·k_each rank lists on (query, doc) plus a per-query
    window over ≤ 2·k_each candidates. Ranks are integers, so the RRF
    score is bit-deterministic across engines (two exact double
    reciprocals summed); rounding to 6 before the final rank keeps the
    (rrf DESC, id ASC) order engine-stable."""
    from pyspark.sql import Window as W

    lex = tfidf_cosine_topk(
        df, text_col, id_col, n_queries, k_each, query_ids=query_ids
    ).select("query_id", "neighbor_id", F.col("rnk").alias("r_tfidf"))
    bm = bm25_topk(
        df, text_col, id_col, n_queries, k_each, query_ids=query_ids
    ).select("query_id", "neighbor_id", F.col("rnk").alias("r_bm25"))
    fused = lex.join(bm, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id",
        "neighbor_id",
        "r_tfidf",
        "r_bm25",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(k_rrf) + F.col("r_tfidf")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(k_rrf) + F.col("r_bm25")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
    )
    win = W.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("neighbor_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(win).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_segment: int = 10,
) -> DataFrame:
    """Corpus-wide SEGMENT-level deduplication — the C4 line-dedup shape
    (Raffel et al. 2020 drop repeated three-sentence spans; here the
    segmenter is a fixed ``words_per_segment`` word window because the
    corpus carries no sentence delimiters; swap the segment expression
    for ``split(text, '\\n')`` on line-structured text).

    Each document splits into consecutive word segments — pure JVM
    array expressions, no explode-collect round trip for the split —
    then exactly one copy of every distinct segment survives corpus-wide
    (first occurrence by (id, segment index), rank-1 over a
    segment-keyed window = ONE shuffle on the segment text), and
    surviving segments reassemble in document order. Documents whose
    every segment was seen earlier disappear entirely (C4 semantics).
    Returns (id, text_dedup, n_kept, n_segments).
    """
    arr = F.split(F.col(text_col), " ")
    n_seg = F.ceil(F.size(arr) / F.lit(float(words_per_segment))).cast("int")
    segs_expr = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(
            F.slice(arr, i * words_per_segment + 1, words_per_segment), " "
        ),
    )
    segs = (
        df.select(F.col(id_col).alias("id"), segs_expr.alias("segs"))
        .select("id", F.posexplode("segs").alias("seg_idx", "seg"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("seg").orderBy("id", "seg_idx")
    kept = segs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    per_doc_total = segs.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_segments")
    )
    return (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda s: s.getField("seg"),
                ),
                " ",
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(per_doc_total, "id")
        .select("id", "text_dedup", "n_kept", "n_segments")
    )


_SEG_IDX_BITS = 20  # uid = id << 20 | seg_idx


def segment_neardup_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_segment: int = 20,
    threshold: float = 0.5,
    shingle_k: int = 5,
) -> DataFrame:
    """Segment-level NEAR-duplicate removal — the Dolma-style paragraph
    dedup one notch past :func:`segment_dedup`'s exact form: a segment
    is dropped when MinHash-LSH finds an earlier (lower (doc, position))
    segment within ``threshold`` estimated Jaccard, so lightly-edited
    boilerplate paragraphs vanish too (exact copies collide with
    identical signatures, so exact dedup is subsumed). Keep rule is the
    same deterministic keep-lowest-id used by the embedding SemDeDup
    path. Returns (id, text_dedup, n_kept, n_segments) like
    segment_dedup.

    Scale shape: segments inherit minhash_lsh_pairs' plan (one
    groupBy(segment) signature aggregate, banded LSH candidate
    generation, id-only pair shuffle); the drop set joins back as a
    LeftAnti on the packed segment uid. Segment position packs into
    the uid's low 20 bits (docs are bounded at 2^20 segments — ~10M
    words at the default width; raise the shift for longer docs)."""
    from pandas_etl_spark.functions.dedup import minhash_lsh_pairs

    arr = F.split(F.col(text_col), " ")
    n_seg = F.ceil(F.size(arr) / F.lit(float(words_per_segment))).cast("int")
    segs_expr = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(
            F.slice(arr, i * words_per_segment + 1, words_per_segment), " "
        ),
    )
    segs = (
        df.select(F.col(id_col).alias("id"), segs_expr.alias("segs"))
        .select("id", F.posexplode("segs").alias("seg_idx", "seg"))
        .withColumn(
            "uid",
            F.shiftleft(F.col("id").cast("bigint"), _SEG_IDX_BITS)
            + F.col("seg_idx"),
        )
    )
    # The segment frame feeds three consumers (the MinHash signature
    # pipeline, the anti-join left side, the per-doc totals) and the
    # split+explode would recompute per consumer — localCheckpoint
    # materializes the segmented corpus ONCE (the same lineage-cut
    # trade the graph operators make: one corpus-sized write to
    # executor storage instead of 3× the tokenize/explode CPU).
    segs = segs.localCheckpoint()
    pairs = minhash_lsh_pairs(
        segs.select("uid", "seg"),
        text_col="seg",
        id_col="uid",
        k=shingle_k,
        threshold=threshold,
    )
    drops = pairs.select(F.col("id_b").alias("uid")).distinct()
    kept = segs.join(drops, "uid", "left_anti")
    per_doc_total = segs.groupBy("id").agg(F.count(F.lit(1)).alias("n_segments"))
    return (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda s: s.getField("seg"),
                ),
                " ",
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(per_doc_total, "id")
        .select("id", "text_dedup", "n_kept", "n_segments")
    )


def exact_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact duplicated-SPAN removal — the suffix-array substring dedup
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better") re-expressed as a rolling-window plan: every
    ``k``-token window that also occurs in an earlier document (lower
    id; the corpus-wide first holder is the *owner*) is cut out of the
    later document, overlapping windows merging into maximal removed
    spans via position-coverage union. Unlike :func:`segment_dedup`'s
    aligned fixed segments, the windows ROLL, so a duplicated run at
    any offset is caught — the property that makes the suffix-array
    method effective — while remaining a pure DataFrame plan.

    Plan shape (100 TB): ONE shuffle of (gram-hash, id, pos) rows —
    the hash is a 60-bit md5 prefix, id-only wire width — with
    ``min(id)`` ownership computed as a window over that same
    exchange (r10: the former groupBy+probe-join consumed the gram
    explode twice and shuffled owner partials on top of the probe
    rows), then one per-doc ``collect_list`` of duplicate start
    positions (bounded by tokens-per-doc). Token filtering happens per-row in JVM
    higher-order functions: position ``i`` survives iff no duplicate
    window start ``s`` covers it (``s <= i < s+k``) — O(n_tokens ×
    n_dup_windows) per row inside codegen, no token-level shuffle.

    Returns (id, n_tokens, n_removed, text_dedup). The owner document
    of every span is untouched; fully-duplicated later documents
    collapse to empty text (C4/Lee-et-al semantics).
    """
    # null/empty text -> zero tokens (split(NULL) would propagate a
    # NULL array and legacy size() turns that into n_tokens=-1)
    arr = F.when(
        F.col(text_col).isNull() | (F.col(text_col) == ""),
        F.expr("array()").cast("array<string>"),
    ).otherwise(F.split(F.col(text_col), " "))
    d = df.select(F.col(id_col).alias("id"), arr.alias("toks")).withColumn(
        "n", F.size("toks")
    )
    starts = F.when(
        F.col("n") >= k, F.sequence(F.lit(0), F.col("n") - k)
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = F.transform(
        starts,
        lambda i: F.array_join(F.slice(F.col("toks"), i + 1, k), " "),
    )
    w = d.select("id", F.posexplode(grams).alias("pos", "g")).select(
        "id",
        "pos",
        F.expr(
            "cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)"
        ).alias("gh"),
    )
    # min(id) ownership attached by the skew-safe salted two-level min
    # (r11, VERDICT r10 #1): the corpus is still tokenized/hashed ONCE
    # (one salted gh exchange, read by the per-(gh, salt) partial-min
    # aggregate and the attach join — the r9 groupBy+probe-join form
    # consumed the gram explode twice), but unlike the r10 window over
    # hash(gh), a corpus-hot gram no longer ships its entire row set
    # to one task: every task's input is bounded by |gram| / n_salts.
    from pandas_etl_spark.functions.dedup import salted_key_stat

    dup_starts = (
        salted_key_stat(w, ["gh"], "id", "min", "owner")
        .filter(F.col("id") > F.col("owner"))
        .groupBy("id")
        .agg(F.collect_list("pos").alias("dup_starts"))
    )
    kw = F.lit(k)
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.col("dup_starts"), lambda s: (i >= s) & (i < s + kw)
        ),
    )
    return (
        d.join(dup_starts, "id", "left")
        .withColumn(
            "dup_starts",
            F.coalesce(F.col("dup_starts"), F.expr("array()").cast("array<int>")),
        )
        .select(
            "id",
            F.col("n").cast("bigint").alias("n_tokens"),
            (F.col("n") - F.size(kept)).cast("bigint").alias("n_removed"),
            F.array_join(kept, " ").alias("text_dedup"),
        )
    )


def nfc_udf() -> Column:
    """Arrow-batched NFC normalizer factory. Unicode canonical
    composition has no Catalyst builtin, so this is one of the few
    justified pandas_udf sites in the text family: a pure map
    (no shuffle), Arrow-batch transfer, ~1e6 rows/s/core via
    ``unicodedata.normalize`` which is a C loop per string."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else x
        )

    return _nfc


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Standard ingest-time text normalization: NFC canonical
    composition (decomposed e + U+0301 → é, the multi-encoding-source
    unifier), control-character strip, whitespace collapse, trim.
    Everything but the NFC step is JVM ``regexp_replace``; NFC is the
    Arrow-batched :func:`nfc_udf`. Pure map — no shuffle at any scale.

    Returns (id, n_chars_in, n_chars_out, changed, text_norm) with
    char counts in code points (comparable across engines). NULL text
    propagates as NULL output (map semantics); callers wanting
    empty-string coercion coalesce first.
    """
    nfc = nfc_udf()
    raw = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                nfc(raw), r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""
            ),
            r"\s+",
            " ",
        )
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.length(raw).cast("bigint").alias("n_chars_in"),
        F.length(norm).cast("bigint").alias("n_chars_out"),
        (norm != raw).alias("changed"),
        norm.alias("text_norm"),
    )


def _span_windows(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared tokenize+rolling-window builder for the span-dedup family:
    returns (docs = (id, toks, n), windows = (id, pos, gh)) with the
    same null/empty coercion and portable 60-bit md5 gram hash as
    :func:`exact_span_dedup`."""
    arr = F.when(
        F.col(text_col).isNull() | (F.col(text_col) == ""),
        F.expr("array()").cast("array<string>"),
    ).otherwise(F.split(F.col(text_col), " "))
    d = df.select(F.col(id_col).alias("id"), arr.alias("toks")).withColumn(
        "n", F.size("toks")
    )
    starts = F.when(
        F.col("n") >= k, F.sequence(F.lit(0), F.col("n") - k)
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = F.transform(
        starts,
        lambda i: F.array_join(F.slice(F.col("toks"), i + 1, k), " "),
    )
    w = d.select("id", F.posexplode(grams).alias("pos", "g")).select(
        "id",
        "pos",
        F.expr(
            "cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)"
        ).alias("gh"),
    )
    return d, w


def _span_rewrite(d: DataFrame, dup: DataFrame, k: int) -> DataFrame:
    """Given docs (id, toks, n) and duplicate window starts (id, pos),
    merge coverage and reassemble surviving tokens — the rewrite core
    shared by :func:`exact_span_dedup` and the incremental variant."""
    dup_starts = dup.groupBy("id").agg(F.collect_list("pos").alias("dup_starts"))
    kw = F.lit(k)
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.col("dup_starts"), lambda s: (i >= s) & (i < s + kw)
        ),
    )
    return (
        d.join(dup_starts, "id", "left")
        .withColumn(
            "dup_starts",
            F.coalesce(F.col("dup_starts"), F.expr("array()").cast("array<int>")),
        )
        .select(
            "id",
            F.col("n").cast("bigint").alias("n_tokens"),
            (F.col("n") - F.size(kept)).cast("bigint").alias("n_removed"),
            F.array_join(kept, " ").alias("text_dedup"),
        )
    )


def corpus_span_grams(
    corpus_df: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Distinct rolling ``k``-gram hashes of an accepted corpus — the
    (gh)-only frame :func:`span_dedup_against` checks new batches
    against. This is the whole index: 8 bytes per distinct gram."""
    _, w = _span_windows(
        corpus_df.select(F.lit(0).alias("__id"), F.col(text_col)),
        text_col,
        "__id",
        k,
    )
    return w.select("gh").distinct()


def span_dedup_against(
    new_df: DataFrame,
    corpus_grams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Incremental exact-span dedup — the daily-ingest shape of
    :func:`exact_span_dedup`: a new batch is rewritten against the
    ACCEPTED corpus (every window whose gram hash is already in
    ``corpus_grams`` is cut) plus in-batch first-holder ownership for
    grams the corpus has not seen. The corpus itself is never
    re-scanned or re-shuffled: ``corpus_grams`` is the write-once
    (gh)-frame from :func:`corpus_span_grams` /
    :func:`build_span_index`, amortized across batches.

    When every batch's accepted text feeds :func:`append_span_index`,
    batch ``B_n`` sees exactly the grams of all previously accepted
    text — the semantics an incremental substring-dedup service
    provides (dedup against what was KEPT; rewriting can create new
    token adjacencies, so equivalence to a one-shot pass over raw
    history is intentionally not claimed — same as suffix-array
    services rebuilt periodically).

    Plan: batch-sized window explode consumed ONCE (r10): one left
    join against the distinct (gh)-only gram index marks index hits,
    and in-batch ``min(id)`` ownership is a window over the same gh
    exchange. No corpus payload moves — the index side is 8 bytes
    wide. Output schema = exact_span_dedup."""
    d, w = _span_windows(new_df, text_col, id_col, k)
    # Single pass over the batch grams. The former semi/anti join pair
    # plus owner agg + probe join consumed the window explode THREE
    # times (the semi and anti branches don't even canonicalize equal —
    # the semi join infers isnotnull(gh) into its branch's scan, the
    # anti doesn't, so AQE cannot stage-reuse them). A hit is a
    # property of the gh group (either the index holds the gram — all
    # rows dup — or in-batch ownership applies), so one left join
    # marking hits and one min(id) window over the gh shuffle yields
    # the identical dup set: hit rows ∪ fresh rows with id > owner.
    # The index must be distinct on gh: unlike the former semi join, a
    # left join fans out per duplicate index row, and the streaming
    # span index legitimately holds duplicate grams across __batch
    # partitions (replay-self-contained appends). Results would still
    # be identical (_span_rewrite's coverage union is duplicate-
    # insensitive) but the fan-out is wasted rows; the distinct's
    # aggregate rides the very gh exchange the join needs, so it adds
    # no shuffle (batch corpus_span_grams callers pass an
    # already-distinct frame and pay only a no-op re-agg).
    from pandas_etl_spark.functions.dedup import salted_key_stat

    idx = corpus_grams.select("gh").distinct().withColumn("__hit", F.lit(True))
    # in-batch ownership via the skew-safe salted two-level min (r11,
    # VERDICT r10 #1) — same single-consumption of the window explode
    # as the r10 window form, without concentrating a batch-hot gram's
    # rows in one window task. The index left join stays keyed on gh
    # (a join, so AQE skew-splitting covers an oversized gh partition
    # there; windows have no such runtime mitigation).
    dup = (
        salted_key_stat(w.join(idx, "gh", "left"), ["gh"], "id", "min", "owner")
        .filter(
            F.coalesce(F.col("__hit"), F.lit(False))
            | (F.col("id") > F.col("owner"))
        )
        .select("id", "pos")
    )
    return _span_rewrite(d, dup, k)


def build_span_index(
    corpus_df: DataFrame,
    path: str,
    text_col: str = "text",
    k: int = 8,
) -> str:
    """Materialize :func:`corpus_span_grams` as a write-once parquet
    gram index at ``path`` (``grams/`` + ``_meta.json`` pinning k).
    The corpus's only shuffle (gram distinct) runs ONCE; every later
    batch pays only batch-sized work plus an index scan."""
    import json
    import os

    spark = corpus_df.sparkSession
    corpus_span_grams(corpus_df, text_col, k).write.mode("overwrite").parquet(
        os.path.join(path, "grams")
    )
    meta = json.dumps({"k": k})
    spark.createDataFrame([(meta,)], "meta string").coalesce(1).write.mode(
        "overwrite"
    ).text(os.path.join(path, "_meta.json"))
    return path


def _read_span_index(spark, path: str) -> tuple[DataFrame, int]:
    import json
    import os

    from pandas_etl_spark.sources.io import read_parquet

    meta = json.loads(spark.read.text(os.path.join(path, "_meta.json")).first()[0])
    return read_parquet(spark, os.path.join(path, "grams")), int(meta["k"])


def span_dedup_indexed(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`span_dedup_against` reading the gram frame (and k) from a
    :func:`build_span_index` path."""
    idx, k = _read_span_index(new_df.sparkSession, index_path)
    return span_dedup_against(new_df, idx, text_col, id_col, k)


def append_span_index(
    accepted_df: DataFrame,
    index_path: str,
    text_col: str = "text",
) -> None:
    """Fold a batch's ACCEPTED (rewritten) text into the gram index:
    only grams the index does not already hold append — per-batch cost
    ∝ batch grams, index growth ∝ genuinely novel grams."""
    import os

    spark = accepted_df.sparkSession
    idx, k = _read_span_index(spark, index_path)
    new_grams = corpus_span_grams(accepted_df, text_col, k).join(
        idx, "gh", "left_anti"
    )
    new_grams.write.mode("append").parquet(os.path.join(index_path, "grams"))


def rake_keyphrases(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    max_phrase_len: int = 4,
    top_k: int = 15,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal runs of consecutive non-stopword tokens (the token-level
    gaps-and-islands trick — ``pos - row_number`` anchors a run), word
    scores are corpus-level ``deg/freq`` where deg(w) sums the lengths
    of every phrase containing w, and a phrase scores the sum of its
    member word scores. Output: top ``top_k`` phrases by score.

    Scale shape: posexplode -> one (doc) shuffle for the islands window
    -> phrase/member frames keyed on (doc, anchor) reuse that
    partitioning; the word-score frame is vocabulary-sized and joins
    back by token (df-bounded, same as the TF-IDF inverted index). No
    Python, no driver loops. Positions keep the RAW split indices
    (empty tokens filtered after posexplode) so any SQL oracle
    reproduces the islands bit-for-bit."""
    from pyspark.sql import Window

    raw = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), _WS)).alias(
            "pos", "tok"
        ),
    ).filter(F.col("tok") != "")
    nonstop = raw.filter(~F.col("tok").isin(*LANG_STOPWORDS[lang]))
    w = Window.partitionBy("doc_id").orderBy("pos")
    ns = nonstop.withColumn("anchor", F.col("pos") - F.row_number().over(w))
    ph = (
        ns.groupBy("doc_id", "anchor")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("len"),
        )
        .filter(F.col("len") <= max_phrase_len)
    )
    mem = ns.join(ph.select("doc_id", "anchor", "len"), ["doc_id", "anchor"])
    word_scores = mem.groupBy("tok").agg(
        (F.sum("len").cast("double") / F.count(F.lit(1))).alias("s")
    )
    psc = (
        mem.join(word_scores, "tok")
        .groupBy("doc_id", "anchor")
        .agg(F.sum("s").alias("score"))
    )
    agg = (
        ph.join(psc, ["doc_id", "anchor"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.max("score"), 6).alias("score"),
        )
    )
    return agg.orderBy(F.col("score").desc(), F.col("phrase").asc()).limit(top_k)


def compression_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """zlib compression ratio per document (deflate bytes / raw bytes) —
    the model-free repetition/templating signal used by large-corpus
    curation (boilerplate and generated spam compress far below prose;
    Gopher-era pipelines gate on exactly this). Arrow-batched pandas_udf
    (the deflate loop is the rare case a JVM expression can't express);
    everything else stays in the scan projection. Ratio is ~0.4-0.8 for
    natural text; ``repetitive`` flags ratio < 0.4."""
    import zlib

    @F.pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        def r(t: str | None) -> float:
            b = (t or "").encode("utf-8")
            if not b:
                return 1.0
            return round(len(zlib.compress(b, 6)) / len(b), 6)

        return s.map(r)

    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(c).cast("bigint").alias("n_chars"),
        _ratio(c).alias("compression_ratio"),
    ).withColumn("repetitive", F.col("compression_ratio") < 0.4)
