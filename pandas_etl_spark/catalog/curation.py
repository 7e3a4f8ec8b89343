"""Corpus-curation catalog queries: repetition gating, benchmark
decontamination, PII redaction, mixture rebalancing, dataset splits,
temporal islands/SCD2, and numeric outlier gates.

These extend the LLM-training-data surface (SURVEY §2 extensions)
beyond dedup/similarity: the filters a Gopher/C4-style curation
pipeline applies between ingest and tokenization. Oracle SQL mirrors
the exact expression order (IEEE doubles, explicit DOUBLE casts — DuckDB
numeric literals default to DECIMAL) so value-hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_etl_spark.catalog.registry import query
from pandas_etl_spark.functions.dedup import ngram_decontaminate
from pandas_etl_spark.functions.text import (
    pii_match_count,
    redact_pii,
    repetition_stats,
)
from pandas_etl_spark.operators.intervals import merge_intervals, scd2_history
from pandas_etl_spark.operators.quality import winsorize, zscore_outliers
from pandas_etl_spark.operators.sampling import (
    _MODULUS,
    _bucket,
    _threshold,
    dataset_split,
    mixture_sample,
    shuffle_shards,
)
from pandas_etl_spark.sources import load_table
from pandas_etl_spark.sources.io import ensure_parallelism

# DuckDB mirror of functions.text.tokens()
_DD_TOK = "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')"


def _dd_grams(n: int) -> str:
    """DuckDB mirror of functions.text.word_ngrams — 1-based ``t[i]``
    matches Spark's ``element_at``; the short-doc CASE guard matches the
    Spark-side guard (Spark's sequence(1, 0) is DESCENDING, DuckDB's
    generate_series(1, 0) is empty — both sides must special-case)."""
    parts = ", ' ', ".join(f"t[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len(t) < {n} THEN [] "
        f"ELSE list_transform(generate_series(1, len(t) - {n - 1}), "
        f"i -> concat({parts})) END"
    )


_DD_BUCKET = (
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
    f" % {_MODULUS}"
)


@query(
    "repetition_filter",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {_DD_TOK} AS t FROM documents
    ), grams AS (
        SELECT doc_id, len(t) AS n_tokens,
               {_dd_grams(2)} AS g2, {_dd_grams(3)} AS g3
        FROM tok
    ), pr AS (
        SELECT doc_id, n_tokens,
               len(g2) AS n2, len(list_distinct(g2)) AS d2,
               len(g3) AS n3, len(list_distinct(g3)) AS d3
        FROM grams
    ), top AS (
        SELECT doc_id, max(c) AS max_word_count FROM (
            SELECT doc_id, w, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS w FROM tok)
            GROUP BY doc_id, w
        ) GROUP BY doc_id
    )
    SELECT pr.doc_id,
           CAST(n_tokens AS BIGINT)                       AS n_tokens,
           CAST(max_word_count AS BIGINT)                 AS max_word_count,
           CAST(max_word_count AS DOUBLE) / greatest(n_tokens, 1) AS top_word_frac,
           CAST(n2 - d2 AS DOUBLE) / greatest(n2, 1)      AS dup_2gram_frac,
           CAST(n3 - d3 AS DOUBLE) / greatest(n3, 1)      AS dup_3gram_frac,
           (CAST(max_word_count AS DOUBLE) / greatest(n_tokens, 1) > CAST(0.20 AS DOUBLE)
            OR CAST(n2 - d2 AS DOUBLE) / greatest(n2, 1) > CAST(0.30 AS DOUBLE))
                                                          AS repetitive
    FROM pr JOIN top ON pr.doc_id = top.doc_id
    """,
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (duplicate-n-gram / top-word
    fractions) — see functions/text.py:repetition_stats for the
    per-row-array + single-(id,token)-shuffle plan shape."""
    return repetition_stats(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )


_SW_LIST = "['the','and','of','to','in','is','that','it','for','with']"


@query(
    "gopher_quality_gate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, text, {_DD_TOK} AS t FROM documents
    ), m AS (
        SELECT doc_id,
               len(t) AS n,
               coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS sum_len,
               len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS alpha,
               len(list_filter(t, x -> list_contains({_SW_LIST}, x))) AS sw,
               (len(text) - len(replace(text, '#', '')))
                 + (len(text) - len(replace(text, '...', ''))) // 3 AS sym
        FROM tok
    )
    SELECT doc_id,
           CAST(n AS BIGINT)                              AS n_tokens,
           round(sum_len * 1.0 / greatest(n, 1), 6)       AS mean_word_len,
           round(sym * 1.0 / greatest(n, 1), 6)           AS symbol_ratio,
           round(alpha * 1.0 / greatest(n, 1), 6)         AS alpha_word_frac,
           CAST(sw AS BIGINT)                             AS n_stopwords,
           (n >= 30 AND n <= 100000
            AND sum_len >= 3 * n AND sum_len <= 10 * n
            AND 10 * sym <= n
            AND 5 * alpha >= 4 * n
            AND sw >= 2)                                  AS passes
    FROM m
    """,
)
def q_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate (Rae et al. 2021 Table A1, the
    non-repetition rules): word-count bounds, mean word length in
    [3, 10], symbol-to-word ratio, alphabetic-word fraction, stopword
    presence. Zero-shuffle per-row array expressions (see
    functions/text.py:gopher_stats); every gate flag is an exact
    integer comparison so engines can never disagree at a boundary.
    Complements repetition_filter (the duplicate-n-gram rules) — the
    pair reproduces the full Gopher document filter."""
    from pandas_etl_spark.functions.text import gopher_stats

    return gopher_stats(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )


@query(
    "source_overlap_jaccard",
    oracle=f"""
    WITH g AS (
        SELECT DISTINCT source,
               CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT) AS gh
        FROM (
            SELECT source, unnest(list_distinct({_dd_grams(5)})) AS gram
            FROM (SELECT source, {_DD_TOK} AS t FROM documents)
        )
    ), sizes AS (SELECT source, count(*) AS n FROM g GROUP BY source),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM g a JOIN g b USING (gh) WHERE a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(n_shared AS BIGINT) AS n_shared,
           round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS gram_jaccard
    FROM shared
    JOIN sizes sa ON sa.source = shared.source_a
    JOIN sizes sb ON sb.source = shared.source_b
    """,
)
def q_source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: Jaccard similarity of the
    distinct word-5-gram sets of every source pair — the audit run
    before mixing crawl snapshots / dumps into one training corpus (a
    high-overlap pair means one source is largely a re-crawl of the
    other and its mixture weight double-counts).

    Scale shape: each side reduces to distinct (source, gram-hash)
    pairs — the wide shuffle carries (int, short-string) rows keyed on
    the 60-bit md5-prefix hash, never gram text. Per-hash source lists
    are bounded by |sources|, so the in-bucket i<j pair expansion emits
    at most |sources|^2 rows per gram; the per-source set sizes are a
    tiny aggregate broadcast onto the pair counts. One wide shuffle
    total at any corpus size."""
    from pandas_etl_spark.functions.text import tokens, word_ngrams

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    g = (
        docs.select(
            "source", tokens("text").alias("t")
        )
        .select(
            "source",
            F.explode(F.array_distinct(word_ngrams("t", 5))).alias("gram"),
        )
        .select(
            "source",
            F.expr(
                "cast(conv(substring(md5(gram), 1, 15), 16, 10) as bigint)"
            ).alias("gh"),
        )
        .distinct()
    )
    sizes = g.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        g.groupBy("gh")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("p")
        )
        .select("p.source_a", "p.source_b")
    )
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b")))
    return (
        shared.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("gram_jaccard"),
        )
    )


_EVAL_FRAC = 0.05
_EVAL_THR = _threshold(_EVAL_FRAC)


@query(
    "decontaminate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {_DD_TOK} AS t FROM documents
    ), g AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT) AS gh
        FROM (
            SELECT doc_id, unnest(list_distinct({_dd_grams(5)})) AS gram
            FROM tok
        )
    ), b AS (
        SELECT doc_id, {_DD_BUCKET} AS bucket FROM documents
    ), eg AS (
        SELECT DISTINCT gh FROM g JOIN b USING (doc_id)
        WHERE bucket < {_EVAL_THR}
    ), hits AS (
        SELECT doc_id, count(*) AS n FROM g JOIN b USING (doc_id)
        WHERE bucket >= {_EVAL_THR} AND gh IN (SELECT gh FROM eg)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared_ngrams,
           coalesce(h.n, 0) > 0             AS contaminated
    FROM documents d
    JOIN b USING (doc_id)
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE b.bucket >= {_EVAL_THR}
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: eval split = deterministic 5% md5
    sample; flag every training doc sharing a distinct word 5-gram with
    it. Join key is a 60-bit md5-prefix int (id-only wide shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket("doc_id", _MODULUS)
    return ngram_decontaminate(
        docs.filter(b >= _EVAL_THR), docs.filter(b < _EVAL_THR), n=5
    )


@query(
    "pii_redact",
    oracle=r"""
    SELECT event_id,
           props,
           regexp_replace(
               regexp_replace(props,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[REDACTED]', 'g'),
               '[0-9]+', '[REDACTED]', 'g')  AS redacted,
           CAST(len(regexp_extract_all(props,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_pii
    FROM events
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (email + number families) over the event
    payloads — chained codegen'd regexp_replace, no Python. Patterns are
    restricted to the java.util.regex ∩ RE2 construct subset."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    return ev.select(
        "event_id",
        "props",
        redact_pii("props").alias("redacted"),
        pii_match_count("props").alias("n_pii"),
    )


_MIX_TARGETS = {"de": 0.2, "en": 0.25, "es": 0.2, "fr": 0.2, "zh": 0.15}
_DD_MIX_W = (
    "CASE lang "
    + " ".join(
        f"WHEN '{s}' THEN CAST({w} AS DOUBLE)" for s, w in sorted(_MIX_TARGETS.items())
    )
    + " ELSE CAST(0.0 AS DOUBLE) END"
)


@query(
    "mixture_sample",
    oracle=f"""
    WITH counts AS (
        SELECT lang, count(*) AS n_stratum,
               sum(count(*)) OVER () AS n_total
        FROM documents GROUP BY lang
    ), th AS (
        SELECT lang,
               CAST(floor(least(CAST(1.0 AS DOUBLE),
                   {_DD_MIX_W} * CAST(n_total AS BIGINT) / CAST(n_stratum AS BIGINT))
                   * CAST({_MODULUS} AS DOUBLE)) AS BIGINT) AS thresh
        FROM counts
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN th USING (lang)
    WHERE {_DD_BUCKET} < thresh
    """,
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture rebalancing toward Pile-style target weights:
    per-stratum deterministic keep fraction min(1, w·N/n) — tiny counts
    frame broadcast back, narrow md5-bucket filter (membership stable
    under repartitioning)."""
    docs = load_table(spark, sf_dir, "documents")
    return mixture_sample(docs, "doc_id", "lang", _MIX_TARGETS).select(
        "doc_id", "lang"
    )


_T1 = _threshold(0.8)
_T2 = _threshold(0.8 + 0.1)


@query(
    "dataset_split",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           CASE WHEN {_DD_BUCKET} < {_T1} THEN 'train'
                WHEN {_DD_BUCKET} < {_T2} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by content hash of doc_id — stable
    across runs/partitionings/appends (unlike randomSplit), which is the
    property eval-set decontamination depends on."""
    docs = load_table(spark, sf_dir, "documents")
    return dataset_split(docs, "doc_id").select("doc_id", "lang", "n_chars", "split")


@query(
    "merge_intervals",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id, ts AS s, ts + INTERVAL 5 MINUTE AS e
        FROM events
    ), m AS (
        SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM iv
    ), f AS (
        SELECT *, CASE WHEN prev_end IS NULL OR s > prev_end THEN 1 ELSE 0 END AS ni
        FROM m
    ), g AS (
        SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM f
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           min(s) AS island_start, max(e) AS island_end,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM g GROUP BY user_id, island
    """,
)
def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity islands: each event spans [ts, ts+5min];
    overlapping/touching spans merge (gaps-and-islands via running-max
    window — one shuffle, O(1) state per row)."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events")).select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    return merge_intervals(ev, "user_id", "s", "e", "event_id")


@query(
    "scd2_history",
    oracle="""
    WITH w1 AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    ), r AS (
        SELECT *, sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        FROM w1
    ), h AS (
        SELECT user_id, version, min(event_type) AS event_type,
               min(ts) AS valid_from, count(*) AS n_events
        FROM r GROUP BY user_id, version
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
           CAST(n_events AS BIGINT) AS n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL
               AS is_current
    FROM h
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history from the event log: consecutive
    equal event_type runs per user collapse to validity ranges
    (valid_to = next run's valid_from; NULL = current)."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    return scd2_history(ev, "user_id", "event_type", "ts", "event_id")


@query(
    "outlier_zscore",
    oracle="""
    WITH s AS (
        SELECT event_type, count(*) AS n, sum(value) AS sm,
               sum(value * value) AS ss
        FROM events GROUP BY event_type
    ), st AS (
        SELECT event_type,
               sm / CAST(n AS DOUBLE) AS mean,
               sqrt((ss - sm * sm / CAST(n AS DOUBLE))
                    / nullif(CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE),
                             CAST(0.0 AS DOUBLE))) AS sd
        FROM s
    )
    SELECT event_id, e.event_type, value,
           round((value - mean) / nullif(sd, CAST(0.0 AS DOUBLE)), 6) AS z,
           coalesce(abs(round((value - mean) / nullif(sd, CAST(0.0 AS DOUBLE)), 6))
                    > CAST(3.0 AS DOUBLE), false) AS is_outlier
    FROM events e JOIN st USING (event_type)
    """,
)
def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score anomaly gate. Explicit sum/sumsq variance
    (NOT var_samp — Welford merge-order ulp drift, see
    operators/quality.py:zscore_outliers); z rounded before
    thresholding so the flag can't flip on ulp noise. No
    ensure_parallelism: float sums are order-sensitive and the
    single-split scan keeps Spark's summation order equal to DuckDB's."""
    ev = load_table(spark, sf_dir, "events")
    return zscore_outliers(
        ev, "value", group_cols=["event_type"], id_cols=["event_id"]
    )


@query(
    "multi_resolution_rollup",
    oracle="""
    SELECT date_trunc('day', ts)  AS day_bucket,
           date_trunc('hour', ts) AS hour_bucket,
           CAST(grouping(date_trunc('hour', ts)) AS BIGINT) AS is_day_level,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 6) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((date_trunc('day', ts), date_trunc('hour', ts)),
                            (date_trunc('day', ts)))
    """,
)
def q_multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hourly AND daily
    aggregates of the event stream in ONE scan via GROUPING SETS (the
    continuous-aggregate shape TimescaleDB maintains incrementally).
    Catalyst's Expand produces both grains from a single pass — no
    second scan, one shuffle keyed by the expanded grouping."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("cat_mrr_events")
    return spark.sql(
        """
        SELECT date_trunc('day', ts)  AS day_bucket,
               date_trunc('hour', ts) AS hour_bucket,
               CAST(grouping(date_trunc('hour', ts)) AS BIGINT) AS is_day_level,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 6) AS total_value
        FROM cat_mrr_events
        GROUP BY GROUPING SETS ((date_trunc('day', ts), date_trunc('hour', ts)),
                                (date_trunc('day', ts)))
        """
    )


@query(
    "winsorize_values",
    oracle="""
    WITH cuts AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           least(greatest(value, lo), hi) AS clipped,
           (value < lo OR value > hi)     AS was_clipped
    FROM events e JOIN cuts USING (event_type)
    """,
)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type percentile clipping (see operators/quality.py:winsorize
    — cutpoint agg + broadcast + narrow clip; F.percentile ≡
    quantile_cont bit-exact)."""
    ev = load_table(spark, sf_dir, "events")
    return winsorize(ev, "value", group_cols=["event_type"], id_cols=["event_id"])


# reuse catalog.text's proven-bit-exact quality-score SQL fragments
from pandas_etl_spark.catalog.text import _DD_NTOK, _DD_PUNCT, _dd_hits  # noqa: E402

_DD_QUALITY = (
    f"0.4 * least(CAST({_DD_NTOK} AS DOUBLE) / 20.0, 1.0)"
    f" + 0.3 * (1.0 - least(({_DD_PUNCT}) * 5, 1.0))"
    f" + 0.3 * least((CAST({_dd_hits('en')} AS DOUBLE) / greatest({_DD_NTOK}, 1)) * 10, 1.0)"
)


@query(
    "quality_weighted_sample",
    oracle=f"""
    WITH q AS (SELECT doc_id, {_DD_QUALITY} AS quality FROM documents)
    SELECT doc_id, quality FROM q
    WHERE {_DD_BUCKET}
          < CAST(floor(quality * CAST({_MODULUS} AS DOUBLE)) AS BIGINT)
    """,
)
def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by quality score: a doc survives with
    probability equal to its quality (deterministic md5-bucket coin —
    stable across runs). The soft-filter curation step between a hard
    quality gate and keeping everything. Narrow filter over the scored
    projection — no shuffle."""
    from pandas_etl_spark.functions.text import quality_score

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    scored = docs.select("doc_id", quality_score("text").alias("quality"))
    thresh = F.floor(F.col("quality") * F.lit(float(_MODULUS))).cast("bigint")
    return scored.filter(_bucket("doc_id", _MODULUS) < thresh)


_TOKEN_BUDGET = 20_000


@query(
    "token_budget_select",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, {_DD_QUALITY} AS quality,
               CAST(len({_DD_TOK}) AS BIGINT) AS n_tokens
        FROM documents
    ), ranked AS (
        SELECT doc_id, quality, n_tokens,
               sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        FROM scored
    )
    SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE cum_tokens - n_tokens < {_TOKEN_BUDGET}
    """,
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus selection: take documents in descending
    quality order until the token budget fills (a doc is admitted if the
    budget wasn't exhausted BEFORE it — so the selection always overruns
    by at most one doc and is deterministic via the (quality, doc_id)
    total order).

    Scale note: a bare ``Window.orderBy`` cumsum would move the whole
    corpus into ONE partition; this uses the distributed prefix-sum in
    operators/prefix.py (range-repartition → parallel per-partition
    cumsum → broadcast per-partition offsets). The scan projects only
    (doc_id, quality, n_tokens); text never leaves the first
    projection."""
    from pandas_etl_spark.functions.text import quality_score, token_count
    from pandas_etl_spark.operators.prefix import global_running_sum

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
    )
    ranked = global_running_sum(
        scored,
        [F.desc("quality"), F.asc("doc_id")],
        "n_tokens",
        "cum_tokens",
    ).withColumn("cum_tokens", F.col("cum_tokens").cast("bigint"))
    return ranked.select("doc_id", "quality", "n_tokens", "cum_tokens").filter(
        F.col("cum_tokens") - F.col("n_tokens") < _TOKEN_BUDGET
    )


@query(
    "group_share_transform",
    oracle="""
    SELECT event_id, event_type, value,
           round(value / sum(value) OVER (PARTITION BY event_type), 6)
               AS value_share
    FROM events
    """,
)
def q_group_share_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas groupby().transform() shape: each row annotated with its
    share of the group total — an unordered window over the group key
    (one shuffle, no sort, row count preserved). Rounded above window-
    vs-sequential float-summation ulp drift."""
    from pandas_etl_spark.pandas_ops import Table

    ev = load_table(spark, sf_dir, "events")
    t = Table(ev.select("event_id", "event_type", "value")).groupby(
        "event_type"
    ).transform("sum", "value", out_col="__total")
    return t.df.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("value") / F.col("__total"), 6).alias("value_share"),
    )


_LS_T1 = _threshold(0.9)  # 90/10 train/eval — eval stays usable at sf0.001


@query(
    "leakage_safe_split",
    oracle=None,  # set below: needs catalog.dedup's shingle SQL
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/eval split: near-duplicate documents must land
    on the SAME side, or eval leaks train content (the standard failure
    mode hash-splitting individual doc_ids cannot prevent). Plan:
    n-gram-Jaccard pair graph → star-contraction connected components →
    md5 hash-bucket the CLUSTER id, so every member of a near-dup
    cluster moves together and the split stays deterministic across
    runs/appends. Singletons hash on their own id (cluster_id = id)."""
    from pandas_etl_spark.catalog import dedup as cdd
    from pandas_etl_spark.functions import dedup as fdd

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    pairs = fdd.ngram_jaccard_pairs(
        d, "text", "doc_id", k=cdd._K, threshold=0.5, max_df=cdd._MAX_DF
    )
    labels = fdd.connected_components(pairs, nodes=d, id_col="doc_id")
    b = _bucket("cluster_id", _MODULUS)
    return labels.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.when(b < _LS_T1, "train").otherwise("eval").alias("split"),
    )


def _leakage_safe_split_oracle() -> str:
    from pandas_etl_spark.catalog import dedup as cdd

    return f"""
    WITH RECURSIVE
    sh0 AS (
        SELECT doc_id AS id, unnest({cdd._DD_SHINGLES}) AS shingle FROM documents
    ),
    rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {cdd._MAX_DF}),
    sh AS (SELECT sh0.id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    cand AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
        FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id
        GROUP BY 1, 2
    ),
    good AS (
        SELECT id_a, id_b
        FROM cand
        JOIN sizes sa ON sa.id = cand.id_a
        JOIN sizes sb ON sb.id = cand.id_b
        WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.5
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM good
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM good
    ),
    reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.a AS id, reach.r AS r FROM edges e JOIN reach ON reach.id = e.b
    ),
    labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT id AS doc_id, cluster_id,
           CASE WHEN CAST('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
                          AS BIGINT) % {_MODULUS} < {_LS_T1}
                THEN 'train' ELSE 'eval' END AS split
    FROM labels
    """


from pandas_etl_spark.catalog.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["leakage_safe_split"] = _leakage_safe_split_oracle()


@query(
    "nucleus_select_per_source",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, source, {_DD_QUALITY} AS quality FROM documents
    ),
    r AS (
        SELECT doc_id, source, quality,
               sum(quality) OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum,
               sum(quality) OVER (PARTITION BY source) AS total
        FROM q
    )
    SELECT doc_id, source, round(quality, 6) AS quality,
           round(cum / total, 6) AS cum_share
    FROM r WHERE (cum - quality) / total < 0.8
    """,
)
def q_nucleus_select_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) curation per source: keep each domain's
    best-quality documents until 80% of the domain's total quality mass
    is covered (the crossing document included) — the budgeted
    keep-the-best-of-every-domain policy between a hard gate and a
    global top-k. One shuffle on source feeds both the running and the
    total window; the boundary comparison is engine-stable because both
    engines fold the running sum in the SAME deterministic
    (quality desc, doc_id) order."""
    from pandas_etl_spark.functions.text import quality_score
    from pyspark.sql import Window as W

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    q = docs.select("doc_id", "source", quality_score("text").alias("quality"))
    w_run = (
        W.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_tot = W.partitionBy("source")
    r = q.select(
        "doc_id",
        "source",
        "quality",
        F.sum("quality").over(w_run).alias("cum"),
        F.sum("quality").over(w_tot).alias("total"),
    )
    return r.filter(
        (F.col("cum") - F.col("quality")) / F.col("total") < 0.8
    ).select(
        "doc_id",
        "source",
        F.round("quality", 6).alias("quality"),
        F.round(F.col("cum") / F.col("total"), 6).alias("cum_share"),
    )


@query(
    "k_anonymity_audit",
    oracle="""
    WITH g AS (
        SELECT c_mktsegment, c_nationkey, count(*) AS group_size
        FROM customer GROUP BY 1, 2
    )
    SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(group_size AS BIGINT) AS group_size,
           group_size < 5 AS violates_k5
    FROM g
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-release audit: group sizes over the quasi-identifier pair
    (segment, nation) with k=5 violation flags — rows in a violating
    group are re-identifiable by their quasi-identifiers, the check run
    before any per-group data release (and the structural complement of
    the regex-level pii_redact gate). One shuffle to the QI grid; at
    100 TB the grid is |segments|x|nations|, not data-sized."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return g.select(
        "c_mktsegment",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        F.col("group_size").cast("bigint").alias("group_size"),
        (F.col("group_size") < 5).alias("violates_k5"),
    )


@query(
    "group_sample_n",
    oracle=f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                                AS BIGINT) % {_MODULUS}, doc_id) AS rn
        FROM documents
    ) WHERE rn <= 20
    """,
)
def q_group_sample_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic n-per-group downsample: 20 docs per source, chosen
    by md5-hash order (uniform, reproducible across runs/engines —
    rand() is neither) with doc_id tie-break. The bounded
    every-stratum-represented sample for eyeballing, labeling budgets,
    and per-domain evals; one shuffle on the group key."""
    from pyspark.sql import Window as W

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    w = W.partitionBy("source").orderBy(_bucket("doc_id", _MODULUS), F.asc("doc_id"))
    return (
        d.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )


@query(
    "corpus_shuffle_shards",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               md5(concat('42:', CAST(doc_id AS VARCHAR))) AS hh
        FROM documents
    )
    SELECT doc_id,
           CAST('0x' || substring(hh, 1, 8) AS BIGINT) % 8 AS shard,
           CAST(row_number() OVER (
               PARTITION BY CAST('0x' || substring(hh, 1, 8) AS BIGINT) % 8
               ORDER BY hh, doc_id) AS BIGINT) AS shard_pos
    FROM h
    """,
)
def q_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharded training-order shuffle
    (operators/sampling.shuffle_shards): reproducible epoch permutation
    as (shard, shard_pos) — per-shard window sorts on the md5 of
    (seed, doc_id), never a global single-partition sort; membership
    and order survive any repartitioning of the input."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return shuffle_shards(d, "doc_id", n_shards=8, seed=42).select(
        "doc_id", "shard", "shard_pos"
    )


def _dd_quality() -> str:
    """DuckDB mirror of functions.text.quality_score (imported from the
    text catalog module so both stay in lockstep)."""
    from pandas_etl_spark.catalog.text import _DD_NTOK, _DD_PUNCT, _dd_hits

    return (
        f"0.4 * least(CAST({_DD_NTOK} AS DOUBLE) / 20.0, 1.0)"
        f" + 0.3 * (1.0 - least(({_DD_PUNCT}) * 5, 1.0))"
        f" + 0.3 * least((CAST({_dd_hits('en')} AS DOUBLE)"
        f" / greatest({_DD_NTOK}, 1)) * 10, 1.0)"
    )


_DD_QUALITY = _dd_quality()


@query(
    "curriculum_order",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, {_DD_QUALITY} AS quality FROM documents
    ),
    c AS (SELECT quantile_cont(quality, 0.25) AS p25,
                 quantile_cont(quality, 0.5)  AS p50,
                 quantile_cont(quality, 0.75) AS p75 FROM q),
    s AS (
        SELECT doc_id,
               CASE WHEN quality >= p75 THEN 0
                    WHEN quality >= p50 THEN 1
                    WHEN quality >= p25 THEN 2
                    ELSE 3 END AS stage
        FROM q, c
    ),
    h AS (
        SELECT doc_id, stage,
               md5(concat('42:', CAST(doc_id AS VARCHAR))) AS hh
        FROM s
    )
    SELECT doc_id, stage,
           CAST('0x' || substring(hh, 1, 8) AS BIGINT) % 4 AS shard,
           CAST(row_number() OVER (
               PARTITION BY stage,
                   CAST('0x' || substring(hh, 1, 8) AS BIGINT) % 4
               ORDER BY hh, doc_id) AS BIGINT) AS shard_pos
    FROM h
    """,
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: quartile-bucket docs by quality score
    (stage 0 = cleanest first), then a deterministic shard shuffle
    WITHIN each stage — reading (stage, shard, shard_pos) in order is
    a reproducible easy-to-hard curriculum. Cutpoints come from one
    1-row percentile frame broadcast into a CASE (the qcut shape — no
    global sort); the per-stage permutation is shuffle_shards with
    stage as an extra partition key."""
    from pandas_etl_spark.functions.text import quality_score

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    q = d.select("doc_id", quality_score("text").alias("quality"))
    cut = q.agg(
        F.expr("percentile(quality, array(0.25, 0.5, 0.75))").alias("p")
    )
    s = q.crossJoin(F.broadcast(cut)).select(
        "doc_id",
        F.when(F.col("quality") >= F.col("p")[2], 0)
        .when(F.col("quality") >= F.col("p")[1], 1)
        .when(F.col("quality") >= F.col("p")[0], 2)
        .otherwise(3)
        .alias("stage"),
    )
    return shuffle_shards(s, "doc_id", n_shards=4, seed=42, by=("stage",)).select(
        "doc_id", "stage", "shard", "shard_pos"
    )


@query(
    "scd2_point_in_time",
    oracle="""
    WITH w1 AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    ), r AS (
        SELECT *, sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        FROM w1
    ), h AS (
        SELECT user_id, version, min(event_type) AS event_type,
               min(ts) AS valid_from, count(*) AS n_events
        FROM r GROUP BY user_id, version
    ), hist AS (
        SELECT user_id, CAST(version AS BIGINT) AS version, event_type, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
                   AS valid_to
        FROM h
    ), facts AS (
        SELECT event_id, user_id, ts + INTERVAL 30 MINUTE AS ts FROM events
    )
    SELECT f.event_id, f.user_id, f.ts, hist.version,
           hist.event_type AS attr_at_ts
    FROM facts f
    LEFT JOIN hist
      ON f.user_id = hist.user_id AND hist.valid_from <= f.ts
         AND (hist.valid_to IS NULL OR f.ts < hist.valid_to)
    """,
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD2) join — the warehouse lookup every SCD2
    dimension exists FOR: each fact (here the event stream shifted
    +30min) resolves to the dimension version valid at its timestamp.
    Planned as an AS-OF join per key (one shuffle, union-tag + running
    last — operators/asof.py), NOT an inequality range join, which
    Spark would execute as a broadcast nested loop at scale. Versions
    whose validity interval is empty (same-timestamp run boundaries)
    are pre-dropped so the as-of pick matches the range semantics
    exactly — the oracle IS the range-predicate join."""
    from pandas_etl_spark.operators import asof_join

    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    hist = scd2_history(ev, "user_id", "event_type", "ts", "event_id")
    facts = ev.select(
        "event_id",
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ts"),
    )
    # drop empty-interval versions (valid_from == valid_to): the range
    # join can never select them, so the as-of pick must not either
    dim = (
        hist.filter(
            F.col("valid_to").isNull() | (F.col("valid_from") != F.col("valid_to"))
        )
        .select(
            "user_id",
            F.col("valid_from").alias("ts"),
            "version",
            F.col("event_type").alias("attr_at_ts"),
        )
    )
    out = asof_join(facts, dim, on="ts", by="user_id")
    return out.select("event_id", "user_id", "ts", "version", "attr_at_ts")


@query(
    "unicode_normalize",
    oracle=r"""
    WITH m AS (
        SELECT doc_id AS id,
               text || ' cafe' || chr(769) || ' nai' || chr(776) || 've'
                   AS raw
        FROM documents
    ), n AS (
        SELECT id, raw,
               trim(regexp_replace(regexp_replace(
                   nfc_normalize(raw),
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                   '\s+', ' ', 'g')) AS text_norm
        FROM m
    )
    SELECT id,
           CAST(length(raw) AS BIGINT)       AS n_chars_in,
           CAST(length(text_norm) AS BIGINT) AS n_chars_out,
           text_norm <> raw                  AS changed,
           text_norm
    FROM n
    """,
)
def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time unicode normalization (functions/text.normalize_text):
    NFC composition (the one justified pandas_udf — no Catalyst
    builtin), control strip, whitespace collapse. The fixture is pure
    ASCII, so the query appends a DECOMPOSED suffix (e+U+0301,
    i+U+0308) on BOTH engines, making the NFC step observable in the
    hash: composed output is 2 code points shorter and `changed` is
    true on every row. Cross-engine check is Python unicodedata vs
    DuckDB's utf8proc nfc_normalize — two independent NFC
    implementations agreeing bit-for-bit. Pure map, no shuffle."""
    from pandas_etl_spark.functions.text import normalize_text

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    d = d.withColumn(
        "text", F.concat(F.col("text"), F.lit(" cafe\u0301 nai\u0308ve"))
    )
    return normalize_text(d, "text", "doc_id")


@query(
    "release_corpus_manifest",
    oracle=r"""
    WITH norm AS (
        SELECT doc_id AS id,
               trim(regexp_replace(regexp_replace(
                   nfc_normalize(text),
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                   '\s+', ' ', 'g')) AS text_norm
        FROM documents
    ),
    tok AS (SELECT id, string_split(text_norm, ' ') AS t FROM norm),
    p AS (SELECT id, unnest(generate_series(0, len(t) - 8)) AS pos, t
          FROM tok),
    w AS (SELECT id, pos,
            CAST('0x' || substring(
                md5(array_to_string(t[pos+1:pos+8], ' ')), 1, 15) AS BIGINT)
                AS gh
          FROM p),
    o AS (SELECT gh, min(id) AS owner FROM w GROUP BY gh),
    dup AS (SELECT w.id, w.pos FROM w JOIN o USING (gh)
            WHERE w.id > o.owner),
    cov AS (SELECT DISTINCT id, idx FROM
            (SELECT id, pos + unnest(generate_series(0, 7)) AS idx
             FROM dup)),
    tp AS (SELECT id, unnest(generate_series(0, len(t) - 1)) AS idx, t
           FROM tok),
    tpv AS (SELECT id, idx, t[idx+1] AS tokv FROM tp),
    kept AS (SELECT tpv.id, tpv.idx, tpv.tokv FROM tpv LEFT JOIN cov
             ON tpv.id = cov.id AND tpv.idx = cov.idx
             WHERE cov.idx IS NULL),
    kagg AS (SELECT id, string_agg(tokv, ' ' ORDER BY idx) AS text_dedup,
                    count(*) AS n_kept FROM kept GROUP BY id),
    deduped AS (
        SELECT tok.id, CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(t) - coalesce(kagg.n_kept, 0) AS BIGINT) AS n_removed,
               coalesce(kagg.text_dedup, '') AS text_dedup
        FROM tok LEFT JOIN kagg USING (id)
    ),
    released AS (
        SELECT * FROM deduped
        WHERE n_tokens - n_removed >= 10 AND n_removed * 2 < n_tokens
    ),
    h AS (
        SELECT id, n_tokens - n_removed AS n_kept,
               CAST('0x' || substring(md5(concat_ws(chr(31),
                   CAST(id AS VARCHAR), text_dedup)), 1, 15) AS BIGINT) AS rh
        FROM released
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           bit_xor(rh)              AS xor_hash,
           min(id)                  AS key_min,
           max(id)                  AS key_max,
           CAST(sum(n_kept) AS BIGINT) AS n_tokens_total
    FROM h
    """,
)
def q_release_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-release capstone: normalize (NFC + control strip + ws
    collapse) -> exact duplicated-span removal (rolling 8-token
    windows) -> release gates (>=10 surviving tokens, <50% duplicated)
    -> order-insensitive integrity manifest over the RELEASED text —
    the whole publish pipeline as ONE lazy plan whose final 1-row
    fingerprint an independent engine re-derives bit-for-bit (the
    strongest end-to-end check in the catalog: any divergence at any
    stage flips the hash).

    Plan: Arrow NFC map -> span-dedup's two bounded shuffles -> a
    map-side-combined 1-row aggregate. Nothing else crosses the wire.
    """
    from pandas_etl_spark.functions.text import (
        exact_span_dedup,
        normalize_text,
    )
    from pandas_etl_spark.operators.checksum import row_hash

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    norm = normalize_text(docs, "text", "doc_id").select(
        F.col("id").alias("doc_id"), F.col("text_norm").alias("text")
    )
    deduped = exact_span_dedup(norm, "text", "doc_id", k=8)
    released = deduped.filter(
        ((F.col("n_tokens") - F.col("n_removed")) >= 10)
        & (F.col("n_removed") * 2 < F.col("n_tokens"))
    )
    return (
        released.withColumn("__row_h", row_hash(["id", "text_dedup"]))
        .withColumn("n_kept", F.col("n_tokens") - F.col("n_removed"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr("bit_xor(__row_h)").alias("xor_hash"),
            F.min("id").alias("key_min"),
            F.max("id").alias("key_max"),
            F.sum("n_kept").cast("bigint").alias("n_tokens_total"),
        )
    )


@query(
    "temperature_sample",
    oracle=f"""
    WITH counts AS (
        SELECT source, count(*) AS n_stratum,
               sum(count(*)) OVER () AS n_total
        FROM documents GROUP BY source
    ), pa AS (
        SELECT source, n_stratum, n_total,
               power(CAST(n_stratum AS BIGINT) / CAST(n_total AS BIGINT),
                     CAST(0.5 AS DOUBLE)) AS p_alpha
        FROM counts
    ), z AS (SELECT sum(p_alpha) AS z FROM pa),
    th AS (
        SELECT source,
               CAST(floor(least(CAST(1.0 AS DOUBLE),
                   (p_alpha / z.z) * CAST(n_total AS BIGINT)
                       / CAST(n_stratum AS BIGINT))
                   * CAST({_MODULUS} AS DOUBLE)) AS BIGINT) AS thresh
        FROM pa, z
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN th USING (source)
    WHERE {_DD_BUCKET} < thresh
    """,
)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5/XLM-R temperature resampling over the source strata
    (operators/sampling.temperature_sample, alpha=0.5): target weights
    derived as p^alpha (flattening the head, upweighting tail
    domains), then the same deterministic md5-bucket keep rule as
    mixture_sample. Two |strata|-row aggregates broadcast back; the
    corpus sees one narrow filter."""
    from pandas_etl_spark.operators.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    return temperature_sample(docs, "doc_id", "source", alpha=0.5).select(
        "doc_id", "source"
    )


@query(
    "decontaminate_spans",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, {_DD_BUCKET} AS bucket FROM documents
    ),
    ev AS (
        SELECT string_split(text, ' ') AS t
        FROM documents JOIN b USING (doc_id) WHERE bucket < {_EVAL_THR}
    ),
    ep AS (SELECT unnest(generate_series(0, len(t) - 8)) AS pos, t FROM ev),
    eidx AS (
        SELECT DISTINCT CAST('0x' || substring(
            md5(array_to_string(t[pos+1:pos+8], ' ')), 1, 15) AS BIGINT) AS gh
        FROM ep
    ),
    tok AS (
        SELECT doc_id AS id, string_split(text, ' ') AS t
        FROM documents JOIN b USING (doc_id) WHERE bucket >= {_EVAL_THR}
    ),
    p AS (SELECT id, unnest(generate_series(0, len(t) - 8)) AS pos, t
          FROM tok),
    w AS (SELECT id, pos,
            CAST('0x' || substring(
                md5(array_to_string(t[pos+1:pos+8], ' ')), 1, 15) AS BIGINT)
                AS gh
          FROM p),
    dup AS (SELECT id, pos FROM w WHERE gh IN (SELECT gh FROM eidx)),
    cov AS (SELECT DISTINCT id, idx FROM
            (SELECT id, pos + unnest(generate_series(0, 7)) AS idx
             FROM dup)),
    tp AS (SELECT id, unnest(generate_series(0, len(t) - 1)) AS idx, t
           FROM tok),
    tpv AS (SELECT id, idx, t[idx+1] AS tokv FROM tp),
    kept AS (SELECT tpv.id, tpv.idx, tpv.tokv FROM tpv LEFT JOIN cov
             ON tpv.id = cov.id AND tpv.idx = cov.idx
             WHERE cov.idx IS NULL),
    kagg AS (SELECT id, string_agg(tokv, ' ' ORDER BY idx) AS text_dedup,
                    count(*) AS n_kept FROM kept GROUP BY id)
    SELECT tok.id, CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - coalesce(kagg.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(kagg.text_dedup, '') AS text_dedup
    FROM tok LEFT JOIN kagg USING (id)
    """,
)
def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level benchmark decontamination — the surgical upgrade of
    ``decontaminate``: instead of flagging a training doc that shares
    5-grams with the eval split, CUT the verbatim eval text out of it
    (rolling 8-token windows against the eval split's gram set,
    coverage-union removal — functions/text.span_dedup_against with
    the eval grams as the index and no in-batch ownership needed,
    since eval grams dominate). Same deterministic 5% md5 eval split
    as ``decontaminate``. The train doc keeps its novel remainder —
    what frontier pipelines actually ship after a contamination hit.

    Plan: eval-side (gh)-only distinct (tiny — 5% of the corpus);
    train side pays one window explode + semi join; no corpus payload
    shuffles."""
    from pandas_etl_spark.functions.text import corpus_span_grams

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    b = _bucket("doc_id", _MODULUS)
    ev = docs.filter(b < _EVAL_THR)
    train = docs.filter(b >= _EVAL_THR)
    # union the eval grams with nothing batch-side: in-batch ownership
    # must NOT fire here (two train docs sharing a non-eval gram are
    # fine), so classify each train doc independently against the index
    ev_grams = corpus_span_grams(ev, "text", 8)
    from pandas_etl_spark.functions.text import _span_rewrite, _span_windows

    d, w = _span_windows(train, "text", "doc_id", 8)
    hit = w.join(ev_grams, "gh", "left_semi").select("id", "pos")
    return _span_rewrite(d, hit, 8)


@query(
    "key_skew_profile",
    oracle="""
    WITH c AS (
        SELECT user_id AS k, count(*) AS x FROM events GROUP BY user_id
    ),
    i AS (SELECT x, row_number() OVER (ORDER BY x, k) AS i FROM c),
    s AS (SELECT count(*) AS n, sum(x) AS tot,
                 sum(CAST(i AS BIGINT) * x) AS six, max(x) AS mx
          FROM i),
    t AS (SELECT sum(x) AS top10 FROM
          (SELECT x FROM c ORDER BY x DESC, k LIMIT 10))
    SELECT CAST(n AS BIGINT)   AS n_keys,
           CAST(tot AS BIGINT) AS n_rows,
           round(CAST(mx AS DOUBLE) / tot, 6)    AS max_share,
           round(CAST(top10 AS DOUBLE) / tot, 6) AS top10_share,
           round(2.0 * six / (n * tot)
                 - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
    FROM s, t
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic over events.user_id
    (operators/profile.key_skew_profile): distinct keys, hottest-key
    and top-10 shares, and the EXACT Gini of per-key counts via the
    distributed prefix-sum (no single-partition window) — the number
    that decides plain-AQE vs salted join (SCALE.md crossover)."""
    from pandas_etl_spark.operators.profile import key_skew_profile

    ev = load_table(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id")


@query(
    "weighted_sample_ares",
    oracle="""
    WITH scored AS (
        SELECT doc_id, length(text) AS w,
               pow((2 * (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                        1, 8) AS BIGINT) % 4294967296) + 1)
                   / CAST(8589934592 AS DOUBLE),
                   1.0 / length(text)) AS ares_score
        FROM documents
        WHERE length(text) > 0
    )
    SELECT doc_id, CAST(w AS BIGINT) AS w, round(ares_score, 6) AS ares_score
    FROM scored
    ORDER BY ares_score DESC, doc_id
    LIMIT 100
    """,
)
def q_weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k weighted sampling without replacement (Efraimidis-
    Spirakis A-Res, operators/sampling.weighted_sample_ares): 100 docs
    drawn with probability proportional to text length, via the
    deterministic md5-uniform score u^(1/w) and a distributed top-k
    (TakeOrderedAndProject — per-partition heads, no global sort). The
    oracle recomputes the identical scores and takes the same LIMIT."""
    from pandas_etl_spark.operators.sampling import weighted_sample_ares

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("bigint").alias("w")
    )
    out = weighted_sample_ares(docs, "doc_id", F.col("w"), 100)
    return out.select(
        "doc_id", "w", F.round("ares_score", 6).alias("ares_score")
    )


@query(
    "l_diversity_audit",
    oracle="""
    WITH j AS (
        SELECT c.c_mktsegment, c.c_nationkey, o.o_orderpriority
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ),
    g AS (
        SELECT c_mktsegment, c_nationkey,
               count(*) AS group_size,
               count(DISTINCT o_orderpriority) AS l_distinct
        FROM j GROUP BY 1, 2
    )
    SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(group_size AS BIGINT) AS group_size,
           CAST(l_distinct AS BIGINT) AS l_distinct,
           l_distinct < 3 AS violates_l3
    FROM g
    """,
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity — k-anonymity's necessary companion: a group can be
    k-large yet still leak if every member shares the same SENSITIVE
    value (here order priority as the sensitive attribute over the
    (segment, nation) quasi-identifiers; homogeneity attack). One
    broadcast dim join + one shuffle to the QI grid carrying a
    count-distinct partial; the grid is |segments|x|nations|, never
    data-sized."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    g = j.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct("o_orderpriority").alias("l_distinct"),
    )
    return g.select(
        "c_mktsegment",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        F.col("group_size").cast("bigint").alias("group_size"),
        F.col("l_distinct").cast("bigint").alias("l_distinct"),
        (F.col("l_distinct") < 3).alias("violates_l3"),
    )


_MH_PERMS = 64


def _source_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (source, gram) word 5-grams — the item set each source
    signature sketches."""
    from pandas_etl_spark.functions.text import tokens, word_ngrams

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("source", tokens("text").alias("t"))
        .select(
            "source",
            F.explode(F.array_distinct(word_ngrams("t", 5))).alias("gram"),
        )
        .distinct()
    )


@query("minhash_source_signature")
def q_minhash_source_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-path twin of source_overlap_jaccard: every source reduces
    to ONE 64-int MinHash signature (element-wise min over xxhash64 of
    its distinct 5-grams, all 64 permutations in a single aggregate —
    no explode, no per-perm pass), and pair similarity is estimated by
    comparing signatures. At 100 TB this is the shape that survives:
    signatures are mergeable (min is associative — new shards fold in
    incrementally), the compare cost is |sources|²·64 ints regardless
    of corpus size, and the gram sets themselves never pairwise-join.
    Rows-only (xxhash64 is engine-specific);
    tests/test_curation_ops.py bounds the estimate against the exact
    gram Jaccard at the standard 1/sqrt(64) MinHash error."""
    sig = _source_grams(spark, sf_dir).groupBy("source").agg(
        F.array(
            *[
                F.min(F.xxhash64("gram", F.lit(i)))
                for i in range(_MH_PERMS)
            ]
        ).alias("sig")
    )
    return _compare_source_signatures(sig, _MH_PERMS)


def _compare_source_signatures(sig: DataFrame, n: int) -> DataFrame:
    """All source pairs of ``(source, sig)`` with the number of agreeing
    signature positions and its share — a |sources|² broadcast compare
    scored by the flat CASE-sum of functions/dedup.signature_agreement."""
    from pandas_etl_spark.functions.dedup import signature_agreement

    a = sig.select(F.col("source").alias("source_a"), F.col("sig").alias("sa"))
    b = sig.select(F.col("source").alias("source_b"), F.col("sig").alias("sb"))
    matches = signature_agreement("sa[{}]", "sb[{}]", n)
    return a.join(
        F.broadcast(b), F.col("source_a") < F.col("source_b")
    ).selectExpr(
        "source_a",
        "source_b",
        f"cast({matches} as bigint) as n_matching_perms",
        f"round(({matches}) / {float(n)}D, 6) as est_jaccard",
    )


_KANON_K = 10
# ladder body shared verbatim by the Spark query and the DuckDB oracle;
# only the base CTE (temp view vs inline join) differs
_KANON_LADDER_BODY = f"""
    grids AS (
        SELECT grouping(n_name) AS g_n, grouping(r_name) AS g_r,
               grouping(c_mktsegment) AS g_c,
               n_name, r_name, c_mktsegment, count(*) AS n
        FROM __kanon_base
        GROUP BY GROUPING SETS ((n_name, c_mktsegment),
                                (r_name, c_mktsegment), (r_name), ())
    ),
    lv AS (
        SELECT CASE WHEN g_n = 0 THEN 0
                    WHEN g_r = 0 AND g_c = 0 THEN 1
                    WHEN g_r = 0 THEN 2
                    ELSE 3 END AS level,
               coalesce(CASE WHEN g_n = 0 THEN n_name ELSE r_name END, '*')
                   AS qi_geo,
               CASE WHEN g_c = 0 THEN c_mktsegment ELSE '*' END AS qi_segment,
               n
        FROM grids
    ),
    mins AS (SELECT level, min(n) AS min_n FROM lv GROUP BY level),
    win AS (SELECT min(level) AS w FROM mins WHERE min_n >= {_KANON_K})
    SELECT CAST(lv.level AS BIGINT) AS level, qi_geo, qi_segment,
           CAST(n AS BIGINT) AS n
    FROM lv, win WHERE lv.level = win.w
"""


@query(
    "k_anonymize_generalize",
    oracle=f"""
    WITH __kanon_base AS (
        SELECT n_name, r_name, c_mktsegment
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
    ),{_KANON_LADDER_BODY}
    """,
)
def q_k_anonymize_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-recoding k-anonymization: walk the generalization ladder
    (nation x segment -> region x segment -> region -> all) and RELEASE
    the first level where every quasi-identifier group reaches k=10 —
    the complement of k_anonymity_audit (which only flags violations;
    this query produces the publishable grid). All four ladder levels
    compute in ONE GROUPING SETS pass over the joined frame (dims
    broadcast; the only data-sized shuffle is the grouping aggregate);
    level choice and the released grid are pure arithmetic on the
    grid-bounded rows. The ladder SQL text is shared verbatim with the
    oracle."""
    c = ensure_parallelism(load_table(spark, sf_dir, "customer"))
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")

    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_name", "r_name", "c_mktsegment")
    )
    base.createOrReplaceTempView("__kanon_base")
    return spark.sql("WITH" + _KANON_LADDER_BODY)


_KANON_LOCAL_BODY = f"""
    l0 AS (
        SELECT n_name, c_mktsegment, count(*) AS n
        FROM __kanon_base GROUP BY n_name, c_mktsegment
    ),
    v0 AS (
        SELECT b.n_name, b.r_name, b.c_mktsegment
        FROM __kanon_base b JOIN l0
          ON b.n_name = l0.n_name AND b.c_mktsegment = l0.c_mktsegment
        WHERE l0.n < {_KANON_K}
    ),
    l1 AS (
        SELECT r_name, c_mktsegment, count(*) AS n
        FROM v0 GROUP BY r_name, c_mktsegment
    ),
    v1 AS (
        SELECT v0.n_name, v0.r_name, v0.c_mktsegment
        FROM v0 JOIN l1
          ON v0.r_name = l1.r_name AND v0.c_mktsegment = l1.c_mktsegment
        WHERE l1.n < {_KANON_K}
    ),
    l2 AS (SELECT r_name, count(*) AS n FROM v1 GROUP BY r_name),
    v2 AS (
        SELECT v1.n_name, v1.r_name, v1.c_mktsegment
        FROM v1 JOIN l2 ON v1.r_name = l2.r_name
        WHERE l2.n < {_KANON_K}
    ),
    l3 AS (SELECT count(*) AS n FROM v2)
    SELECT CAST(0 AS BIGINT) AS level, n_name AS qi_geo,
           c_mktsegment AS qi_segment, CAST(n AS BIGINT) AS n
    FROM l0 WHERE n >= {_KANON_K}
    UNION ALL
    SELECT CAST(1 AS BIGINT), r_name, c_mktsegment, CAST(n AS BIGINT)
    FROM l1 WHERE n >= {_KANON_K}
    UNION ALL
    SELECT CAST(2 AS BIGINT), r_name, '*', CAST(n AS BIGINT)
    FROM l2 WHERE n >= {_KANON_K}
    UNION ALL
    SELECT CAST(3 AS BIGINT), '*', '*', CAST(n AS BIGINT)
    FROM l3 WHERE n > 0
"""


@query(
    "k_anonymize_local",
    oracle=f"""
    WITH __kanon_base AS (
        SELECT n_name, r_name, c_mktsegment
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
    ),{_KANON_LOCAL_BODY}
    """,
)
def q_k_anonymize_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL-recoding k-anonymization (VERDICT r6 #6, the documented
    step beyond k_anonymize_generalize's global recoding): groups that
    already satisfy k=10 release at their native (nation x segment)
    granularity; only the VIOLATING rows cascade up the ladder
    (region x segment -> region -> all), re-tested at each level — so
    utility is preserved for the compliant majority instead of
    flattening the whole release to the worst group's level.

    Scale shape: level-0 is the only full-data aggregate; each cascade
    step re-aggregates just the still-violating subset (joins against
    grid-bounded group lists — broadcast-sized by construction, AQE
    picks broadcast at runtime). The cascade SQL text is shared
    verbatim with the DuckDB oracle."""
    c = ensure_parallelism(load_table(spark, sf_dir, "customer"))
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")

    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_name", "r_name", "c_mktsegment")
    )
    base.createOrReplaceTempView("__kanon_base")
    return spark.sql("WITH" + _KANON_LOCAL_BODY)


@query("compression_ratio_filter")
def q_compression_ratio_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib-compression-ratio repetition gate
    (functions/text.compression_ratio) — rows-only (no deflate in SQL
    engines); the repetitive-compresses-lower property and
    determinism are pinned in tests/test_curation_ops.py."""
    from pandas_etl_spark.functions.text import compression_ratio

    return compression_ratio(
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
    )


_MHSIG_PERMS = 16


def _mh_sig_checked_oracle() -> str:
    """md5-MinHash source signatures in SQL (functions/dedup
    minhash_sketch under ``hash="md5"``): 40-bit md5 gram hashes + the
    small-coefficient permutations of portable_perm_params — every
    min() exact int64."""
    from pandas_etl_spark.functions.dedup import _P40, portable_perm_params

    params = portable_perm_params(_MHSIG_PERMS, seed=42)
    mins = ",\n               ".join(
        f"min((h * {a} + {b}) % {_P40}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    eq = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)"
        for i in range(_MHSIG_PERMS)
    )
    return f"""
    WITH t AS (SELECT source, {_DD_TOK} AS t FROM documents),
    g AS (
        SELECT DISTINCT source, gram
        FROM (SELECT source, unnest(list_distinct({_dd_grams(5)})) AS gram
              FROM t)
    ),
    h AS (
        SELECT source,
               CAST('0x' || substring(md5(gram), 1, 10) AS BIGINT) AS h
        FROM g
    ),
    sig AS MATERIALIZED (
        SELECT source,
               {mins}
        FROM h GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST({eq} AS BIGINT) AS n_matching_perms,
           round(({eq}) * 1.0 / {_MHSIG_PERMS}, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
    """


@query("minhash_source_signature_checked", oracle=_mh_sig_checked_oracle())
def q_minhash_source_signature_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-CHECKED twin of minhash_source_signature (whose seeded
    xxhash64 sketch is engine-specific): the functions/dedup
    minhash_sketch under ``hash="md5"`` — 40-bit md5 gram hashes and
    small-coefficient permutations, every intermediate an exact int64,
    so the per-source signatures and the signature-compare similarity
    hash-match cross-engine. Same shape: distinct (source, gram)
    reduction, ONE source-keyed aggregate folding all 16 mins map-side,
    |sources|² broadcast compare."""
    from pandas_etl_spark.functions.dedup import minhash_sketch

    sig = minhash_sketch(
        _source_grams(spark, sf_dir), "source", "gram", _MHSIG_PERMS, 42, "md5"
    )
    return _compare_source_signatures(sig, _MHSIG_PERMS)


@query(
    "erasure_rewrite",
    oracle="""
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    kept AS (SELECT * FROM d WHERE user_id % 97 <> 0)
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS value_cents,
           CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_residue
    FROM kept GROUP BY day
    """,
)
def q_erasure_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure at lakehouse granularity: the event
    log lands day-partitioned; a deterministic erase set (user_id % 97
    = 0 — the GDPR delete list stand-in) is then removed by rewriting
    ONLY the partitions that contain those users (dynamic partition
    overwrite — untouched days keep their files byte-identical; a day
    whose every row is erased is DROPPED explicitly, since a dynamic
    overwrite emitting zero rows rewrites nothing — the
    backfill_day_partition lesson). The returned rollup re-reads the
    store and carries an n_residue column the oracle pins at zero, so
    the green hash proves complete erasure, not just a filtered view.
    At 100 TB the rewrite cost is |affected partitions|, never the
    table."""
    import os
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    if ev.limit(1).isEmpty():  # empty ingestion: empty store, stable schema
        return spark.createDataFrame(
            [],
            "day string, n_rows bigint, value_cents bigint, n_residue bigint",
        )
    tmp_root = tempfile.mkdtemp(prefix="erasure_")
    tmp = os.path.join(tmp_root, "t")
    ev.write.partitionBy("day").parquet(tmp)
    erased = F.col("user_id") % 97 == 0
    affected = [
        r["day"]
        for r in spark.read.parquet(tmp).filter(erased).select("day").distinct().collect()
    ]  # bounded: <= |days in range|
    if affected:
        fixed = (
            spark.read.parquet(tmp)
            .filter(F.col("day").isin(affected))
            .filter(~erased)
        )
        kept_days = {
            r["day"] for r in fixed.select("day").distinct().collect()
        }
        # ORDER MATTERS: rewrite first, drop after. The rewrite's lazy
        # plan scans every affected partition (including fully-erased
        # ones); deleting a partition before the write executes makes
        # that scan hit missing files (caught by the layout test with
        # an all-erased day — real data rarely has one).
        if kept_days:
            prev = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            try:
                fixed.write.mode("overwrite").partitionBy("day").parquet(tmp)
            finally:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )
        for d0 in affected:
            if d0 not in kept_days:  # whole partition erased: DROP it
                shutil.rmtree(
                    os.path.join(tmp, f"day={d0}"), ignore_errors=True
                )
    # pathological all-erased input: every partition was dropped, so the
    # store has no data files — reading it would fail schema inference
    # (r7 ADVICE); return the stable empty-schema frame instead
    if not any(n.startswith("day=") for n in os.listdir(tmp)):
        shutil.rmtree(tmp_root, ignore_errors=True)
        return spark.createDataFrame(
            [],
            "day string, n_rows bigint, value_cents bigint, n_residue bigint",
        )
    store = spark.read.parquet(tmp)
    rollup = store.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("value_cents"),
        F.sum(F.when(erased, 1).otherwise(0)).cast("bigint").alias(
            "n_residue"
        ),
    )
    # materialize BEFORE deleting the store the lazy plan reads from
    # (write-before-drop, same lesson as the rewrite above), then clean
    # up the temp store — sweep/bench sessions must not leak /tmp copies
    rollup = rollup.localCheckpoint(eager=True)
    shutil.rmtree(tmp_root, ignore_errors=True)
    return rollup


def _datacard_oracle() -> str:
    from pandas_etl_spark.catalog.text import _DD_NTOK

    return f"""
    WITH m AS (
        SELECT lang, source, n_chars,
               {_DD_QUALITY} AS quality,
               CAST({_DD_NTOK} AS BIGINT) AS n_tokens,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT)                       AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT)           AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT)         AS n_sources,
           CAST(sum(n_tokens) AS BIGINT)                  AS n_tokens,
           CAST(sum(n_chars) AS BIGINT)                   AS n_chars,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT)  AS n_exact_dups,
           round(avg(quality), 6)                         AS mean_quality,
           CAST(min(n_tokens) AS BIGINT)                  AS min_tokens,
           CAST(CAST(quantile_disc(n_tokens, 0.5) AS DOUBLE) AS BIGINT)
                                                          AS p50_tokens,
           CAST(max(n_tokens) AS BIGINT)                  AS max_tokens
    FROM m
    """


@query("corpus_datacard", oracle=_datacard_oracle())
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus DATACARD — the release-notes header block (doc /
    lang / source counts, token and char volume, exact-dup count, mean
    quality, token-length spread) computed in ONE scan: every metric is
    an aggregate over the same projection (fingerprint, token count,
    quality are scan-projection expressions), so the card costs one
    pass no matter how many metrics it carries. The discrete median
    keeps the percentile integer-exact cross-engine."""
    from pandas_etl_spark.functions.text import quality_score, token_count
    from pandas_etl_spark.functions.text import fingerprint

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    m = d.select(
        "lang",
        "source",
        "n_chars",
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
        fingerprint("text").alias("fp"),
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        (F.count(F.lit(1)) - F.countDistinct("fp"))
        .cast("bigint")
        .alias("n_exact_dups"),
        F.round(F.avg("quality"), 6).alias("mean_quality"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tokens)")
        .cast("bigint")
        .alias("p50_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )
