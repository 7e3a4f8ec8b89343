"""Deduplication operators for large-scale corpora.

Families (all designed shuffle-minimal for 100 TB):

- **exact**: content-hash groupBy. One shuffle on a 16-byte hash — the
  canonical web-scale exact-dedup plan.
- **n-gram Jaccard**: shingle → inverted index self-join → pair Jaccard.
  Exact near-dup; quadratic only within shingle buckets. Stop-shingles
  (document frequency above a cap) are dropped before the join — the
  skew/size control that keeps the exact algorithm viable.
- **MinHash + LSH banding**: k hash permutations over shingle hashes,
  banded into buckets; candidate pairs only within equal band buckets —
  the scale path (linear-ish vs quadratic).
- **SimHash**: 64-bit weighted bit-vote signature; near-dup = small
  Hamming distance, 16-bit chunk blocking (pigeonhole).

Performance invariant (measured 8-19× on sf0.1): normalization /
tokenization / shingle arrays are materialized ONCE in a projection and
downstream expressions reference the materialized column — never inline
a regex inside a per-element lambda (Catalyst evaluates it per element).
Everything is built-in Catalyst expressions; no Python on the hot path.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandas_etl_spark.functions.text import fingerprint

# deterministic MinHash permutation parameters: (a*h + b) mod PRIME
_PRIME = (1 << 61) - 1


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic LCG-derived (a, b) pairs — no RNG dependency."""
    params = []
    state = seed
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_PRIME - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _PRIME
        params.append((a, b))
    return params


def normalized(col: str = "text") -> Column:
    """Whitespace-collapsed, lowercased, trimmed text."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


from pandas_etl_spark.sources.io import ensure_parallelism, read_parquet  # noqa: E402


def _shingle_arr(norm_col: str, k: int) -> Column:
    """Distinct k-char shingles from an ALREADY-NORMALIZED column."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({norm_col}) - {k - 1}, 1)), "
        f"i -> substring({norm_col}, i, {k})))"
    )


def char_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """(id, shingle) exploded distinct k-char shingles; normalization is
    materialized once per row before shingling."""
    return (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), normalized(text_col).alias("_norm")))
        .select("id", F.explode(_shingle_arr("_norm", k)).alias("shingle"))
    )


def word_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct k-word shingles."""
    toks = "filter(split(_norm, ' '), t -> t <> '')"
    return (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), normalized(text_col).alias("_norm")))
        .select(
            "id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
                    f"i -> array_join(slice({toks}, i, {k}), ' ')))"
                )
            ).alias("shingle"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-content hash.
    Single shuffle on the md5 hash; carries only (hash, id) through the
    shuffle, then semi-joins back for the surviving rows."""
    hashed = df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    keep = hashed.groupBy("fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(keep, id_col, "left_semi")


def dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group report: one row per content hash with >1 member."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_dups") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.6,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (id_a < id_b, jaccard ≥
    threshold).

    Plan (max_df set — the scale path): explode distinct shingles → drop
    stop-shingles with document frequency > max_df (count-agg + join; the
    probe side reuses the agg's exchange) → collect the ≤ max_df ids per
    surviving shingle (bounded arrays — safe to materialize) → generate
    the i<j pairs IN-BUCKET with one flatten/transform → count shared per
    pair. Compared to the classic inverted-index self-join this removes
    the candidate-join shuffle entirely and emits each pair once instead
    of filtering a.id<b.id out of the full bucket square (measured ~2× on
    the 5k-doc bench corpus).

    Without max_df there is no bound on a bucket's id list (a hot shingle
    would collect unboundedly), so the self-join plan is used instead.
    """
    pairs, sizes = _shingle_pair_counts(df, text_col, id_col, k, max_df)
    return (
        pairs.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-CONTAINMENT pairs: ``shared / min(n_a, n_b)`` ≥
    threshold — the smaller document's shingle set is (nearly) a subset
    of the larger's. Catches doc-inside-doc duplication (a quoted
    article inside a longer page, boilerplate-wrapped reposts) that
    symmetric Jaccard misses: containing a 500-shingle doc in a
    5000-shingle page scores ≤ 0.1 Jaccard but 1.0 containment.

    Same inverted-index/bucket plan and stop-shingle df-cap as
    :func:`ngram_jaccard_pairs` (one shingle-keyed shuffle, bounded
    buckets, each unordered pair emitted once) — only the final metric
    differs, so the 100 TB shape is identical.
    """
    pairs, sizes = _shingle_pair_counts(df, text_col, id_col, k, max_df)
    return (
        pairs.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "containment",
            F.col("shared").cast("double") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "containment")
    )


def salted_key_stat(
    rows: DataFrame,
    key_cols: list[str],
    id_col: str,
    stat: str,
    out_col: str,
    n_salts: int | None = None,
) -> DataFrame:
    """Attach an exact per-key aggregate (``stat`` = ``"count"`` or
    ``"min"`` of ``id_col``) to every row WITHOUT ever concentrating a
    hot key's full row set in one task — the skew-safe replacement for
    ``agg OVER (PARTITION BY key)`` window fusions (VERDICT r10 #1: a
    near-universal shingle/gram sent the whole corpus's rows for that
    key to ONE window task before the df-cap filter could drop them).

    Plan shape (one scan, one full-width exchange written once):

    1. rows repartition by (key, salt) with ``salt =
       pmod(xxhash64(id), n_salts)`` — deterministic (guide §2.5: no
       rand-derived partition keys), so a hot key spreads over
       ``n_salts`` tasks.
    2. consumer A: per-(key, salt) PARTIAL stats via a streaming hash
       aggregate reading that exchange (bounded state, no sort).
    3. the partials shuffle by key — at most ``n_salts`` rows per key,
       so the per-key combine window is skew-free by construction — and
       combine to the exact global stat (sum of counts / min of mins).
    4. consumer B: the same full-width exchange joins the (key, salt,
       stat) table back on BOTH (key, salt) — the rows side reuses its
       step-1 partitioning (ReusedExchange; the partial aggregate in
       consumer A deliberately references every row column so column
       pruning cannot diverge the two subtrees' canonical form), and a
       hot key's join rows stay spread across its salts.

    Rows with a NULL key or a NULL ``id_col`` are FILTERED OUT of the
    result (the window form it replaced kept them, with a stat over the
    NULL group). On the remaining rows the result is row-for-row
    identical to the window form (the stat is exact, attached to every
    row), with per-task input bounded by
    |hot key| / n_salts instead of |hot key|. ``n_salts`` defaults to
    the session's default parallelism (locally $SPARK_GRAFT_CPUS; on a
    cluster the core count) — scale-adaptive, not tuned to local[32].

    Every call site here guarantees non-null keys and ids by
    construction, so the filter drops nothing there.
    """
    spark = rows.sparkSession
    n = n_salts or spark.sparkContext.defaultParallelism
    keys = list(key_cols)
    other = [c for c in rows.columns if c not in keys]
    salted = rows.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n)).cast("int")
    )
    # explicit non-null filters on the attach-join keys: the inner join
    # below infers isnotnull(key)/isnotnull(_salt) into ONLY its own
    # branch's subtree otherwise, the two consumers of the salted
    # exchange stop canonicalizing equal, and the source pipeline runs
    # twice (the §2a AQE-reuse defect class). _salt is never null
    # (pmod∘xxhash64 of anything is non-null); NULL-key and NULL-id rows
    # are dropped (see the docstring).
    notnull = F.col("_salt").isNotNull() & F.col(id_col).isNotNull()
    for c in keys:
        notnull = notnull & F.col(c).isNotNull()
    salted = salted.filter(notnull)
    rep = salted.repartition(*[F.col(c) for c in keys], F.col("_salt"))
    # The partial stat deliberately aggregates a STRUCT over id_col and
    # every other row column (not count(1)/min(id)): column pruning
    # would otherwise narrow the stats subtree below the repartition to
    # just (keys, salt), the two consumers of the salted exchange would
    # stop canonicalizing equal, and the source pipeline would run
    # twice (the §2a AQE-reuse defect class). The CASE-WHEN wrapper
    # makes the probe NULLABLE so the optimizer cannot rewrite
    # count(probe) to count(1) (a bare struct is provably non-null and
    # WOULD be rewritten — observed); ids are non-null here (filter
    # above), so count(probe) is exactly count(1) and
    # min(probe)._i is exactly min(id) (struct order is
    # lexicographic, first field dominates; min ignores NULLs).
    # tests/test_skew.py pins the single-scan + ReusedExchange shape
    # against future optimizer changes.
    probe = F.when(
        F.col(id_col).isNotNull(),
        F.struct(
            F.col(id_col).alias("_i"),
            *[F.col(c) for c in other if c != id_col],
        ),
    )
    if stat == "count":
        part: Column = F.count(probe).alias("_part")
    elif stat == "min":
        part = F.min(probe).alias("_part")
    else:  # pragma: no cover - internal contract
        raise ValueError(f"unsupported stat: {stat}")
    stats = rep.groupBy(*keys, "_salt").agg(part)
    wk = Window.partitionBy(*keys)
    gexpr = (
        F.sum("_part").over(wk)
        if stat == "count"
        else F.min("_part").over(wk).getField("_i")
    )
    statsr = stats.select(*keys, "_salt", gexpr.alias(out_col))
    return rep.join(statsr, [*keys, "_salt"]).drop("_salt")


def _salted_leader_counts(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    max_df: int,
    n_salts: int | None = None,
) -> DataFrame:
    """Stage one of the skew-safe exact df-cap (VERDICT r10 #1): count
    per-key document frequency via salted partials WITHOUT a join-back
    and WITHOUT ever concentrating a hot key's rows in one task.

    One exchange on (keys, salt), salt = pmod(xxhash64(id), n_salts)
    (deterministic — guide §2.5), then per-(key, salt) window partials:

    - rows whose partial count already exceeds ``max_df`` can never
      survive the cap (df >= any partial), so they are dropped HERE —
      a corpus-hot key's mass never leaves its salted partitions;
    - each partial's first row (row_number == 1) is the LEADER and
      carries the partial count in ``_cpart`` (an over-cap partial
      keeps only its leader, with ``id_col`` nulled, purely as the
      count marker so the key's total stays exact).

    The caller aggregates/windows by ``keys`` — the downstream group
    for any key is bounded by n_salts * max_df rows + n_salts markers
    regardless of corpus size — computing df = sum(_cpart) (exact:
    exactly one leader per present salt) and filtering df <= max_df.
    Keys that survive that filter provably had no over-cap partial, so
    no surviving row was dropped here and the result is row-identical
    to the unsalted ``count OVER (PARTITION BY key)`` form.
    """
    spark = rows.sparkSession
    n = n_salts or spark.sparkContext.defaultParallelism
    salted = rows.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n)).cast("int")
    )
    rep = salted.repartition(*[F.col(c) for c in keys], F.col("_salt"))
    wus = Window.partitionBy(*keys, "_salt")
    word = wus.orderBy(id_col)
    return (
        rep.withColumn("_c", F.count(F.lit(1)).over(wus))
        .withColumn("_rn", F.row_number().over(word))
        .filter((F.col("_c") <= max_df) | (F.col("_rn") == 1))
        .withColumn(id_col, F.when(F.col("_c") <= max_df, F.col(id_col)))
        .withColumn("_cpart", F.when(F.col("_rn") == 1, F.col("_c")))
        .drop("_salt", "_c", "_rn")
    )


def df_capped_buckets(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    max_df: int,
    n_salts: int | None = None,
) -> DataFrame:
    """Skew-safe df-capped inverted-index buckets: (keys..., ids) with
    ids = sorted under-cap posting lists, exactly the old
    ``count OVER (PARTITION BY key) <= max_df`` + collect_list plan but
    with every task's input bounded (see _salted_leader_counts). The
    bucket exchange carries only surviving rows (<= max_df per key) and
    the single aggregate computes the exact df and the bucket together
    (collect_list skips the NULL-id marker rows)."""
    t = _salted_leader_counts(rows, keys, id_col, max_df, n_salts)
    return (
        t.groupBy(*keys)
        .agg(
            F.sum("_cpart").alias("_df"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )


def df_capped_rows(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    max_df: int,
    out_col: str,
    n_salts: int | None = None,
) -> DataFrame:
    """Skew-safe per-row exact document frequency, capped: rows of
    under-cap keys with ``out_col`` = df attached — the old
    ``count OVER (PARTITION BY key)`` + filter, with bounded tasks (the
    stage-two window group is <= n_salts * max_df + n_salts rows by
    construction; see _salted_leader_counts)."""
    t = _salted_leader_counts(rows, keys, id_col, max_df, n_salts)
    wk = Window.partitionBy(*keys)
    return (
        t.withColumn(out_col, F.sum("_cpart").over(wk))
        .filter((F.col(out_col) <= max_df) & F.col(id_col).isNotNull())
        .drop("_cpart")
    )


def _shingle_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    max_df: int | None,
):
    """Shared candidate machinery for the exact shingle-overlap family:
    (pairs with shared-shingle counts, per-doc shingle sizes). See
    :func:`ngram_jaccard_pairs` for the plan discussion."""
    # explicit null-id filter so every consumer branch's scan stays
    # canonically identical (the downstream inner joins on id infer
    # isnotnull into SOME branches otherwise, defeating AQE exchange
    # reuse — see minhash_lsh_pairs); null ids can never appear in
    # pair output anyway
    df = df.filter(F.col(id_col).isNotNull())
    sh = char_shingles(df, text_col, id_col, k)
    if max_df is not None:
        # stop-shingle drop with ONE scan and NO hot-key concentration
        # (r11, VERDICT r10 #1): the r10 form fused the df count as a
        # window over the bucket exchange — one scan, but a
        # near-universal shingle shipped its entire row set to ONE
        # window task before the filter dropped it. df_capped_buckets
        # keeps the single scan and bounds every task's input at
        # |hot shingle| / n_salts (stage 1) or n_salts * max_df
        # (bucket stage). The r9 alternative — df-agg + probe join —
        # recomputed the whole scan→normalize→explode pipeline twice;
        # still avoided. sizes derive from the bounded buckets instead
        # of re-scanning the shingle frame.
        buckets = df_capped_buckets(sh, ["shingle"], "id", max_df)
        sizes = (
            buckets.select(F.explode("ids").alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        pair_expr = F.expr(
            "flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
        )
        pairs = (
            buckets.filter(F.size("ids") >= 2)
            .select(F.explode(pair_expr).alias("p"))
            .groupBy("p.id_a", "p.id_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    else:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        pairs = (
            sh.alias("a")
            .join(sh.alias("b"), "shingle")
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    return pairs, sizes


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.85,
    max_df: int | None = 50,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (PPJoin-family,
    Xiao et al., WWW'08 — public literature): identical results to
    :func:`ngram_jaccard_pairs`, far fewer candidates at high
    thresholds.

    Why: the inverted-index plan generates a candidate from EVERY
    shared shingle — on zipf-shaped corpora the mid-frequency shingles
    (df 10..max_df) dominate and candidate mass grows super-linearly
    (measured 4.5M candidates for 32 true pairs at 5k docs, SCALE.md).
    Prefix principle: order each doc's (df-capped) shingle set by
    global rarity (df asc, shingle asc); if J(A,B) ≥ t, A and B must
    share a shingle within each one's first ``n − ⌈t·n⌉ + 1`` shingles.
    So only that rarity-biased prefix (~15% of postings at t=0.85, and
    overwhelmingly df 1-2 buckets) enters the index; candidates are
    then verified with the exact intersection — lossless.

    Plan: shingle df count (one shuffle) → per-doc ranked arrays (one
    shuffle on id, arrays bounded by doc length) → prefix explode +
    in-bucket i<j pair generation → distinct candidate ids → verify by
    joining the two docs' sorted shingle arrays (array_intersect,
    in-row). Same semantics as the bucket plan including the ``max_df``
    stop-shingle cap (Jaccard over corpus-rare shingles).

    Past the df join, shingles travel as xxhash64 LONGS, not strings —
    the ranked-array sort, the array shuffles, and the verification
    intersect all run on fixed-width longs (measured ~2× on the 50k
    corpus). ``shared`` counts are exact up to 64-bit hash collisions
    within a candidate pair (≈ |A|·|B|/2^64 ≲ 1e-12 per pair — the
    same exactness budget the xxhash64 MinHash path documents).
    """
    if max_df is None:
        # prefix filtering needs the df ranking anyway; uncapped = no
        # stop-shingle drop, rank still bounds the candidate explode
        max_df = 1 << 62
    # explicit null-id filter — same AQE exchange-reuse alignment as
    # _shingle_pair_counts / minhash_lsh_pairs (the ranked-docs subtree
    # feeds three branches; the two verification joins infer
    # isnotnull(id), the candidate branch doesn't)
    df = df.filter(F.col(id_col).isNotNull())
    sh = char_shingles(df, text_col, id_col, k)
    # document frequency attached per row by the skew-safe salted
    # two-level count (r11, VERDICT r10 #1) — one scan, no df-agg +
    # probe join (the agg and probe sides each recomputed the
    # scan→normalize→explode pipeline), and no hot-shingle single-task
    # window group (the r10 window form concentrated a stop-shingle's
    # full row set before filtering it)
    rare = df_capped_rows(sh, ["shingle"], "id", max_df, "df_").select(
        "id", "df_", F.xxhash64("shingle").alias("h")
    )
    docs = (
        rare.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("df_", "h"))).alias("ranked"))
        .select("id", F.expr("transform(ranked, x -> x.h)").alias("by_rarity"))
        .select(
            "id",
            F.array_sort("by_rarity").alias("sh_sorted"),
            F.size("by_rarity").alias("n_sh"),
            F.expr(
                f"slice(by_rarity, 1, "
                f"size(by_rarity) - cast(ceil({threshold} * size(by_rarity)) as int) + 1)"
            ).alias("prefix"),
        )
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
    )
    cands = (
        docs.select("id", F.explode("prefix").alias("shingle"))
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    a = docs.select(
        F.col("id").alias("id_a"), F.col("sh_sorted").alias("sa"), F.col("n_sh").alias("n_a")
    )
    b = docs.select(
        F.col("id").alias("id_b"), F.col("sh_sorted").alias("sb"), F.col("n_sh").alias("n_b")
    )
    shared = F.size(F.array_intersect("sa", "sb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("shared", shared)
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
    )


# Sketch hash schemes, selected by the ``hash`` argument of the MinHash and
# SimHash operators. "xxhash64" is the production scheme (engine-native,
# fastest). "md5" takes the item hash from the md5 hex prefix (40 bits for
# MinHash, 60 for SimHash) and mixes it with small-coefficient
# permutations, so every intermediate fits int64 exactly and an ANSI-SQL
# engine (the DuckDB oracles) reproduces the signatures bit-for-bit. Its
# band bucket key is the concatenated signature slice, portable across
# engines unlike murmur3 ``F.hash``. Shingling, the aggregates, the
# banding, the skew guard and the verification are shared by both.
_P40 = 1099511627689  # prime > 2^40


def portable_perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """(a, b) with a < 2^20, b < 2^40: h*a+b < 2^61 — exact in int64."""
    return [
        ((a % ((1 << 20) - 1)) + 1, b % _P40) for a, b in _perm_params(num_perm, seed)
    ]


class _SketchHash(NamedTuple):
    minhash_h: str  # SQL over the item column {} -> non-negative bigint
    perm_params: Callable[[int, int], list[tuple[int, int]]]
    mix: str  # SQL permuting h with coefficients {a}, {b}
    band_key: Callable[..., Column]  # signature slice -> LSH bucket key
    simhash_h: str  # SQL over the token column {} -> simhash_bits-wide bigint
    simhash_bits: int


_SKETCH_HASHES = {
    "xxhash64": _SketchHash(
        "abs(xxhash64({}))",
        _perm_params,
        f"pmod(h * {{a}}L + {{b}}L, {_PRIME}L)",
        F.hash,
        "xxhash64({})",
        64,
    ),
    "md5": _SketchHash(
        "cast(conv(substring(md5({}), 1, 10), 16, 10) as bigint)",
        portable_perm_params,
        f"(h * {{a}}L + {{b}}L) % {_P40}L",
        partial(F.concat_ws, "-"),
        "cast(conv(substring(md5({}), 1, 15), 16, 10) as bigint)",
        60,
    ),
}


def _sketch_hash(hash: str) -> _SketchHash:
    if hash not in _SKETCH_HASHES:
        raise ValueError(f"hash must be one of {sorted(_SKETCH_HASHES)}, got {hash!r}")
    return _SKETCH_HASHES[hash]


def signature_agreement(a: str, b: str, n: int) -> str:
    """SQL counting the positions where two ``n``-long signatures agree;
    ``a`` and ``b`` template the i-th element (``"sa[{}]"``, ``"__sa{}"``).

    A flat CASE-sum is whole-stage codegen'd. A
    size(filter(zip_with(...))) fold is a CodegenFallback chain that
    drops the per-pair projection to interpreted eval, and an n-term
    Column chain costs seconds of py4j plan-build time."""
    return " + ".join(
        f"(CASE WHEN {a.format(i)} = {b.format(i)} THEN 1 ELSE 0 END)"
        for i in range(n)
    )


def minhash_sketch(
    items: DataFrame,
    key: str,
    item: str,
    num_perm: int = 64,
    seed: int = 42,
    hash: str = "xxhash64",
) -> DataFrame:
    """(key, sig array<bigint>) MinHash signature of each key's item set.

    Plan: one groupBy(key) carrying ``num_perm`` plain ``min(mix(h))``
    aggregates. All aggregates are whole-stage codegen'd; the per-row
    higher-order-function variant (array_min∘transform, interpreted per
    element) measured ~10× slower. One shuffle on key with map-side
    partial mins — scale-friendly, and mergeable (min is associative)."""
    s = _sketch_hash(hash)
    hashed = items.select(key, F.expr(s.minhash_h.format(item)).alias("h"))
    aggs = [
        F.min(F.expr(s.mix.format(a=a, b=b))).alias(f"m{i}")
        for i, (a, b) in enumerate(s.perm_params(num_perm, seed))
    ]
    return (
        hashed.groupBy(key)
        .agg(*aggs)
        .select(key, F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("sig"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    k: int = 5,
    seed: int = 42,
    hash: str = "xxhash64",
) -> DataFrame:
    """(id, sig array<bigint>) MinHash signatures over distinct k-char
    shingles (see :func:`minhash_sketch`)."""
    return minhash_sketch(
        char_shingles(df, text_col, id_col, k), "id", "shingle", num_perm, seed, hash
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int | None = 1000,
    hash: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs, verified by estimated Jaccard
    (signature agreement rate ≥ threshold).

    Scale path: candidates come only from equal (band, band-hash) buckets
    — the shuffle key is the band hash, so cost is proportional to bucket
    collisions, not N². ``bands`` tunes the S-curve: more bands → recall
    at lower similarity.

    ``max_bucket`` is the LSH skew guard. Without it, boilerplate-heavy
    corpora are quadratic: ultra-common shingles (site chrome, license
    headers, templates) pull many documents' per-band minima to the
    SAME values, and one such mega-bucket costs B² pairs (measured on a
    salted ×5 corpus: 1.9 s → 99 s, exponent ≈ 2.4 — SCALE.md round 7).
    Buckets at or under the cap self-join as usual; OVERSIZED buckets
    degrade to a STAR against the bucket's min id instead of being
    dropped: a genuine near-dup family larger than the cap shares its
    per-band minima in EVERY band, so dropping would silently zero its
    recall — exactly the largest true duplicate clusters (r7 ADVICE).
    The star keeps every member candidate-paired with one
    representative at O(B) pairs; the signature-agreement verification
    below then separates real families (members ≈ rep → pairs survive,
    and connected-components downstream closes the cluster) from
    template chrome (members disagree with the rep → filtered). Pass
    ``None`` to disable (exact gate-scale parity with the unbanded
    oracle).

    ``hash="md5"`` selects the oracle-reproducible signatures and
    concatenated-slice bucket keys (see ``_SKETCH_HASHES``); a DuckDB
    oracle of that path must mirror ``max_bucket`` — both the cap and
    the star — or the caller passes ``None``."""
    assert num_perm % bands == 0
    band_key = _sketch_hash(hash).band_key
    rows = num_perm // bands
    # Null-id rows can never reach the output (the verification joins
    # below are inner on id), but WITHOUT this explicit filter only the
    # join branch gets an inferred isnotnull pushed into its scan — the
    # banded branch's scan then differs, the two signature subtrees stop
    # canonicalizing equal, and AQE cannot stage-reuse them: the whole
    # shingle+64-min-agg pipeline executed TWICE (measured 12.2s of
    # 37s executor CPU at sf0.1). With the filter both branches are
    # identical and the signatures compute once.
    df = df.filter(F.col(id_col).isNotNull())
    sig = minhash_signatures(df, text_col, id_col, num_perm, k, seed, hash)
    # candidate generation carries ONLY (id, band, bucket) through the
    # shuffle — signatures (the wide arrays) re-join after pair dedup
    # (carrying them through the bucket join measured ~100× the shuffle
    # bytes: Σ bucket² rows × 0.5 KB of sig payload)
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key(
                            *[F.col("sig").getItem(b * rows + r) for r in range(rows)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    star = None
    if max_bucket is not None:
        # skew guard: bucket size + min(id) as WINDOW aggregates over
        # the same (band, bucket) key the join shuffles on — ONE
        # shuffle of the banded frame, reusable by the self-join below
        # (r9, VERDICT r8 #5: the r8 aggregate+re-join cost a second
        # full shuffle). Mega-buckets never reach the self-join — they
        # emit |bucket|-1 star pairs against min(id) instead, so a
        # >cap near-dup family degrades to O(B), not to zero recall.
        wbb = Window.partitionBy("band", "bucket")
        tagged = banded.select(
            "id",
            "band",
            "bucket",
            F.count(F.lit(1)).over(wbb).alias("__bn"),
            F.min("id").over(wbb).alias("__rep"),
        )
        star = tagged.filter(
            (F.col("__bn") > max_bucket) & (F.col("id") != F.col("__rep"))
        ).select(F.col("__rep").alias("id_a"), F.col("id").alias("id_b"))
        banded = tagged.filter(F.col("__bn") <= max_bucket).drop(
            "__bn", "__rep"
        )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if star is not None:
        cand = cand.unionByName(star)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    # Flat codegen'd agreement count (see signature_agreement). sig is
    # array(m0..m63) straight off the aggregate, so sig[i] collapses to
    # the raw agg column and the join sides carry scalar longs.
    flat_a = sig.selectExpr(
        "id as id_a", *[f"sig[{i}] as __sa{i}" for i in range(num_perm)]
    )
    flat_b = sig.selectExpr(
        "id as id_b", *[f"sig[{i}] as __sb{i}" for i in range(num_perm)]
    )
    with_sigs = cand.join(flat_a, "id_a").join(flat_b, "id_b")
    agree_n = signature_agreement("__sa{}", "__sb{}", num_perm)
    return (
        with_sigs.withColumn(
            "est_jaccard",
            F.expr(f"({agree_n})").cast("double") / F.lit(float(num_perm)),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xxhash64",
) -> DataFrame:
    """(id, sim bigint) SimHash: per token-occurrence hash, vote +1/−1
    per bit, sign → bit. The width follows ``hash``: 64 bits for
    xxhash64, 60 for md5 (the hex prefix — every intermediate exact in
    int64, so a DuckDB oracle reproduces it; see ``_SKETCH_HASHES``).

    Plan: explode tokens → groupBy(id) with one codegen'd
    ``sum(bit ? 1 : -1)`` vote aggregate per bit → assemble the sign
    bits. (The per-row nested higher-order fold is interpreted per
    element — measured ~10× slower.) One shuffle on id with map-side
    partials."""
    s = _sketch_hash(hash)
    toks = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), normalized(text_col).alias("_norm"))
    ).select(
        "id",
        F.explode(F.expr("filter(split(_norm, ' '), t -> t <> '')")).alias("tok"),
    )
    hashed = toks.select("id", F.expr(s.simhash_h.format("tok")).alias("h"))
    votes = hashed.groupBy("id").agg(
        *[
            # branch-free ±1 vote: ((bit)*2 - 1) generates less code than
            # a CASE and the 64-agg compile is the cold-path cost here
            F.sum(F.expr(f"(((h >> {b}) & 1) * 2 - 1)")).alias(f"v{b}")
            for b in range(s.simhash_bits)
        ]
    )
    # shiftleft(1L, 63) wraps to the long sign bit — intended
    sim = " + ".join(
        f"CASE WHEN v{b} > 0 THEN shiftleft(1L, {b}) ELSE 0L END"
        for b in range(s.simhash_bits)
    )
    return votes.selectExpr("id", f"{sim} AS sim")


def _chunk_layout(n_chunks: int) -> list[tuple[int, int]]:
    """(offset, width) bit spans splitting 64 bits into n_chunks
    near-equal chunks."""
    base, extra = divmod(64, n_chunks)
    spans, off = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < extra else 0)
        spans.append((off, w))
        off += w
    return spans


def simhash_neighbors(
    sig: DataFrame, max_hamming: int, n_chunks: int | None = None
) -> DataFrame:
    """Pairs (id_a < id_b) of ``(id, sim bigint)`` signatures within
    Hamming distance ≤ ``max_hamming``.

    Blocking via the pigeonhole bound: with ``max_hamming + 1`` chunks,
    ≤ max_hamming differing bits can touch at most max_hamming chunks,
    so every qualifying pair shares at least one EXACT chunk — blocking
    is exact for any radius (VERDICT r2 #7: the old fixed 4×16-bit split
    was only exact to radius 3 while the default asked for 8).
    Join per chunk on (chunk, value), then verify the true distance.

    ``n_chunks`` may be set BELOW max_hamming+1 explicitly, trading
    recall for coarser (= fewer, larger-valued) chunks — useful when the
    radius is large and exact chunks would be too narrow to prune;
    a value that keeps exactness is clamped to ≤ 64."""
    if n_chunks is None:
        n_chunks = min(max_hamming + 1, 64)
    spans = _chunk_layout(n_chunks)
    chunk_structs = []
    for i, (off, w) in enumerate(spans):
        if w >= 64:
            val = F.col("sim")
        else:
            val = F.shiftrightunsigned(F.col("sim"), off).bitwiseAND(
                F.lit((1 << w) - 1)
            )
        chunk_structs.append(
            F.struct(F.lit(i).alias("chunk"), val.alias("val"))
        )
    chunks = sig.select(
        "id", "sim", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("id", "sim", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    cand = (
        chunks.alias("a")
        .join(chunks.alias("b"), ["chunk", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.expr("bit_count(sim_a ^ sim_b)")
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    n_chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming —
    signature computation (simhash_signatures) + exact pigeonhole
    blocking (simhash_neighbors)."""
    sig = simhash_signatures(df, text_col, id_col)
    return simhash_neighbors(sig, max_hamming, n_chunks)


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 30,
    algorithm: str = "star",
) -> DataFrame:
    """Connected components over near-dup ``pairs`` → ``(id,
    cluster_id)`` where cluster_id is the minimum id reachable through
    the pair graph — the canonical representative. The step that turns
    PAIRS (minhash/simhash/jaccard output) into dedup GROUPS: keep rows
    where ``id == cluster_id``, drop the rest.

    ``algorithm="star"`` (default): alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — converges in O(log n) rounds REGARDLESS of
    graph diameter (VERDICT r3 #6: label propagation is O(diameter)
    driver-coordinated rounds, a trap on chain-shaped graphs at 100 TB).
    Each round is two shuffles over the id-only edge list: large-star
    hangs every larger neighbor off the neighborhood minimum, small-star
    contracts the rest; converged when the edge set is stable, at which
    point edges form stars rooted at component minima.

    ``algorithm="label"``: iterative min-label propagation — each round
    every node takes the min of its own and its neighbors' labels;
    converges in graph-diameter rounds. Kept for shallow near-dup
    graphs (diameter ≤ a handful of hops) where it does fewer total
    shuffles than the star dance.

    Both: fully distributed (per round: joins/aggregates on persisted
    id-only frames, LIMIT-1 convergence probes, previous round
    unpersists), identical output labeling, and both raise if
    ``max_iters`` rounds don't converge rather than returning a
    half-propagated labeling. The converged frame backing the returned
    plan stays persisted — the handle is attached as ``curate_cache``,
    releasable with ``functions.curate.release_cache``.

    ``nodes`` (optional) widens the universe beyond ids appearing in
    pairs — singletons label themselves."""
    from pyspark import StorageLevel

    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if nodes is None:
        universe = edges.select(F.col("a").alias("id")).distinct()
    else:
        universe = nodes.select(F.col(id_col).alias("id")).distinct()
    if algorithm == "star":
        return _cc_star(edges, universe, max_iters)
    # eager localCheckpoint, not persist: labels is referenced twice per
    # round, so persisted-but-unbroken lineage grows exponentially in
    # rounds and the driver dies planning deep iterations (same reasoning
    # as _cc_star below; blocks are freed by the ContextCleaner)
    labels = universe.withColumn("label", F.col("id")).localCheckpoint()
    try:
        for _ in range(max_iters):
            neighbor_min = (
                edges.join(labels, edges["b"] == labels["id"])
                .groupBy("a")
                .agg(F.min("label").alias("nmin"))
            )
            new_labels = (
                labels.join(neighbor_min, labels["id"] == neighbor_min["a"], "left")
                .select(
                    labels["id"],
                    F.least(
                        labels["label"], F.coalesce(F.col("nmin"), labels["label"])
                    ).alias("label"),
                )
                .localCheckpoint()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                result = labels.select("id", F.col("label").alias("cluster_id"))
                # the converged label frame backs the returned plan;
                # expose the handle so callers can free it after their
                # action — same contract as curate_corpus
                result.curate_cache = labels
                return result
        raise RuntimeError(
            f"connected_components: no convergence after {max_iters} rounds — "
            "the pair graph has a longer path than expected; raise max_iters"
        )
    finally:
        edges.unpersist()


def _cc_star(edges: DataFrame, universe: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    SoCC'14). ``edges`` arrives both-directions distinct and persisted
    (ownership transfers here); ``universe`` is the node id frame.

    Invariant: the working edge set is canonical larger-first pairs
    ``(a, b), a > b``. Per round:
    - large-star: per node u over its FULL neighborhood, m = min(N(u) ∪
      {u}); every strictly-larger neighbor re-hangs onto m. Halves tall
      trees every round — this is what bounds rounds by O(log n) on any
      diameter.
    - small-star: per node u over its smaller neighbors, m = min(N≤(u));
      u and its other smaller neighbors re-hang onto m.
    Fixed point = stars rooted at component minima; detected by edge-set
    equality (count match + one-direction subtract probe — valid for
    distinct sets). Labels then read directly off the star edges.

    The returned frame carries ``cc_rounds`` (rounds to convergence —
    asserted O(log n) on a chain graph in tests) and ``curate_cache``
    (the converged edge frame backing the plan).

    Iteration state is carried through eager ``localCheckpoint`` — NOT
    ``persist``: persisting caches blocks but keeps the full logical
    plan, and each round references E several times, so lineage grows
    ~5^rounds and the driver dies planning round ~10. Checkpointing
    truncates the plan to the materialized blocks, keeping every round's
    plan constant-size (the standard iterative-DataFrame pattern; at
    cluster scale prefer ``spark.sparkContext.setCheckpointDir`` +
    reliable ``checkpoint()`` for executor-loss tolerance — blocks here
    are freed by the ContextCleaner as rounds drop references)."""
    from pyspark.sql import Window as W

    E = edges.filter(F.col("a") > F.col("b")).localCheckpoint()
    n_prev = E.count()
    edges.unpersist()
    rounds = 0
    wa = W.partitionBy("a")
    if n_prev > 0:
        for rounds in range(1, max_iters + 1):
            both = E.union(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
            # r10 window fusion: each star's neighborhood minimum is a
            # min window over the very hash(a) exchange the round needs
            # anyway — the former groupBy(a).min + probe-join consumed
            # `both`/`L` twice per star and cost a join each. Group
            # buffering on hot nodes is bounded by max degree, and the
            # contraction itself halves hot stars every round (that is
            # the algorithm); WindowExec spills past
            # windowExecBufferSpillThreshold, so a giant component
            # degrades to disk, not OOM.
            L = (
                both.withColumn(
                    "m", F.least(F.col("a"), F.min("b").over(wa))
                )
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .distinct()
            )
            # small-star as a 1:1 map: L is distinct within each a-group,
            # so EXACTLY one row per group has b == min(b) — rewrite it
            # to (a, m) (the former separate small_min branch) and every
            # other row to (b, m); same multiset as the old
            # join+filter+union, one consumer of L, so the per-round L
            # localCheckpoint job is gone.
            S = (
                L.withColumn("m", F.min("b").over(wa))
                .select(
                    F.when(F.col("b") == F.col("m"), F.col("a"))
                    .otherwise(F.col("b"))
                    .alias("a"),
                    F.col("m").alias("b"),
                )
                .distinct()
            )
            # r11 pointer jump (VERDICT r10 #7, measured): re-hang every
            # node onto its candidate root's OWN candidate root before
            # materializing the round — one extra join per round (the
            # parent aggregate rides S's existing hash(a) partitioning;
            # the join is AQE-skew-splittable on hot roots) in exchange
            # for a second height-halving per round. Stars are
            # jump-invariant (roots never appear on the left, so the
            # left join misses and least(b, b) = b), hence the fixed
            # point and the labels are unchanged — verified label-
            # identical on both real edge sets and oracle-green; rounds
            # measured 5→3 (dedup_clusters) and 7→5
            # (spatial_cluster_eps) at sf0.1, wall −10% each
            # (scripts/cc_pointer_doubling_eval.py).
            parent = S.groupBy("a").agg(F.min("b").alias("pb"))
            S = (
                S.join(
                    parent.select(
                        F.col("a").alias("b"), F.col("pb").alias("b2")
                    ),
                    "b",
                    "left",
                )
                .select(
                    "a",
                    F.least(
                        F.col("b"), F.coalesce("b2", F.col("b"))
                    ).alias("b"),
                )
                .distinct()
                .localCheckpoint()
            )
            n_new = S.count()
            converged = n_new == n_prev and S.subtract(E).limit(1).count() == 0
            E, n_prev = S, n_new
            if converged:
                break
        else:
            raise RuntimeError(
                f"connected_components(star): no convergence after {max_iters} "
                "rounds — unexpected for O(log n) contraction; raise max_iters"
            )
    roots = E.groupBy("a").agg(F.min("b").alias("_root"))
    result = universe.join(roots, universe["id"] == roots["a"], "left").select(
        "id", F.coalesce(F.col("_root"), F.col("id")).alias("cluster_id")
    )
    result.curate_cache = E
    result.cc_rounds = rounds
    return result


def contrastive_triplets(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """(anchor_id, positive_id, negative_id) triplets for contrastive
    training: positives come from a near-dup ``pairs`` frame (id_a <
    id_b); negatives are pseudo-random but DETERMINISTIC — each anchor
    is joined to the corpus bucket ``md5(anchor_id) % n_buckets`` (each
    doc lives in bucket ``md5(doc_id) % n_buckets``) and takes the
    lowest-id member that is neither anchor nor positive.

    No RNG (reproducible across runs/partitionings/engines), no cross
    join: one bounded bucket equi-join (corpus/n_buckets rows per
    anchor) + a min aggregate. Anchors whose bucket holds only
    themselves/their positive drop out (null-free output)."""
    bucket = lambda c: F.expr(  # noqa: E731
        f"cast(conv(substring(md5(cast({c} as string)), 1, 8), 16, 10) as bigint) % {n_buckets}"
    )
    anchors = pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("positive_id")
    ).withColumn("bucket", bucket("anchor_id"))
    docs = df.select(F.col(id_col).alias("cand_id")).withColumn(
        "bucket", bucket("cand_id")
    )
    return (
        anchors.join(docs, "bucket")
        .filter(
            (F.col("cand_id") != F.col("anchor_id"))
            & (F.col("cand_id") != F.col("positive_id"))
        )
        .groupBy("anchor_id", "positive_id")
        .agg(F.min("cand_id").alias("negative_id"))
    )


def ngram_decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per training doc, the number of distinct
    word ``n``-grams it shares with the eval corpus (the standard
    contamination test — GPT-3 appendix C / PaLM use 8-13-gram overlap;
    this corpus' docs are ~20-100 tokens so 5 is the analogous scale).

    Returns ``(id, n_shared_ngrams bigint, contaminated boolean)`` for
    every training row.

    Scale shape: both sides reduce to distinct (id, gram-hash) pairs
    BEFORE the contamination join, and the join key is a 60-bit
    md5-prefix int, not the gram string — the wide shuffle carries two
    ints per row. The eval side is collapsed to a distinct hash set; at
    typical eval/train ratios it broadcasts. One groupBy on id, one
    left join back to ids — no full-text movement anywhere."""
    from pandas_etl_spark.functions.text import tokens, word_ngrams

    def gram_hashes(frame: DataFrame) -> DataFrame:
        toks = frame.select(F.col(id_col).alias("id"), tokens(text_col).alias("t"))
        return toks.select(
            "id",
            F.explode(F.array_distinct(word_ngrams("t", n))).alias("g"),
        ).select(
            "id",
            F.expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)").alias("gh"),
        )

    eval_grams = gram_hashes(ensure_parallelism(eval_df)).select("gh").distinct()
    hits = (
        gram_hashes(ensure_parallelism(train_df))
        .join(eval_grams, "gh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .withColumnRenamed("id", id_col)
    )
    shared = F.coalesce(F.col("n_shared_ngrams"), F.lit(0)).cast("bigint")
    return train_df.join(hits, id_col, "left").select(
        F.col(id_col),
        shared.alias("n_shared_ngrams"),
        (shared > 0).alias("contaminated"),
    )


def fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: Column | str,
    max_dist: int = 4,
) -> DataFrame:
    """Blocked fuzzy matching: candidate pairs share a blocking key
    (cheap, high-recall — e.g. a token, a phonetic code, an LSH bucket),
    then exact Levenshtein ≤ ``max_dist`` verifies. The record-linkage
    primitive: all-pairs edit distance is O(n²) and unshardable, but
    within-block pairs are the classic linkage plan (Fellegi-Sunter
    blocking) — candidate volume is Σ|block|², bounded by the blocking
    key's selectivity, and each block's pairs generate on one node after
    a single hash shuffle on the key.

    Returns ``(id_l, id_r, text_l, text_r, dist)`` with ``id_l < id_r``
    (each unordered pair once, deterministically)."""
    b = F.col(block_col) if isinstance(block_col, str) else block_col
    side = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t"), b.alias("blk")
    )
    left = side.select(
        F.col("id").alias("id_l"), F.col("t").alias("text_l"), "blk"
    )
    right = side.select(
        F.col("id").alias("id_r"), F.col("t").alias("text_r"), "blk"
    )
    return (
        left.join(right, "blk")
        .filter(F.col("id_l") < F.col("id_r"))
        .withColumn("dist", F.levenshtein("text_l", "text_r").cast("bigint"))
        .filter(F.col("dist") <= max_dist)
        .select("id_l", "id_r", "text_l", "text_r", "dist")
    )


def jaro_winkler(s1: str, s2: str) -> float:
    """Textbook Jaro-Winkler similarity (match window
    max(|s1|,|s2|)//2 - 1, transpositions = half the out-of-order
    matches, Winkler prefix boost l≤4 · 0.1 · (1-jaro) applied only
    when jaro > 0.7) — the same variant DuckDB's
    jaro_winkler_similarity implements, verified value-by-value in the
    unit tests so the catalog oracle can score with the built-in."""
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    jaro = (
        matches / l1 + matches / l2 + (matches - t) / matches
    ) / 3
    if jaro > 0.7:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            prefix += 1
        return jaro + prefix * 0.1 * (1 - jaro)
    return jaro


def jaro_winkler_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: Column | str,
    min_sim: float = 0.9,
) -> DataFrame:
    """Blocked record linkage scored by Jaro-Winkler — the
    normalized-similarity sibling of :func:`fuzzy_pairs` (Levenshtein
    counts edits, so it over-penalizes long strings; JW is
    length-normalized and prefix-weighted, the standard name-matching
    scorer). Same Fellegi-Sunter blocking plan: ONE hash shuffle on
    the blocking key, in-block i<j pairs bounded by Σ|block|², then an
    Arrow-batched scorer (JW has no Catalyst builtin — the per-pair
    scan IS the UDF) and the threshold filter. Scores round to 6
    BEFORE the filter so the cut is engine-stable. Returns
    (id_l, id_r, text_l, text_r, jw_sim).

    Exact duplicates collapse BEFORE scoring: the Python scorer sees
    one representative per DISTINCT text, and pair expansion back to
    row ids is pure JVM joins — under heavy-tailed duplicate
    distributions (the 100 TB norm for names) this turns O(Σ dup²)
    Python JW calls into O(Σ distinct²/blocks) (measured 8.6 s → JVM-
    bound on the 20k-row/64-name part fixture); with all-unique texts
    it degenerates to the original plan plus one cheap aggregate."""

    @F.pandas_udf("double")
    def _jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [jaro_winkler(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    b = F.col(block_col) if isinstance(block_col, str) else block_col
    side = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t"), b.alias("blk")
    )
    reps = side.groupBy("t", "blk").agg(F.min("id").alias("rid"))
    rl = reps.select(F.col("rid").alias("rid_l"), F.col("t").alias("text_l"), "blk")
    rr = reps.select(F.col("rid").alias("rid_r"), F.col("t").alias("text_r"), "blk")
    name_pairs = (
        rl.join(rr, "blk")
        .filter(F.col("rid_l") < F.col("rid_r"))
        .withColumn("jw_sim", F.round(_jw("text_l", "text_r"), 6))
        .filter(F.col("jw_sim") >= min_sim)
        .select("blk", "text_l", "text_r", "jw_sim")
    )
    ml = side.select(
        F.col("id").alias("ida"), F.col("t").alias("text_l"), "blk"
    )
    mr = side.select(
        F.col("id").alias("idb"), F.col("t").alias("text_r"), "blk"
    )
    cross = (
        name_pairs.join(ml, ["blk", "text_l"])
        .join(mr, ["blk", "text_r"])
        .select(
            F.least("ida", "idb").alias("id_l"),
            F.greatest("ida", "idb").alias("id_r"),
            F.when(F.col("ida") < F.col("idb"), F.col("text_l"))
            .otherwise(F.col("text_r"))
            .alias("text_l"),
            F.when(F.col("ida") < F.col("idb"), F.col("text_r"))
            .otherwise(F.col("text_l"))
            .alias("text_r"),
            "jw_sim",
        )
    )
    same = (
        side.select(
            F.col("id").alias("id_l"), F.col("t").alias("text_l"), "blk"
        )
        .join(
            side.select(
                F.col("id").alias("id_r"), F.col("t").alias("text_l"), "blk"
            ),
            ["blk", "text_l"],
        )
        .filter(F.col("id_l") < F.col("id_r"))
        .select(
            "id_l",
            "id_r",
            "text_l",
            F.col("text_l").alias("text_r"),
            F.lit(1.0).alias("jw_sim"),
        )
    )
    return cross.unionByName(same)


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """Incremental ingestion dedup: classify each NEW document against an
    EXISTING corpus without re-clustering the corpus — the shape a
    100 TB pipeline actually runs daily (the corpus-side shingle index
    and fingerprints are write-once; only the small new batch is fresh
    work each run).

    Signals, in precedence order:
    - ``exact``: normalized-content md5 present in the corpus;
    - ``near``: char-k-gram Jaccard ≥ ``threshold`` against some corpus
      doc (``near_dup_of`` = the smallest matching corpus id);
    - ``novel``: neither.

    Stop-shingles (corpus document frequency > ``max_df``) are dropped
    from BOTH sides before the inverted-index join — same skew/size
    control as :func:`ngram_jaccard_pairs`, and the denominator counts
    each doc's corpus-rare shingles so the statistic matches the
    self-join variant. Shingles absent from the corpus are rare by
    definition (df = 0): they stay in the denominator but never join.
    The stop set is deliberately NOT broadcast-hinted: distinct
    over-the-cap shingles grow with corpus size (Heaps' law) and at
    100 TB would not fit an executor; AQE broadcasts it dynamically
    whenever it is actually small.

    Shuffles: corpus fingerprint/shingle aggregation (amortizable via a
    precomputed index), one inverted-index join keyed on shingle, one
    (new_id, corpus_id) count. New-batch side is small → its per-doc
    frames broadcast."""
    corp_fp = corpus_df.select(fingerprint(text_col).alias("fp")).distinct()
    sh_corp = char_shingles(corpus_df, text_col, id_col, k)
    stop = (
        sh_corp.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    sh_corp_r = sh_corp.join(stop, "shingle", "left_anti")
    n_corp = sh_corp_r.groupBy("id").agg(F.count(F.lit(1)).alias("n_b"))
    return _classify_against(
        new_df, text_col, id_col, k, threshold, corp_fp, stop, sh_corp_r, n_corp
    )


def _classify_against(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    threshold: float,
    corp_fp: DataFrame,
    stop: DataFrame,
    sh_corp_r: DataFrame,
    n_corp: DataFrame,
) -> DataFrame:
    """Classification core shared by :func:`incremental_dedup` (corpus
    frames built inline) and :func:`incremental_dedup_indexed` (corpus
    frames read from a write-once index)."""
    new_fp = new_df.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fp"))
    exact = (
        new_fp.join(corp_fp, "fp", "left_semi").select("id").withColumn("exact", F.lit(True))
    )
    sh_new = char_shingles(new_df, text_col, id_col, k)
    sh_new_r = sh_new.join(stop, "shingle", "left_anti")
    n_new = sh_new_r.groupBy("id").agg(F.count(F.lit(1)).alias("n_a"))
    shared = (
        sh_new_r.select(F.col("id").alias("id_a"), "shingle")
        .join(sh_corp_r.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    near = (
        shared.join(n_new.select(F.col("id").alias("id_a"), "n_a"), "id_a")
        .join(n_corp.select(F.col("id").alias("id_b"), "n_b"), "id_b")
        .filter(
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            >= threshold
        )
        .groupBy(F.col("id_a").alias("id"))
        .agg(F.min("id_b").alias("near_dup_of"))
    )
    return (
        new_df.select(F.col(id_col).alias("id"))
        .join(exact, "id", "left")
        .join(near, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("exact"), F.lit(False)).alias("exact_dup"),
            "near_dup_of",
            F.when(F.coalesce(F.col("exact"), F.lit(False)), "exact")
            .when(F.col("near_dup_of").isNotNull(), "near")
            .otherwise("novel")
            .alias("status"),
        )
    )


def build_dedup_index(
    corpus_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    max_df: int = 50,
) -> str:
    """Materialize the corpus side of :func:`incremental_dedup` as a
    write-once parquet index: ``fp/`` (distinct content fingerprints),
    ``stop/`` (shingles with df > max_df), ``postings/`` (corpus-rare
    (id, shingle)), ``sizes/`` (per-doc rare-shingle counts), and
    ``_meta.json`` (k, max_df — classification must use the same).

    This is the amortization a daily 100 TB ingest actually needs: the
    corpus aggregation (its only large shuffles) runs ONCE; each batch
    classification then touches the batch plus index scans. Without the
    index, every batch re-shuffles the whole corpus."""
    import json
    import os

    sh_corp = char_shingles(corpus_df, text_col, id_col, k)
    dfreq = sh_corp.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    stop = dfreq.filter(F.col("df") > max_df).select("shingle")
    sh_rare = sh_corp.join(stop, "shingle", "left_anti")
    corpus_df.select(fingerprint(text_col).alias("fp")).distinct().write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "fp"))
    stop.write.mode("overwrite").parquet(os.path.join(path, "stop"))
    sh_rare.write.mode("overwrite").parquet(os.path.join(path, "postings"))
    sh_rare.groupBy("id").agg(F.count(F.lit(1)).alias("n_b")).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "sizes"))
    with open(os.path.join(path, "_meta.json"), "w") as f:
        json.dump({"k": k, "max_df": max_df, "text_col": text_col}, f)
    return path


def incremental_dedup_indexed(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """:func:`incremental_dedup` against a :func:`build_dedup_index`
    index instead of the raw corpus — identical classification, corpus
    shuffles amortized away (equivalence-tested)."""
    import json
    import os

    spark = new_df.sparkSession
    with open(os.path.join(index_path, "_meta.json")) as f:
        meta = json.load(f)
    return _classify_against(
        new_df,
        text_col,
        id_col,
        meta["k"],
        threshold,
        read_parquet(spark, os.path.join(index_path, "fp")),
        read_parquet(spark, os.path.join(index_path, "stop")),
        read_parquet(spark, os.path.join(index_path, "postings")),
        read_parquet(spark, os.path.join(index_path, "sizes")),
    )


def append_to_dedup_index(
    novel_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append newly-ingested (novel) docs to an existing index so the
    next batch classifies against them too. The stop set is FROZEN at
    build time: shingles that only cross max_df through appends stay
    active until a periodic rebuild — deliberate (recomputing df per
    batch would re-shuffle the grown corpus, defeating the index; the
    cap exists for skew control, and drift in it only makes the near
    check marginally more thorough).

    Materialize ``novel_df`` (write it, or pass a frame read from
    storage) BEFORE calling this: a lazy frame whose plan embeds a
    PRE-append read of this same index must not be re-executed after
    the append — Spark may re-list the index files inside a later
    query, so such a frame can observe either snapshot."""
    import json
    import os

    spark = novel_df.sparkSession
    with open(os.path.join(index_path, "_meta.json")) as f:
        meta = json.load(f)
    stop = read_parquet(spark, os.path.join(index_path, "stop"))
    sh = char_shingles(novel_df, text_col, id_col, meta["k"]).join(
        stop, "shingle", "left_anti"
    )
    novel_df.select(fingerprint(text_col).alias("fp")).distinct().write.mode(
        "append"
    ).parquet(os.path.join(index_path, "fp"))
    sh.write.mode("append").parquet(os.path.join(index_path, "postings"))
    sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_b")).write.mode("append").parquet(
        os.path.join(index_path, "sizes")
    )
