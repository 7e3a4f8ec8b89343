"""Similarity-search catalog queries over ``embeddings`` (SURVEY §2.9).

Brute-force cosine paths carry exact DuckDB oracles (double-precision,
rounded to 6 decimals on both sides). The sign-LSH approximate path is
rows-only (bucket boundaries are float-sign-sensitive across engines);
its recall is asserted against the brute-force baseline in
tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_etl_spark.catalog.registry import query
from pandas_etl_spark.functions import similarity as sim
from pandas_etl_spark.sources import load_table

_N_QUERIES = 5
_TOPK = 5

_DD_COS = (
    "round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) / "
    "(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(q.qv, q.qv))), 6)"
)


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    sims AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {_DD_COS} AS cosine_sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM sims
    ) WHERE rn <= {_TOPK}
    """,
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k cosine — the ANN correctness baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.cosine_topk(emb, queries, k=_TOPK, dim=64).withColumnRenamed("rank", "rnk")


_KNN_K = 5
_KNN_CAP = 500  # bounded query set: the broadcast side stays fixed per SF


@query(
    "knn_label_transfer",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
               label AS true_label
        FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < {_KNN_CAP}
    ),
    s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev, label
        FROM embeddings WHERE vec_id % 5 <> 0
    ),
    sims AS (
        SELECT q.query_id, s.vec_id AS neighbor_id, s.label AS nbr_label,
               round(list_dot_product(s.ev, q.qv) /
                     (sqrt(list_dot_product(s.ev, s.ev)) *
                      sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
        FROM s, q
    ),
    top AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM sims
        ) WHERE rn <= {_KNN_K}
    ),
    votes AS (
        SELECT query_id, nbr_label, count(*) AS c
        FROM top GROUP BY 1, 2
    ),
    pred AS (
        SELECT query_id, nbr_label AS pred_label, c,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY c DESC, nbr_label) AS rn
        FROM votes
    )
    SELECT p.query_id, p.pred_label, CAST(p.c AS BIGINT) AS n_votes,
           q.true_label, p.pred_label = q.true_label AS correct
    FROM pred p JOIN q USING (query_id) WHERE p.rn = 1
    """,
)
def q_knn_label_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label transfer: a bounded query set (every 5th
    vector under a fixed id cap) is re-labeled by majority vote of its
    k=5 cosine-nearest neighbors among the remaining labeled corpus —
    the standard kNN propagation used to extend a small human-labeled
    seed set across a large embedded corpus.

    Scale shape: the query side is bounded and broadcast (reusing
    cosine_topk — the corpus NEVER shuffles for scoring; per-query
    top-k via the salted two-stage window); the vote is a tiny
    (query, label) aggregate. Deterministic throughout: cosine rounded
    to 6 before ranking, neighbor-id tie-break, (count DESC, label ASC)
    vote tie-break."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < _KNN_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("true_label"),
    )
    seeds = emb.filter(F.col("vec_id") % 5 != 0)
    nbrs = sim.cosine_topk(
        seeds, queries.select("query_id", "query_vec"), k=_KNN_K, dim=64
    )
    labeled = nbrs.join(
        seeds.select(
            F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nbr_label")
        ),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "nbr_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("c"), F.asc("nbr_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("nbr_label").alias("pred_label"),
            F.col("c").cast("bigint").alias("n_votes"),
        )
    )
    return pred.join(
        F.broadcast(queries.select("query_id", "true_label")), "query_id"
    ).select(
        "query_id",
        "pred_label",
        "n_votes",
        "true_label",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


@query(
    "embedding_neardup_exact",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
                 (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
               AS cosine_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500
      AND round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
                (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                 sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) >= 0.9
    """,
)
def q_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine near-dup on a capped id range (brute-force
    correctness baseline; the LSH variant below is the scale path)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(sim.cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.9)
    )


@query("ann_lsh_topk")
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate top-k (the 100 TB path: bucket is the
    shuffle/partition key). Rows-only driver check; recall vs brute force
    asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.ann_lsh_topk(emb, queries, k=_TOPK, dim=64, bits=6).withColumnRenamed(
        "rank", "rnk"
    )


@query("ann_ivf_topk")
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic mini-k-means cells, nprobe-cell probe,
    exact re-rank (the partition-the-corpus-by-centroid scale path,
    complementing the sign-LSH variant). Rows-only driver check; recall
    vs brute force asserted in tests/test_operators.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.ann_ivf_topk(
        emb, queries, k=_TOPK, n_cells=16, nprobe=4
    ).withColumnRenamed("rank", "rnk")


@query("ann_pq_topk")
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN: product-quantization codes + per-query distance
    lookup tables, shortlist by asymmetric distance, exact-cosine
    re-rank (functions/similarity.ann_pq_topk). Completes the ANN
    family (brute/LSH/IVF/PQ). Rows-only driver check; recall vs
    brute force asserted in tests/test_operators.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.ann_pq_topk(
        emb, queries, k=_TOPK, m=8, codes_k=32
    ).withColumnRenamed("rank", "rnk")


@query("embedding_neardup_lsh")
def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH blocked near-dup pairs (rows-only driver check)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.embedding_neardup_pairs(emb, threshold=0.9, dim=64, bits=6)


@query(
    "embedding_quantize_error",
    oracle="""
    WITH dims AS (
        SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
               max(CAST(embedding[i] AS DOUBLE)) AS hi
        FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
        GROUP BY i
    ),
    r AS (SELECT list(lo ORDER BY i) AS lo_arr, list(hi ORDER BY i) AS hi_arr
          FROM dims),
    errs AS (
        SELECT e.vec_id,
               list_transform(generate_series(1, 64), i ->
                   CASE WHEN r.hi_arr[i] = r.lo_arr[i] THEN 0.0
                        ELSE abs(r.lo_arr[i]
                                 + floor((CAST(e.embedding[i] AS DOUBLE) - r.lo_arr[i])
                                         / ((r.hi_arr[i] - r.lo_arr[i]) / 255.0) + 0.5)
                                   * ((r.hi_arr[i] - r.lo_arr[i]) / 255.0)
                                 - CAST(e.embedding[i] AS DOUBLE)) END) AS el
        FROM embeddings e, r
    )
    SELECT vec_id, round(list_max(el), 9) AS max_abs_err,
           round(list_sum(list_transform(el, x -> x * x)) / 64, 12) AS mse
    FROM errs
    """,
)
def q_embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantization error audit per vector — gates the fp32→int8
    embedding-store rewrite on an error budget
    (functions/similarity.quantize_int8_error)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.quantize_int8_error(emb)


@query("semantic_dedup")
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means cells + within-cell cosine
    pruning, keep-lowest-id (functions/similarity.semantic_dedup).
    Rows-only driver check (k-means is not SQL-expressible); the
    keep/drop invariants are property-tested in tests/test_similarity
    and the n_cells=1 degenerate case is oracle-checked below."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.semantic_dedup(emb, threshold=0.4, n_cells=16, dim=64)


@query(
    "semantic_dedup_checked",
    oracle="""
    SELECT a.vec_id AS id, CAST(0 AS INTEGER) AS cell
    FROM embeddings a
    WHERE a.vec_id < 400 AND NOT EXISTS (
        SELECT 1 FROM embeddings b
        WHERE b.vec_id < a.vec_id AND b.vec_id < 400
          AND round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) /
                    (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                           CAST(a.embedding AS DOUBLE[]))) *
                     sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])))), 6) >= 0.4
    )
    """,
)
def q_semantic_dedup_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-exact correctness anchor for semantic_dedup: ``n_cells=1``
    degenerates the cell join to exact brute force on a capped id range,
    which the NOT EXISTS oracle reproduces verbatim."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    return sim.semantic_dedup(emb, threshold=0.4, n_cells=1, dim=64)


@query("pq_encode_stats")
def q_pq_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (functions/similarity.pq_encode):
    m=8 subspace codebooks of k=16 → 8 one-byte codes per 64-dim fp32
    vector (32× storage cut) with exact per-vector reconstruction MSE.
    Rows-only driver check (k-means codebooks are not SQL-expressible);
    code-range and error-monotonicity invariants are property-tested in
    tests/test_operators.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.pq_encode(emb, m=8, k=16)


@query(
    "embedding_centroids",
    oracle="""
    SELECT label, CAST(i - 1 AS INTEGER) AS pos,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    GROUP BY label, pos
    """,
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, positionwise:
    posexplode → groupBy(label, pos) avg — plain codegen'd aggregates
    with map-side partials (the higher-order zip_with fold alternative is
    interpreted per element and holds whole vectors in each agg buffer).
    Long (label, pos, centroid) output; re-assemble with array_agg
    ordered by pos when a vector shape is needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
    )


@query(
    "embedding_outliers",
    oracle="""
    WITH dims AS (
        SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS m
        FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
        GROUP BY label, i
    ),
    cent AS (SELECT label, list(m ORDER BY i) AS centroid FROM dims GROUP BY label)
    SELECT e.vec_id, e.label,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid) /
                 (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(c.centroid, c.centroid))), 6) AS cos_centroid,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid) /
                 (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(c.centroid, c.centroid))), 6) < 0.0
               AS is_outlier
    FROM embeddings e JOIN cent c USING (label)
    """,
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled/corrupted-embedding screen: cosine of each vector to
    its own label centroid, negative = pointing away from its class
    (functions/similarity.label_centroid_outliers)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.label_centroid_outliers(emb, threshold=0.0)


@query(
    "embedding_standardize",
    oracle="""
    WITH ex AS (
        SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    stats AS (
        SELECT pos, avg(v) AS mu, stddev_samp(v) AS sd
        FROM ex GROUP BY pos
    )
    SELECT ex.vec_id, CAST(ex.pos AS INTEGER) AS pos,
           round((ex.v - s.mu) / s.sd, 6) AS z
    FROM ex JOIN stats s ON s.pos = ex.pos
    """,
)
def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding column —
    the feature-scaling pass before distance-based ops when dimensions
    have heterogeneous variance. One posexplode aggregate to |dims|
    rows of (mean, std); the tiny stats frame broadcasts back onto the
    exploded corpus (the corpus is scanned twice — stats then
    transform — which beats persisting the explosion at 100 TB). Long
    output (vec_id, pos, z): engine-stable and directly consumable by
    the positionwise operators."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    stats = ex.groupBy("pos").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd")
    )
    return ex.join(F.broadcast(stats), "pos").select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.round((F.col("v") - F.col("mu")) / F.col("sd"), 6).alias("z"),
    )


@query("ann_recall_audit")
def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measuring recall@k for every approximate ANN path against
    the exact brute-force baseline — the "measure, don't guess" audit a
    production ANN deployment runs on a sampled query set before
    trusting index parameters. One row per method with mean and
    worst-query recall; the recall unit tests pin floors, this query
    makes the number continuously observable at any SF.

    Rows-only driver check: LSH hyperplanes / k-means fits are
    engine-specific, so no SQL oracle can reproduce the approximate
    sides (the exact side is oracle-checked as ann_cosine_topk).
    Plan: each branch inherits its method's no-corpus-shuffle shape;
    the audit adds only per-query-id joins on k*|queries| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = sim.cosine_topk(emb, queries, k=_TOPK, dim=64).select(
        "query_id", "neighbor_id"
    )
    qids = exact.select("query_id").distinct()
    methods = {
        "lsh": sim.ann_lsh_topk(emb, queries, k=_TOPK, dim=64, bits=6),
        "ivf": sim.ann_ivf_topk(emb, queries, k=_TOPK, n_cells=16, nprobe=4),
        "pq": sim.ann_pq_topk(emb, queries, k=_TOPK, m=8, codes_k=32),
    }
    outs = []
    for name, approx in methods.items():
        hits = (
            approx.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("h"))
        )
        per_q = qids.join(hits, "query_id", "left").select(
            "query_id",
            (F.coalesce(F.col("h"), F.lit(0)) / F.lit(float(_TOPK))).alias(
                "recall"
            ),
        )
        outs.append(
            per_q.agg(
                F.lit(name).alias("method"),
                F.count(F.lit(1)).cast("bigint").alias("n_queries"),
                F.round(F.avg("recall"), 6).alias("mean_recall_at_k"),
                F.round(F.min("recall"), 6).alias("min_recall_at_k"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query("ann_ivf_indexed")
def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a WRITE-ONCE inverted-file index
    (functions/similarity.build_ivf_index + ann_ivf_indexed): the
    corpus is k-means-fit, assigned, and parquet-partitioned by cell
    ONCE; the query batch's probe-cell union becomes a literal
    partition filter so the scan skips unprobed cells at the file
    level (PartitionFilters plan-asserted). Deterministic fit ⇒
    bit-identical to ann_ivf_topk on the same corpus (tested).
    Rows-only driver check (k-means is engine-specific)."""
    import shutil
    import tempfile

    from pandas_etl_spark.functions.similarity import (
        ann_ivf_indexed,
        build_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    path = tempfile.mkdtemp(prefix="ivf_index_")
    build_ivf_index(emb, path, n_cells=16, kmeans_iters=2)
    result = ann_ivf_indexed(queries, path, k=_TOPK, nprobe=4).withColumnRenamed(
        "rank", "rnk"
    )
    # materialize the (|queries|·k)-row result before deleting the index
    # it scans (partition-filter skipping is plan-asserted in
    # tests/test_operators.py on its own index), then clean up /tmp
    result = result.localCheckpoint(eager=True)
    shutil.rmtree(path, ignore_errors=True)
    return result


def _knn_lpa_oracle() -> str:
    from pandas_etl_spark.catalog.analytics import _LPA_ITER_SQL

    return (
        """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sims AS (
        SELECT a.vec_id AS i, b.vec_id AS j,
               round(list_dot_product(a.e, b.e)
                     / (sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(b.e, b.e))), 6) AS c
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    knn AS (
        SELECT i, j FROM (
            SELECT i, j, row_number() OVER (
                PARTITION BY i ORDER BY c DESC, j) AS rn
            FROM sims
        ) WHERE rn <= 5
    ),
    edges AS (SELECT DISTINCT least(i, j) AS u, greatest(i, j) AS v FROM knn),
    sym AS (
        SELECT u AS node, v AS nbr FROM edges
        UNION ALL SELECT v, u FROM edges
    ),
    l0 AS (SELECT DISTINCT node, node AS label FROM sym),"""
        + _LPA_ITER_SQL.format(i=1, p=0) + ","
        + _LPA_ITER_SQL.format(i=2, p=1) + ","
        + _LPA_ITER_SQL.format(i=3, p=2)
        + "\nSELECT node AS vec_id, label AS community FROM l3"
    )


@query("semantic_knn_communities", oracle=_knn_lpa_oracle())
def q_semantic_knn_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering WITHOUT a codebook: exact 5-NN cosine graph
    over the embeddings (cosine_topk with every vector as a query —
    queries broadcast, corpus never shuffles), symmetrized, then 3
    deterministic LPA rounds (operators/graph.label_propagation). The
    whole chain — 6-decimal-rounded cosine ranking with id tie-break,
    edge canonicalization, unrolled label propagation — is replayed by
    the SQL oracle, so (vec_id, community) hash-matches cross-engine
    end-to-end: an embeddings→graph→communities pipeline verified at
    every stage, complementing the centroid-based semantic_dedup
    family. Brute-force kNN is the documented O(N²) baseline (fine at
    gate SFs); at 100 TB swap the graph construction for the
    LSH/IVF/PQ paths and keep the identical downstream."""
    from pandas_etl_spark.operators.graph import label_propagation

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    knn = sim.cosine_topk(emb, queries, k=5, dim=64)
    edges = knn.select(
        F.least("query_id", "neighbor_id").alias("u"),
        F.greatest("query_id", "neighbor_id").alias("v"),
    )
    lp = label_propagation(edges, "u", "v", iters=3)
    return lp.select(
        F.col("node").alias("vec_id"), F.col("label").alias("community")
    )


@query("embedding_pca_project")
def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed PCA (functions/decompose.pca_fit/project):
    fit population PCA on ALL embeddings — per-batch moment rows via
    one numpy matmul each, positional-sum combine, only the d+d²+1
    moments ever reach the driver — then project every vector onto the
    top-8 components (the decorrelation step ahead of semantic
    clustering / whitened dedup). Rows-only driver check
    (eigendecomposition is not SQL-expressible); orthonormality,
    eigenvalue ordering, projected-variance ≡ eigenvalue, partition
    invariance, and reconstruction-error monotonicity are
    property-tested in tests/test_operators.py."""
    from pandas_etl_spark.functions.decompose import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.isEmpty():  # a fit needs >= 1 vector; empty in, empty out
        return emb.select(
            "vec_id",
            "label",
            F.lit(None).cast("array<double>").alias("proj"),
        )
    model = pca_fit(emb, "embedding", k=8)
    return pca_project(emb, model, "embedding", "proj").select(
        "vec_id",
        "label",
        F.transform("proj", lambda x: F.round(x, 6)).alias("proj"),
    )


@query(
    "semantic_decontaminate",
    oracle="""
    WITH ev AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 20 = 0
    ),
    tr AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS tv
        FROM embeddings WHERE vec_id % 20 <> 0
    ),
    bad AS (
        SELECT DISTINCT tr.vec_id
        FROM tr, ev
        WHERE list_dot_product(tr.tv, ev.qv)
              / (sqrt(list_dot_product(tr.tv, tr.tv))
                 * sqrt(list_dot_product(ev.qv, ev.qv))) >= 0.35
    )
    SELECT tr.vec_id, tr.label
    FROM tr LEFT JOIN bad USING (vec_id)
    WHERE bad.vec_id IS NULL
    """,
)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination
    (functions/similarity.semantic_decontaminate): the 5%
    held-out-eval split (vec_id % 20 = 0) is scrubbed from the train
    split at cosine ≥ 0.35 — the semantic sibling of the n-gram
    `decontaminate` gate (paraphrased eval leakage has no 5-gram
    overlap but lives in the same embedding neighborhood). Eval
    vectors broadcast; the corpus is scanned once with deterministic
    sequential-fold JVM cosines and never shuffles (the tiny
    contaminated-id list broadcasts into the anti join). Full oracle:
    brute-force cosine cross join in DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 20 == 0)
    tr = emb.filter(F.col("vec_id") % 20 != 0)
    return sim.semantic_decontaminate(tr, ev, threshold=0.35, dim=64).select(
        "vec_id", "label"
    )


@query("diversity_sample_kcenter", oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    c1 AS MATERIALIZED (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 1),
    d1 AS MATERIALIZED (
        SELECT v.vec_id, v.ev, 1.0 - (list_dot_product(v.ev, c1.ev) / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(c1.ev, c1.ev)))) AS ud
        FROM v, c1 WHERE v.vec_id <> c1.vec_id
    ),
    c2 AS MATERIALIZED (
        SELECT vec_id, ev, round(ud, 6) AS d FROM d1
        ORDER BY round(ud, 6) DESC, vec_id LIMIT 1
    ),
    d2 AS MATERIALIZED (
        SELECT d.vec_id, d.ev,
               least(d.ud, 1.0 - (list_dot_product(d.ev, c.ev) / (sqrt(list_dot_product(d.ev, d.ev)) * sqrt(list_dot_product(c.ev, c.ev))))) AS ud
        FROM d1 d, c2 c WHERE d.vec_id <> c.vec_id
    ),
    c3 AS MATERIALIZED (
        SELECT vec_id, ev, round(ud, 6) AS d FROM d2
        ORDER BY round(ud, 6) DESC, vec_id LIMIT 1
    ),
    d3 AS MATERIALIZED (
        SELECT d.vec_id, d.ev,
               least(d.ud, 1.0 - (list_dot_product(d.ev, c.ev) / (sqrt(list_dot_product(d.ev, d.ev)) * sqrt(list_dot_product(c.ev, c.ev))))) AS ud
        FROM d2 d, c3 c WHERE d.vec_id <> c.vec_id
    ),
    c4 AS MATERIALIZED (
        SELECT vec_id, ev, round(ud, 6) AS d FROM d3
        ORDER BY round(ud, 6) DESC, vec_id LIMIT 1
    ),
    d4 AS MATERIALIZED (
        SELECT d.vec_id, d.ev,
               least(d.ud, 1.0 - (list_dot_product(d.ev, c.ev) / (sqrt(list_dot_product(d.ev, d.ev)) * sqrt(list_dot_product(c.ev, c.ev))))) AS ud
        FROM d3 d, c4 c WHERE d.vec_id <> c.vec_id
    ),
    c5 AS MATERIALIZED (
        SELECT vec_id, ev, round(ud, 6) AS d FROM d4
        ORDER BY round(ud, 6) DESC, vec_id LIMIT 1
    ),
    d5 AS MATERIALIZED (
        SELECT d.vec_id, d.ev,
               least(d.ud, 1.0 - (list_dot_product(d.ev, c.ev) / (sqrt(list_dot_product(d.ev, d.ev)) * sqrt(list_dot_product(c.ev, c.ev))))) AS ud
        FROM d4 d, c5 c WHERE d.vec_id <> c.vec_id
    ),
    c6 AS MATERIALIZED (
        SELECT vec_id, ev, round(ud, 6) AS d FROM d5
        ORDER BY round(ud, 6) DESC, vec_id LIMIT 1
    ),
    d6 AS MATERIALIZED (
        SELECT d.vec_id, d.ev,
               least(d.ud, 1.0 - (list_dot_product(d.ev, c.ev) / (sqrt(list_dot_product(d.ev, d.ev)) * sqrt(list_dot_product(c.ev, c.ev))))) AS ud
        FROM d5 d, c6 c WHERE d.vec_id <> c.vec_id
    ),
    c7 AS MATERIALIZED (
        SELECT vec_id, ev, round(ud, 6) AS d FROM d6
        ORDER BY round(ud, 6) DESC, vec_id LIMIT 1
    ),
    d7 AS MATERIALIZED (
        SELECT d.vec_id, d.ev,
               least(d.ud, 1.0 - (list_dot_product(d.ev, c.ev) / (sqrt(list_dot_product(d.ev, d.ev)) * sqrt(list_dot_product(c.ev, c.ev))))) AS ud
        FROM d6 d, c7 c WHERE d.vec_id <> c.vec_id
    ),
    c8 AS MATERIALIZED (
        SELECT vec_id, ev, round(ud, 6) AS d FROM d7
        ORDER BY round(ud, 6) DESC, vec_id LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS selection_rank, vec_id,
           CAST(NULL AS DOUBLE) AS dist_to_centers FROM c1
    UNION ALL SELECT 2, vec_id, d FROM c2
    UNION ALL SELECT 3, vec_id, d FROM c3
    UNION ALL SELECT 4, vec_id, d FROM c4
    UNION ALL SELECT 5, vec_id, d FROM c5
    UNION ALL SELECT 6, vec_id, d FROM c6
    UNION ALL SELECT 7, vec_id, d FROM c7
    UNION ALL SELECT 8, vec_id, d FROM c8
    """)
def q_diversity_sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity sample (k=8) over the embeddings.
    Oracle-backed since round 7: the greedy selection is iterative but
    k is FIXED, so the oracle unrolls the 7 post-seed rounds as chained
    MATERIALIZED argmax CTEs carrying the running (unrounded) min
    distance — exactly the operator's round(least(...), 6)-then-argmax
    selection with id tie-breaks. Determinism, seed identity, and the
    non-increasing coverage radius stay asserted in
    tests/test_properties.py."""
    return sim.kcenter_sample(load_table(spark, sf_dir, "embeddings"), k=8)


_DD_SELF_DOT = (
    "list_dot_product(CAST(embedding AS DOUBLE[]), "
    "CAST(embedding AS DOUBLE[]))"
)


@query(
    "embedding_quality_audit",
    oracle=f"""
    WITH m AS (
        SELECT vec_id,
               len(embedding) AS dim,
               sqrt({_DD_SELF_DOT}) AS nrm,
               len(list_filter(CAST(embedding AS DOUBLE[]),
                   x -> NOT (x >= -1.8e308 AND x <= 1.8e308))) AS n_bad
        FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT)                    AS n_vecs,
           CAST(min(dim) AS BIGINT)                    AS min_dim,
           CAST(max(dim) AS BIGINT)                    AS max_dim,
           CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                       AS n_zero_norm,
           CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                       AS n_nonfinite,
           round(quantile_cont(nrm, 0.5), 6)           AS norm_p50,
           round(quantile_cont(nrm, 0.99), 6)          AS norm_p99,
           round(max(nrm), 6)                          AS norm_max
    FROM m
    """,
)
def q_embedding_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column data-quality audit: dimension consistency,
    zero-norm and non-finite counts, and the norm distribution — the
    pre-flight check before any ANN index build or cosine math (a
    single zero-norm vector NaN-poisons cosine; a ragged dim breaks
    dot products). Norms are deterministic sequential-fold doubles
    (same fold as all cosine paths), non-finiteness is one range
    predicate valid in both engines (NaN sorts high in each), and the
    whole audit is ONE scan + one 1-row aggregate — no shuffle of the
    vectors themselves."""
    emb = load_table(spark, sf_dir, "embeddings")
    from pandas_etl_spark.functions.similarity import _norm

    m = emb.select(
        F.size("embedding").alias("dim"),
        _norm(F.col("embedding")).alias("nrm"),
        F.size(
            F.filter(
                F.col("embedding"),
                lambda x: ~(
                    (x.cast("double") >= F.lit(-1.8e308))
                    & (x.cast("double") <= F.lit(1.8e308))
                ),
            )
        ).alias("n_bad"),
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.min("dim").cast("bigint").alias("min_dim"),
        F.max("dim").cast("bigint").alias("max_dim"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_norm"),
        F.sum(F.when(F.col("n_bad") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_nonfinite"),
        F.round(F.percentile("nrm", 0.5), 6).alias("norm_p50"),
        F.round(F.percentile("nrm", 0.99), 6).alias("norm_p99"),
        F.round(F.max("nrm"), 6).alias("norm_max"),
    )


def _lsh_checked_oracle() -> str:
    """DuckDB twin of the single-table sign-LSH path, generated from the
    SAME deterministic LCG hyperplanes as functions/similarity. The
    sign-bit dots are emitted as explicit LEFT-ASSOCIATIVE sums
    (ev[1]*p1 + ev[2]*p2 + ...) — bit-identical to Catalyst's
    sequential aggregate fold; DuckDB's list_dot_product uses a
    different accumulation order and can flip a boundary sign."""
    from pandas_etl_spark.functions.similarity import _hyperplanes

    planes = _hyperplanes(64, _LSH_CHECKED_BITS, seed=42)
    bucket = " + ".join(
        f"(CASE WHEN ({' + '.join(f'ev[{i + 1}]*{x!r}' for i, x in enumerate(p))}) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    return f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    b AS (SELECT vec_id, ev, CAST({bucket} AS BIGINT) AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, ev AS qv, bucket FROM b
          WHERE vec_id < {_N_QUERIES}),
    cand AS (
        SELECT q.query_id, q.qv, b.vec_id AS neighbor_id, b.ev
        FROM b JOIN q USING (bucket)
        WHERE b.vec_id <> q.query_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(ev, qv) /
                     (sqrt(list_dot_product(ev, ev)) *
                      sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
        FROM cand
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS rnk
        FROM scored
    ) WHERE rnk <= {_TOPK}
    """


_LSH_CHECKED_BITS = 6


@query("ann_lsh_checked", oracle=_lsh_checked_oracle())
def q_ann_lsh_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CHECKED single-table sign-LSH ANN (the cross-engine twin
    of the rows-only multi-table ann_lsh_topk, the same relationship
    minhash_lsh_pairs_checked has to its xxhash production path): the
    6 hyperplane sign bits come from Catalyst's sequential-fold dot
    products against LCG-deterministic planes, candidates share the
    query's bucket, and the exact cosine re-rank rounds to 6 before
    the id-tie-broken top-k — every step reproducible in ANSI SQL, so
    the bucketing+shortlist+re-rank kernel itself is hash-verified,
    not just recall-audited. Corpus cost: one bucket column in the
    scan projection, one id-only bucket join."""
    from pandas_etl_spark.functions.similarity import (
        cosine,
        salted_topk,
        signlsh_bucket,
    )
    from pandas_etl_spark.sources.io import ensure_parallelism

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    b = emb.select(
        "vec_id",
        "embedding",
        signlsh_bucket("embedding", 64, _LSH_CHECKED_BITS, seed=42).alias(
            "bucket"
        ),
    )
    q = b.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        "bucket",
    )
    cand = (
        b.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("embedding"), F.col("query_vec")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    return salted_topk(
        cand, "query_id", [F.desc("cosine_sim"), F.asc("neighbor_id")], _TOPK
    ).select(
        "query_id",
        "neighbor_id",
        "cosine_sim",
        F.col("rank").cast("bigint").alias("rnk"),
    )


_PCA_POW_ITERS = 30


def _pca_power_oracle(probe: bool = False) -> str:
    """Unrolled power-iteration oracle for the dominant principal
    component: covariance C from one self-join aggregate (E[xy] −
    μᵢμⱼ), then 30 chained MATERIALIZED matvec+normalize rounds from
    the constant start vector, sign-canonicalized at the largest-|w|
    coordinate. Determinism contract (r8 driver red row, fixed r9):
    every rounded quantity must sit far from its rounding
    half-boundary RELATIVE TO ITS OWN residual drift, so pinning
    happens at the point of least drift — μ and the covariance are
    rounded (6 / 4 decimals) straight out of their single-pass
    aggregates, where cross-session/cross-engine summation-order
    drift is ~1e-12 against measured grid margins ~1e-8 (pinning w
    alone is NOT safe: the unpinned 30-step iteration drifts ~1e-8,
    the same order as w's 6-decimal margin). The iteration then runs
    on pinned constants, w is rounded to 6 (drift ~1e-13 vs margin
    4.8e-9), and the projection is the same LEFT-ASSOCIATIVE fold
    F.aggregate computes — list_reduce over pos-ordered terms seeded
    with 0.0. round() can emit IEEE -0.0 (measured: min |pc1| 3.6e-5
    at sf0.01 rounds to ±0.0), normalized by the final CASE. The
    margin/drift ratios are asserted per-quantity in
    tests/test_operators.py::test_pca_power_rounding_margins.

    ``probe=True`` swaps the final select for a per-quantity
    margin report (min distance of each UNROUNDED pinned value to
    its rounding half-boundary) so the test can verify the
    margin ≫ drift contract on the live data without string surgery
    on the registered oracle."""
    it = []
    for t in range(1, _PCA_POW_ITERS + 1):
        it.append(f""",
    u{t} AS MATERIALIZED (
        SELECT c.i AS pos, sum(c.c * w.wv) AS uv
        FROM cov c JOIN w{t - 1} w ON c.j = w.pos GROUP BY c.i
    ),
    w{t} AS MATERIALIZED (
        SELECT pos, uv / sqrt((SELECT sum(uv * uv) FROM u{t})) AS wv
        FROM u{t}
    )""")
    W = f"w{_PCA_POW_ITERS}"
    final = """
    SELECT vec_id, label,
           CASE WHEN p = 0 THEN CAST(0.0 AS DOUBLE) ELSE p END AS pc1
    FROM folded
    """
    if probe:
        final = f"""
    margins AS (
        SELECT 'mu_6' AS quantity,
               min(abs(abs(mraw * 1e6 - floor(mraw * 1e6)) - 0.5) / 1e6)
                   AS margin
        FROM mu
        UNION ALL
        SELECT 'cov_4',
               min(abs(abs(craw * 1e4 - floor(craw * 1e4)) - 0.5) / 1e4)
        FROM cov
        UNION ALL
        SELECT 'w_6',
               min(abs(abs(wv * (SELECT s FROM pick) * 1e6
                           - floor(wv * (SELECT s FROM pick) * 1e6))
                       - 0.5) / 1e6)
        FROM {W}
        UNION ALL
        SELECT 'pc1_4',
               min(abs(abs(praw * 1e4 - floor(praw * 1e4)) - 0.5) / 1e4)
        FROM folded
    )
    SELECT quantity, margin FROM margins
    """
        final = "," + final
    raw_mu = ", avg(x) AS mraw" if probe else ""
    raw_cov = (
        ",\n               sum(a.x * b.x) / max(n.n)"
        "\n                     - max(ma.m) * max(mb.m) AS craw"
        if probe
        else ""
    )
    raw_p = (
        ",\n               list_reduce("
        "\n                   list_prepend(CAST(0.0 AS DOUBLE),"
        "\n                                list(t ORDER BY pos)),"
        "\n                   (acc, x) -> acc + x) AS praw"
        if probe
        else ""
    )
    return f"""
    WITH flat AS (
        SELECT vec_id, label,
               unnest(CAST(embedding AS DOUBLE[])) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    n AS (SELECT count(*) AS n FROM embeddings),
    mu AS MATERIALIZED (
        SELECT pos, round(avg(x), 6) AS m{raw_mu} FROM flat GROUP BY pos
    ),
    cov AS MATERIALIZED (
        SELECT a.pos AS i, b.pos AS j,
               round(sum(a.x * b.x) / max(n.n)
                     - max(ma.m) * max(mb.m), 4) AS c{raw_cov}
        FROM flat a
        JOIN flat b ON a.vec_id = b.vec_id
        JOIN mu ma ON ma.pos = a.pos
        JOIN mu mb ON mb.pos = b.pos
        CROSS JOIN n
        GROUP BY a.pos, b.pos
    ),
    w0 AS MATERIALIZED (
        SELECT pos, 0.125 AS wv FROM mu
    ){''.join(it)},
    pick AS (
        SELECT CASE WHEN wv < 0 THEN -1.0 ELSE 1.0 END AS s
        FROM {W} ORDER BY round(abs(wv), 6) DESC, pos LIMIT 1
    ),
    wc AS MATERIALIZED (
        SELECT pos, round(wv * (SELECT s FROM pick), 6) AS wv FROM {W}
    ),
    terms AS (
        SELECT f.vec_id, f.label, f.pos, (f.x - mu.m) * wc.wv AS t
        FROM flat f
        JOIN mu ON mu.pos = f.pos
        JOIN wc ON wc.pos = f.pos
    ),
    folded AS (
        SELECT vec_id, max(label) AS label,
               round(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(t ORDER BY pos)),
                   (acc, x) -> acc + x), 4) AS p{raw_p}
        FROM terms GROUP BY vec_id
    ){final}"""


@query("pca_power_top_component", oracle=_pca_power_oracle())
def q_pca_power_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component by FIXED-ITERATION power method —
    the cross-engine-checkable kernel beside embedding_pca_project's
    rows-only k=8 eigendecomposition (same trick as the Markov
    doubling-series oracle: pin the iteration count and linear algebra
    unrolls into SQL). Covariance is E[xy] − μμᵀ from ONE (vec-keyed)
    self-join aggregate; the 30 matvec+normalize rounds run DRIVER-SIDE
    on the collected 64×64 grid (a d²-bounded collect — at 100 TB only
    the moment aggregate touches the corpus, and the iteration costs
    zero cluster time); the sign is canonicalized at the largest-|w|
    coordinate. Determinism (r8 red row fix): μ and cov are pinned
    (6 / 4 decimals) at their aggregates, where drift is ~1e-12 vs
    measured grid margins ~1e-8 — pinning w alone was NOT safe, the
    unpinned iteration drifts ~1e-8, the same order as the margins
    that flipped the r8 driver row. The driver-side loop over pinned
    constants is then session-deterministic (fixed ascending-pos
    summation), w re-pins to 6, and the projection is a fold over
    constants computed by the identical left-associative chain in
    both engines; signed zero (min |pc1| 3.6e-5 at sf0.01 rounds to
    ±0.0) is normalized explicitly."""
    import math

    from pandas_etl_spark.sources.io import ensure_parallelism

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    v = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("ev")
    )
    flat = v.select("vec_id", F.posexplode("ev").alias("pos", "x"))
    n = v.count()
    mu = flat.groupBy("pos").agg(F.round(F.avg("x"), 6).alias("m"))
    a = flat.select(F.col("vec_id"), F.col("pos").alias("i"), F.col("x").alias("xa"))
    b = flat.select(F.col("vec_id"), F.col("pos").alias("j"), F.col("x").alias("xb"))
    cov = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg((F.sum(F.col("xa") * F.col("xb")) / F.lit(float(n))).alias("exy"))
        .join(F.broadcast(mu.select(F.col("pos").alias("i"), F.col("m").alias("mi"))), "i")
        .join(F.broadcast(mu.select(F.col("pos").alias("j"), F.col("m").alias("mj"))), "j")
        .select("i", "j", F.round(F.col("exy") - F.col("mi") * F.col("mj"), 4).alias("c"))
    )
    # d²-bounded collects: the pinned 64×64 covariance grid + 64 means.
    C = {(r["i"], r["j"]): r["c"] for r in cov.collect()}
    mud = {r["pos"]: r["m"] for r in mu.collect()}
    dims = sorted(mud)
    if not dims:  # empty corpus — nothing to project
        return v.select(
            "vec_id", "label", F.lit(None).cast("double").alias("pc1")
        )
    w = [0.125] * len(dims)
    for _ in range(_PCA_POW_ITERS):
        u = []
        for i in dims:
            acc = 0.0
            for jx, j in enumerate(dims):
                acc += C.get((i, j), 0.0) * w[jx]
            u.append(acc)
        s2 = 0.0
        for x in u:
            s2 += x * x
        nm = math.sqrt(s2)
        w = [x / nm for x in u]
    # sign pick: largest rounded |w|, lowest pos tie-break (same order
    # the oracle's `pick` CTE uses). These driver-side pins must round
    # HALF AWAY FROM ZERO like SQL round() in both engines — Python's
    # built-in round() is half-even, so a w landing exactly on a 1e-6
    # half-boundary would diverge between the twin and the oracle
    # (ADVICE r9).
    def _round_away(x: float, nd: int = 6) -> float:
        m = 10.0**nd
        return math.copysign(math.floor(abs(x) * m + 0.5), x) / m

    best = min(range(len(dims)), key=lambda k: (-_round_away(abs(w[k])), dims[k]))
    sign = -1.0 if w[best] < 0 else 1.0
    wc = {dims[k]: _round_away(w[k] * sign) for k in range(len(dims))}
    w_arr = F.array(*[F.lit(float(wc[p])) for p in dims])
    mu_arr = F.array(*[F.lit(float(mud[p])) for p in dims])
    proj = F.aggregate(
        F.zip_with(
            F.zip_with(F.col("ev"), mu_arr, lambda x, m: x - m),
            w_arr,
            lambda d, wv: d * wv,
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    p = F.round(proj, 4)
    return v.select(
        "vec_id",
        "label",
        F.when(p == 0, F.lit(0.0)).otherwise(p).alias("pc1"),
    )


_IVF_CHK_BITS = 3  # sign bits of the first 3 dims → 8 seed cells
_IVF_CHK_PROBE = 2


def _ivf_checked_oracle() -> str:
    """DuckDB twin of the IVF assign→probe→re-rank kernel with portable
    one-pass centroids: the k-means fit (engine-specific float
    iteration) is replaced by sign-pattern seeding — cell = the sign
    bits of the first 3 coordinates (bit-identical across engines:
    comparing RAW stored floats involves no arithmetic), centroid =
    per-dimension mean rounded to 6; distances round to 6 before every
    argmin with an id tie-break, absorbing the cross-engine
    float-accumulation-order drift (~1e-15)."""
    sign_cell = " + ".join(
        f"(CASE WHEN ev[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_IVF_CHK_BITS)
    )
    return f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    flat AS (
        SELECT vec_id, {sign_cell} AS fbucket,
               unnest(ev) AS x, generate_subscripts(ev, 1) AS pos
        FROM v
    ),
    cent AS MATERIALIZED (
        SELECT fbucket AS cell, pos, round(avg(x), 6) AS c
        FROM flat GROUP BY 1, 2
    ),
    d AS MATERIALIZED (
        SELECT f.vec_id, c.cell,
               round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        FROM flat f JOIN cent c ON c.pos = f.pos
        GROUP BY 1, 2
    ),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cell) AS rn
            FROM d
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cell) AS rn
            FROM d WHERE vec_id < {_N_QUERIES}
        ) WHERE rn <= {_IVF_CHK_PROBE}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM assign a JOIN probe p USING (cell)
        WHERE a.vec_id <> p.query_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               round(list_dot_product(e.ev, q.ev) /
                     (sqrt(list_dot_product(e.ev, e.ev)) *
                      sqrt(list_dot_product(q.ev, q.ev))), 6) AS cosine_sim
        FROM cand c
        JOIN v e ON e.vec_id = c.neighbor_id
        JOIN v q ON q.vec_id = c.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {_TOPK}
    """


@query("ann_ivf_checked", oracle=_ivf_checked_oracle())
def q_ann_ivf_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CHECKED IVF ANN — the cross-engine twin of the rows-only
    ann_ivf_topk / ann_ivf_indexed production paths (the same
    relationship ann_lsh_checked has to ann_lsh_topk). The only
    unverifiable stage of the production path is the k-means fit
    (float Lloyd iterations diverge across engines); the twin swaps it
    for a ONE-PASS portable fit — cells seeded by the sign pattern of
    the first 3 coordinates (sign of a RAW stored float involves no
    arithmetic, so seeding is bit-identical across engines; it is the
    same quantizer family as sign-LSH, so seed cells are geometrically
    coherent), centroid = per-dimension mean rounded to 6 — and keeps
    the rest of the kernel IDENTICAL: every vector assigned to its nearest cell
    (squared-L2 argmin, rounded distances, lowest-cell tie-break),
    queries probe their nprobe=2 nearest cells, candidates re-rank by
    exact cosine rounded to 6 with an id tie-break. Assign→probe→
    re-rank is therefore hash-verified, not just recall-audited.

    Scale shape (same as production): the centroid table is
    |cells|×dim and driver-bounded (collected once, ≤512 floats); the
    corpus is touched by ONE assignment projection (no shuffle — the
    argmin is a per-row expression over broadcast constants) and the
    candidate join keys on cell with the bounded query side broadcast;
    top-k is the salted two-stage window. Reference: righteouslabs/
    pandas-etl has no ANN surface; this extends the training-data
    north star."""
    from pandas_etl_spark.functions.similarity import (
        _sqdist,
        cosine,
        salted_topk,
    )
    from pandas_etl_spark.sources.io import ensure_parallelism

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    fbucket = sum(
        F.when(F.col("ev")[j] > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(_IVF_CHK_BITS)
    )
    flat = v.select(
        "vec_id", fbucket.alias("fbucket"), F.posexplode("ev").alias("pos", "x")
    )
    cent_rows = (
        flat.groupBy("fbucket", "pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .collect()  # bounded: ≤ cells×dim = 512 rows of driver state
    )
    if not cent_rows:  # empty corpus — no cells to probe
        return spark.createDataFrame(
            [],
            "query_id bigint, neighbor_id bigint, cosine_sim double, rnk bigint",
        )
    cents: dict[int, dict[int, float]] = {}
    for r in cent_rows:
        if r["c"] is not None:  # null array elements yield NULL means
            cents.setdefault(int(r["fbucket"]), {})[int(r["pos"])] = float(
                r["c"]
            )
    if not cents:  # every mean NULL (all-null embeddings) — same empty
        # result as the empty-corpus branch, not a ValueError from
        # max() over an empty generator (ADVICE r9)
        return spark.createDataFrame(
            [],
            "query_id bigint, neighbor_id bigint, cosine_sim double, rnk bigint",
        )
    dim = 1 + max(p for by_pos in cents.values() for p in by_pos)
    # ragged embeddings leave (cell, pos) holes — fill a missing mean
    # with 0.0 so the twin degrades detectably instead of crashing
    # (the oracle's joins likewise keep running on such data)
    cent_list = [
        (cell, [cents[cell].get(p, 0.0) for p in range(dim)])
        for cell in sorted(cents)
    ]
    # (rounded dist, cell) structs: array_min / sort_array order
    # lexicographically, giving the dist-then-lowest-cell tie-break.
    dist_arr = F.array(
        *[
            F.struct(
                F.round(_sqdist(F.col("ev"), c), 6).alias("d"),
                F.lit(cell).alias("c"),
            )
            for cell, c in cent_list
        ]
    )
    assigned = v.select(
        "vec_id", "ev", F.array_min(dist_arr).getField("c").alias("cell")
    )
    probes = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("ev").alias("qv"),
        F.explode(
            F.transform(
                F.slice(F.sort_array(dist_arr), 1, _IVF_CHK_PROBE),
                lambda p: p.getField("c"),
            )
        ).alias("cell"),
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("ev"), F.col("qv")), 6).alias("cosine_sim"),
        )
    )
    return salted_topk(
        cand, "query_id", [F.desc("cosine_sim"), F.asc("neighbor_id")], _TOPK
    ).select(
        "query_id",
        "neighbor_id",
        "cosine_sim",
        F.col("rank").cast("bigint").alias("rnk"),
    )


_PQ_CHK_SUB = 8  # dims per subspace (64-d -> m=8 subspaces)
_PQ_CHK_CODES = 16  # codebook entries per subspace (init: 16 lowest ids)
_PQ_CHK_ITERS = 2  # portable Lloyd refinements (mirrors the production fit)
_PQ_CHK_RERANK = 8  # ADC shortlist factor before the exact re-rank (production)


def _pq_checked_oracle() -> str:
    """DuckDB twin of the PQ fit->encode->ADC kernel, mirroring the
    production fit EXACTLY but portably: init codebook entries are the
    RAW subvectors of the 16 lowest-id vectors (data values, no
    arithmetic -- bit-identical across engines), followed by 2
    relational Lloyd iterations whose means round to 6 and whose argmin
    assignments use rounded distances with a lowest-code tie-break
    (empty cells keep their previous entry via the LEFT JOIN coalesce,
    the production rule). Sub-distances round to 6 before the encode
    argmin and before the ADC sum, absorbing float accumulation-order
    drift. Queries reuse the corpus sub-distance table (they are
    corpus members), so the LUT is the dist CTE filtered to query
    ids."""
    its = []
    prev = "cb0"
    for t in range(1, _PQ_CHK_ITERS + 1):
        its.append(f""",
    dist{t} AS MATERIALIZED (
        SELECT f.vec_id, f.s, b.code,
               round(sum((f.x - b.c) * (f.x - b.c)), 6) AS dist
        FROM flat f JOIN {prev} b ON b.s = f.s AND b.subpos = f.subpos
        GROUP BY 1, 2, 3
    ),
    code{t} AS (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dist, code) AS rn
            FROM dist{t}
        ) WHERE rn = 1
    ),
    cb{t} AS MATERIALIZED (
        SELECT b.s, b.code, b.subpos, coalesce(m.m, b.c) AS c
        FROM {prev} b
        LEFT JOIN (
            SELECT f.s, c0.code, f.subpos, round(avg(f.x), 6) AS m
            FROM flat f JOIN code{t} c0
              ON c0.vec_id = f.vec_id AND c0.s = f.s
            GROUP BY 1, 2, 3
        ) m ON m.s = b.s AND m.code = b.code AND m.subpos = b.subpos
    )""")
        prev = f"cb{t}"
    return f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    vn AS (
        SELECT vec_id, ev,
               CASE WHEN n > 0
                    THEN list_transform(ev, x -> round(x / n, 6))
                    ELSE ev END AS evn
        FROM (SELECT vec_id, ev,
                     sqrt(list_dot_product(ev, ev)) AS n FROM v)
    ),
    flat AS (
        SELECT vec_id,
               (generate_subscripts(evn, 1) - 1) // {_PQ_CHK_SUB} AS s,
               (generate_subscripts(evn, 1) - 1) % {_PQ_CHK_SUB} AS subpos,
               unnest(evn) AS x
        FROM vn
    ),
    cb0 AS MATERIALIZED (
        SELECT s, vec_id AS code, subpos, x AS c
        FROM flat WHERE vec_id < {_PQ_CHK_CODES}
    ){''.join(its)},
    dist AS MATERIALIZED (
        SELECT f.vec_id, f.s, b.code,
               round(sum((f.x - b.c) * (f.x - b.c)), 6) AS dist
        FROM flat f JOIN {prev} b ON b.s = f.s AND b.subpos = f.subpos
        GROUP BY 1, 2, 3
    ),
    codes AS (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dist, code) AS rn
            FROM dist
        ) WHERE rn = 1
    ),
    adc AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(sum(q.dist), 6) AS approx_dist
        FROM codes c
        JOIN dist q ON q.s = c.s AND q.code = c.code
        WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
        GROUP BY 1, 2
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY approx_dist, neighbor_id) AS rn
            FROM adc
        ) WHERE rn <= {_TOPK * _PQ_CHK_RERANK}
    ),
    scored AS (
        SELECT sh.query_id, sh.neighbor_id,
               round(list_dot_product(e.ev, q.ev) /
                     (sqrt(list_dot_product(e.ev, e.ev)) *
                      sqrt(list_dot_product(q.ev, q.ev))), 6) AS cosine_sim
        FROM short sh
        JOIN v e ON e.vec_id = sh.neighbor_id
        JOIN v q ON q.vec_id = sh.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS BIGINT) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {_TOPK}
    """


@query("ann_pq_checked", oracle=_pq_checked_oracle())
def q_ann_pq_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CHECKED product-quantization ANN — the cross-engine twin
    of the rows-only ann_pq_topk / pq_encode_stats production paths.
    As with ann_ivf_checked, the only engine-specific stage of PQ is
    the per-subspace k-means codebook fit; the twin runs the SAME fit
    portably — init entries are the raw subvectors of the 16 lowest-id
    vectors (data values, no arithmetic, so bit-identical across
    engines — production's ``C = S[:k]`` init), then 2 relational
    Lloyd iterations with means rounded to 6, argmin reassignment on
    rounded distances (lowest-code tie-break), and empty cells keeping
    their previous entry — and keeps the PQ kernel itself intact and
    hash-verified end-to-end: vectors L2-normalize (rounded to 6; the
    production rule — on the unit sphere ADC's L2 order is cosine
    order), split into m=8 subspaces of 8 dims, each subvector encodes
    to the argmin-sub-distance code (rounded, lowest-code tie-break),
    queries shortlist k·8 candidates by the asymmetric-distance sum of
    their per-(subspace, code) LUT entries, and the shortlist re-ranks
    by exact cosine — the full production pipeline.

    Scale shape: the codebook is m×codes×dim/m and broadcast (1024
    rows, localCheckpointed per Lloyd round to truncate lineage);
    encode is ONE broadcast join + partial aggregate over the
    exploded corpus (no corpus shuffle wider than (id, s, code));
    the ADC join broadcasts the bounded query LUT; top-k is the salted
    two-stage window. The production path (functions/similarity.
    pq_encode / ann_pq_topk) keeps the Arrow-vectorized numpy encode
    and the bounded-sample fit — this twin verifies the semantics on
    the full gate corpus (where sample == corpus, the fits coincide
    modulo 1e-6 rounding)."""
    from pandas_etl_spark.functions.similarity import salted_topk
    from pandas_etl_spark.sources.io import ensure_parallelism

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    # L2-normalize before quantizing (the production rule: on the unit
    # sphere ADC's L2 order is cosine order); normalized coordinates
    # round to 6 so both engines quantize bit-identical values.
    # r11 (§4.1 flat-scorer rule): the norm is the flat square-sum
    # CHAIN over per-row element columns, not an aggregate() fold — the
    # fold is CodegenFallback and de-compiled this projection, which
    # every downstream consumer of `flat` re-evaluated; the chain is
    # term-for-term the fold's IEEE order (leading 0.0 included) so the
    # normalized values are bit-identical. The normalization itself is
    # applied AFTER the posexplode, one ROUND per exploded row, with
    # the scalar norm carried through the Generate: exploding a
    # COMPUTED 64-slot array is a measured catastrophe under
    # whole-stage codegen (the fused Generate re-evaluates the array
    # expression per emitted element — 0.5 s of work became minutes;
    # the old fold form was accidentally shielded by its interpreted
    # fallback). Fixed dim=64 is this dataset's contract (the dim the
    # PQ split hard-codes anyway): a ragged row would get a NULL norm
    # and be quantized unnormalized, so it raises instead.
    from pandas_etl_spark.functions.similarity import (
        _flat_cols,
        _flat_dot_sql,
        _flat_norm_sql,
    )

    _d = _PQ_CHK_SUB * 8
    emb = emb.withColumn(
        "embedding",
        F.when(F.size("embedding") == _d, F.col("embedding")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"ann_pq_checked: embedding length is not {_d}, vec_id "),
                    F.col("vec_id").cast("string"),
                )
            )
        ),
    )
    _e = emb.selectExpr(
        "vec_id", "embedding", *_flat_cols("embedding", _d, "__e")
    )
    nn = _e.selectExpr(
        "vec_id", "embedding", f"{_flat_norm_sql(_d, '__e')} AS __nn"
    )
    flat = nn.select(
        "vec_id", "__nn", F.posexplode("embedding").alias("pos", "xf")
    ).selectExpr(
        "vec_id",
        f"cast(pos / {_PQ_CHK_SUB} as int) AS s",
        f"pmod(pos, {_PQ_CHK_SUB}) AS subpos",
        "CASE WHEN __nn > 0 THEN ROUND(CAST(xf AS DOUBLE) / __nn, 6)"
        " ELSE CAST(xf AS DOUBLE) END AS x",
    )
    cb = flat.filter(F.col("vec_id") < _PQ_CHK_CODES).select(
        "s", F.col("vec_id").alias("code"), "subpos", F.col("x").alias("c")
    )
    # portable Lloyd: reassign every subvector to its nearest entry
    # (rounded distances, lowest-code tie-break), recompute rounded
    # means, keep the previous entry for cells that emptied — both
    # engines run the identical relational step, so the refined
    # codebook stays bit-identical.
    for _ in range(_PQ_CHK_ITERS):
        dist_t = (
            flat.join(F.broadcast(cb), ["s", "subpos"])
            .groupBy("vec_id", "s", "code")
            .agg(
                F.round(
                    F.sum(
                        (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
                    ),
                    6,
                ).alias("dist")
            )
        )
        code_t = dist_t.groupBy("vec_id", "s").agg(
            F.min(F.struct("dist", "code")).getField("code").alias("code")
        )
        mean_t = (
            flat.join(code_t, ["vec_id", "s"])
            .groupBy("s", "code", "subpos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
        )
        cb = (
            cb.join(mean_t, ["s", "code", "subpos"], "left")
            .select(
                "s", "code", "subpos", F.coalesce("m", "c").alias("c")
            )
            .localCheckpoint()  # codebook-sized (m·codes·sub = 1024 rows)
        )
    dist = (
        flat.join(F.broadcast(cb), ["s", "subpos"])
        .groupBy("vec_id", "s", "code")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))), 6
            ).alias("dist")
        )
    )
    codes = dist.groupBy("vec_id", "s").agg(
        F.min(F.struct("dist", "code")).getField("code").alias("code")
    )
    qlut = dist.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "s", "code",
        F.col("dist").alias("qdist"),
    )
    adc = (
        codes.join(F.broadcast(qlut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("qdist"), 6).alias("approx_dist"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "approx_dist"
        )
    )
    short = salted_topk(
        adc,
        "query_id",
        [F.asc("approx_dist"), F.asc("neighbor_id")],
        _TOPK * _PQ_CHK_RERANK,
    ).select("query_id", "neighbor_id")
    # exact cosine re-rank of the bounded shortlist (production rule);
    # the shortlist (Q·k·rerank rows) broadcasts against the corpus.
    # r11: flat dim=64 scoring (the §3/r10 rule — aggregate()/zip_with
    # folds are CodegenFallback and de-compile the projection); the
    # chains replay the folds' IEEE order, so cosine_sim is
    # bit-identical (hash-verified).
    vflat = emb.selectExpr(
        "vec_id", *_flat_cols("embedding", _d, "__c")
    ).selectExpr("*", f"{_flat_norm_sql(_d, '__c')} AS __na")
    qflat = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .selectExpr("vec_id AS query_id", *_flat_cols("embedding", _d, "__q"))
        .selectExpr("*", f"{_flat_norm_sql(_d, '__q')} AS __nq")
    )
    scored = (
        vflat.join(
            F.broadcast(short), vflat["vec_id"] == short["neighbor_id"]
        )
        .join(F.broadcast(qflat), "query_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"ROUND(({_flat_dot_sql(_d)}) / (__na * __nq), 6) AS cosine_sim",
        )
    )
    return salted_topk(
        scored, "query_id", [F.desc("cosine_sim"), F.asc("neighbor_id")], _TOPK
    ).select(
        "query_id",
        "neighbor_id",
        "cosine_sim",
        F.col("rank").cast("bigint").alias("rnk"),
    )


def _recall_checked_oracle() -> str:
    """Composed oracle: the checked sign-LSH and brute-force kernels
    (each independently hash-verified) nest as subqueries and the
    recall@k join/aggregate runs on their outputs — integer counts and
    a /k ratio rounded to 6, so the audit itself is cross-engine
    deterministic."""
    return f"""
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_matched,
           round(CAST(count(l.neighbor_id) AS DOUBLE) / {_TOPK}, 6)
               AS recall_at_k
    FROM ({_DD_EXACT_TOPK}) e
    LEFT JOIN ({_lsh_checked_oracle()}) l
      ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


_DD_EXACT_TOPK = f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    sims AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, {_DD_COS} AS cosine_sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM sims
    ) WHERE rn <= {_TOPK}
"""


@query("ann_recall_checked", oracle=_recall_checked_oracle())
def q_ann_recall_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CHECKED recall audit — the cross-engine twin of the
    rows-only ann_recall_audit: because the checked sign-LSH path and
    the brute-force baseline are BOTH independently hash-verified
    (ann_lsh_checked / ann_cosine_topk), their composition — per-query
    recall@k of the approximate index against exact truth — is itself
    SQL-expressible and hash-verified, demonstrating that audits of
    approximate structures compose from verified kernels. Integer hit
    counts; the only ratio rounds to 6.

    Plan: both legs keep their no-corpus-shuffle shapes; the audit
    adds one left join + aggregate over k·|queries| rows."""
    from pandas_etl_spark.functions.similarity import (
        cosine,
        cosine_topk,
        salted_topk,
        signlsh_bucket,
    )
    from pandas_etl_spark.sources.io import ensure_parallelism

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = cosine_topk(emb, queries, k=_TOPK, dim=64).select(
        "query_id", "neighbor_id"
    )
    b = emb.select(
        "vec_id",
        "embedding",
        signlsh_bucket("embedding", 64, _LSH_CHECKED_BITS, seed=42).alias(
            "bucket"
        ),
    )
    qb = b.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "bucket",
    )
    cand = (
        b.join(F.broadcast(qb), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    lsh = salted_topk(
        cand, "query_id", [F.desc("cosine_sim"), F.asc("neighbor_id")], _TOPK
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        exact.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.count("hit").cast("bigint").alias("n_matched"),
            F.round(
                F.count("hit").cast("double") / F.lit(float(_TOPK)), 6
            ).alias("recall_at_k"),
        )
    )
