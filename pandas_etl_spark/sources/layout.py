"""Physical-layout optimization: multi-column Z-order writes and
small-file compaction (lakehouse OPTIMIZE, expressed on open Spark APIs).

``to_parquet_sorted`` (io.py) clusters ONE sort dimension; queries
filtering a second column still touch every file. Z-ordering interleaves
the bits of per-column equi-depth bucket ranks into a single Morton code
so a contiguous code range maps to a compact hyper-rectangle in value
space — every z-sorted output file then covers a NARROW range of EACH
clustered column, and parquet min/max stats skip files/row groups for
predicates on ANY of them. At 100 TB this is the difference between a
two-dimensional point lookup scanning ~sqrt(files) files vs all of them.

The technique is public lakehouse practice (Delta Lake OPTIMIZE ZORDER
BY, Iceberg sort orders); this implementation is independent and uses
only DataFrame ops:
- equi-depth bucket boundaries from ``approxQuantile`` (distributed
  Greenwald-Khanna sketch; the driver holds ≤2^bits boundary scalars,
  bounded regardless of table size);
- bucket assignment + bit interleave as pure Catalyst expressions
  (array fold + shift/mask) — no Python on the row path;
- ``repartitionByRange`` on the z-code for balanced, nearly-disjoint
  output files.
"""

from __future__ import annotations

import math
import os
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandas_etl_spark.sources.io import read_parquet

_RANGEABLE = (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType)


def _bucket_rank(df: DataFrame, col: str, bits: int) -> Column:
    """Equi-depth bucket id in [0, 2^bits) for one column.

    Numeric/temporal columns: rank against ``approxQuantile`` boundaries
    via a JVM-side array fold (``acc + (v > boundary)``); duplicate
    boundaries from low-cardinality columns simply skip bucket ids.
    NULLs take bucket 0 (cluster together at the low end of the curve).
    Other types (strings, binaries) have no meaningful range locality
    for min/max skipping, so they hash-bucket: equal values still
    co-locate, enabling dictionary/bloom skipping, not range skipping.
    """
    n_buckets = 1 << bits
    if not isinstance(df.schema[col].dataType, _RANGEABLE):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("long")
    if isinstance(df.schema[col].dataType, T.NumericType):
        v = F.col(col).cast("double")
    else:
        # date/timestamp(_ntz) → epoch seconds; NTZ rejects a direct
        # numeric cast (Spark 4.1), so hop through TIMESTAMP first
        v = F.col(col).cast("timestamp").cast("double")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.select(v.alias("v")).approxQuantile("v", probs, 0.001)
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.when(v > b, 1).otherwise(0),
    )


def zorder_code(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Morton code interleaving ``bits`` bucket-rank bits per column,
    column j contributing bit i to output position ``i*len(cols)+j`` —
    a single generated expression of shift/mask terms (k*bits terms,
    e.g. 16 for two columns at 8 bits), fully inside codegen."""
    k = len(cols)
    ranks = [_bucket_rank(df, c, bits) for c in cols]
    code = F.lit(0).cast("long")
    for j, r in enumerate(ranks):
        for i in range(bits):
            bit = F.shiftright(r, i).bitwiseAND(F.lit(1))
            code = code + F.shiftleft(bit, i * k + j)
    return code


def to_parquet_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> str:
    """Write ``df`` as parquet clustered on the Z-order curve of
    ``cols``. One range shuffle on the z-code (boundary sampling +
    exchange), then a per-partition sort — the same cost shape as a
    single-column sorted write, amortized over every future multi-column
    range query against the table."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    z = zorder_code(df, cols, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
    return path


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
    sort_cols: list[str] | None = None,
) -> int:
    """Compact a directory of small parquet files into ~target-sized
    ones (the lakehouse OPTIMIZE bin-packing step: streaming ingest and
    fine-grained partitioning leave thousands of KB-scale files whose
    per-file open/footer/seek overhead dominates scans at scale).

    File count = ceil(total_bytes / target). Without ``sort_cols`` the
    rewrite uses ``coalesce`` — a shuffle-free narrow merge of input
    splits. With ``sort_cols`` it re-clusters via ``to_parquet_sorted``
    (one range shuffle) so compaction doubles as layout repair. Writes
    to ``out_path`` (a distinct directory): rewriting a table in place
    is only safe under a transactional commit protocol, which plain
    parquet directories don't have. Returns the target file count."""
    df = read_parquet(spark, path)
    total = 0
    for uri in df.inputFiles():
        from urllib.parse import unquote, urlparse

        p = urlparse(uri)
        if p.scheme in ("file", ""):
            total += os.path.getsize(unquote(p.path))
    n = max(1, math.ceil(total / target_file_bytes))
    if sort_cols:
        from pandas_etl_spark.sources.io import to_parquet_sorted

        to_parquet_sorted(df, out_path, sort_cols, n_files=n)
    else:
        df.coalesce(n).write.mode("overwrite").parquet(out_path)
    return n


def to_table_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> str:
    """Write ``df`` as a Hive-bucketed table: rows are hash-partitioned
    into ``num_buckets`` files per partition by ``bucket_cols``, with
    the bucket spec recorded in the catalog. The payoff is JOIN- and
    AGGREGATION-SHUFFLE ELIMINATION: two tables bucketed the same way
    on the join key sort-merge-join with NO Exchange on either side —
    at 100 TB that deletes the single most expensive stage of a
    fact-to-fact join (both full-table shuffles), and repeated
    aggregations on the bucket key skip their exchange too. Pay one
    clustered write, amortize over every co-located read.

    ``sort_cols`` additionally sorts within each bucket file (skips the
    per-task sort in later merge joins). Bucketing requires a catalog
    table (``saveAsTable``); with ``path`` the table is EXTERNAL at
    that location, else it lives in the session warehouse. The
    shuffle-free co-located join is asserted in
    tests/test_storage_layout.py."""
    writer = df.write.bucketBy(num_buckets, *bucket_cols)
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    if path is not None:
        writer = writer.option("path", path)
    writer.mode(mode).format("parquet").saveAsTable(table)
    return table


def to_parquet_auto(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 128 << 20,
    mode: str = "overwrite",
) -> int:
    """Write parquet with the file count derived from Catalyst's size
    estimate: ceil(estimated_bytes / target) output files (min 1).

    The spill-aware default the manual ``repartition(n)`` guess gets
    wrong in both directions: a 100 TB frame written with the parent's
    partitioning emits however many shuffle partitions the last
    exchange had (tiny files at high parallelism), while a driver-side
    count-then-decide costs an extra action. The optimizer's
    ``sizeInBytes`` estimate is free — NO job, no ``df.rdd`` (which
    under AQE materializes every intermediate stage, review r5b #3) —
    and coarse for complex plans, but file sizing only needs
    order-of-magnitude accuracy.

    ``coalesce`` merges down shuffle-free (the requested count is a
    CAP: fewer files result when the frame has fewer partitions), with
    one exception: tiny targets (< 8 files) use ``repartition`` because
    coalesce propagates its parallelism limit UPSTREAM — coalesce(1)
    would run the whole computation on one task (the classic trap;
    compact_parquet can coalesce freely because its upstream is a bare
    scan). Returns the requested file cap."""
    est = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    n_files = max(1, -(-est // target_file_bytes)) if est else 1
    shaped = df.repartition(n_files) if n_files < 8 else df.coalesce(n_files)
    shaped.write.mode(mode).parquet(path)
    return n_files
