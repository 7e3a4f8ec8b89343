"""Order-insensitive table fingerprints — the data-release integrity
primitive: a producer publishes (n_rows, xor_hash, min/max key) beside
an exported dataset and any consumer on any engine re-derives the same
fingerprint to verify the copy (the role checksums/manifests play in
DVC/LakeFS-style data versioning — public patterns).

Design constraints that pick the aggregate:
- ORDER-INSENSITIVE: partitioning and scan order must not matter, so
  the combiner must be commutative+associative (XOR here).
- OVERFLOW-FREE at any row count: XOR never carries, unlike a sum that
  wraps differently across engines.
- ENGINE-PORTABLE: row hash is the md5 of a canonical field encoding
  (unit-separator-joined strings), the same convention as the
  operators/sampling bucket — DuckDB reproduces it bit-for-bit.

Caveat (documented, inherent to XOR): a row appearing an EVEN number
of times cancels out of xor_hash; n_rows still changes, so the pair
(n_rows, xor_hash) detects any single-row corruption and all
practical drift, which is the manifest's job. Columns with
engine-specific string forms (floats, timestamps) must be cast/
rounded by the caller first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandas_etl_spark.sources.io import read_parquet


def row_hash(cols: list[str]) -> Column:
    """60-bit md5-prefix hash of the canonical row encoding
    (unit-separator-joined string casts; nulls encode as empty —
    callers needing null/empty distinction coalesce first)."""
    joined = ", ".join(f"cast({c} as string)" for c in cols)
    return F.expr(
        "cast(conv(substring(md5(concat_ws('\\u001F', "
        + joined
        + ")), 1, 15), 16, 10) as bigint)"
    )


def table_checksum(
    df: DataFrame, cols: list[str], key_col: str | None = None
) -> DataFrame:
    """1-row fingerprint of ``cols``: (n_rows, xor_hash, and — when
    ``key_col`` is given — key_min/key_max). Pure map-side combine:
    one pass, the shuffle carries one partial row per task."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(__row_h)").alias("xor_hash"),
    ]
    if key_col is not None:
        aggs += [F.min(key_col).alias("key_min"), F.max(key_col).alias("key_max")]
    return df.withColumn("__row_h", row_hash(cols)).agg(*aggs)


_PORTABLE_TYPES = ("bigint", "int", "smallint", "tinyint", "string", "boolean", "date")


def to_parquet_with_manifest(
    df: DataFrame,
    path: str,
    cols: list[str] | None = None,
    key_col: str | None = None,
    mode: str = "overwrite",
) -> dict:
    """Parquet write + embedded integrity manifest: after writing, the
    data is RE-READ from disk and fingerprinted (the manifest covers
    what actually landed, not the plan), and the manifest JSON lands at
    ``<path>/_manifest/`` — an underscore-prefixed subdir, which
    Hadoop-convention readers skip, so ``spark.read.parquet(path)``
    still works untouched. FS-agnostic: the manifest is written through
    Spark, so the same code works on HDFS/S3, not just local disk.

    ``cols`` defaults to every column with an engine-portable string
    form (ints/strings/bools/dates — floats and timestamps format
    differently across engines and must be opted in pre-cast)."""
    import json

    df.write.mode(mode).parquet(path)
    spark = df.sparkSession
    written = read_parquet(spark, path)
    if cols is None:
        cols = [c for c, t in written.dtypes if t in _PORTABLE_TYPES]
        if not cols:
            raise ValueError("no portable columns to fingerprint; pass cols=")
    cols = sorted(cols)  # canonical order — encoding is order-sensitive
    row = table_checksum(written, cols, key_col).first()
    manifest = {
        "columns": cols,
        "key_col": key_col,
        "n_rows": row["n_rows"],
        "xor_hash": row["xor_hash"],
    }
    if key_col is not None:
        manifest["key_min"] = row["key_min"]
        manifest["key_max"] = row["key_max"]
    (
        spark.createDataFrame([(json.dumps(manifest, sort_keys=True),)], "v string")
        .coalesce(1)
        .write.mode("overwrite")
        .text(f"{path}/_manifest")
    )
    return manifest


def verify_manifest(spark, path: str) -> dict:
    """Re-derive the fingerprint of ``path`` and compare against its
    embedded manifest. Returns the manifest dict plus ``ok`` and, on
    mismatch, the recomputed values under ``actual_*``."""
    import json

    manifest = json.loads(spark.read.text(f"{path}/_manifest").first()["value"])
    data = read_parquet(spark, path)
    row = table_checksum(data, manifest["columns"], manifest.get("key_col")).first()
    ok = row["n_rows"] == manifest["n_rows"] and row["xor_hash"] == manifest["xor_hash"]
    out = dict(manifest)
    out["ok"] = ok
    if not ok:
        out["actual_n_rows"] = row["n_rows"]
        out["actual_xor_hash"] = row["xor_hash"]
    return out


def manifest_ingest_sink(path: str, cols: list[str], key_col: str | None = None):
    """``foreachBatch`` sink: append each micro-batch as parquet and
    incrementally update the embedded manifest by XOR-MERGING the
    batch fingerprint — the mergeability XOR buys: per-batch cost is
    O(batch), never a full-table rescan, yet the manifest always equals
    what a cold ``table_checksum`` of the whole table would produce.

    Replay-safe: the manifest records ``last_batch_id`` and a replayed
    epoch is skipped (an XOR double-apply would cancel the batch out).
    The data-append and manifest-write pair is NOT atomic — a crash
    between them leaves a manifest behind the data, which is exactly
    the drift ``verify_manifest`` exists to flag; re-running
    ``to_parquet_with_manifest``-style full fingerprinting repairs it.
    """
    import json

    cs = sorted(cols)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            manifest = json.loads(
                spark.read.text(f"{path}/_manifest").first()["value"]
            )
        except Exception:
            manifest = {
                "columns": cs,
                "key_col": key_col,
                "n_rows": 0,
                "xor_hash": 0,
                "last_batch_id": -1,
            }
        if batch_id <= manifest["last_batch_id"]:
            return  # replayed epoch: already applied
        row = table_checksum(batch_df, cs, key_col).first()
        if row["n_rows"] > 0:
            batch_df.write.mode("append").parquet(path)
            manifest["n_rows"] += row["n_rows"]
            manifest["xor_hash"] ^= row["xor_hash"]
            if key_col is not None:
                lo, hi = manifest.get("key_min"), manifest.get("key_max")
                manifest["key_min"] = (
                    row["key_min"] if lo is None else min(lo, row["key_min"])
                )
                manifest["key_max"] = (
                    row["key_max"] if hi is None else max(hi, row["key_max"])
                )
        manifest["last_batch_id"] = batch_id
        (
            spark.createDataFrame(
                [(json.dumps(manifest, sort_keys=True),)], "v string"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .text(f"{path}/_manifest")
        )

    return _sink
