"""Schema-evolution reads: union parquet snapshots written under
DRIFTING schemas into one frame with a reconciled widest-common type
per column.

A 100 TB lakehouse table is never one schema — it is years of daily
snapshots where columns were added, dropped, and widened (int→bigint,
float→double) as the producer evolved. Spark's ``mergeSchema=true``
handles added/removed columns but HARD-FAILS on any type change
("Failed to merge fields"), so the realistic drift case needs a
reconciliation pass. This module implements it on open DataFrame APIs:

- each snapshot stays its OWN parquet scan — predicate pushdown and
  column pruning apply per branch, and a column missing from an old
  snapshot costs nothing to "read" (it is a null literal, not a scan);
- the unified schema takes columns in first-seen order across
  snapshots (pass paths oldest→newest) and resolves same-name type
  conflicts through the standard SQL widening lattice
  (byte<short<int<long, float<double, integral+fractional→double,
  date+timestamp→timestamp) — the same least-common-type rule Spark's
  own ``TypeCoercion`` and DuckDB's ``union_by_name`` apply;
- the union itself is a plan-level concatenation (``unionByName``):
  NO shuffle, no driver materialization, arbitrarily many snapshots.

Non-widenable conflicts (string vs int, array vs scalar) are a data
contract violation; default is to raise with the column and both
types named, ``on_conflict="string"`` opts into lossless stringify.

Reference has no analogue (single-version pandas reads,
``/root/reference/pandas_etl/etl.py`` read_* passthroughs); this is a
beyond-reference scale component in SURVEY.md §2.9.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandas_etl_spark.sources.io import read_parquet

_INT_RANK = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 3, T.LongType: 4}
_FRAC_RANK = {T.FloatType: 1, T.DoubleType: 2}


def widen_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Widest common type of two column types, or None if the pair is
    not reconcilable. Symmetric; follows the SQL numeric lattice."""
    if a == b:
        return a
    ta, tb = type(a), type(b)
    if ta in _INT_RANK and tb in _INT_RANK:
        return a if _INT_RANK[ta] >= _INT_RANK[tb] else b
    if ta in _FRAC_RANK and tb in _FRAC_RANK:
        return a if _FRAC_RANK[ta] >= _FRAC_RANK[tb] else b
    if (ta in _INT_RANK and tb in _FRAC_RANK) or (
        ta in _FRAC_RANK and tb in _INT_RANK
    ):
        return T.DoubleType()
    if {ta, tb} == {T.DateType, T.TimestampType}:
        return T.TimestampType()
    if {ta, tb} == {T.TimestampNTZType, T.TimestampType}:
        return T.TimestampType()
    return None


def evolved_schema(
    schemas: list[T.StructType], on_conflict: str = "error"
) -> list[tuple[str, T.DataType]]:
    """Unified (name, type) list across snapshot schemas: first-seen
    column order, widest-common type per name."""
    out: dict[str, T.DataType] = {}
    for schema in schemas:
        for f in schema.fields:
            if f.name not in out:
                out[f.name] = f.dataType
                continue
            w = widen_type(out[f.name], f.dataType)
            if w is None:
                if on_conflict == "string":
                    w = T.StringType()
                else:
                    raise TypeError(
                        f"column {f.name!r} drifted between non-widenable "
                        f"types {out[f.name].simpleString()} and "
                        f"{f.dataType.simpleString()}; pass "
                        "on_conflict='string' to stringify"
                    )
            out[f.name] = w
    return list(out.items())


def read_parquet_evolved(
    spark: SparkSession,
    paths: list[str],
    on_conflict: str = "error",
    version_col: str | None = None,
) -> DataFrame:
    """Read drifted parquet snapshots as one frame under the unified
    schema. Pass ``paths`` oldest→newest (fixes column order);
    ``version_col`` optionally tags each row with its snapshot index
    (a literal per branch — free, and pushdown-friendly)."""
    if not paths:
        raise ValueError("read_parquet_evolved needs at least one path")
    frames = [read_parquet(spark, p) for p in paths]
    target = evolved_schema([df.schema for df in frames], on_conflict)
    aligned = []
    for i, df in enumerate(frames):
        have = {f.name for f in df.schema.fields}
        cols = [
            (F.col(n) if n in have else F.lit(None)).cast(t).alias(n)
            for n, t in target
        ]
        if version_col is not None:
            cols.append(F.lit(i).alias(version_col))
        aligned.append(df.select(*cols))
    return reduce(DataFrame.unionByName, aligned)
