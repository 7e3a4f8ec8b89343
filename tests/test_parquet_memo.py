"""The parquet schema memo in ``sources.io.read_parquet``: a hit reads
with the schema Spark inferred before and runs no Spark job, and any
change to the files, the read options or the inference confs infers
again."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import pytest

from pandas_etl_spark.sources import io
from pandas_etl_spark.sources.io import TPCH_TABLES, nanos_columns, normalize_nanos_ts

PACKAGE = Path(__file__).resolve().parent.parent / "pandas_etl_spark"


@pytest.fixture
def jobs(spark):
    """Spark jobs submitted so far; a schema inference is one job."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    return scheduler.numTotalJobs


def _plan(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", text)


def _rows(df) -> list:
    return sorted(map(repr, df.collect()))


def _assert_same_frame(got, want):
    assert got.schema.json() == want.schema.json()  # metadata included
    assert _plan(got) == _plan(want)
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize("name", TPCH_TABLES)
def test_hit_equals_inferred_read(spark, sf_dir, jobs, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    inferred = spark.read.parquet(path)
    io.read_parquet(spark, path, nanos_as_timestamp=True)
    before = jobs()
    raw_hit = io.read_parquet(spark, path)
    hit = io.load_table(spark, sf_dir, name)
    assert jobs() == before
    _assert_same_frame(raw_hit, inferred)
    _assert_same_frame(hit, normalize_nanos_ts(inferred, nanos_columns(path)))
    if name == "events":
        assert dict(hit.dtypes)["ts"] == "timestamp"


def test_hit_equals_inferred_read_partitioned(spark, tmp_path, jobs):
    from pyspark.sql import functions as F

    path = str(tmp_path / "corpus")
    for batch in (0, 1):
        (
            spark.range(batch * 10, batch * 10 + 10)
            .withColumn("text", F.concat(F.lit("doc "), F.col("id").cast("string")))
            .withColumn("__batch", F.lit(batch))
            .write.mode("overwrite")
            .partitionBy("__batch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )
    inferred = spark.read.parquet(path)
    io.read_parquet(spark, path)
    before = jobs()
    hit = io.read_parquet(spark, path)
    assert jobs() == before
    _assert_same_frame(hit, inferred)
    _assert_same_frame(
        hit.where(F.col("__batch") == 1), inferred.where(F.col("__batch") == 1)
    )


def test_overwrite_with_new_schema_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(path)
    assert io.read_parquet(spark, path).columns == ["id", "s"]
    io.read_parquet(spark, path)
    spark.createDataFrame([(2.5, True)], "x double, flag boolean").write.mode(
        "overwrite"
    ).parquet(path)
    df = io.read_parquet(spark, path)
    assert df.dtypes == [("x", "double"), ("flag", "boolean")]
    assert df.collect()[0]["x"] == 2.5


def test_added_file_is_a_miss(spark, tmp_path, jobs):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    io.read_parquet(spark, path)
    before = jobs()
    io.read_parquet(spark, path)
    assert jobs() == before  # hit
    spark.range(3, 5).write.mode("append").parquet(path)
    before = jobs()
    df = io.read_parquet(spark, path)
    assert jobs() > before  # the listing changed: inferred again
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]


def test_conf_or_option_change_is_a_miss(spark, sf_dir, jobs):
    path = os.path.join(sf_dir, "events.parquet")
    io.read_parquet(spark, path)
    before = jobs()
    io.read_parquet(spark, path)
    assert jobs() == before

    before = jobs()
    io.read_parquet(spark, path, mergeSchema="true")
    assert jobs() > before

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false" if old == "true" else "true")
    try:
        before = jobs()
        flipped = io.read_parquet(spark, path)
        assert jobs() > before
        assert flipped.schema.json() == spark.read.parquet(path).schema.json()
    finally:
        spark.conf.set(conf, old)
    before = jobs()
    io.read_parquet(spark, path)
    assert jobs() == before  # flipped back: the first key's entry still holds


def test_memo_is_capped_oldest_first(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(io, "_SCHEMAS", {})
    monkeypatch.setattr(io, "_MAX_SCHEMAS", 2)
    paths = [str(tmp_path / f"v{i}") for i in range(3)]
    for p in paths:
        spark.range(2).write.parquet(p)
        io.read_parquet(spark, p)
    assert [k[0] for k in io._SCHEMAS] == paths[1:]


def test_remote_path_is_never_statted(spark, monkeypatch):
    seen = []
    real_stat, real_scandir = os.stat, os.scandir

    def stat(p, *a, **kw):
        seen.append(str(p))
        return real_stat(p, *a, **kw)

    def scandir(p=".", *a, **kw):
        seen.append(str(p))
        return real_scandir(p, *a, **kw)

    monkeypatch.setattr(os, "stat", stat)
    monkeypatch.setattr(os, "scandir", scandir)
    # an unknown scheme fails inside Hadoop's FileSystem lookup, offline
    with pytest.raises(Exception):
        io.read_parquet(spark, "nofs://remote-bucket/remote-table.parquet")
    assert not [p for p in seen if "remote-" in p]
    assert not [k for k in io._SCHEMAS if "remote-" in k[0]]


def test_file_uri_uses_the_memo(spark, sf_dir, jobs):
    path = os.path.abspath(os.path.join(sf_dir, "nation.parquet"))
    io.read_parquet(spark, path)
    before = jobs()
    df = io.read_parquet(spark, f"file://{path}")
    assert jobs() == before
    assert df.count() > 0


def _reader_parquet_calls(tree: ast.AST) -> list[int]:
    """Lines of ``<x>.read[...].parquet(...)`` calls (batch reader chains;
    ``readStream`` and ``write`` chains are not matched)."""
    lines = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        recv = node.func.value
        while True:
            if isinstance(recv, ast.Call):
                recv = recv.func
            elif isinstance(recv, ast.Attribute):
                if recv.attr == "read":
                    lines.append(node.lineno)
                    break
                if recv.attr in ("write", "readStream", "writeStream"):
                    break
                recv = recv.value
            else:
                break
    return sorted(lines)


def test_parquet_reads_go_through_the_memo():
    """Outside ``catalog/``, every parquet scan goes through
    ``sources.io.read_parquet``, so none pays a schema-inference job for
    files it has already read."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel.startswith("catalog/") or rel == "sources/io.py":
            continue
        for line in _reader_parquet_calls(ast.parse(path.read_text())):
            offenders.append(f"{rel}:{line}")
    assert not offenders, offenders


def test_reader_call_detector():
    src = (
        "spark.read.parquet(p)\n"
        "s.read.option('a', 1).schema(x).parquet(p)\n"
        "df.write.mode('overwrite').parquet(p)\n"
        "spark.readStream.schema(x).parquet(p)\n"
    )
    assert _reader_parquet_calls(ast.parse(src)) == [1, 2]
