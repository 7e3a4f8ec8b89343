"""Ingestion robustness: malformed records and schema evolution — the
failure modes a 100 TB pipeline hits on real data lakes."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

# the checkout under test: subprocesses run from here, so they import
# this tree's package and not another copy's
ROOT = Path(__file__).resolve().parents[1]


def test_corrupt_json_records_quarantined(spark, tmp_path):
    """PERMISSIVE JSON scan: bad lines land in _corrupt_record instead of
    failing the job; good rows parse normally."""
    p = tmp_path / "mixed.json"
    p.write_text(
        '{"id": 1, "v": 10.0}\n'
        "{this is not json}\n"
        '{"id": 2, "v": 20.0}\n'
    )
    from pandas_etl_spark.sources.io import read_json

    df = read_json(
        spark,
        str(p),
        schema="id long, v double, _corrupt_record string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()  # required: corrupt-record queries need the raw line retained
    try:
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert {r.id for r in good.collect()} == {1, 2}
        assert bad.count() == 1
    finally:
        df.unpersist()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """mergeSchema read over files written with evolving schemas: old
    files surface the new column as null."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(p)
    from pandas_etl_spark.sources.io import read_parquet

    df = read_parquet(spark, p, mergeSchema="true")
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_csv_malformed_rows_permissive(spark, tmp_path):
    """CSV with a short row: PERMISSIVE fills missing fields with null
    rather than failing."""
    p = tmp_path / "short.csv"
    p.write_text("id,a,b\n1,x,y\n2,only_one_field\n3,p,q\n")
    from pandas_etl_spark.sources.io import read_csv

    df = read_csv(spark, str(p), schema="id long, a string, b string")
    rows = {r.id: (r.a, r.b) for r in df.collect()}
    assert rows[1] == ("x", "y")
    assert rows[2] == ("only_one_field", None)
    assert rows[3] == ("p", "q")


def test_cli_end_to_end(tmp_path):
    """F17 for real: ``python -m pandas_etl_spark --file`` in a fresh
    process runs a pipeline with --var overrides and writes the sink."""
    import subprocess
    import sys

    out_csv = tmp_path / "out.csv"
    yaml_file = tmp_path / "run.yaml"
    yaml_file.write_text(
        f"""
variables:
  outPath: WILL_BE_OVERRIDDEN
steps:
- pd.read_csv:
    filepath_or_buffer: ./tests/data/test.csv
- name: grouped
  function: ${{ steps['pd.read_csv'].output.groupby }}
  args:
    by: AB
- name: reduced
  function: ${{ steps['grouped'].output.max }}
- name: sink
  function: ${{ steps['reduced'].output.to_csv }}
  args:
    path_or_buf: ${{ var.outPath }}
"""
    )
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "pandas_etl_spark",
            "--file",
            str(yaml_file),
            "--var",
            f"outPath={out_csv}",
            "--conf",
            "spark.sql.shuffle.partitions=4",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    import glob

    part = glob.glob(str(out_csv) + "/*.csv")
    assert part, "CSV sink directory missing part file"
    content = open(part[0]).read()
    assert content.startswith("AB,") and len(content.splitlines()) > 1


def test_vanilla_session_runs_sessionize():
    """VERDICT r3 #3: the driver builds its own SparkSession (no session
    factory, no confs) — events.ts must still load as a usable TIMESTAMP
    and ``sessionize`` must execute. On Spark 4.1+ the parquet
    TIMESTAMP(NANOS) column arrives as TIMESTAMP_NTZ (nanosAsLong is
    accepted-but-ineffective), which ``normalize_nanos_ts`` must coerce.
    Runs in a fresh process so the pytest session's confs can't mask a
    vanilla-session failure."""
    import subprocess
    import sys

    code = """
import sys
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
from pandas_etl_spark.catalog import QUERIES
from pandas_etl_spark.sources import load_table
ev = load_table(spark, "/root/testdata/sf0.001", "events")
assert dict(ev.dtypes)["ts"] == "timestamp", dict(ev.dtypes)
df = QUERIES["sessionize"](spark, "/root/testdata/sf0.001")
n = df.count()
assert n > 0, n
print("OK", n)
"""
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "OK" in proc.stdout


def test_every_catalog_query_survives_empty_tables(spark, tmp_path):
    """Empty-partition robustness sweep: all registered queries must
    build and execute over EMPTY copies of every table (a daily reality
    at scale — an empty ingestion day or filtered-out partition must not
    crash the pipeline). Catches untyped empty-array literals,
    divide-by-zero on empty reductions, and empty-collect guards."""
    from pandas_etl_spark.catalog import QUERIES

    src = "/root/testdata/sf0.001"
    tables = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    for t in tables:
        (
            spark.read.parquet(f"{src}/{t}.parquet")
            .limit(0)
            .write.mode("overwrite")
            .parquet(str(tmp_path / f"{t}.parquet"))
        )
    failures = []
    for name, fn in QUERIES.items():
        try:
            assert fn(spark, str(tmp_path)).count() >= 0
        except Exception as e:  # noqa: BLE001 - collecting the sweep
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:150]}")
    assert not failures, "\n".join(failures)


def test_ts_seconds_robust_on_raw_ntz_frame(spark):
    """Gap-based sessionization math must work on a frame that did NOT
    pass through load_table's nanos/NTZ normalization (VERDICT r4 #6).
    CAST(ntz AS DOUBLE) raises DATATYPE_MISMATCH; ts_seconds casts
    through TIMESTAMP and must produce identical fractional seconds for
    NTZ and normalized TIMESTAMP inputs under the UTC session."""
    from pyspark.sql import functions as F

    from pandas_etl_spark.functions.timeparse import ts_seconds

    ntz = spark.sql(
        "SELECT TIMESTAMP_NTZ'2024-03-01 12:00:01.25' AS ts"
        " UNION ALL SELECT TIMESTAMP_NTZ'2024-03-01 12:00:02.75'"
    )
    tz = spark.sql(
        "SELECT TIMESTAMP'2024-03-01 12:00:01.25' AS ts"
        " UNION ALL SELECT TIMESTAMP'2024-03-01 12:00:02.75'"
    )
    got_ntz = sorted(r[0] for r in ntz.select(ts_seconds("ts")).collect())
    got_tz = sorted(r[0] for r in tz.select(ts_seconds("ts")).collect())
    assert got_ntz == got_tz
    assert got_ntz[1] - got_ntz[0] == 1.5  # sub-second precision kept


def test_conf_set_failure_is_logged(caplog):
    """ensure_session_confs must not die on a frozen session, but it must
    leave a trace naming the conf it could not set (VERDICT r4 #5)."""
    import logging

    from pandas_etl_spark.catalog.registry import ensure_session_confs

    class _FrozenConf:
        def get(self, k, d=None):
            return None

        def set(self, k, v):
            raise RuntimeError("conf is frozen")

    class _FrozenSession:
        conf = _FrozenConf()

    with caplog.at_level(logging.WARNING, logger="pandas_etl_spark.catalog.registry"):
        ensure_session_confs(_FrozenSession())
    assert any(
        "spark.sql.session.timeZone" in r.getMessage() for r in caplog.records
    )


def test_documents_text_is_ascii(spark):
    """The multimodal_audio_stub oracle equates DuckDB char-length /
    ord(substr) with the Spark side's UTF-8 BYTE length/values — valid
    only while documents.text is pure ASCII. Pin that fixture property
    at both local SFs so a non-ASCII fixture refresh breaks loudly here
    instead of silently skewing the oracle (ADVICE r4)."""
    from pyspark.sql import functions as F

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        non_ascii = d.filter(
            F.octet_length(F.col("text")) != F.length(F.col("text"))
        ).count()
        assert non_ascii == 0, f"{sf}: {non_ascii} non-ASCII documents"


def test_doc_counts_match_registry():
    """Registry counts in the docs are generated (scripts/gen_counts.py)
    — this pins them to the live registry so drifted prose fails the
    suite instead of eroding the evidence files (VERDICT r4 #9)."""
    import re

    from pandas_etl_spark.catalog import ORACLES, QUERIES

    readme = open(ROOT / "README.md").read()
    marked = [l for l in readme.splitlines() if "<!-- counts:auto -->" in l]
    assert marked, "README lost its counts:auto marker"
    for line in marked:
        m = re.search(r"\((\d+) queries, (\d+) oracle-checked\)", line)
        assert m, line
        assert int(m.group(1)) == len(QUERIES), line
        assert int(m.group(2)) == len(ORACLES), line


def test_cli_explain_dry_run(tmp_path):
    """``--explain`` audits every sink's plan without writing anything —
    the pre-flight a user runs before pointing a pipeline at 100 TB."""
    import subprocess
    import sys

    out_csv = tmp_path / "out.csv"
    yaml_file = tmp_path / "run.yaml"
    yaml_file.write_text(
        f"""
steps:
- pd.read_csv:
    filepath_or_buffer: ./tests/data/test.csv
- name: grouped
  function: ${{ steps['pd.read_csv'].output.groupby }}
  args:
    by: AB
- name: reduced
  function: ${{ steps['grouped'].output.max }}
- name: sink
  function: ${{ steps['reduced'].output.to_csv }}
  args:
    path_or_buf: {out_csv}
"""
    )
    proc = subprocess.run(
        [sys.executable, "-m", "pandas_etl_spark", "--file", str(yaml_file),
         "--explain", "--conf", "spark.sql.shuffle.partitions=4"],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "EXPLAIN sink csv" in proc.stdout
    assert "exchanges=" in proc.stdout
    assert not out_csv.exists()  # nothing written


def test_cli_explain_dry_run_concurrent_wave(tmp_path):
    """Review r5b #1: two INDEPENDENT sink branches land in one
    wavefront wave and run on ThreadPoolExecutor workers — the
    EXPLAIN_ONLY contextvar must propagate into those threads or the
    dry run silently writes real output."""
    import subprocess
    import sys

    out_a = tmp_path / "a_parquet"
    out_b = tmp_path / "b_parquet"
    yaml_file = tmp_path / "run.yaml"
    yaml_file.write_text(
        f"""
steps:
- name: load_a
  function: pd.read_csv
  args:
    filepath_or_buffer: ./tests/data/test.csv
- name: load_b
  function: pd.read_csv
  args:
    filepath_or_buffer: ./tests/data/test.csv
- name: sink_a
  function: ${{ steps['load_a'].output.to_parquet }}
  args:
    path: {out_a}
- name: sink_b
  function: ${{ steps['load_b'].output.to_parquet }}
  args:
    path: {out_b}
"""
    )
    proc = subprocess.run(
        [sys.executable, "-m", "pandas_etl_spark", "--file", str(yaml_file),
         "--explain", "--conf", "spark.sql.shuffle.partitions=4"],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.count("EXPLAIN sink parquet") == 2
    assert not out_a.exists() and not out_b.exists()
