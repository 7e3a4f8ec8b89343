"""SparkSession factory.

Defaults are chosen for correctness-vs-oracle and 100 TB design posture:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — the single biggest "free" scale feature.
- ``spark.sql.session.timeZone=UTC`` — DuckDB timestamps are UTC-naive;
  pinning the session TZ makes timestamp comparison well-defined.
- ``spark.sql.shuffle.partitions`` sized to local cores for tests; on a
  real cluster AQE coalescing makes the initial number less critical.
- Arrow enabled — all Pandas-UDF paths are Arrow-batched.
- ``spark.sql.codegen.cache.maxEntries=2000`` — one pass of the
  headline queries plus the YAML pipeline compiles 190–290 distinct
  generated classes, more than Spark's default LRU of 100. A pass that
  cycles through its plans in the same order then evicts every class
  before its next use, so each rerun of the same plans (pipeline
  resume, warm bench passes) recompiled nearly all of them inside its
  tasks. 2000 covers that working set with headroom. It is a static
  conf: it only applies when ``get_spark`` creates the session.
- ``spark.sql.codegen.useIdInClassName=false`` — the cache is keyed by
  the generated source, and by default a whole-stage class name carries
  its codegen stage id. AQE can number the same pipeline differently
  from one run to the next, depending on which query stage finishes
  first, so the same code missed the cache under a new name. Without
  the id, stack traces name ``GeneratedIterator`` instead of
  ``GeneratedIteratorForCodegenStage<N>``.
- ``spark.driver.memory`` defaults to half the physical RAM, capped at
  48g (``$SPARK_GRAFT_DRIVER_MEM`` overrides it) — in local mode the
  driver JVM is the only JVM, and a fixed 48g got it OOM-killed on
  small hosts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the physical RAM in MiB, capped at 48g."""
    ram_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, ram_mib // 2)}m"


_DEFAULTS: dict[str, str] = {
    # pandas-parity permissive semantics (the reference never raises on
    # overflow/bad cast); also required for wraparound hash arithmetic in
    # the MinHash/SimHash operators.
    "spark.sql.ansi.enabled": "false",
    # driver-generated events.parquet stores TIMESTAMP(NANOS). On Spark
    # 4.0 this conf surfaces it as bigint nanos; on 4.1+ it is ACCEPTED
    # BUT IGNORED (native read as TIMESTAMP_NTZ). Kept for 4.0 compat —
    # sources.normalize_nanos_ts handles all three representations, and
    # a subprocess smoke test asserts the loaded dtype (never trust
    # conf-set success across Spark upgrades; VERDICT r3).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # local mode: one JVM; driver memory is the only knob that matters
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()
    ),
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # compiled-class reuse across reruns: see the module docstring
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_spark(
    app_name: str = "pandas_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no active session exists.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf["spark.default.parallelism"] = str(cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
