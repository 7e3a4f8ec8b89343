"""The Pipeline engine (F1–F17 assembled), Spark-first.

Lifecycle parity with the reference (etl.py:109-203; SURVEY §3): load →
merge CLI imports (prepend) → resolve imports → merge variable overrides
→ bind namespaces → exec preFlight → build connections → build step DAG →
run. Divergences (documented, SURVEY §7): per-pipeline namespace instead
of module ``globals()`` (F9), AST-restricted expressions instead of raw
eval (F5), propagated step errors (F13), parquet+csv checkpoints with an
error on unknown extensions (F15).

Execution model: steps composing DataFrames are lazy plan-building on the
driver; Catalyst fuses the whole step graph, so cross-step pushdown and
column pruning come free — the reference's per-step eager materialization
is exactly what we do NOT copy (SURVEY §4). Sinks/checkpoints are the
only actions; independent ones run concurrently per wavefront wave.

Checkpoints (``saveProgress``). Once a ``.parquet`` checkpoint commits,
the step's output becomes a scan of the checkpoint, read back the same
way a resumed run reads it (``read_checkpoint``). Downstream steps then
start from the saved rows instead of recomputing the step's lineage, so
a fresh run and a resumed run build the same downstream plans. A
``.csv`` checkpoint is written but the output keeps its lineage: a CSV
read-back would re-infer every column type. Under ``--explain`` nothing
is written and nothing is read back. A resumed run (``resumeFromSaved``,
the default) skips a step whose checkpoint holds a ``_SUCCESS`` marker.
"""

from __future__ import annotations

import logging
import os
from typing import Any

from pandas_etl_spark import pandas_ops
from pandas_etl_spark.pandas_ops import Table
from pandas_etl_spark.pipeline import yaml_loader
from pandas_etl_spark.pipeline.connections import _Connections
from pandas_etl_spark.pipeline.expressions import ExpressionResolver
from pandas_etl_spark.pipeline.steps import _Step, _Steps

logger = logging.getLogger(__name__)


class _Variables:
    """Attribute-access variable registry (``var.name``). The class name
    is part of the error-message contract:
    "'_Variables' object has no attribute 'x'" (test_etl.py:77-88)."""

    def __init__(self, vars: dict | None = None):
        self.__dict__.update(vars or {})

    def get_names(self):
        return self.__dict__.keys()


class Pipeline:
    """YAML-declared, Spark-executed ETL pipeline."""

    def __init__(
        self,
        yamlData: str | dict,
        includeImports: list | None = None,
        overrideVariables: dict | None = None,
        spark=None,
    ):
        data = yaml_loader.load_yaml_data(yamlData)
        if includeImports:
            data = yaml_loader.merge_yaml_dict(data, {"imports": list(includeImports)})
        data = yaml_loader.resolve_imports(data)
        if overrideVariables:
            data = yaml_loader.merge_yaml_dict(data, {"variables": dict(overrideVariables)})

        self.properties = data
        self._spark = spark

        # per-pipeline namespace (NOT module globals — F9 fix)
        self.namespace: dict[str, Any] = {"logging": logging, "os": os}
        self.resolver = ExpressionResolver(self.namespace)

        self.variables = _Variables(data.get("variables", {}))
        self.namespace["var"] = self.variables

        # preFlight UDFs/imports execute inside the pipeline namespace (F8)
        preflight = (data.get("preFlight") or {}).get("script", "")
        if preflight:
            exec(preflight, self.namespace)  # noqa: S102 — user-authored pipeline code

        self.connections = _Connections(data.get("connections", {}), self.resolver)
        self.namespace["conn"] = self.connections

        self.steps = _Steps(data.get("steps", []), engine=self)
        self.namespace["steps"] = self.steps

        # expose remaining top-level YAML keys in the namespace
        for key, value in data.items():
            if key not in ("variables", "connections", "steps", "preFlight", "imports"):
                self.namespace.setdefault(key, value)

    # -- Spark session ---------------------------------------------------------

    @property
    def spark(self):
        if self._spark is None:
            from pandas_etl_spark.session import get_spark

            self._spark = get_spark("pandas_etl_spark.pipeline")
        return self._spark

    # -- function dispatch (F14) ----------------------------------------------

    def _registry(self) -> dict[str, Any]:
        from pandas_etl_spark.sources import io as _io

        def read_csv(**kw):
            # pandas-parity kwarg alias (pd.read_csv filepath_or_buffer)
            if "filepath_or_buffer" in kw:
                kw["path"] = kw.pop("filepath_or_buffer")
            return Table(_io.read_csv(self.spark, **_conn_kw(kw)))

        def read_parquet(**kw):
            return Table(_io.read_parquet(self.spark, **kw))

        def read_orc(**kw):
            return Table(_io.read_orc(self.spark, **kw))

        def read_json(**kw):
            return Table(_io.read_json(self.spark, **kw))

        def read_sql(**kw):
            return Table(_io.read_sql(self.spark, **_conn_kw(kw)))

        def read_parquet_evolved(**kw):
            from pandas_etl_spark.sources.evolution import (
                read_parquet_evolved as _rpe,
            )

            return Table(_rpe(self.spark, **kw))

        def dataframe(data=None, columns=None, **kw):
            import pandas as pd

            pdf = pd.DataFrame(data=data, columns=columns, **kw)
            return Table(self.spark.createDataFrame(pdf))

        def sql(query: str, views: dict | None = None):
            # Spark-first escape hatch the reference cannot offer: run ANSI
            # SQL over step outputs. ``views`` binds step outputs (Table or
            # DataFrame) to temp-view names referenced by the query; the
            # result is a Table like any other step output, so downstream
            # steps/checkpoints compose unchanged.
            for name, t in (views or {}).items():
                df = t.df if isinstance(t, Table) else t
                df.createOrReplaceTempView(name)
            return Table(self.spark.sql(query))

        def _conn_kw(kw: dict) -> dict:
            con = kw.get("con")
            if con is not None and hasattr(con, "jdbc_options"):
                kw["con"] = con.jdbc_options()
            return kw

        reg: dict[str, Any] = {}
        for names, fn in [
            (("read_csv",), read_csv),
            (("read_parquet",), read_parquet),
            (("read_orc",), read_orc),
            (("read_json",), read_json),
            (("read_sql",), read_sql),
            (("read_parquet_evolved",), read_parquet_evolved),
            (("concat",), pandas_ops.concat),
            (("merge",), pandas_ops.merge),
            (("merge_ordered",), pandas_ops.merge_ordered),
            (("merge_asof",), pandas_ops.merge_asof),
            (("DataFrame",), dataframe),
            (("Grouper",), pandas_ops.TimeGrouper),
        ]:
            for n in names:
                for prefix in ("pd.", "pandas.", ""):
                    reg[prefix + n] = fn
        reg["sql"] = reg["spark.sql"] = sql
        return reg

    def _resolve_function(self, function: str | Any):
        if not isinstance(function, str):
            return function
        registry = self._registry()
        if function in registry:
            return registry[function]
        resolved = self.resolver.resolve(function)
        if isinstance(resolved, str):
            resolved = self.resolver.evaluate(resolved)
        return resolved

    # -- step execution (called by _Steps.run) --------------------------------

    def run_step(self, step: _Step) -> str:
        """Run one step; returns what its time covered, for the step log
        line."""
        handle = self._resolve_function(step.function)
        if not callable(handle):
            raise TypeError(
                f"Step '{step.name}': function {step.function!r} resolved to "
                f"non-callable {type(handle).__name__}"
            )
        logger.info("Starting pipeline steps['%s']", step.name)
        args = step.args if step.args is not None else {}
        args = self.resolver.resolve(args)
        if isinstance(args, dict):
            bad = [k for k in args if not isinstance(k, str)]
            if bad:
                # YAML 1.1 parses bare on/off/yes/no as booleans — the
                # raw "keywords must be strings" TypeError hides that
                raise ValueError(
                    f"Step '{step.name}': non-string argument name(s) {bad!r} — "
                    "YAML parses bare on/off/yes/no as booleans; quote the key "
                    '(e.g. "on": ts)'
                )
            step.output = handle(**args)
        elif isinstance(args, list):
            step.output = handle(*args)
        else:
            step.output = handle(args)
        covered = (
            "built its lazy plan"
            if isinstance(step.output, Table) or hasattr(step.output, "write")
            else "ran an action (sink write or other eager call)"
        )
        if step.saveProgress:
            path = self.resolver.resolve(step.saveProgress)
            if not self.write_checkpoint(step.output, path):
                covered += " (--explain: checkpoint not written)"
            elif path.lower().endswith(".parquet"):
                # the committed checkpoint becomes the output, so downstream
                # steps scan it instead of recomputing its lineage
                step.output = self.read_checkpoint(path)
                covered = "wrote its parquet checkpoint and read it back"
            else:
                covered = "wrote its csv checkpoint"
            logger.info("Saving output of steps['%s'] to: %s", step.name, path)
        logger.info("Finished pipeline steps['%s']", step.name)
        return covered

    # -- checkpoints (F15/F16) -------------------------------------------------

    def checkpoint_path(self, step: _Step) -> str | None:
        if not step.saveProgress:
            return None
        return self.resolver.resolve(step.saveProgress)

    @staticmethod
    def checkpoint_exists(path: str) -> bool:
        """A checkpoint counts only if its Spark job COMMITTED. Spark
        creates the output directory before writing and drops a _SUCCESS
        marker at job commit — a crash mid-write leaves the directory
        without the marker, and bare os.path.exists would silently resume
        from a partial/empty checkpoint (ADVICE r1, medium)."""
        if not path or not os.path.exists(path):
            return False
        if os.path.isdir(path):
            return os.path.exists(os.path.join(path, "_SUCCESS"))
        return True  # plain file (non-Spark-written): existence is commit

    def write_checkpoint(self, output: Any, path: str) -> bool:
        """Write ``output`` to ``path``; False when --explain skipped the
        write."""
        df = output.df if isinstance(output, Table) else output
        if not hasattr(df, "write"):
            raise ValueError(
                f"saveProgress set but step output is {type(output).__name__}, not a table"
            )
        from pandas_etl_spark.pandas_ops import _explain_sink

        if _explain_sink(df, "checkpoint", path):  # --explain dry run
            return False
        ext = path.rsplit(".", 1)[-1].lower()
        from pandas_etl_spark.sources import io as _io

        if ext == "csv":
            _io.to_csv(df, path, single_file=True)
        elif ext == "parquet":
            _io.to_parquet(df, path)
        else:
            raise ValueError(
                f"saveProgress supports .csv or .parquet, got: {path!r} "
                "(the reference silently ignored other extensions — we refuse)"
            )
        return True

    def read_checkpoint(self, path: str) -> Table:
        ext = path.rsplit(".", 1)[-1].lower()
        from pandas_etl_spark.sources import io as _io

        if ext == "csv":
            return Table(_io.read_csv(self.spark, path))
        if ext == "parquet":
            return Table(_io.read_parquet(self.spark, path))
        raise ValueError(f"Unsupported checkpoint extension: {path!r}")

    # -- run -------------------------------------------------------------------

    def run(self) -> None:
        self.steps.run()
