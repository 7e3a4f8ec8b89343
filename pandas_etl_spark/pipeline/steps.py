"""Step model, dependency DAG, and the execution scheduler (F10–F16).

Reference semantics re-implemented (etl.py:384-617) with the documented
fixes (SURVEY §7 "preserve vs fix"):
- ALL ``${steps[...].output}`` references become edges (the reference
  records only the last match per string — etl.py:488-491 latent bug);
- step exceptions PROPAGATE (the reference never ``.result()``s its
  futures — etl.py:608,615 — so failed steps pass silently);
- checkpoints support parquet AND csv; other extensions raise instead of
  silently doing nothing (etl.py:562).

Spark-first execution model: a step's "run" usually just composes a lazy
DataFrame (cheap, driver-side). Real work happens at sinks/checkpoints —
those are actions and run concurrently per wavefront wave, which is the
only part of the reference's thread-pool scheduler worth keeping.
"""

from __future__ import annotations

import concurrent.futures
import logging
import os
import re
from typing import Any

logger = logging.getLogger(__name__)

# same reference language: ${ ... steps[<name>].output(.method)? ... }
_STEP_REF_RE = re.compile(r"\$\{(.*?)steps\[(.*?)\]\.output(\.)?(\w*?)([^}]*)\}")


class _Step:
    """One named step: function + args (+ checkpoint settings).

    Short-hand ``{fn: args}`` expands to name=fn, function=fn, args=args
    (etl.py:515-522); defaults args={}, resumeFromSaved=True,
    saveProgress="" (etl.py:524-535).
    """

    def __init__(self, step_definition: dict):
        if not isinstance(step_definition, dict):
            raise ValueError("Expected step to be like a dictionary of keys:value pairs")
        if len(step_definition.keys()) == 1:
            step_name = next(iter(step_definition))
            step_definition = {
                "name": step_name,
                "function": step_name,
                "args": step_definition.get(step_name, {}),
            }
        # defaults merge through the YAML merge rules — this is where the
        # reference raises its type-mismatch error for malformed short-hand
        # steps (etl.py:524-535 + 244-252); replicated for message parity.
        # Divergence (fix): positional/scalar args (`args: [x]`, README.md
        # long-hand `to_csv` example) are allowed — the reference's dispatcher
        # handles them (etl.py:552-557) but its defaults merge rejects them,
        # so its own README example cannot run. String args still raise the
        # reference's exact error (pinned by its test_mismatch_type).
        from pandas_etl_spark.pipeline.yaml_loader import merge_yaml_dict

        step_definition = dict(step_definition)
        args_override = None
        if "args" in step_definition and not isinstance(step_definition["args"], (dict, str)):
            args_override = step_definition.pop("args")
        merged = merge_yaml_dict(
            {"args": {}, "resumeFromSaved": True, "saveProgress": ""}, step_definition
        )
        if args_override is not None:
            merged["args"] = args_override
        if "name" not in merged or "function" not in merged:
            raise ValueError(
                f"Step definition needs 'name' and 'function' (or short-hand): {step_definition}"
            )
        self.name: str = merged["name"]
        self.function: str = merged["function"]
        self.args: Any = merged["args"]
        self.resumeFromSaved: bool = merged["resumeFromSaved"]
        self.saveProgress: str = merged["saveProgress"]
        self.output: Any = None
        for k, v in merged.items():
            if not hasattr(self, k):
                setattr(self, k, v)


class _Steps:
    """Step registry + dependency DAG + wavefront scheduler."""

    def __init__(self, steps: list, engine) -> None:
        self._engine = engine
        self._nodes: dict[str, _Step] = {}
        self._edges: set[tuple[str, str]] = set()

        for step_definition in steps or []:
            step = _Step(step_definition)
            step.name = self._scan_refs(step.name, "stepName", step.name)
            self._nodes[step.name] = step
            self._scan_refs(step.function, "function", step.name)
            if isinstance(step.args, dict):
                for value in step.args.values():
                    self._scan_refs(value, "args", step.name)
            elif isinstance(step.args, list):
                for value in step.args:
                    self._scan_refs(value, "args", step.name)
            elif step.args is not None:
                self._scan_refs(step.args, "args", step.name)
            self.__dict__[step.name] = step

        cycle = self._find_cycle()
        if cycle:
            raise RuntimeError(
                f"Found cycles in dependencies of steps. Check this dependency cycle: {cycle}"
            )

    # -- dependency extraction (F11, all-refs fix) ----------------------------

    def _scan_refs(self, value: Any, input_type: str, step_name: str) -> Any:
        if isinstance(value, list):
            for v in value:
                if isinstance(v, (str, list, dict)):
                    self._scan_refs(v, input_type, step_name)
            return value
        if isinstance(value, dict):
            for v in value.values():
                self._scan_refs(v, input_type, step_name)
            return value
        if not isinstance(value, str):
            return value

        out = value
        for m in _STEP_REF_RE.finditer(value):
            before, bracket_name, dot, method, rest = m.groups()
            dep = bracket_name.strip().strip('"').strip("'")
            if dep not in self._nodes:
                raise ValueError(
                    f"_Step name '{dep}' not found. "
                    f"Expected it to be defined before processing '{value}'. "
                    f"Change the order of steps so that '{dep}' is defined before processing '{value}."
                )
            if input_type == "stepName":
                # a step *named* by a method ref is renamed dep.method
                # (etl.py:464-466; README.md:114-121)
                new_name = (dot or "").join([dep, (method or "") + (rest or "")]).strip()
                self._edges.add((dep, new_name))
                out = new_name
            else:
                self._edges.add((dep, step_name))
        return out

    # -- graph utilities -------------------------------------------------------

    def _in_degree(self, remaining: set[str]) -> dict[str, int]:
        deg = {n: 0 for n in remaining}
        for a, b in self._edges:
            if a in remaining and b in remaining:
                deg[b] += 1
        return deg

    def _find_cycle(self) -> list[tuple[str, str]] | None:
        WHITE, GRAY, BLACK = 0, 1, 2
        color = {n: WHITE for n in self._nodes}
        adj: dict[str, list[str]] = {n: [] for n in self._nodes}
        for a, b in self._edges:
            if a in adj:
                adj[a].append(b)
        path: list[str] = []

        def dfs(u: str) -> list[tuple[str, str]] | None:
            color[u] = GRAY
            path.append(u)
            for v in adj.get(u, ()):  # pragma: no branch
                if color.get(v) == GRAY:
                    i = path.index(v)
                    nodes = path[i:] + [v]
                    return list(zip(nodes, nodes[1:]))
                if color.get(v) == WHITE:
                    found = dfs(v)
                    if found:
                        return found
            path.pop()
            color[u] = BLACK
            return None

        for n in self._nodes:
            if color[n] == WHITE:
                found = dfs(n)
                if found:
                    return found
        return None

    # -- execution (F13/F14 with error propagation) ---------------------------

    def run(self) -> None:
        """Wavefront execution with per-step progress reporting
        (reference parity: tqdm bar advanced per wave, etl.py:578-583,
        617 — here a tqdm bar when the lib is available, and structured
        log lines always, so long pipelines are observable in logs)."""
        total = len(self._nodes)
        done = 0
        wave = 0
        bar = None
        try:
            from tqdm import tqdm  # optional, like the reference dep

            bar = tqdm(total=total, desc="pipeline steps")
        except ImportError:
            pass
        remaining = set(self._nodes)
        try:
            while remaining:
                deg = self._in_degree(remaining)
                ready = sorted(n for n, d in deg.items() if d == 0)
                if not ready:
                    raise RuntimeError(
                        f"Deadlocked dependency graph; remaining: {sorted(remaining)}"
                    )
                wave += 1
                logger.info(
                    "wave %d: %d step(s) ready: %s", wave, len(ready), ready
                )
                to_submit: list[_Step] = []
                for name in ready:
                    step = self._nodes[name]
                    ckpt = self._engine.checkpoint_path(step)
                    if step.resumeFromSaved and ckpt and self._engine.checkpoint_exists(ckpt):
                        step.output = self._engine.read_checkpoint(ckpt)
                        logger.info(
                            "Skipped execution of pipeline steps['%s'], retrieved from '%s' "
                            "of previous execution",
                            step.name,
                            step.saveProgress,
                        )
                        done += 1
                        if bar:
                            bar.update(1)
                    else:
                        to_submit.append(step)
                    remaining.discard(name)
                if not to_submit:
                    continue

                def timed(step: _Step) -> None:
                    import time

                    t0 = time.perf_counter()
                    covered = self._engine.run_step(step)
                    logger.info(
                        "step '%s' %s in %.2fs (wave %d)",
                        step.name,
                        covered,
                        time.perf_counter() - t0,
                        wave,
                    )

                if len(to_submit) == 1:
                    timed(to_submit[0])
                    done += 1
                    if bar:
                        bar.update(1)
                else:
                    # propagate the caller's contextvars into worker
                    # threads (fresh copy per task — a Context can only
                    # be entered once): without this, --explain's
                    # EXPLAIN_ONLY flag reads as default-False in
                    # concurrent waves and sinks would WRITE during a
                    # dry run (review r5b #1)
                    import contextvars

                    with concurrent.futures.ThreadPoolExecutor() as executor:
                        futures = {
                            executor.submit(
                                contextvars.copy_context().run, timed, s
                            ): s
                            for s in to_submit
                        }
                        for fut in concurrent.futures.as_completed(futures):
                            fut.result()  # propagate step errors (reference swallows them)
                            done += 1
                            if bar:
                                bar.update(1)
                logger.info("progress: %d/%d steps complete", done, total)
        finally:
            if bar:
                bar.close()

    # -- mapping protocol (parity with reference registry access) -------------

    def __getitem__(self, name: str) -> _Step:
        return getattr(self, name)

    def __setitem__(self, name: str, value: Any) -> None:
        setattr(self, name, value)

    def __contains__(self, name: str) -> bool:
        return hasattr(self, name)

    def names(self) -> list[str]:
        return list(self._nodes)
