"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side, around calls into each
layer's public functions: ``sources`` (get_spark, load_table), ``config``
(parse_config), ``pipeline`` (run), ``stages`` (PipelineStage.execute, by
stage kind) and the ``operators.dedup``/``graph``/``ranking`` entry points.
The runner adds ``queries.build`` / ``queries.action`` around each query.
The package itself is not modified: its functions are wrapped in place, in
every package module that holds a reference to them.

Spark-side numbers come from the Spark event log, parsed with
``tools/profile_query.parse_event_log``; jobs are attributed to spans by
their submission time.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager

PKG = "arc_cassandra_pipeline_plugin_spark"

#: stage type -> kind used in ``stages.<kind>.*`` metrics
STAGE_KINDS = {
    "ParquetExtract": "extract",
    "SQLTransform": "transform",
    "OperatorTransform": "operator",
    "SQLValidate": "validate",
    "EqualityValidate": "validate",
    "ParquetLoad": "load",
    "CassandraLoad": "cassandra_load",
    "CassandraExtract": "cassandra_extract",
}
LOAD_KINDS = ("load", "cassandra_load")
OPERATOR_MODULES = ("dedup", "graph", "ranking")


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.enabled = True
        self.pass_id = "setup"
        self.item = None

    @contextmanager
    def span(self, name: str, item=None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "item": item or self.item,
            "pass": self.pass_id,
            "start_ms": time.time() * 1000.0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ms"] = time.time() * 1000.0

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the layer entry points. Call after the package is imported."""
        import importlib

        targets: list[tuple[object, str]] = []
        sources = importlib.import_module(f"{PKG}.sources")
        targets += [(sources.get_spark, "sources.get_spark"), (sources.load_table, "sources.load_table")]
        config = importlib.import_module(f"{PKG}.config")
        targets.append((config.parse_config, "config.parse"))
        pipeline = importlib.import_module(f"{PKG}.pipeline")
        targets.append((pipeline.run, "pipeline.run"))
        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{mod_name}")
            for attr, fn in vars(mod).items():
                if callable(fn) and not attr.startswith("_") and getattr(fn, "__module__", "") == mod.__name__:
                    targets.append((fn, f"operators.{mod_name}.{attr}"))
        for orig, name in targets:
            wrapped = self.wrap(name, orig)
            for mod in list(sys.modules.values()):
                if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, wrapped)

        base = importlib.import_module(f"{PKG}.stages.base")
        execute = base.PipelineStage.execute
        tracer = self

        @functools.wraps(execute)
        def traced_execute(stage, spark, ctx):
            kind = STAGE_KINDS.get(stage.stage_type, "other")
            with tracer.span(f"stages.{kind}", stage=stage.name) as rec:
                out = execute(stage, spark, ctx)
                if rec is not None and kind in LOAD_KINDS:
                    rec["records"] = stage.stage_detail.as_dict().get("records", 0)
                return out

        base.PipelineStage.execute = traced_execute

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**extra, "spans": with_self_time(self.spans)}, fh, default=str)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def with_self_time(spans: list[dict]) -> list[dict]:
    """Each span plus ``self_ms``: its duration minus the part of its
    interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and "end_ms" in s:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = []
    for s in spans:
        if "end_ms" not in s:
            continue
        dur = s["end_ms"] - s["start_ms"]
        out.append({**s, "self_ms": dur - _union_ms(children.get(s["id"], []))})
    return out


def event_log_extras(event_dir: str) -> tuple[dict[int, float], dict[int, dict]]:
    """What ``parse_event_log`` does not keep: job submission times and,
    per stage, executor CPU and GC time summed over its tasks."""
    jobs: dict[int, float] = {}
    per_stage: dict[int, dict] = {}
    for root, _dirs, names in os.walk(event_dir):
        for f in names:
            if f.startswith("."):
                continue
            with open(os.path.join(root, f), encoding="utf-8") as fh:
                for line in fh:
                    if '"SparkListenerJobStart"' in line:
                        ev = json.loads(line)
                        jobs[ev["Job ID"]] = ev["Submission Time"]
                    elif '"SparkListenerTaskEnd"' in line:
                        ev = json.loads(line)
                        tm = ev.get("Task Metrics") or {}
                        agg = per_stage.setdefault(ev["Stage ID"], {"cpu_ns": 0, "gc_ms": 0})
                        agg["cpu_ns"] += tm.get("Executor CPU Time", 0)
                        agg["gc_ms"] += tm.get("JVM GC Time", 0)
    return jobs, per_stage


def _jobs_within(job_times: dict[int, float], intervals: list[tuple[float, float]]) -> int:
    return sum(1 for t in job_times.values() if any(s <= t <= e for s, e in intervals))


def _outermost(spans: list[dict], prefix: str) -> list[dict]:
    """Spans named ``prefix*`` that have no ancestor with the same prefix."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p = s["parent"]
        while p in by_id and not by_id[p]["name"].startswith(prefix):
            p = by_id[p]["parent"]
        if p not in by_id:
            out.append(s)
    return out


def span_metrics(spans: list[dict], job_times: dict[int, float]) -> dict[str, float]:
    """Per-layer metrics of one pass from its spans (with ``self_ms``)."""
    def secs(ss):
        return sum(s["end_ms"] - s["start_ms"] for s in ss) / 1000.0

    def named(name):
        return [s for s in spans if s["name"] == name]

    def jobs(ss):
        return _jobs_within(job_times, [(s["start_ms"], s["end_ms"]) for s in ss])

    m: dict[str, float] = {}
    for layer, name in (("sources.load_table", "sources.load_table"), ("config.parse", "config.parse"), ("pipeline.run", "pipeline.run")):
        m[f"{layer}_s"] = secs(_outermost(spans, name))
    m["sources.load_table_calls"] = len(named("sources.load_table"))
    for phase in ("build", "action"):
        ss = named(f"queries.{phase}")
        m[f"queries.{phase}_s"] = secs(ss)
        m[f"queries.{phase}_jobs"] = jobs(ss)
    ops = [s for s in spans if s["name"].startswith("operators.")]
    top_ops = _outermost(spans, "operators.")
    m["operators.calls"] = len(ops)
    m["operators.self_s"] = sum(s["self_ms"] for s in ops) / 1000.0
    m["operators.jobs"] = jobs(top_ops)
    for kind in sorted(set(STAGE_KINDS.values())):
        ss = named(f"stages.{kind}")
        m[f"stages.{kind}.s"] = secs(ss)
        m[f"stages.{kind}.jobs"] = jobs(ss)
    m["load.rows_written"] = sum(
        int(s.get("records") or 0) for s in spans if s["name"] in (f"stages.{k}" for k in LOAD_KINDS)
    )
    return m


def spark_metrics(
    stage_rows: list[dict],
    stage_extras: dict[int, dict],
    job_times: dict[int, float],
    window: tuple[float, float],
    cores: int,
) -> dict[str, float]:
    """Spark-side metrics of one pass (wall window in epoch ms)."""
    lo, hi = window
    rows = [r for r in stage_rows if lo <= r["submitted_ms"] <= hi]
    wall_s = (hi - lo) / 1000.0
    run_s = sum(r.get("run_ms", 0) for r in rows) / 1000.0
    busy_ms = _union_ms(
        [(r["submitted_ms"], min(r["submitted_ms"] + r["wall_ms"], hi)) for r in rows]
    )
    return {
        "spark.jobs": _jobs_within(job_times, [window]),
        "spark.stages": len(rows),
        "spark.tasks": sum(r.get("n_tasks", 0) for r in rows),
        "spark.max_stage_tasks": max((r.get("n_tasks", 0) for r in rows), default=0),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(stage_extras.get(r["stage"], {}).get("cpu_ns", 0) for r in rows) / 1e9,
        "spark.gc_s": sum(stage_extras.get(r["stage"], {}).get("gc_ms", 0) for r in rows) / 1000.0,
        "spark.input_bytes": sum(r.get("input_bytes", 0) for r in rows),
        "spark.shuffle_read_bytes": sum(r.get("shuf_read", 0) for r in rows),
        "spark.shuffle_write_bytes": sum(r.get("shuf_write", 0) for r in rows),
        "spark.driver_only_s": wall_s - busy_ms / 1000.0,
        "spark.core_busy_ratio": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }
