"""Workload definitions shared by the runner and the golden-digest tool.

A workload is a fixture dataset plus an ordered list of items. An item is
either a registered query (built with ``Query.fn`` and written to the
``noop`` sink) or a declarative pipeline (``config.parse_config`` then
``Pipeline.run`` in the ``production`` environment, writing under the run's
own output directory).
"""

from __future__ import annotations

import hashlib
import os
import sys
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the package and tools/ are imported from the checkout this file is in
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

#: dataset name -> scale factor (``gen.py`` writes the driver's layout:
#: one file with one row group per table)
DATASETS = {"sf0.1": 0.1}

#: the pipelines of ``etl_sf01``: config file -> what the check digests
#: (a written parquet output relative to the run's output dir, or a view)
PIPELINES = {
    "curation": ("parquet", "curated.parquet"),
    "cassandra_roundtrip": ("view", "orders_rt"),
}

#: workload -> (dataset, items, nominal warm-pass seconds on 4 cores).
#: Query items are registry names; pipeline items are ``pipeline:<name>``.
#: Why each workload exists is in README.md.
WORKLOADS = {
    "iterative_sf01": (
        "sf0.1",
        ["events_grid_dbscan", "graph_pagerank_trade"],
        5.0,
    ),
    "etl_sf01": ("sf0.1", [f"pipeline:{p}" for p in PIPELINES], 3.2),
}


def data_dir(state_dir: str, dataset: str) -> str:
    return os.path.join(state_dir, "data", dataset)


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: the value multiset with columns
    sorted by name, normalized exactly as the DuckDB oracle comparison in
    ``tools/selfcheck.py`` normalizes it."""
    from selfcheck import frame_multiset

    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in sorted(repr(kv) for kv in frame_multiset(columns, rows).items()):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Env:
    """What an item needs to run: the session, registry and directories."""

    def __init__(self, spark, registry, sf_dir: str, out_dir: str, cassandra_root: str):
        self.spark = spark
        self.registry = registry
        self.sf_dir = sf_dir
        self.out_dir = out_dir
        self.cassandra_root = cassandra_root


def run_item(env: Env, item: str, collect: bool, tracer=None):
    """Run one item as a user would: a query is built and written to the
    noop sink, or with ``collect`` brought to the driver; a pipeline runs
    in full. With ``collect``, return a function giving the item's
    ``(columns, rows)`` for the correctness check, to call after timing."""
    if item.startswith("pipeline:"):
        name = item.split(":", 1)[1]
        _run_pipeline(env, name)
        return (lambda: _pipeline_rows(env, name)) if collect else None
    q = env.registry[item]
    with _span(tracer, "queries.build", item):
        df = q.fn(env.spark, env.sf_dir)
    with _span(tracer, "queries.action", item):
        if collect:
            rows = [tuple(r) for r in df.collect()]
            return lambda: (df.columns, rows)
        df.write.format("noop").mode("overwrite").save()
    return None


def _run_pipeline(env: Env, name: str) -> None:
    from arc_cassandra_pipeline_plugin_spark.config import parse_config
    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext

    # the configs reference these through ${...} substitution
    os.environ["SPARK_GRAFT_SF_DIR"] = env.sf_dir
    os.environ["BENCH_OUT_DIR"] = env.out_dir
    os.environ["BENCH_CASSANDRA_ROOT"] = env.cassandra_root
    with open(os.path.join(HERE, "etl", f"{name}.conf"), encoding="utf-8") as fh:
        text = fh.read()
    ctx = PipelineContext(environment="production")
    parse_config(text, ctx).run(env.spark, ctx)


def _pipeline_rows(env: Env, name: str):
    kind, target = PIPELINES[name]
    if kind == "parquet":
        df = env.spark.read.parquet(os.path.join(env.out_dir, target))
    else:
        df = env.spark.table(target)
    return df.columns, [tuple(r) for r in df.collect()]


def _span(tracer, name: str, item: str):
    return tracer.span(name, item=item) if tracer is not None else nullcontext()
