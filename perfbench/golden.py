"""Derive ``golden.json``: the row count and order-insensitive digest of
every benchmark item, taken from an oracle-green run.

- Query items: the Spark result must equal the query's DuckDB oracle on the
  same fixture tables as an exact value multiset (the comparison of
  ``tools/selfcheck.py``); the digest is then taken from the Spark rows.
- Pipeline items: the pipeline must run with every validate gate passing;
  the digest is taken from its written output (or its final view).

Any mismatch or failure aborts without writing. Run it again only when a
workload, the data generator or the registry's outputs change:
  python3 perfbench/golden.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import run
from workloads import HERE, WORKLOADS, Env, data_dir, digest, run_item


def _duckdb(sf_dir: str):
    import duckdb

    from arc_cassandra_pipeline_plugin_spark.sources import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    return con


def main() -> int:
    from selfcheck import frame_multiset

    os.makedirs(run.STATE, exist_ok=True)
    _, fingerprints = run._ensure_data()
    run_dir = tempfile.mkdtemp(prefix="golden-", dir=run.STATE)
    golden = {"data": {}, "items": {}}
    bad = []
    try:
        run._prepare_env(run_dir, None)
        spark, registry = run._setup(None)
        for workload, (dataset, items, _) in WORKLOADS.items():
            sf_dir = data_dir(run.STATE, dataset)
            golden["data"][dataset] = fingerprints[dataset]
            env = Env(spark, registry, sf_dir, os.path.join(run_dir, "out"), os.path.join(run_dir, "cassandra"))
            con = _duckdb(sf_dir)
            for item in items:
                cols, rows = run_item(env, item, collect=True)()
                if not item.startswith("pipeline:"):
                    oracle = registry[item].oracle
                    rel = con.sql(oracle) if oracle else None
                    if rel is None or frame_multiset(cols, rows) != frame_multiset(
                        [d[0] for d in rel.description], rel.fetchall()
                    ):
                        bad.append(f"{workload}/{item}")
                        print(f"MISMATCH {workload}/{item}")
                        continue
                rec = {"rows": len(rows), "digest": digest(cols, rows)}
                golden["items"].setdefault(workload, {})[item] = rec
                print(f"ok {workload}/{item}: {rec}")
        run._shutdown(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if bad:
        print(f"not written: {bad}")
        return 1
    with open(os.path.join(HERE, "golden.json"), "w", encoding="utf-8") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
