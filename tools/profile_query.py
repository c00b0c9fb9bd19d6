"""Stage-level profiler for certified queries and pipeline configs.

Runs each named query into the noop sink on the engine's own session
(``sources.get_spark``; the event-log confs reach the JVM through
``PYSPARK_SUBMIT_ARGS``, as in ``perfbench/run.py``), then parses the
event log into a per-stage table: wall duration, summed executor run
time, task count, input bytes, shuffle read/write bytes — the
attribution the Spark UI would show, reconstructed headlessly — and the
Spark job count of each timed trial (build + write). One untimed warmup
pass precedes the timed passes so JIT and codegen compile outside the
measurement (bench protocol parity).

A name ``pipeline:<conf path>`` runs that config file instead, as the
benchmark's ``etl_sf01`` workload does: ``production`` environment, the
fake Cassandra source registered, ``${SPARK_GRAFT_SF_DIR}`` pointed at
``--sf-dir`` and ``${BENCH_OUT_DIR}`` / ``${BENCH_CASSANDRA_ROOT}`` at a
temporary directory. Its jobs are counted per pipeline stage, keyed by the
``"<Type>: <name>"`` description ``PipelineStage.execute`` sets.

Usage:
  python tools/profile_query.py <name> [<name> ...] [--sf-dir DIR] [--trials N] [--plan OUT]
  python tools/profile_query.py pipeline:perfbench/etl/curation.conf [...] --sf-dir DIR

With several names, one session runs them in turn and a closing
per-query table lists the jobs of every trial and the median wall.

The fixture directory is ``--sf-dir``, else ``$SPARK_GRAFT_SF_DIR``, else
the raw sf0.1 fixture (one file and one row group per table, the layout
the benchmark measures). The event log is deleted once parsed.
``--plan OUT`` additionally writes ``explain('formatted')`` to OUT (the
plans/r11 evidence files).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _event_files(event_dir: str) -> list[str]:
    files = []
    for root, _dirs, names in os.walk(event_dir):
        for f in names:
            if not f.startswith(".") and "appstatus" not in f:
                files.append(os.path.join(root, f))
    return files


#: local property naming the profiled run (``warmup:<name>`` or
#: ``timed:<name>:<i>``) that submitted a job; pipeline stages set their
#: own job descriptions, so the run travels separately
RUN_PROPERTY = "profile.run"


def count_jobs(event_dir: str, run: str | None = None) -> dict[str, int]:
    """Number of ``SparkListenerJobStart`` events per job description; with
    ``run``, only the jobs of that profiled run."""
    counts: dict[str, int] = {}
    for path in _event_files(event_dir):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' not in line:
                    continue
                props = json.loads(line).get("Properties") or {}
                if run is not None and props.get(RUN_PROPERTY) != run:
                    continue
                desc = props.get("spark.job.description", "")
                counts[desc] = counts.get(desc, 0) + 1
    return counts


def run_pipeline(spark, conf_path: str, sf_dir: str, work_dir: str) -> list[str]:
    """Run a pipeline config in the ``production`` environment; return the
    job descriptions of its stages in order."""
    from arc_cassandra_pipeline_plugin_spark.config import parse_config
    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext

    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    os.environ["BENCH_OUT_DIR"] = os.path.join(work_dir, "out")
    os.environ["BENCH_CASSANDRA_ROOT"] = os.path.join(work_dir, "cassandra")
    with open(conf_path, encoding="utf-8") as fh:
        text = fh.read()
    ctx = PipelineContext(environment="production")
    pipeline = parse_config(text, ctx)
    pipeline.run(spark, ctx)
    return [f"{st.stage_type or type(st).__name__}: {st.name}" for st in pipeline.stages]


def parse_event_log(event_dir: str, t_mark_ms: float):
    """Aggregate the (single) event log: stages completed after t_mark_ms,
    with per-stage wall/cpu/io attribution summed from task-end events."""
    files = _event_files(event_dir)
    stages: dict[tuple[int, int], dict] = {}
    job_of_stage: dict[int, tuple[int, str]] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description", "")
                    run = props.get(RUN_PROPERTY, "")
                    for sid in ev.get("Stage IDs", []):
                        job_of_stage[sid] = (ev["Job ID"], desc, run)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sub = si.get("Submission Time")
                    com = si.get("Completion Time")
                    if sub is None or com is None or com < t_mark_ms:
                        continue
                    key = (si["Stage ID"], si["Stage Attempt ID"])
                    stages.setdefault(key, {}).update(
                        name=si.get("Stage Name", "")[:80],
                        wall_ms=com - sub,
                        submitted_ms=sub,
                        n_tasks=si.get("Number of Tasks", 0),
                    )
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    tm = ev.get("Task Metrics") or {}
                    agg = stages.setdefault(key, {})
                    agg["run_ms"] = agg.get("run_ms", 0) + tm.get(
                        "Executor Run Time", 0
                    )
                    srm = tm.get("Shuffle Read Metrics") or {}
                    swm = tm.get("Shuffle Write Metrics") or {}
                    inm = tm.get("Input Metrics") or {}
                    agg["shuf_read"] = (
                        agg.get("shuf_read", 0)
                        + srm.get("Local Bytes Read", 0)
                        + srm.get("Remote Bytes Read", 0)
                    )
                    agg["fetch_wait_ms"] = agg.get("fetch_wait_ms", 0) + srm.get(
                        "Fetch Wait Time", 0
                    )
                    agg["shuf_write"] = agg.get("shuf_write", 0) + swm.get(
                        "Shuffle Bytes Written", 0
                    )
                    agg["input_bytes"] = agg.get("input_bytes", 0) + inm.get(
                        "Bytes Read", 0
                    )
    rows = []
    for (sid, att), agg in stages.items():
        if "wall_ms" not in agg:
            continue  # stage from before the mark or never completed
        job_id, desc, run = job_of_stage.get(sid, (-1, "", ""))
        rows.append(
            dict(
                stage=sid,
                attempt=att,
                job=job_id,
                desc=desc,
                run=run,
                **agg,
            )
        )
    rows.sort(key=lambda r: r["submitted_ms"])
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--trials", type=int, default=1)
    ap.add_argument("--plan", default=None, help="write explain(formatted) here")
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()
    if args.plan and (len(args.names) > 1 or args.names[0].startswith("pipeline:")):
        ap.error("--plan takes a single query name")

    from arc_cassandra_pipeline_plugin_spark.queries import load_all  # noqa: E402
    from arc_cassandra_pipeline_plugin_spark.sources import get_spark  # noqa: E402

    sf_dir = args.sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR") or "/root/testdata/sf0.1"
    registry = load_all()
    pipelines = [n for n in args.names if n.startswith("pipeline:")]

    event_dir = tempfile.mkdtemp(prefix="profile_evlog_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
            "pyspark-shell",
        ]
    )
    spark = get_spark("profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    work_dir = tempfile.mkdtemp(prefix="profile_work_")
    stage_descs: dict[str, list[str]] = {}
    if pipelines:
        from arc_cassandra_pipeline_plugin_spark.sources.cassandra_fake import (
            register_fake_cassandra,
        )

        register_fake_cassandra(spark)

    def run_once(name: str, run: str) -> None:
        sc.setLocalProperty(RUN_PROPERTY, run)
        if name in pipelines:
            sc.setJobDescription(None)  # each stage sets its own
            stage_descs[name] = run_pipeline(spark, name.split(":", 1)[1], sf_dir, work_dir)
        else:
            sc.setJobDescription(run)
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    if args.plan:
        df = registry[args.names[0]].fn(spark, sf_dir)
        from arc_cassandra_pipeline_plugin_spark.plans import explain_str

        with open(args.plan, "w") as fh:
            fh.write(explain_str(df, "formatted"))
        print(f"plan -> {args.plan}")

    walls: dict[str, list[float]] = {}
    for name in args.names:
        if not args.no_warmup:
            run_once(name, f"warmup:{name}")
        walls[name] = []
        for i in range(args.trials):
            t0 = time.time()
            run_once(name, f"timed:{name}:{i}")
            walls[name].append(time.time() - t0)
    sc.setJobDescription(None)
    sc.setLocalProperty(RUN_PROPERTY, None)

    # flush the event log by stopping the session
    spark.stop()
    shutil.rmtree(work_dir, ignore_errors=True)
    rows = [r for r in parse_event_log(event_dir, 0) if r["run"].startswith("timed:")]
    run_jobs = {
        (name, i): count_jobs(event_dir, f"timed:{name}:{i}")
        for name in walls
        for i in range(args.trials)
    }
    trial_jobs = {
        name: [sum(run_jobs[name, i].values()) for i in range(args.trials)] for name in walls
    }
    shutil.rmtree(event_dir, ignore_errors=True)

    print(f"\nqueries={' '.join(args.names)} sf_dir={sf_dir}")
    for name in walls:
        print(f"{name}: timed walls {[round(w, 3) for w in walls[name]]},"
              f" jobs per trial {trial_jobs[name]}")
    total_wall = sum(r["wall_ms"] for r in rows)
    print(
        f"{len(rows)} stages (timed region), sum(stage wall)={total_wall} ms"
        " — overlapping stages double-count\n"
    )
    hdr = (
        f"{'stage':>5} {'job':>4} {'wall_ms':>8} {'run_ms':>8} {'tasks':>5} "
        f"{'input':>9} {'sh_read':>9} {'sh_write':>9} {'fetchw':>7}  desc/name"
    )
    print(hdr)
    for r in rows:
        print(
            f"{r['stage']:>5} {r['job']:>4} {r['wall_ms']:>8} "
            f"{r.get('run_ms', 0):>8} {r.get('n_tasks', 0):>5} "
            f"{r.get('input_bytes', 0):>9} {r.get('shuf_read', 0):>9} "
            f"{r.get('shuf_write', 0):>9} {r.get('fetch_wait_ms', 0):>7}  "
            f"{(r['desc'] or r['name'])[:70]}"
        )
    for name in pipelines:
        descs = stage_descs[name]
        extra = {d for i in range(args.trials) for d in run_jobs[name, i]} - set(descs)
        print(f"\n{name}: Spark jobs per stage\n\n| stage | jobs per trial |\n|---|---|")
        for desc in descs + sorted(extra):
            per_trial = [run_jobs[name, i].get(desc, 0) for i in range(args.trials)]
            print(f"| `{desc or '(no stage)'}` | {', '.join(map(str, per_trial))} |")
        print(f"| total | {', '.join(map(str, trial_jobs[name]))} |")
    if len(walls) > 1:
        print("\n| query | jobs per trial | median wall s |\n|---|---|---|")
        for name, w in walls.items():
            med = sorted(w)[len(w) // 2]
            print(f"| `{name}` | {', '.join(map(str, trial_jobs[name]))} | {med:.3f} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
