"""The repository benchmark: run one workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process, one client, closed loop: the workload's items run one after
another on ``local[<cores>]``. A run

1. builds the fixture datasets once per checkout (``perfbench/gen.py``,
   into ``.perfbench/data``; excluded from every timing);
2. sets up: imports, ``queries.load_all``, ``sources.get_spark``,
   registering the fake Cassandra source (``setup_s``);
3. runs a cold pass over the items, bringing each result to the driver and
   checking it against ``golden.json`` after the pass (``cold_s``);
4. runs as many warm passes as fit in ``--seconds`` at the workload's
   nominal pass time (``warm_s`` = median);
5. with ``--trace 0``, sets up twice more in fresh processes (``setup_s`` =
   median of three); with ``--trace 1``, alternates traced and untraced warm
   passes, and reports per-layer metrics from spans and the Spark event log.

The seed permutes the item order of every pass. Every file the run writes
is under ``.perfbench/`` in the checkout; the per-run directory is removed
at exit, the trace file is kept in ``.perfbench/traces``.

The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""

from __future__ import annotations

import os
import time


def _process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start_epoch()

import argparse  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

from workloads import DATASETS, HERE, ROOT, WORKLOADS, Env, data_dir, digest, run_item  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
PKG_DIR = os.path.join(ROOT, "arc_cassandra_pipeline_plugin_spark")
SETUP_REPEATS = 3
DRIVER_MEM = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "peak_rss_mb": "MB",
    "ok_share": "ratio",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(run_dir: str, event_dir: str | None) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run directory; put the repository on PYTHONPATH for Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM (the spark-submit launcher too) keeps its files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a heap fixed at its maximum and touched at start: the JVM's resident
    # size then does not depend on when the GC chose to grow the heap
    args = ["--driver-java-options", f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"]
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _ensure_data() -> tuple[float, dict[str, str]]:
    """Build every dataset missing from the checkout (the first run of a
    checkout builds them, later runs skip this). Returns the seconds it
    took and each dataset's content fingerprint."""
    t0 = time.time()
    fingerprints = {}
    for name, sf in DATASETS.items():
        dst = data_dir(STATE, name)
        marker = os.path.join(dst, "_COMPLETE")
        if not os.path.exists(marker):
            tmp = f"{dst}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "gen.py"), tmp, "--sf", str(sf)],
                check=True, capture_output=True, text=True, timeout=600,
            )
            with open(os.path.join(tmp, "_COMPLETE"), "w", encoding="ascii") as fh:
                fh.write(out.stdout.strip().splitlines()[-1])
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(tmp, dst)
        with open(marker, encoding="ascii") as fh:
            fingerprints[name] = fh.read().strip()
    return time.time() - t0, fingerprints


def _setup(tracer):
    """The timed set-up: imports, registry, session, fake Cassandra."""
    from arc_cassandra_pipeline_plugin_spark import sources
    from arc_cassandra_pipeline_plugin_spark.queries import load_all
    from arc_cassandra_pipeline_plugin_spark.sources.cassandra_fake import register_fake_cassandra

    registry = load_all()
    if tracer is not None:
        tracer.install()
    spark = sources.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    register_fake_cassandra(spark)
    return spark, registry


def _jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_proc_stat(int(entry))[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _cpu_s(pids: list[int], with_children: bool) -> float:
    """CPU seconds of the given processes (and their reaped children)."""
    ticks = 0
    for p in pids:
        try:
            f = _proc_stat(p)
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12])
        if with_children:
            ticks += int(f[13]) + int(f[14])
    return ticks / os.sysconf("SC_CLK_TCK")


def _python_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def _peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident MB of the Python driver and of the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def _shutdown(spark, stop_session: bool = True) -> None:
    """Stop the session, then the JVM and its Python workers; wait for all.
    Without ``stop_session`` the JVM's own shutdown hook stops the context
    (enough when nothing needs flushing, as after a set-up probe)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    if stop_session:
        spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _dir_bytes(*dirs: str) -> int:
    total = 0
    for d in dirs:
        for root, _dirs, names in os.walk(d):
            total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


def setup_probe() -> int:
    """Child mode: measure one set-up in this fresh process, print it."""
    run_dir = tempfile.mkdtemp(prefix="setup-", dir=STATE)
    try:
        _prepare_env(run_dir, None)
        spark, _ = _setup(None)
        setup_s = time.time() - PROCESS_START
        _shutdown(spark, stop_session=False)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"setup_s": setup_s}))
    return 0


def _child_setups(n: int) -> list[float]:
    out = []
    for _ in range(n):
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            check=True, capture_output=True, text=True, timeout=150,
        )
        out.append(json.loads(r.stdout.strip().splitlines()[-1])["setup_s"])
    return out


class Runner:
    def __init__(self, args, env: Env, golden: dict, data_ok: bool, tracer):
        self.items = WORKLOADS[args.workload][1]
        self.rng = random.Random(args.seed)
        self.env = env
        self.golden = golden.get("items", {}).get(args.workload, {})
        self.data_ok = data_ok
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.item_walls: dict[str, list[float]] = {item: [] for item in self.items}

    def one_pass(self, pass_id: str, check: bool) -> float:
        """Run every item once in a seed-permuted order; return the wall
        time. With ``check``, results go to the driver and are compared
        with the golden digests after the timed region."""
        if self.tracer is not None:
            self.tracer.pass_id = pass_id
        order = self.rng.sample(self.items, len(self.items))
        results = []
        t0 = time.time()
        for item in order:
            self.attempted += 1
            if self.tracer is not None:
                self.tracer.item = item
            t_item = time.time()
            try:
                results.append((item, run_item(self.env, item, check, self.tracer)))
                self.item_walls[item].append(time.time() - t_item)
            except Exception as exc:  # an item failing is a measured outcome
                self.failed += 1
                print(f"item {item} failed: {type(exc).__name__}: {str(exc)[:300]}", file=sys.stderr)
        wall = time.time() - t0
        for item, rows_fn in results:
            if rows_fn is not None and not self._matches(item, *rows_fn()):
                self.failed += 1
        return wall

    def _matches(self, item: str, columns, rows) -> bool:
        want = self.golden.get(item)
        got = {"rows": len(rows), "digest": digest(columns, rows)}
        if want != got or not self.data_ok:
            print(f"item {item} wrong: got {got}, golden {want}, data ok {self.data_ok}", file=sys.stderr)
            return False
        return True


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(args) -> int:
    if not os.path.isdir(PKG_DIR) or not os.path.isfile(os.path.join(ROOT, "tools", "profile_query.py")):
        print(f"perfbench: run from a checkout of the repository ({PKG_DIR} not found)", file=sys.stderr)
        return 2
    os.makedirs(STATE, exist_ok=True)
    build_s, fingerprints = _ensure_data()
    with open(os.path.join(HERE, "golden.json"), encoding="utf-8") as fh:
        golden = json.load(fh)
    dataset = WORKLOADS[args.workload][0]
    data_ok = golden.get("data", {}).get(dataset) == fingerprints[dataset]

    run_dir = tempfile.mkdtemp(prefix="run-", dir=STATE)
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    try:
        _prepare_env(run_dir, event_dir)
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
        spark, registry = _setup(tracer)
        setup_s = time.time() - PROCESS_START - build_s
        env = Env(
            spark, registry, data_dir(STATE, dataset),
            os.path.join(run_dir, "out"), os.path.join(run_dir, "cassandra"),
        )
        runner = Runner(args, env, golden, data_ok, tracer)
        jvm = _jvm_pid(spark)

        cold_s = runner.one_pass("cold", check=True)
        warm, traced, windows, cpu = [], [], [], []
        # a fixed number of warm passes per workload (as many as fit in
        # --seconds at its nominal pass time): every run then reports the
        # same point of the JVM's warm-up, however fast the machine is
        n_warm = max(2, round(args.seconds / WORKLOADS[args.workload][2]))
        for k in range(2 * n_warm if args.trace else n_warm):
            on = tracer is not None and k % 4 in (0, 3)  # ABBA: balanced in warm-up
            if tracer is not None:
                tracer.enabled = on
            workers = _descendants(jvm)
            c0 = (_python_cpu_s(), _cpu_s([jvm], False), _cpu_s(workers, True))
            t0 = time.time() * 1000.0
            wall = runner.one_pass(f"warm{k}", check=False)
            if on:
                workers = set(workers) | set(_descendants(jvm))
                traced.append(wall)
                windows.append((f"warm{k}", (t0, time.time() * 1000.0)))
                cpu.append((
                    _python_cpu_s() - c0[0],
                    _cpu_s([jvm], False) - c0[1],
                    _cpu_s(list(workers), True) - c0[2],
                    _dir_bytes(env.out_dir, env.cassandra_root),
                ))
            else:
                warm.append(wall)
        rss_py, rss_jvm = _peak_rss_mb(jvm)
        _shutdown(spark)

        if not args.trace:
            setups = [setup_s] + _child_setups(SETUP_REPEATS - 1)
            values = {
                "setup_s": _median(setups),
                "cold_s": cold_s,
                "warm_s": _median(warm),
                "peak_rss_mb": rss_py + rss_jvm,
                "ok_share": 1.0 - runner.failed / runner.attempted,
            }
            units = END_TO_END_UNITS
            print(f"perfbench workload={args.workload} seed={args.seed} setups={setups} "
                  f"rss_mb_python={rss_py:.1f} rss_mb_jvm={rss_jvm:.1f} "
                  f"warm_passes={warm} item_walls={runner.item_walls}")
        else:
            values, units = _layer_metrics(tracer, event_dir, windows, cpu, traced, warm)
            trace_dir = os.path.join(STATE, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
            tracer.write(trace_path, {"workload": args.workload, "seed": args.seed, "metrics": values,
                                      "pass_windows_ms": dict(windows)})
            print(f"perfbench workload={args.workload} seed={args.seed} trace={trace_path} "
                  f"traced_passes={traced} untraced_passes={warm}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": runner.failed == 0 and data_ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0


def _layer_metrics(tracer, event_dir, windows, cpu, traced, untraced):
    """Per-layer metrics: the median over traced warm passes of each."""
    from spans import event_log_extras, spark_metrics, span_metrics, with_self_time

    from profile_query import parse_event_log

    stage_rows = parse_event_log(event_dir, 0)
    job_times, extras = event_log_extras(event_dir)
    spans = with_self_time(tracer.spans)
    per_pass = []
    for (pass_id, window), (py_cpu, jvm_cpu, worker_cpu, out_bytes) in zip(windows, cpu):
        m = span_metrics([s for s in spans if s["pass"] == pass_id], job_times)
        m.update(spark_metrics(stage_rows, extras, job_times, window, _cores()))
        m["load.bytes_written"] = out_bytes
        m["driver.python_cpu_s"] = py_cpu
        m["driver.jvm_overhead_cpu_s"] = jvm_cpu - m["spark.executor_cpu_s"]
        m["pyworker.cpu_s"] = worker_cpu
        per_pass.append(m)
    values = {k: _median([m[k] for m in per_pass]) for k in per_pass[0]}
    values["sources.get_spark_s"] = sum(
        s["end_ms"] - s["start_ms"] for s in spans if s["name"] == "sources.get_spark"
    ) / 1000.0
    values["trace.warm_s"] = _median(traced)
    values["trace.overhead_s"] = _median(traced) - _median(untraced)
    units = {k: _unit(k) for k in values}
    return values, units


def _unit(name: str) -> str:
    if name.endswith("_bytes") or name == "load.bytes_written":
        return "bytes"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload and print its metrics.")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.setup_probe:
        return setup_probe()
    if args.workload is None:
        ap.error("--workload is required")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return measure(args)


if __name__ == "__main__":
    sys.exit(main())
