from __future__ import annotations

import contextlib
import datetime
import os
import sys
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from arc_cassandra_pipeline_plugin_spark.sources import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def spark_jobs(spark, action):
    """``action()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup())
    out = action()
    return out, len(set(sc.statusTracker().getJobIdsForGroup()) - before)


#: the driver replays of the graph iterates in ``operators/graph.py``
GRAPH_REPLAYS = (
    "_pagerank_driver",
    "_personalized_pagerank_driver",
    "_hits_driver",
    "_label_propagation_driver",
    "_sssp_driver",
    "_bfs_driver",
    "_kcore_driver",
    "_ktruss_driver",
    "_hash_random_walk_driver",
    "_temporal_earliest_driver",
)


def no_replay(*_args, **_kwargs):
    raise AssertionError("driver replay ran on the distributed path")


@contextlib.contextmanager
def distributed(monkeypatch, module, *replays):
    """Force an operator's distributed rounds: a negative driver cap (even
    an empty frame is past it), and each named replay raises if it runs."""
    from arc_cassandra_pipeline_plugin_spark import functions

    with monkeypatch.context() as m:
        m.setattr(functions, "_DRIVER_EDGE_CAP", -1)
        for name in replays:
            m.setattr(module, name, no_replay)
        yield m


def spy(monkeypatch, module, *replays):
    """Record each call of the named replays (they still run)."""
    calls = []
    for name in replays:
        real = getattr(module, name)

        def record(*args, _real=real, _name=name, **kwargs):
            calls.append(_name)
            return _real(*args, **kwargs)

        monkeypatch.setattr(module, name, record)
    return calls


@pytest.fixture()
def graph_paths(monkeypatch, request):
    """``for path in graph_paths():`` runs the loop body on each path of
    the graph iterates in turn: first the driver replay (the default for a
    graph within the driver cap with integer or string keys; the pass
    fails unless a replay ran), then the distributed rounds. Each pass's
    patches are undone before the next pass, and at teardown if the body
    fails, so one fixture serves every hypothesis example."""
    from arc_cassandra_pipeline_plugin_spark.operators import graph

    def paths():
        with monkeypatch.context() as m:
            request.addfinalizer(m.undo)
            ran = spy(m, graph, *GRAPH_REPLAYS)
            yield "driver"
        assert ran, "no driver replay ran on the driver path"
        with distributed(monkeypatch, graph, *GRAPH_REPLAYS) as m:
            request.addfinalizer(m.undo)
            yield "distributed"

    return paths


@pytest.fixture()
def ctx():
    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext

    return PipelineContext(environment="test")


@pytest.fixture(scope="session")
def known_data(spark):
    """The reference's typed golden rows (TestUtils.scala:127-136; see
    FIXTURES.md §2)."""
    return spark.createDataFrame(_KNOWN_ROWS, schema=_KNOWN_SCHEMA)


@pytest.fixture(scope="session")
def known_data_altered(spark):
    """Altered variant: row 2 differs in booleanDatum and integerDatum only
    (TestUtils.scala:139-150) — the canonical must-fail diff pair."""
    rows = list(_KNOWN_ROWS)
    r2 = list(rows[1])
    r2[0] = True   # booleanDatum flipped
    r2[4] = 35     # integerDatum changed
    rows[1] = tuple(r2)
    return spark.createDataFrame(rows, schema=_KNOWN_SCHEMA)


_KNOWN_SCHEMA = (
    "booleanDatum boolean, dateDatum date, decimalDatum decimal(38,18), "
    "doubleDatum double, integerDatum int, longDatum bigint, stringDatum string, "
    "timeDatum string, timestampDatum timestamp"
)

_KNOWN_ROWS = [
    (
        True,
        datetime.date(2016, 12, 18),
        Decimal("54.321"),
        42.4242,
        17,
        1520828868,
        "test,breakdelimiter",
        "12:34:56",
        datetime.datetime(2017, 12, 20, 21, 46, 54, tzinfo=datetime.timezone.utc),
    ),
    (
        False,
        datetime.date(2016, 12, 19),
        Decimal("12.345"),
        21.2121,
        34,
        1520828123,
        "breakdelimiter,test",
        "23:45:16",
        datetime.datetime(2017, 12, 29, 17, 21, 49, tzinfo=datetime.timezone.utc),
    ),
]


def pytest_sessionfinish(session, exitstatus):
    """Write SUITE_STAMP.json after a FULL clean suite run (the mechanical
    form of the round-close rule "the committed suite figure must come
    from a run at the final source state" — verify any time with
    ``python tools/suite_stamp.py``). Filtered/partial runs don't stamp."""
    config = session.config
    if config.getoption("-k") or config.getoption("-m"):
        return
    # partial-run selectors beyond -k/-m: --lf/--ff replay a subset of the
    # suite, --deselect drops tests — none of these may stamp (ADVICE r10)
    for opt in ("lf", "last_failed", "failedfirst", "ff"):
        try:
            if config.getoption(opt):
                return
        except (ValueError, KeyError):
            pass
    if config.getoption("deselect", default=None):
        return
    # a full run targets the tests dir, the repo root itself, or nothing
    args = [a for a in config.args if not a.startswith("-")]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    full_targets = {"tests", "tests/", os.path.join(root, "tests"), root, "."}
    if args and not all(
        os.path.normpath(os.path.abspath(a))
        in {os.path.normpath(os.path.abspath(t)) for t in full_targets}
        for a in args
    ):
        return
    tr = config.pluginmanager.get_plugin("terminalreporter")
    if tr is None:
        return
    passed = len(tr.stats.get("passed", []))
    failed = len(tr.stats.get("failed", [])) + len(tr.stats.get("error", []))
    skipped = len(tr.stats.get("skipped", []))
    deselected = len(tr.stats.get("deselected", []))
    if passed == 0 or deselected > 0:
        return
    # cross-check: everything collected must have actually run (a plugin
    # that silently drops tests would otherwise stamp a partial run)
    executed = passed + failed + skipped + len(tr.stats.get("xfailed", [])) + len(
        tr.stats.get("xpassed", [])
    )
    collected = getattr(session, "testscollected", executed)
    if collected and executed < collected:
        return
    import json as _json

    sys.path.insert(0, os.path.join(root, "tools"))
    from suite_stamp import source_digest

    stamp = {
        "passed": passed,
        "failed": failed,
        "skipped": skipped,
        "source_digest": source_digest(),
        "when": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
    }
    with open(os.path.join(root, "SUITE_STAMP.json"), "w") as fh:
        _json.dump(stamp, fh, indent=1, sort_keys=True)
