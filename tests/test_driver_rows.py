"""``functions.driver_rows``: the one bounded-collect contract that decides
whether a graph or components operator replays its rounds on the driver.
Its job cost is fixed per case, and a node key whose Python semantics are
not Spark's (NaN doubles) never reaches a replay."""

from __future__ import annotations

import math

import pytest

from arc_cassandra_pipeline_plugin_spark import functions as FN
from arc_cassandra_pipeline_plugin_spark.functions import driver_rows
from arc_cassandra_pipeline_plugin_spark.operators import graph as G
from conftest import GRAPH_REPLAYS, no_replay, spark_jobs


def _frame(spark, n, key="BIGINT"):
    """A one-partition, non-local frame of ``n`` rows (collecting it is one
    job), checkpointed as the operators' edge lists are."""
    return (
        spark.range(0, n, 1, 1)
        .selectExpr(f"CAST(id AS {key}) AS k", "id AS v")
        .localCheckpoint(eager=True)
    )


def test_double_key_is_rejected_without_a_job(spark):
    df = _frame(spark, 5, "DOUBLE")
    assert spark_jobs(spark, lambda: driver_rows(df)) == (None, 0)
    assert spark_jobs(spark, lambda: driver_rows(df, 5)) == (None, 0)


def test_observed_count_past_the_cap_runs_no_job(spark):
    df = _frame(spark, 5)
    assert spark_jobs(spark, lambda: driver_rows(df, FN._DRIVER_EDGE_CAP + 1)) == (None, 0)


def test_observed_count_within_the_cap_is_one_collect(spark):
    df = _frame(spark, 5)
    rows, jobs = spark_jobs(spark, lambda: driver_rows(df, 5))
    assert [tuple(r) for r in rows] == [(i, i) for i in range(5)] and jobs == 1


def test_unobserved_count_is_one_bounded_collect(spark, monkeypatch):
    df = _frame(spark, 5)
    rows, jobs = spark_jobs(spark, lambda: driver_rows(df))
    assert [tuple(r) for r in rows] == [(i, i) for i in range(5)] and jobs == 1
    monkeypatch.setattr(FN, "_DRIVER_EDGE_CAP", 4)
    assert spark_jobs(spark, lambda: driver_rows(df)) == (None, 1)


@pytest.mark.parametrize(
    "key, admitted",
    [
        ("CAST(id AS INT)", True),
        ("id", True),
        ("date_add(DATE'2020-01-01', CAST(id AS INT))", True),
        ("CAST(id AS DECIMAL(12,2))", True),
        ("CAST(id AS STRING)", True),
        ("CAST(id AS DOUBLE)", False),
        ("CAST(id AS FLOAT)", False),
        ("timestamp_seconds(id)", False),
        ("collate(CAST(id AS STRING), 'UTF8_LCASE')", False),
    ],
)
def test_key_type_gate(spark, key, admitted):
    df = spark.range(0, 3, 1, 1).selectExpr(f"{key} AS k")
    assert (driver_rows(df) is not None) == admitted


def _iterates(spark):
    nan = float("nan")
    edges = spark.createDataFrame(
        [(nan, 1.0), (1.0, nan), (nan, 2.0), (2.0, 1.0)],
        "src DOUBLE, dst DOUBLE",
    ).selectExpr("src", "dst", "1L AS w", "1L AS cost", "1995L AS et")
    seeds = spark.createDataFrame([(nan,), (2.0,)], "node DOUBLE")
    t_seeds = spark.createDataFrame([(nan, 1990)], "node DOUBLE, t0 BIGINT")
    return {
        "pagerank": lambda: G.pagerank(edges),
        "personalized_pagerank": lambda: G.personalized_pagerank(edges, seeds),
        "hits": lambda: G.hits(edges),
        "label_propagation": lambda: G.label_propagation(edges),
        "sssp_cheapest": lambda: G.sssp_cheapest(edges),
        "bfs_levels": lambda: G.bfs_levels(edges),
        "kcore_vertices": lambda: G.kcore_vertices(edges, k=2),
        "ktruss_edges": lambda: G.ktruss_edges(edges, k=3),
        "hash_random_walk": lambda: G.hash_random_walk(edges),
        "temporal_earliest_arrival": lambda: G.temporal_earliest_arrival(edges, t_seeds),
    }


def _canon(df):
    """Result rows with NaN made comparable (nan != nan in a tuple)."""
    cell = lambda v: "nan" if isinstance(v, float) and math.isnan(v) else v  # noqa: E731
    return sorted((tuple(cell(v) for v in r) for r in df.collect()), key=repr)


def test_nan_keys_never_replay_on_the_driver(spark, monkeypatch):
    """Spark groups every NaN key into one node; a Python dict keeps each
    NaN apart. With double node ids that include NaN, every iterate gives
    the distributed rounds' answer at the default cap, and none of the
    replays runs."""

    for name in GRAPH_REPLAYS:
        monkeypatch.setattr(G, name, no_replay)
    iterates = _iterates(spark)
    got = {name: _canon(run()) for name, run in iterates.items()}
    monkeypatch.setattr(FN, "_DRIVER_EDGE_CAP", -1)
    want = {name: _canon(run()) for name, run in iterates.items()}
    assert got == want
    # NaN is one node: {NaN, 1.0, 2.0}
    assert [r[0] for r in got["pagerank"]] == ["nan", 1.0, 2.0]


@pytest.mark.parametrize(
    "name, jobs",
    [
        ("bfs_levels", 2),
        ("sssp_cheapest", 2),
        ("hits", 3),
        ("kcore_vertices", 2),
        ("ktruss_edges", 2),
    ],
)
def test_within_cap_build_and_collect_jobs(spark, name, jobs):
    """A bounded iterate probes a lazy checkpoint of its rollup, so the
    probe's collect materializes it: building and collecting one of these
    iterates on a 400-edge, 4-partition frame runs a fixed number of
    Spark jobs, one fewer than an eager checkpoint followed by the probe.
    hits stays at 3: its rollup is a projection that keeps the input's 4
    partitions, which the bounded collect reads in more than one job."""
    edges = spark.range(0, 400, 1, 4).selectExpr(
        "id % 60 AS src", "(id * 7 + 3) % 60 AS dst", "id % 5 + 1 AS w", "id % 5 + 1 AS cost"
    )
    run = {
        "bfs_levels": lambda: G.bfs_levels(edges),
        "sssp_cheapest": lambda: G.sssp_cheapest(edges),
        "hits": lambda: G.hits(edges),
        "kcore_vertices": lambda: G.kcore_vertices(edges, k=2),
        "ktruss_edges": lambda: G.ktruss_edges(edges, k=2),
    }[name]
    rows, n = spark_jobs(spark, lambda: run().collect())
    assert rows and n == jobs, (len(rows), n)
