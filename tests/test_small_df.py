"""``functions.small_df``: driver-built frames round-trip every value type
the call sites pass, keep the type checks of ``createDataFrame``, and plan
as a JVM ``LocalRelation`` (no Python worker, no job to collect).
``functions.per_row``, which lays out its output batches the same way, is
tested here too."""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from arc_cassandra_pipeline_plugin_spark.functions import per_row, small_df
from tests.conftest import SF_SMALL, spark_jobs

_DDL = (
    "i INT, b BIGINT, s STRING, d DOUBLE, m DECIMAL(12,3), dt DATE, "
    "ts TIMESTAMP, tn TIMESTAMP_NTZ"
)

_ROWS = [
    (
        1,
        2**40,
        "a",
        1.5,
        Decimal("123456789.125"),
        datetime.date(2020, 2, 29),
        datetime.datetime(2020, 2, 29, 23, 59, 59, 999999),
        datetime.datetime(2020, 2, 29, 0, 0, 0, 1),
    ),
    (
        -(2**31),
        -(2**63),
        "ünïcödé ✓",
        float("nan"),
        Decimal("-0.001"),
        datetime.date(1969, 12, 31),
        datetime.datetime(1900, 1, 1),
        datetime.datetime(9999, 12, 31, 23, 59, 59),
    ),
    (2**31 - 1, 2**63 - 1, "", -0.0, Decimal("0.000"), datetime.date(1, 1, 1),
     datetime.datetime(1970, 1, 1), datetime.datetime(1970, 1, 1)),
    (None, None, None, None, None, None, None, None),
]


def _cells(rows):
    """Row tuples with NaN made comparable and -0.0 told apart from 0.0."""

    def cell(v):
        if isinstance(v, float):
            return ("nan",) if math.isnan(v) else (v, math.copysign(1.0, v))
        return v

    return [tuple(cell(v) for v in r) for r in rows]


@pytest.mark.parametrize("schema_form", ["ddl", "struct"])
def test_small_df_round_trips_every_type(spark, schema_form):
    schema = _DDL if schema_form == "ddl" else T.StructType.fromDDL(_DDL)
    df = small_df(spark, _ROWS, schema)
    assert df.schema == T.StructType.fromDDL(_DDL)
    assert _cells(df.collect()) == _cells(_ROWS)


def test_small_df_round_trips_collected_timestamps(spark):
    """The streaming sentinel path feeds back values a Spark ``collect()``
    produced, under the frame's own schema."""
    src = spark.sql(
        "SELECT * FROM VALUES "
        "(TIMESTAMP'2024-03-10 02:30:00.123456', TIMESTAMP_NTZ'2024-03-10 02:30:00.5'), "
        "(TIMESTAMP'1899-12-31 23:59:59', TIMESTAMP_NTZ'1899-12-31 23:59:59'), "
        "(CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP_NTZ)) AS t(ts, tn)"
    )
    rows = src.collect()
    df = small_df(spark, rows, src.schema)
    assert df.schema == src.schema
    assert df.collect() == rows
    # the instants, not just their Python rendering, are Spark's
    assert df.selectExpr("unix_micros(ts)").collect() == src.selectExpr(
        "unix_micros(ts)"
    ).collect()


@pytest.mark.parametrize("schema_form", ["ddl", "struct"])
def test_small_df_empty(spark, schema_form):
    schema = _DDL if schema_form == "ddl" else T.StructType.fromDDL(_DDL)
    df = small_df(spark, [], schema)
    assert df.schema == T.StructType.fromDDL(_DDL)
    assert df.collect() == []
    assert df.count() == 0


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([("x",)], "a BIGINT"),
        ([(1,)], "a STRING"),
        ([(1.5,)], "a INT"),
        ([("2020-01-01",)], "a DATE"),
        ([(1, 2)], "a INT"),
        ([(Decimal("1.2345"),)], "a DECIMAL(10,2)"),
    ],
)
def test_small_df_rejects_mismatched_values(spark, rows, ddl):
    with pytest.raises(Exception):
        small_df(spark, rows, ddl).collect()


def test_small_df_rejects_null_in_non_nullable_field(spark):
    schema = T.StructType([T.StructField("a", T.LongType(), nullable=False)])
    with pytest.raises(Exception):
        small_df(spark, [(None,)], schema).collect()


def test_small_df_is_a_jvm_local_relation(spark):
    df = small_df(spark, [(k, float(k)) for k in range(25)], "k INT, v DOUBLE")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    rows, jobs = spark_jobs(spark, df.collect)
    assert jobs == 0
    assert [r["k"] for r in rows] == list(range(25))


@pytest.mark.parametrize(
    "rows, want",
    [
        pytest.param([], [], id="empty-input"),
        pytest.param([(0, b"x")], [], id="row-yields-nothing"),
        pytest.param(
            [(3, b"ab"), (1, None)],
            [(1, 0, None), (3, 0, b"ab"), (3, 1, b"ab"), (3, 2, b"ab")],
            id="fan-out",
        ),
        pytest.param([(2, b""), (-1, b"")], ValueError, id="fn-raises"),
    ],
)
def test_per_row(spark, rows, want):
    def fan_out(k, b):  # nested: the worker cannot import a test module
        if k < 0:
            raise ValueError(f"bad row {k}")
        for i in range(k):
            yield k, i, b

    src = small_df(spark, rows, "k BIGINT, b BINARY")
    out = per_row(src, fan_out, "k BIGINT, i INT, b BINARY")
    assert out.schema == T.StructType.fromDDL("k BIGINT, i INT, b BINARY")
    if want is ValueError:
        with pytest.raises(Exception, match="bad row -1"):
            out.collect()
    else:
        assert sorted(out.collect()) == want


def test_events_grid_dbscan_job_count(spark):
    """One scan of the points into the lazily checkpointed cell grid, one
    bounded collect of it, and a driver-built result with no job to
    collect: 2 jobs for build + collect (9 when the core filter, the
    neighbour join, the component step and the roll-up ran as Spark jobs
    over the cell aggregate)."""
    from arc_cassandra_pipeline_plugin_spark.queries import load_all

    q = load_all()["events_grid_dbscan"]
    q.fn(spark, SF_SMALL).collect()  # schema and fixture caches warm
    _, jobs = spark_jobs(spark, lambda: q.fn(spark, SF_SMALL).collect())
    assert jobs <= 2, jobs


def _dbscan_paths(monkeypatch):
    """events_grid_dbscan with its whole cell grid collected, then past the
    driver cap (a negative one: every grid is past it), where one total
    aggregate and one collect of the core cells feed the same driver tail."""
    from arc_cassandra_pipeline_plugin_spark import functions

    yield "driver"
    with monkeypatch.context() as m:
        m.setattr(functions, "_DRIVER_EDGE_CAP", -1)
        yield "past the cap"


def _dbscan(spark, sf_dir):
    from arc_cassandra_pipeline_plugin_spark.queries import load_all

    df = load_all()["events_grid_dbscan"].fn(spark, sf_dir)
    return df.schema, sorted(df.collect(), key=lambda r: (r[0] is None, r[0]))


def test_events_grid_dbscan_past_the_cap_same_rows_and_schema(spark, monkeypatch):
    results = {path: _dbscan(spark, SF_SMALL) for path in _dbscan_paths(monkeypatch)}
    assert results["driver"] == results["past the cap"]
    assert len(results["driver"][1]) > 1


def test_events_grid_dbscan_null_cells_same_on_both_paths(spark, monkeypatch, tmp_path):
    """A NULL value or ts gives a NULL cell: it forms no pair, and every
    such core cell lands in one NULL cluster. Hour 23 and hour 0 are not
    neighbours (no wrap); a cell under the density threshold is dropped."""
    from pyspark.sql import functions as F

    cells = [  # (value, hour, points)
        (5.0, 0, 3), (15.0, 1, 3),  # adjacent diagonally: one cluster
        (5.0, 23, 3),  # hour 23 does not wrap onto hour 0
        (55.0, 23, 3), (65.0, 0, 3),  # consecutive cell ids, not adjacent
        (105.0, 12, 1200),
        (205.0, 5, 1),  # 1 * 600 <= total: not core
        (None, 1, 3), (15.0, None, 3), (None, None, 3),
    ]
    rows = [(v, h) for v, h, n in cells for _ in range(n)]
    events = spark.createDataFrame(rows, "value DOUBLE, h INT").select(
        "value", F.timestamp_seconds(F.col("h") * 3600).alias("ts")
    )
    events.write.parquet(str(tmp_path / "events.parquet"))
    want = [(0, 2, 6), (23, 1, 3), (143, 1, 3), (144, 1, 3), (252, 1, 1200), (None, 3, 9)]
    results = {}
    for path in _dbscan_paths(monkeypatch):
        results[path] = _dbscan(spark, str(tmp_path))
        assert [tuple(r) for r in results[path][1]] == want, path
    assert results["driver"][0] == results["past the cap"][0]
