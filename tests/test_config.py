"""Config layer: parse/validate semantics ported from the reference
(CassandraExtract.scala:17-64, CassandraExecute.scala:21-62)."""

from __future__ import annotations

import os

import pytest

from arc_cassandra_pipeline_plugin_spark.config import parse_config
from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.errors import ConfigError
from arc_cassandra_pipeline_plugin_spark.stages import ParquetExtract, SQLTransform
from arc_cassandra_pipeline_plugin_spark.stages.base import inject_parameters
from conftest import no_replay


def test_parse_minimal_pipeline():
    p = parse_config(
        {
            "stages": [
                {
                    "type": "ParquetExtract",
                    "name": "e",
                    "inputURI": "/tmp/x.parquet",
                    "outputView": "v",
                }
            ]
        }
    )
    assert len(p.stages) == 1
    assert isinstance(p.stages[0], ParquetExtract)
    assert p.stages[0].input_uri == "/tmp/x.parquet"


def test_errors_accumulate_across_stages_and_keys():
    """All config problems reported at once (CassandraExtract.scala:58-62)."""
    with pytest.raises(ConfigError) as ei:
        parse_config(
            {
                "stages": [
                    {
                        "type": "ParquetExtract",
                        "name": "e",
                        "numPartitions": "eight",   # wrong type
                        "bogus": 1,                  # unknown key
                        "inputURI": "/x",
                        "outputView": "v",
                    },
                    {"type": "Nope", "name": "f"},   # unknown stage type
                ]
            }
        )
    keys = {(e.stage_index, e.key) for e in ei.value.errors}
    assert (0, "numPartitions") in keys
    assert (0, "bogus") in keys
    assert (1, "type") in keys


def test_save_mode_whitelist():
    """SaveMode whitelist (CassandraLoad.scala:35)."""
    with pytest.raises(ConfigError) as ei:
        parse_config(
            {
                "stages": [
                    {
                        "type": "ParquetLoad",
                        "name": "l",
                        "inputView": "v",
                        "outputURI": "/x",
                        "saveMode": "Truncate",
                    }
                ]
            }
        )
    assert "saveMode" in str(ei.value) or "Truncate" in str(ei.value)


def test_environment_filtering():
    """Stages excluded by environment are dropped (arc.json:6-9)."""
    cfg = {
        "stages": [
            {
                "type": "SQLTransform",
                "name": "prod only",
                "environments": ["production"],
                "sql": "SELECT 1 AS one",
                "outputView": "a",
            },
            {
                "type": "SQLTransform",
                "name": "everywhere",
                "sql": "SELECT 2 AS two",
                "outputView": "b",
            },
        ]
    }
    p = parse_config(cfg, PipelineContext(environment="test"))
    assert [s.name for s in p.stages] == ["everywhere"]
    p2 = parse_config(cfg, PipelineContext(environment="production"))
    assert [s.name for s in p2.stages] == ["prod only", "everywhere"]


def test_env_var_substitution():
    """${PWD}-style substitution in config text (arc.json:10)."""
    os.environ["SPARK_GRAFT_TEST_DIR"] = "/data/here"
    p = parse_config(
        '{"stages": [{"type": "ParquetExtract", "name": "e", '
        '"inputURI": "${SPARK_GRAFT_TEST_DIR}/t.parquet", "outputView": "v"}]}'
    )
    assert p.stages[0].input_uri == "/data/here/t.parquet"


def test_inject_parameters_strict():
    """${param} SQL injection fails on missing keys (CassandraExecute.scala:93)."""
    assert inject_parameters("SELECT * FROM t WHERE k = ${key}", {"key": "5"}) == (
        "SELECT * FROM t WHERE k = 5"
    )
    with pytest.raises(KeyError):
        inject_parameters("SELECT ${missing}", {})


def test_unknown_keys_listed_individually():
    with pytest.raises(ConfigError) as ei:
        parse_config(
            {
                "stages": [
                    {
                        "type": "SQLTransform",
                        "name": "t",
                        "sql": "SELECT 1",
                        "outputView": "v",
                        "first_unknown": 1,
                        "second_unknown": 2,
                    }
                ]
            }
        )
    keys = {e.key for e in ei.value.errors}
    assert {"first_unknown", "second_unknown"} <= keys


def test_optional_id_key_accepted():
    """Every stage accepts an optional 'id' (CassandraLoad.scala:26,
    CassandraExecute.scala:26-27) — reference-ported configs carrying ids
    must parse."""
    p = parse_config(
        {
            "stages": [
                {
                    "type": "SQLTransform",
                    "id": "stage-uuid-001",
                    "name": "t",
                    "sql": "SELECT 1 AS one",
                    "outputView": "v",
                }
            ]
        }
    )
    assert p.stages[0].stage_id == "stage-uuid-001"


def test_structtype_schema_through_dict_config():
    """parse_config(dict) accepts a programmatic StructType for 'schema'
    (the annotation-substring fallback must not reject it)."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("a", T.LongType())])
    p = parse_config(
        {
            "stages": [
                {
                    "type": "ParquetExtract",
                    "name": "e",
                    "inputURI": "/tmp/none.parquet",
                    "outputView": "v",
                    "schema": schema,
                }
            ]
        }
    )
    assert p.stages[0].schema is schema


#: what each config key accepts, written out independently of the stage
#: annotations: a kind per key, and the values of the probe pool it admits
_KINDS = {
    "str": ("s",),
    "bool": (True,),
    "int": (3,),
    "list[str]": (["s"],),
    "map": ({"a": "b"}, {"a": 1}, {"a": {"k": "v"}}),
    "map of maps": ({"a": {"k": "v"}},),
    "scalar": ("s", 3, 2.5),
    "scalar or bool": ("s", 3, 2.5, True),
}
_KEY_KINDS = {
    **dict.fromkeys(
        "name id description outputView inputView inputURI outputURI sql table "
        "keyspace delimiter rowTag rootTag leftView rightView operator saveMode "
        "schema skipIndexColumn skipManifestURI skipBloomColumn "
        "skipBloomManifestURI".split(),
        "str",
    ),
    **dict.fromkeys(
        "persist header inferSchema multiLine wholeText partitionOutput trim "
        "lenient skipSortOutput".split(),
        "bool",
    ),
    **dict.fromkeys("numPartitions numBuckets rowsPerSecond".split(), "int"),
    **dict.fromkeys("environments partitionBy bucketBy sortBy nullableValues".split(), "list[str]"),
    **dict.fromkeys("params sqlParams formatters authentication".split(), "map"),
    "metadata": "map of maps",
    "skipMin": "scalar",
    "skipMax": "scalar",
    "skipBloomValue": "scalar or bool",
}
_POOL = ("s", 3, 2.5, True, ["s"], [1, 2], {"a": "b"}, {"a": 1}, {"a": {"k": "v"}})


def _accepted_keys():
    import dataclasses

    from arc_cassandra_pipeline_plugin_spark.config import _FIELD_TO_KEY
    from arc_cassandra_pipeline_plugin_spark.stages import STAGE_REGISTRY

    for stage_type, cls in sorted(STAGE_REGISTRY.items()):
        for f in dataclasses.fields(cls):
            if f.init and f.name in _FIELD_TO_KEY:
                yield stage_type, _FIELD_TO_KEY[f.name]


@pytest.mark.parametrize("stage_type,key", list(_accepted_keys()))
def test_every_config_key_is_type_checked(stage_type, key):
    """Every key of every registered stage is checked at parse time: each
    wrong-typed probe value gives exactly one error, on that key, and each
    well-typed one parses (a stage that fails only at execute time hides
    the config problem behind the stages before it)."""
    from arc_cassandra_pipeline_plugin_spark.config import instantiate_stage

    good = _KINDS[_KEY_KINDS[key]]
    for value in _POOL:
        ok = any(value == g and type(value) is type(g) for g in good)
        if key == "saveMode" and ok:
            value = "Append"  # the whitelist check is a separate rule
        stage, errors = instantiate_stage(0, {"type": stage_type, "name": "n", key: value})
        if ok:
            assert stage is not None and errors == [], (value, errors)
        else:
            assert [e.key for e in errors] == [key], (value, errors)


# ---------------------------------------------------------------------------
# HOCON-subset config parsing (the reference's config layer is Typesafe
# Config — CassandraLoadSuite.scala:126 ArcPipeline.parseConfig)
# ---------------------------------------------------------------------------

_REFERENCE_ARC_JSON = "/root/reference/src/it/resources/arc.json"


def test_reference_arc_json_parses_verbatim(monkeypatch):
    """The reference's own integration fixture (committed as
    ``tests/arc.json``) parses byte-for-byte, including its ${PWD}
    substitution (arc.json:10). Where the reference checkout is present,
    the committed copy must still match it, whitespace aside."""
    monkeypatch.setenv("PWD", "/jobs")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "arc.json")) as fh:
        text = fh.read()
    if os.path.exists(_REFERENCE_ARC_JSON):
        with open(_REFERENCE_ARC_JSON) as fh:
            assert fh.read().split() == text.split()
    p = parse_config(text)
    assert [s.stage_type for s in p.stages] == ["DelimitedExtract", "CassandraLoad"]
    assert p.stages[0].input_uri == "/jobs/input_data/customer/*.csv"
    assert p.stages[1].params["spark.cassandra.connection.host"] == "localhost"


def test_hocon_variant_of_reference_fixture(monkeypatch):
    """The same pipeline written as idiomatic HOCON (comments, unquoted
    keys, = separators, newline-separated fields, substitutions) parses to
    the same stages as the JSON fixture."""
    monkeypatch.setenv("PWD", "/jobs")
    text = """
// migrated from arc.json — HOCON form
stages = [
  {
    type = DelimitedExtract
    name = "load dog extract"
    environments = [production, test]
    inputURI = ${PWD}/input_data/customer/*.csv   # env substitution + concat
    outputView = dogs
  }
  {
    type = CassandraLoad
    name = "Load data into cassandra database"
    environments = [production, test]
    inputView = dogs
    keyspace = test
    table = dogs
    params {
      "spark.cassandra.connection.host" = localhost
      "spark.cassandra.connection.port" = "9042"
      "spark.cassandra.connection.local_dc" = datacenter1
    }
  }
]
"""
    p = parse_config(text)
    assert [s.stage_type for s in p.stages] == ["DelimitedExtract", "CassandraLoad"]
    assert p.stages[0].input_uri == "/jobs/input_data/customer/*.csv"
    assert p.stages[0].environments == ["production", "test"]
    # quoted dotted keys must NOT nest
    assert p.stages[1].params == {
        "spark.cassandra.connection.host": "localhost",
        "spark.cassandra.connection.port": "9042",
        "spark.cassandra.connection.local_dc": "datacenter1",
    }


def test_hocon_features_doc_substitution_merge_optional():
    from arc_cassandra_pipeline_plugin_spark import hocon

    doc = hocon.loads("""
base { dir = /data, retries = 3 }
base { retries = 5 }            // duplicate object keys deep-merge
job.input = ${base.dir}/in      // doc-internal substitution + concat
job.missing = ${?NOT_SET_ANYWHERE_12345}  // optional → dropped
flag = true
n = 42
ratio = 1.5
text = \"\"\"multi "quoted" line\"\"\"
""")
    assert doc["base"] == {"dir": "/data", "retries": 5}
    assert doc["job"] == {"input": "/data/in"}  # optional key dropped
    assert doc["flag"] is True and doc["n"] == 42 and doc["ratio"] == 1.5
    assert doc["text"] == 'multi "quoted" line'


def test_hocon_unresolved_required_substitution_raises():
    from arc_cassandra_pipeline_plugin_spark import hocon

    import pytest as _pytest
    with _pytest.raises(hocon.HoconError, match="could not resolve"):
        hocon.loads("a = ${NO_SUCH_KEY_OR_ENV_98765}")


def test_hocon_pipeline_runs_end_to_end(spark, tmp_path):
    """A HOCON config drives a real pipeline: parquet extract (stand-in for
    the Cassandra source, which has no driver in this env) → SQL transform
    → parquet load."""
    import os

    from arc_cassandra_pipeline_plugin_spark.pipeline import PipelineContext

    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "out.parquet")
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "k INT, v STRING").write.parquet(src)
    os.environ["HOCON_E2E_SRC"] = src
    try:
        p = parse_config(f"""
stages = [
  {{
    type = ParquetExtract
    name = extract
    inputURI = ${{HOCON_E2E_SRC}}
    outputView = src
  }}
  {{
    type = SQLTransform
    name = transform
    sql = "SELECT v, count(*) AS n FROM src GROUP BY v"
    outputView = agg
  }}
  {{
    type = ParquetLoad
    name = load
    inputView = agg
    outputURI = {out}
    saveMode = Overwrite
  }}
]
""")
        ctx = PipelineContext()
        p.run(spark, ctx)
        got = {(r["v"], r["n"]) for r in spark.read.parquet(out).collect()}
        assert got == {("a", 2), ("b", 1)}
    finally:
        del os.environ["HOCON_E2E_SRC"]


def test_example_configs_parse_and_run(spark, monkeypatch, tmp_path):
    """The shipped example configs (JSON and HOCON twins) must stay
    runnable: parse both, run the HOCON one end-to-end in the test env
    (the production-only load stage is filtered out)."""
    import os

    from arc_cassandra_pipeline_plugin_spark.pipeline import PipelineContext

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")
    ctx = PipelineContext(environment="test")
    for fname in ("pipeline.json", "pipeline.conf"):
        with open(os.path.join(root, fname)) as fh:
            p = parse_config(fh.read(), ctx)
        assert p.stages, fname
    result = p.run(spark, ctx)  # HOCON twin: extract → transform → validate
    assert result.count() == 3


def test_curation_example_pipeline_runs(spark, monkeypatch):
    """The shipped examples/curation.conf (HOCON) parses and runs end-to-end
    in the test environment: extract → SQL scoring → operator-library dedup
    → SQLValidate gates → EqualityValidate determinism audit (ParquetLoad is
    production-only)."""
    import os

    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "examples", "curation.conf")
    with open(path) as f:
        text = f.read()
    ctx = PipelineContext(environment="test")
    p = parse_config(text, ctx)
    assert [s.stage_type for s in p.stages] == [
        "ParquetExtract", "SQLTransform", "OperatorTransform", "SQLValidate",
        "SQLValidate", "EqualityValidate",
    ]
    p.run(spark, ctx)
    assert spark.table("scored_docs").count() > 0
    assert spark.table("dedup_groups").count() > 0


def test_graph_example_pipeline_runs(spark, monkeypatch):
    """The shipped examples/graph.conf (HOCON) parses and runs end-to-end:
    5 extracts → SQL edge build → operator-library PageRank from config →
    SQLValidate fixed-point gate; the config-driven rank equals the direct
    operator call on the same edges. The config reaches the driver replay
    at the default cap, and its ranks are identical to the distributed
    rounds' (forced by a negative cap, with the replay raising)."""
    import os

    from arc_cassandra_pipeline_plugin_spark import functions
    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
    from arc_cassandra_pipeline_plugin_spark.operators import graph

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "examples", "graph.conf")
    with open(path) as f:
        text = f.read()
    replay = graph._pagerank_driver
    ran = []
    monkeypatch.setattr(
        graph, "_pagerank_driver", lambda *a: ran.append(1) or replay(*a)
    )
    rows = {}
    for rank_path in ("driver", "distributed"):
        if rank_path == "distributed":
            monkeypatch.setattr(functions, "_DRIVER_EDGE_CAP", -1)
            monkeypatch.setattr(graph, "_pagerank_driver", no_replay)
        ctx = PipelineContext(environment="test")
        p = parse_config(text, ctx)
        assert [s.stage_type for s in p.stages] == (
            ["ParquetExtract"] * 5 + ["SQLTransform", "OperatorTransform", "SQLValidate"]
        )
        p.run(spark, ctx)
        got = {(r["node"], r["rank"]) for r in spark.table("trade_rank").collect()}
        want = {
            (r["node"], r["rank"])
            for r in graph.pagerank(
                spark.table("trade_edges"), iters=3, damping=0.85
            ).collect()
        }
        assert got == want and len(got) == 25, rank_path
        rows[rank_path] = got
    assert ran == [1, 1]  # the config run and the direct call, driver path
    assert rows["driver"] == rows["distributed"]


def test_dedup_example_pipeline_runs(spark, monkeypatch):
    """The shipped examples/dedup.conf: MinHash → LSH → connected
    components → canonical corpus, all from config; the config-driven
    dedup equals the direct operator-call chain, and the gate holds —
    on the driver-side components path and on the distributed one
    (forced by a negative edge cap)."""
    import os

    from arc_cassandra_pipeline_plugin_spark import functions
    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
    from arc_cassandra_pipeline_plugin_spark.operators import dedup
    from arc_cassandra_pipeline_plugin_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signature,
    )

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "examples", "dedup.conf")
    with open(path) as f:
        text = f.read()
    for cc_path in ("driver", "distributed"):
        if cc_path == "distributed":
            monkeypatch.setattr(functions, "_DRIVER_EDGE_CAP", -1)
            monkeypatch.setattr(dedup, "_min_label_replay", no_replay)
        ctx = PipelineContext(environment="test")
        p = parse_config(text, ctx)
        assert [s.stage_type for s in p.stages] == (
            ["ParquetExtract"] + ["OperatorTransform"] * 3
            + ["SQLTransform", "SQLValidate"]
        )
        p.run(spark, ctx)

        docs = spark.table("documents")
        sig = minhash_signature(docs, num_perm=16, shingle_k=5)
        pairs = lsh_candidate_pairs(sig, num_perm=16, bands=4)
        clusters = connected_components(pairs)
        non_canon = {r["doc_id"] for r in clusters.filter("doc_id <> cluster_id").collect()}
        got = {r["doc_id"] for r in spark.table("deduped_docs").collect()}
        want = {r["doc_id"] for r in docs.collect()} - non_canon
        assert got == want and len(got) > 0, cc_path


def test_linkage_example_pipeline_runs(spark, monkeypatch):
    """The shipped examples/linkage.conf: composite blocked candidate join
    via OperatorTransform blocking.blocked_pair_join (list-typed config
    param), Fellegi-Sunter banding in SQL, and an EqualityValidate gate
    pinning the operator path to a pure-SQL twin. The banded summary
    equals the certified er_fellegi_sunter query's result."""
    import os

    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
    from arc_cassandra_pipeline_plugin_spark.queries import load_all

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "examples", "linkage.conf")
    with open(path) as f:
        text = f.read()
    ctx = PipelineContext(environment="test")
    p = parse_config(text, ctx)
    assert [s.stage_type for s in p.stages] == (
        ["ParquetExtract"] * 2 + ["SQLTransform"] * 2 + ["OperatorTransform"]
        + ["SQLTransform"] * 2 + ["EqualityValidate"]
    )
    p.run(spark, ctx)  # EqualityValidate raises on any mismatch

    got = {tuple(r) for r in spark.table("fs_bands").collect()}
    want = {
        tuple(r)
        for r in load_all()["er_fellegi_sunter"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want and len(got) >= 2
