"""Stage semantics: parity behaviors ported from the reference
(repartition matrix, save modes + truncate gate, immutable views,
streaming guards, persist + metrics, error wrapping, execute DDL)."""

from __future__ import annotations

import pytest

from arc_cassandra_pipeline_plugin_spark.config import parse_config
from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.errors import DetailException
from arc_cassandra_pipeline_plugin_spark.stages import (
    CassandraLoad,
    DelimitedExtract,
    OperatorTransform,
    ParquetExtract,
    ParquetLoad,
    PythonTransform,
    SQLExecute,
    SQLTransform,
)
from tests.conftest import SF_SMALL, spark_jobs


def test_extract_repartition_matrix(spark, ctx):
    """numPartitions / partitionBy combinations (CassandraExtract.scala:107-122)."""
    base = dict(input_uri=f"{SF_SMALL}/nation.parquet", output_view="nation_rp")
    df = ParquetExtract(name="a", num_partitions=4, **base).execute(spark, ctx)
    assert df.rdd.getNumPartitions() == 4
    df = ParquetExtract(name="b", partition_by=["n_regionkey"], num_partitions=3, **base).execute(
        spark, ctx
    )
    assert df.rdd.getNumPartitions() == 3
    df = ParquetExtract(name="c", **base).execute(spark, ctx)
    assert df.count() == 25


#: every ViewStage, each publishing the 5-row, 2-column region table
_PERSISTED = {
    "ParquetExtract": (ParquetExtract, dict(input_uri=f"{SF_SMALL}/region.parquet")),
    "SQLTransform": (SQLTransform, dict(sql="SELECT * FROM region_src")),
    "OperatorTransform": (
        OperatorTransform,
        dict(
            operator="sampling.deterministic_sample",
            input_view="region_src",
            params={"key_col": "r_regionkey", "fraction": "1.0"},
        ),
    ),
    "PythonTransform": (PythonTransform, dict(input_view="region_src", fn=lambda df: df)),
}


@pytest.mark.parametrize("stage", list(_PERSISTED))
def test_view_stage_persist_records_metrics(spark, ctx, stage):
    """Persist comes before the forced count, so the count fills the cache
    (CassandraExtract.scala:130-133)."""
    ParquetExtract(
        name="src", input_uri=f"{SF_SMALL}/region.parquet", output_view="region_src"
    ).execute(spark, ctx)
    cls, kwargs = _PERSISTED[stage]
    st = cls(name="p", output_view="region_persist", persist=True, **kwargs)
    df = st.execute(spark, ctx)
    detail = st.stage_detail.as_dict()
    assert detail["records"] == 5
    assert detail["outputColumns"] == 2
    assert df.storageLevel.useMemory
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    assert cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    df.unpersist()


def test_stage_metrics_execute_no_query(spark, ctx, tmp_path):
    """A transform's metrics run no Spark job: ``numPartitions`` would
    convert the plan to an RDD, which runs its shuffle stages under AQE.
    Only the reference's two instrumentation sites, extract and load,
    record it."""
    ParquetExtract(
        name="e", input_uri=f"{SF_SMALL}/nation.parquet", output_view="nation_jobs"
    ).execute(spark, ctx)
    agg = SQLTransform(
        name="agg",
        sql="SELECT n_regionkey, count(*) AS n FROM nation_jobs GROUP BY n_regionkey",
        output_view="nation_agg",
    )
    dedup = OperatorTransform(
        name="dedup",
        operator="dedup.exact_dedup",
        input_view="nation_jobs",
        output_view="nation_dedup",
        params={"text_col": "n_name", "id_col": "n_nationkey"},
    )
    for st in (agg, dedup):
        assert spark_jobs(spark, lambda: st.execute(spark, ctx))[1] == 0, st.name
        assert "numPartitions" not in st.stage_detail.as_dict()

    ext = ParquetExtract(
        name="e3",
        input_uri=f"{SF_SMALL}/nation.parquet",
        output_view="nation_jobs3",
        num_partitions=3,
    )
    ext.execute(spark, ctx)
    assert ext.stage_detail.as_dict()["numPartitions"] == 3
    load = ParquetLoad(name="l", input_view="nation_agg", output_uri=str(tmp_path / "agg"))
    load.execute(spark, ctx)
    assert load.stage_detail.as_dict()["numPartitions"] >= 1
    assert load.stage_detail.as_dict()["records"] == 5


def test_streaming_guard_on_extract(spark):
    """Streaming context → empty frame, source untouched
    (CassandraExtract.scala:92-94)."""
    sctx = PipelineContext(is_streaming=True)
    df = ParquetExtract(
        name="s", input_uri="/definitely/not/there.parquet", output_view="sguard"
    ).execute(spark, sctx)
    assert df.count() == 0


def test_immutable_views(spark):
    """createTempView raises on duplicates in immutable mode
    (CassandraExtract.scala:123)."""
    ictx = PipelineContext(immutable_views=True)
    base = dict(input_uri=f"{SF_SMALL}/region.parquet", output_view="imm_v")
    ParquetExtract(name="a", **base).execute(spark, ictx)
    with pytest.raises(DetailException):
        ParquetExtract(name="b", **base).execute(spark, ictx)
    spark.catalog.dropTempView("imm_v")


def test_load_roundtrip_save_modes(spark, ctx, tmp_path):
    out = str(tmp_path / "nation_out")
    ParquetExtract(
        name="e", input_uri=f"{SF_SMALL}/nation.parquet", output_view="nation_sm"
    ).execute(spark, ctx)
    load = dict(input_view="nation_sm", output_uri=out)
    ParquetLoad(name="l1", save_mode="Overwrite", **load).execute(spark, ctx)
    ParquetLoad(name="l2", save_mode="Append", **load).execute(spark, ctx)
    assert spark.read.parquet(out).count() == 50  # 25 + 25
    with pytest.raises(DetailException):
        ParquetLoad(name="l3", save_mode="ErrorIfExists", **load).execute(spark, ctx)
    ParquetLoad(name="l4", save_mode="Ignore", **load).execute(spark, ctx)
    assert spark.read.parquet(out).count() == 50  # ignored


def test_cassandra_load_truncate_gate(spark, ctx):
    """Overwrite without confirm.truncate refused (CassandraLoadSuite.scala:104)."""
    ParquetExtract(
        name="e", input_uri=f"{SF_SMALL}/region.parquet", output_view="region_tg"
    ).execute(spark, ctx)
    st = CassandraLoad(
        name="cl", input_view="region_tg", table="t", keyspace="k", save_mode="Overwrite"
    )
    with pytest.raises(DetailException) as ei:
        st.execute(spark, ctx)
    assert "confirm.truncate" in str(ei.value)


def test_streaming_load_noop(spark):
    """Streaming input view → write skipped entirely (CassandraLoad.scala:108-109)."""
    sdf = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    sdf.createOrReplaceTempView("rate_v")
    st = ParquetLoad(
        name="l", input_view="rate_v", output_uri="/tmp/never-written", save_mode="Overwrite"
    )
    result = st.execute(spark, PipelineContext())
    assert result is not None and result.isStreaming
    assert st.stage_detail.as_dict().get("streamingSkipped") is True


def test_error_wrapping_preserves_message(spark, ctx):
    """Wrapped exceptions keep the engine's message intact
    (CassandraExecuteSuite.scala:96 asserts the server's parser message)."""
    st = SQLTransform(name="bad", sql="SELEKT 1", output_view="x")
    with pytest.raises(DetailException) as ei:
        st.execute(spark, ctx)
    assert "SELEKT" in str(ei.value) or "Syntax error" in str(ei.value)
    assert ei.value.stage_detail["name"] == "bad"


def test_sql_execute_ddl_and_param_injection(spark, ctx, tmp_path):
    """Execute stage: DDL side effect, no DataFrame returned
    (CassandraExecute.scala:110); ${param} injection (:93)."""
    sql_file = tmp_path / "ddl.sql"
    sql_file.write_text("CREATE DATABASE IF NOT EXISTS ${db_name}")
    st = SQLExecute(name="x", input_uri=str(sql_file), sql_params={"db_name": "graft_db"})
    assert st.execute(spark, ctx) is None
    assert spark.catalog.databaseExists("graft_db")
    spark.sql("DROP DATABASE graft_db")


def test_delimited_extract_all_string(spark, ctx, tmp_path):
    """CSV without inferSchema reads all-string, matching the reference
    (CassandraLoadSuite.scala:63; FIXTURES.md §1)."""
    csv = tmp_path / "dogs.csv"
    csv.write_text("breed,height_low_inches\nBeagle,13\nBorzoi,26\n")
    df = DelimitedExtract(name="d", input_uri=str(csv), output_view="dogs_v").execute(
        spark, ctx
    )
    assert df.count() == 2
    assert all(f.dataType.simpleString() == "string" for f in df.schema)


def test_declarative_roundtrip_last_frame_wins(spark, ctx, tmp_path):
    """Style-1 end-to-end (CassandraLoadSuite.scala:58-141): declarative
    config, Execute→Transform→Load→Extract, pipeline result is the last
    stage's frame and the written data round-trips."""
    out = str(tmp_path / "rt")
    cfg = {
        "stages": [
            {
                "type": "ParquetExtract",
                "name": "ex",
                "inputURI": f"{SF_SMALL}/customer.parquet",
                "outputView": "cust_rt",
            },
            {
                "type": "SQLTransform",
                "name": "tx",
                "sql": "SELECT c_mktsegment, count(*) AS n FROM cust_rt GROUP BY c_mktsegment",
                "outputView": "seg_rt",
            },
            {
                "type": "ParquetLoad",
                "name": "ld",
                "inputView": "seg_rt",
                "outputURI": out,
                "saveMode": "Overwrite",
            },
            {
                "type": "ParquetExtract",
                "name": "ex2",
                "inputURI": out,
                "outputView": "check_rt",
            },
        ]
    }
    result = parse_config(cfg, ctx).run(spark, ctx)
    assert result is not None
    assert result.count() == spark.table("seg_rt").count()


def test_orc_roundtrip(spark, ctx, tmp_path):
    """ORC extract/load parity with parquet (same pushdown class)."""
    from arc_cassandra_pipeline_plugin_spark.stages import ORCExtract, ORCLoad

    out = str(tmp_path / "nation_orc")
    ParquetExtract(
        name="e", input_uri=f"{SF_SMALL}/nation.parquet", output_view="nation_orc_v"
    ).execute(spark, ctx)
    ORCLoad(name="l", input_view="nation_orc_v", output_uri=out, save_mode="Overwrite").execute(
        spark, ctx
    )
    back = ORCExtract(name="x", input_uri=out, output_view="nation_orc_back").execute(
        spark, ctx
    )
    assert back.count() == 25
    assert set(back.columns) == {"n_nationkey", "n_name", "n_regionkey"}


def test_typing_transform_dogs_pattern(spark, ctx, tmp_path):
    """The reference's ingestion shape: all-string CSV → typed frame
    (dogs fixture pattern, FIXTURES.md §1) with trim + nullableValues +
    a date formatter (KnownData vocabulary, TestUtils.scala:174-349)."""
    from arc_cassandra_pipeline_plugin_spark.stages import TypingTransform

    csv = tmp_path / "dogs.csv"
    csv.write_text(
        "breed,height_low_inches,registered\n"
        "Beagle, 13 ,2016-12-18\n"
        "Borzoi,26,null\n"
        "Pug,,2016-12-19\n"
    )
    DelimitedExtract(name="d", input_uri=str(csv), output_view="dogs_raw").execute(spark, ctx)
    typed = TypingTransform(
        name="t",
        input_view="dogs_raw",
        output_view="dogs_typed",
        schema="breed string, height_low_inches int, registered date",
        formatters={"registered": "yyyy-MM-dd"},
    ).execute(spark, ctx)
    assert [f.dataType.simpleString() for f in typed.schema] == ["string", "int", "date"]
    rows = {r["breed"]: r for r in typed.collect()}
    assert rows["Beagle"]["height_low_inches"] == 13        # trimmed " 13 "
    assert rows["Borzoi"]["registered"] is None              # "null" → null
    assert rows["Pug"]["height_low_inches"] is None          # "" → null
    assert str(rows["Pug"]["registered"]) == "2016-12-19"


def test_metadata_transform_survives_parquet(spark, ctx, tmp_path):
    from arc_cassandra_pipeline_plugin_spark.stages import MetadataTransform

    ParquetExtract(
        name="e", input_uri=f"{SF_SMALL}/region.parquet", output_view="region_md"
    ).execute(spark, ctx)
    meta = {"r_name": {"description": "region name", "private": False, "securityLevel": 0}}
    out = MetadataTransform(
        name="m", input_view="region_md", output_view="region_md_out", metadata=meta
    ).execute(spark, ctx)
    assert out.schema["r_name"].metadata["description"] == "region name"

    path = str(tmp_path / "md_roundtrip")
    ParquetLoad(name="l", input_view="region_md_out", output_uri=path, save_mode="Overwrite").execute(spark, ctx)
    back = spark.read.parquet(path)
    assert back.schema["r_name"].metadata["description"] == "region name"


def test_typing_transform_declarative(spark, ctx, tmp_path):
    """TypingTransform reachable from config with formatters dict."""
    csv = tmp_path / "in.csv"
    csv.write_text("a,b\n1,2.5\n")
    cfg = {
        "stages": [
            {"type": "DelimitedExtract", "name": "e", "inputURI": str(csv), "outputView": "tt_raw"},
            {
                "type": "TypingTransform",
                "name": "t",
                "inputView": "tt_raw",
                "outputView": "tt_typed",
                "schema": "a int, b double",
            },
        ]
    }
    out = parse_config(cfg, ctx).run(spark, ctx)
    assert [f.dataType.simpleString() for f in out.schema] == ["int", "double"]


def test_typing_transform_lenient_vs_strict(spark, ctx, tmp_path):
    """lenient=True: malformed values -> null (Arc typing-error model);
    lenient=False: job fails fast under ANSI."""
    from arc_cassandra_pipeline_plugin_spark.stages import TypingTransform

    csv = tmp_path / "bad.csv"
    csv.write_text("a,d\n12,2020-01-01\nnot_a_number,also_bad\n")
    DelimitedExtract(name="e", input_uri=str(csv), output_view="bad_raw").execute(spark, ctx)

    out = TypingTransform(
        name="t", input_view="bad_raw", output_view="bad_typed",
        schema="a int, d date", formatters={"d": "yyyy-MM-dd"},
    ).execute(spark, ctx)
    rows = sorted(out.collect(), key=lambda r: (r["a"] is None, r["a"] or 0))
    assert rows[0]["a"] == 12 and str(rows[0]["d"]) == "2020-01-01"
    assert rows[1]["a"] is None and rows[1]["d"] is None  # malformed -> null

    strict = TypingTransform(
        name="s", input_view="bad_raw", output_view="bad_strict",
        schema="a int", lenient=False,
    )
    # strict cast errors surface lazily at the first action (ANSI mode)
    strict_df = strict.execute(spark, ctx)
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        strict_df.collect()


# ---------------------------------------------------------------------------
# authenticated SQL-from-URI (CassandraExecute.scala:29,31-32:
# readAuthentication → textContentForURI)
# ---------------------------------------------------------------------------

def _serve_sql_with_auth(expected_header: str, body: str = "SELECT 1 AS one"):
    """One-shot local HTTP server that returns SQL only for the expected
    Authorization header; 401 otherwise."""
    import http.server
    import threading

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.headers.get("Authorization") != expected_header:
                self.send_response(401)
                self.end_headers()
                return
            payload = body.encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):  # keep test output quiet
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_port}/q.sql"


def test_sql_from_uri_bearer_auth():
    from arc_cassandra_pipeline_plugin_spark.stages.base import resolve_sql_input

    srv, url = _serve_sql_with_auth("Bearer tok-123")
    try:
        text = resolve_sql_input(
            None, url, {}, authentication={"method": "BearerToken", "token": "tok-123"}
        )
        assert text == "SELECT 1 AS one"
    finally:
        srv.shutdown()


def test_sql_from_uri_basic_auth_and_rejection():
    import base64
    import urllib.error

    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.stages.base import resolve_sql_input

    cred = base64.b64encode(b"alice:s3cret").decode()
    srv, url = _serve_sql_with_auth(f"Basic {cred}")
    try:
        text = resolve_sql_input(
            None, url, {},
            authentication={"method": "BasicAuth", "username": "alice", "password": "s3cret"},
        )
        assert text == "SELECT 1 AS one"
        # wrong/absent credentials are a hard failure, not silent empty SQL
        with _pytest.raises(urllib.error.HTTPError):
            resolve_sql_input(None, url, {})
    finally:
        srv.shutdown()


def test_unknown_auth_method_raises():
    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.stages.base import build_auth_headers

    with _pytest.raises(ValueError, match="unsupported authentication method"):
        build_auth_headers({"method": "AmazonIAM"})


def test_authenticated_sqltransform_via_config(spark, ctx):
    """End-to-end: a config-declared SQLTransform pulls its SQL from an
    authenticated URI and runs it."""
    from arc_cassandra_pipeline_plugin_spark.config import parse_config

    srv, url = _serve_sql_with_auth("Bearer cfg-tok", "SELECT 41 + 1 AS answer")
    try:
        p = parse_config(
            {
                "stages": [
                    {
                        "type": "SQLTransform",
                        "name": "t",
                        "inputURI": url,
                        "authentication": {"method": "BearerToken", "token": "cfg-tok"},
                        "outputView": "answer_v",
                    }
                ]
            }
        )
        p.run(spark, ctx)
        assert spark.table("answer_v").collect()[0]["answer"] == 42
    finally:
        srv.shutdown()


def test_sql_validate_pass_and_fail(spark, ctx):
    from arc_cassandra_pipeline_plugin_spark.stages import SQLValidate

    SQLValidate(name="ok", sql="SELECT true AS valid, 'all good' AS message").execute(spark, ctx)

    import pytest as _pytest
    with _pytest.raises(Exception, match="0 rows short"):
        SQLValidate(
            name="bad",
            sql="SELECT false AS valid, '0 rows short' AS message",
        ).execute(spark, ctx)
    # contract violations are their own errors
    with _pytest.raises(Exception, match="exactly 1 row"):
        SQLValidate(name="two", sql="SELECT true AS v UNION ALL SELECT false").execute(spark, ctx)
    with _pytest.raises(Exception, match="boolean first column"):
        SQLValidate(name="notbool", sql="SELECT 1 AS v").execute(spark, ctx)


def test_sql_validate_json_message_detail(spark, ctx):
    from arc_cassandra_pipeline_plugin_spark.stages import SQLValidate

    st = SQLValidate(
        name="jm",
        sql="""SELECT true AS valid, to_json(named_struct('checked', 42, 'failed', 0)) AS message""",
    )
    st.execute(spark, ctx)
    assert st.stage_detail.data["message"] == {"checked": 42, "failed": 0}


def test_sql_validate_declarative_config(spark, ctx):
    """SQLValidate parses from declarative config and gates the pipeline."""
    from arc_cassandra_pipeline_plugin_spark.config import parse_config

    p = parse_config(
        {
            "stages": [
                {"type": "SQLTransform", "name": "t",
                 "sql": "SELECT 1 AS one", "outputView": "v_ok"},
                {"type": "SQLValidate", "name": "gate",
                 "sql": "SELECT count(*) = 1 AS valid, 'rowcount' AS message FROM v_ok"},
            ]
        }
    )
    p.run(spark, ctx)


def test_equality_validate_pass_fail_and_config(spark, ctx):
    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.config import parse_config
    from arc_cassandra_pipeline_plugin_spark.stages import EqualityValidate

    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").createOrReplaceTempView("eq_l")
    spark.createDataFrame([(2, "b"), (1, "a")], "k int, v string").createOrReplaceTempView("eq_r")
    spark.createDataFrame([(1, "a"), (3, "c")], "k int, v string").createOrReplaceTempView("eq_x")
    spark.createDataFrame([(1,)], "k int").createOrReplaceTempView("eq_narrow")

    ok = EqualityValidate(name="same", left_view="eq_l", right_view="eq_r")
    ok.execute(spark, ctx)  # order-insensitive equality passes
    assert ok.stage_detail.as_dict()["left_count"] == 2

    with _pytest.raises(Exception, match="hash groups only in"):
        EqualityValidate(name="diff", left_view="eq_l", right_view="eq_x").execute(spark, ctx)
    with _pytest.raises(Exception, match="column sets differ"):
        EqualityValidate(name="cols", left_view="eq_l", right_view="eq_narrow").execute(spark, ctx)
    with _pytest.raises(Exception, match="requires left_view"):
        EqualityValidate(name="none").execute(spark, ctx)

    # declarative config path (Arc-style camelCase keys)
    p = parse_config(
        '{"stages": [{"type": "EqualityValidate", "name": "gate",'
        ' "environments": ["test"], "leftView": "eq_l", "rightView": "eq_r"}]}',
        ctx,
    )
    p.run(spark, ctx)


def test_operator_transform_runs_whitelisted_operator(spark, ctx):
    """A pure-config pipeline reaches the operator library: ParquetExtract →
    OperatorTransform(dedup.exact_dedup) must equal the direct operator
    call; rightView feeds two-input operators."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.config import parse_config
    from arc_cassandra_pipeline_plugin_spark.operators.dedup import exact_dedup
    from tests.conftest import SF_SMALL

    p = parse_config(
        {
            "stages": [
                {
                    "type": "ParquetExtract",
                    "name": "docs",
                    "inputURI": f"{SF_SMALL}/documents.parquet",
                    "outputView": "docs",
                },
                {
                    "type": "OperatorTransform",
                    "name": "dedup",
                    "operator": "dedup.exact_dedup",
                    "inputView": "docs",
                    "outputView": "groups",
                    "params": {"text_col": "text", "id_col": "doc_id"},
                },
            ]
        }
    )
    p.run(spark, ctx)
    got = {tuple(r) for r in spark.table("groups").collect()}
    want = {
        tuple(r)
        for r in exact_dedup(
            spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        ).collect()
    }
    assert got == want and got

    p2 = parse_config(
        {
            "stages": [
                {
                    "type": "ParquetExtract",
                    "name": "emb",
                    "inputURI": f"{SF_SMALL}/embeddings.parquet",
                    "outputView": "emb",
                },
                {
                    "type": "SQLTransform",
                    "name": "queries",
                    "sql": "SELECT * FROM emb WHERE vec_id < 2",
                    "outputView": "q",
                },
                {
                    "type": "OperatorTransform",
                    "name": "topk",
                    "operator": "similarity.brute_force_topk",
                    "inputView": "emb",
                    "rightView": "q",
                    "outputView": "nn",
                    "params": {"k": 3},
                },
            ]
        }
    )
    p2.run(spark, ctx)
    nn = spark.table("nn")
    assert nn.count() == 6  # 2 queries x top-3
    assert set(nn.columns) == {"query_id", "match_id", "cosine", "rank"}


def test_operator_transform_rejects_non_whitelisted(spark, ctx):
    """Config cannot escape the operator whitelist: wrong module, private
    name, missing dot, and non-frame results all fail loudly."""
    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.stages.transform import OperatorTransform

    spark.range(3).createOrReplaceTempView("v3")
    for bad in ["os.system", "dedup._setsim_expand", "exact_dedup", "sampling..x"]:
        st = OperatorTransform(name="x", operator=bad, input_view="v3", output_view="o")
        with _pytest.raises(Exception, match="OperatorTransform"):
            st.execute(spark, ctx)
    # frame-to-scalar operator (bloom_build returns a list) is rejected
    st = OperatorTransform(
        name="x", operator="bloom.bloom_build", input_view="v3", output_view="o",
        params={"key_col": "id"},
    )
    with _pytest.raises(Exception, match="not a DataFrame"):
        st.execute(spark, ctx)


def test_operator_transform_reaches_linalg(spark, ctx):
    """The linalg module is reachable from config: a declarative pipeline
    computing the top principal component equals the direct operator
    call."""
    from arc_cassandra_pipeline_plugin_spark.config import parse_config
    from arc_cassandra_pipeline_plugin_spark.operators.linalg import (
        power_iteration_top_component,
    )
    from arc_cassandra_pipeline_plugin_spark.sources import load_table
    from tests.conftest import SF_SMALL

    p = parse_config(
        {
            "stages": [
                {
                    "type": "ParquetExtract",
                    "name": "emb",
                    "inputURI": f"{SF_SMALL}/embeddings.parquet",
                    "outputView": "emb_pca_in",
                },
                {
                    "type": "OperatorTransform",
                    "name": "pca",
                    "operator": "linalg.power_iteration_top_component",
                    "inputView": "emb_pca_in",
                    "outputView": "pca_out",
                    "params": {"iters": "2"},
                },
            ]
        }
    )
    p.run(spark, ctx)
    got = {tuple(r) for r in spark.table("pca_out").collect()}
    # "2" (config string) must reach the operator as int 2 — typed binding
    want = {
        tuple(r)
        for r in power_iteration_top_component(
            load_table(spark, SF_SMALL, "embeddings"), iters=2
        ).collect()
    }
    assert got == want and len(got) == 64


def test_parquet_extract_skipping_index_prunes_files(spark, ctx, tmp_path):
    """The min/max skipping index must (a) read strictly fewer files than
    the layout holds, (b) return exactly the full-scan-with-filter result,
    (c) record the pruning metrics, (d) reuse a persisted manifest without
    touching skipped data files."""
    from pyspark.sql import functions as F

    # range-partition so per-file min/max stats are disjoint (a hash layout
    # overlaps every file's range and nothing could be skipped)
    src2 = str(tmp_path / "orders_ranged")
    (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .repartitionByRange(8, "o_totalprice")
        .write.mode("overwrite")
        .parquet(src2)
    )
    lo, hi = 50_000.0, 80_000.0
    full = (
        spark.read.parquet(src2)
        .filter((F.col("o_totalprice") >= lo) & (F.col("o_totalprice") <= hi))
    )
    want = {tuple(r) for r in full.collect()}

    manifest = str(tmp_path / "manifest")
    st = ParquetExtract(
        name="skip",
        input_uri=src2,
        output_view="orders_skip",
        skip_index_col="o_totalprice",
        skip_min=lo,
        skip_max=hi,
        skip_manifest_uri=manifest,
    )
    df = st.execute(spark, ctx)
    got = {tuple(r) for r in df.collect()}
    assert got == want and len(want) > 50
    d = st.stage_detail.as_dict()
    assert d["skipIndexFilesTotal"] >= 8
    assert 0 < d["skipIndexFilesRead"] < d["skipIndexFilesTotal"]
    # the physical scan reads only the surviving files
    assert len(df.inputFiles()) == d["skipIndexFilesRead"]

    # second run: manifest is consulted (no rebuild), same result
    st2 = ParquetExtract(
        name="skip2",
        input_uri=src2,
        output_view="orders_skip2",
        skip_index_col="o_totalprice",
        skip_min=lo,
        skip_max=hi,
        skip_manifest_uri=manifest,
    )
    df2 = st2.execute(spark, ctx)
    assert {tuple(r) for r in df2.collect()} == want
    assert st2.stage_detail.as_dict()["skipIndexFilesRead"] == d["skipIndexFilesRead"]

    # empty intersection → zero rows, schema intact
    st3 = ParquetExtract(
        name="skip3",
        input_uri=src2,
        output_view="orders_skip3",
        skip_index_col="o_totalprice",
        skip_min=1e12,
    )
    df3 = st3.execute(spark, ctx)
    assert df3.count() == 0 and df3.columns == df.columns
    assert st3.stage_detail.as_dict()["skipIndexFilesRead"] == 0


def test_parquet_extract_skipping_index_declarative(spark, ctx, tmp_path):
    """skipIndexColumn/skipMin/skipMax flow through the config layer."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "ranged")
    (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .repartitionByRange(6, "o_orderkey")
        .write.mode("overwrite")
        .parquet(src)
    )
    p = parse_config(
        {
            "stages": [
                {
                    "type": "ParquetExtract",
                    "name": "e",
                    "inputURI": src,
                    "outputView": "orders_skip_decl",
                    "skipIndexColumn": "o_orderkey",
                    "skipMin": 100,
                    "skipMax": 900,
                }
            ]
        }
    )
    p.run(spark, ctx)
    got = spark.table("orders_skip_decl")
    want = (
        spark.read.parquet(src)
        .filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") <= 900))
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    assert len(got.inputFiles()) < len(want.inputFiles())


def test_parquet_load_builds_skipping_manifest_extract_consumes(spark, ctx, tmp_path):
    """The full lakehouse data-skipping loop through the declarative
    pipeline: ParquetLoad range-sorts the output on the index column and
    persists the per-file min/max manifest; ParquetExtract consults that
    manifest (no rebuild) and prunes files."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.stages import ParquetLoad

    spark.read.parquet(f"{SF_SMALL}/orders.parquet").createOrReplaceTempView(
        "orders_for_skip_load"
    )
    out = str(tmp_path / "landed")
    manifest = str(tmp_path / "manifest")
    ld = ParquetLoad(
        name="land",
        input_view="orders_for_skip_load",
        output_uri=out,
        num_partitions=8,
        skip_index_col="o_orderkey",
        skip_manifest_uri=manifest,
        skip_sort_output=True,
    )
    ld.execute(spark, ctx)
    d = ld.stage_detail.as_dict()
    assert d["skipIndexFilesIndexed"] >= 8
    man = spark.read.parquet(manifest)
    assert set(man.columns) == {"file_path", "min_val", "max_val"}
    # range-sorted output → file ranges are (near-)disjoint: every file
    # cannot span the whole key space
    rows = man.collect()
    full_lo = min(r["min_val"] for r in rows)
    full_hi = max(r["max_val"] for r in rows)
    spanning = [r for r in rows if r["min_val"] == full_lo and r["max_val"] == full_hi]
    assert not spanning

    st = ParquetExtract(
        name="consume",
        input_uri=out,
        output_view="orders_skip_loop",
        skip_index_col="o_orderkey",
        skip_min=100,
        skip_max=600,
        skip_manifest_uri=manifest,
    )
    df = st.execute(spark, ctx)
    want = (
        spark.read.parquet(out)
        .filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") <= 600))
    )
    assert {tuple(r) for r in df.collect()} == {tuple(r) for r in want.collect()}
    sd = st.stage_detail.as_dict()
    assert 0 < sd["skipIndexFilesRead"] < sd["skipIndexFilesTotal"]
    assert len(df.inputFiles()) == sd["skipIndexFilesRead"]


def test_operator_transform_reaches_multimodal_and_spatial(spark, ctx):
    """The whitelist covers the full operator library: a pure-config
    pipeline can chain multimodal kernels (synthesize -> patchify) and the
    results equal the direct operator calls."""
    from arc_cassandra_pipeline_plugin_spark.config import parse_config
    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M
    from tests.conftest import SF_SMALL

    p = parse_config(
        {
            "stages": [
                {
                    "type": "ParquetExtract",
                    "name": "docs",
                    "inputURI": f"{SF_SMALL}/documents.parquet",
                    "outputView": "docs_mm",
                },
                {
                    "type": "SQLTransform",
                    "name": "ids",
                    "sql": "SELECT doc_id FROM docs_mm WHERE doc_id < 20",
                    "outputView": "ids_mm",
                },
                {
                    "type": "OperatorTransform",
                    "name": "synth",
                    "operator": "multimodal.synthesize_bmp_assets",
                    "inputView": "ids_mm",
                    "outputView": "assets_mm",
                },
                {
                    "type": "OperatorTransform",
                    "name": "patches",
                    "operator": "multimodal.bmp_patches",
                    "inputView": "assets_mm",
                    "outputView": "patches_mm",
                    "params": {"patch": 2},
                },
            ]
        }
    )
    p.run(spark, ctx)
    got = {tuple(r) for r in spark.table("patches_mm").collect()}
    ids = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        "doc_id < 20"
    ).select("doc_id")
    want = {
        tuple(r) for r in M.bmp_patches(M.synthesize_bmp_assets(ids), patch=2).collect()
    }
    assert got == want and got


def test_parquet_extract_stale_manifest_rebuilds(spark, ctx, tmp_path):
    """A persisted manifest must be validated against the live listing:
    files APPENDED after the manifest was built must appear in results
    (not silently excluded), and files COMPACTED AWAY must not crash the
    pruned read — both via an in-place rebuild."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "orders_ranged")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
        4, "o_totalprice"
    ).write.mode("overwrite").parquet(src)

    manifest = str(tmp_path / "manifest")
    lo, hi = 50_000.0, 80_000.0

    def run(tag):
        st = ParquetExtract(
            name=tag, input_uri=src, output_view=tag,
            skip_index_col="o_totalprice", skip_min=lo, skip_max=hi,
            skip_manifest_uri=manifest,
        )
        df = st.execute(spark, ctx)
        return {tuple(r) for r in df.collect()}, st.stage_detail.as_dict()

    got1, d1 = run("stale1")

    # APPEND new files the manifest has never seen
    odd = orders.filter(F.col("o_orderkey") % 2 == 1)
    odd.repartitionByRange(2, "o_totalprice").write.mode("append").parquet(src)
    want2 = {
        tuple(r)
        for r in spark.read.parquet(src)
        .filter((F.col("o_totalprice") >= lo) & (F.col("o_totalprice") <= hi))
        .collect()
    }
    got2, d2 = run("stale2")
    assert got2 == want2 and len(got2) > len(got1)
    assert d2["skipIndexFilesTotal"] > d1["skipIndexFilesTotal"]

    # COMPACT the layout (fewer, different files): pruned read must not
    # point at dead paths
    compacted = spark.read.parquet(src).repartitionByRange(2, "o_totalprice")
    compacted.write.mode("overwrite").parquet(str(tmp_path / "tmp_swap"))
    spark.read.parquet(str(tmp_path / "tmp_swap")).write.mode("overwrite").parquet(src)
    got3, d3 = run("stale3")
    assert got3 == want2
    assert d3["skipIndexFilesTotal"] < d2["skipIndexFilesTotal"]


def test_parquet_extract_skipping_preserves_partition_columns(spark, ctx, tmp_path):
    """File-level pruning on a hive-partitioned layout must keep the
    partition columns in the schema (basePath on the pruned read) and
    return the exact full-scan result."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "orders_hive")
    (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .withColumn("opri", F.col("o_orderpriority"))
        .repartitionByRange(4, "o_totalprice")
        .write.mode("overwrite")
        .partitionBy("opri")
        .parquet(src)
    )
    lo = 150_000.0
    full = spark.read.parquet(src).filter(F.col("o_totalprice") >= lo)
    want = {tuple(r) for r in full.select(sorted(full.columns)).collect()}

    st = ParquetExtract(
        name="hiveskip", input_uri=src, output_view="orders_hiveskip",
        skip_index_col="o_totalprice", skip_min=lo,
    )
    df = st.execute(spark, ctx)
    assert "opri" in df.columns
    got = {tuple(r) for r in df.select(sorted(df.columns)).collect()}
    assert got == want and len(want) > 10
    d = st.stage_detail.as_dict()
    assert 0 < d["skipIndexFilesRead"] < d["skipIndexFilesTotal"]


def test_parquet_extract_max_manifest_files_guard(spark, ctx, tmp_path):
    """Above maxManifestFiles the skipping read must refuse loudly (a
    driver-side manifest over millions of files would OOM the driver)."""
    import pytest as _pytest

    src = str(tmp_path / "orders_many")
    (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .repartitionByRange(6, "o_totalprice")
        .write.mode("overwrite")
        .parquet(src)
    )
    st = ParquetExtract(
        name="guard", input_uri=src, output_view="orders_guard",
        skip_index_col="o_totalprice", skip_min=0.0,
        max_manifest_files=3,
    )
    with _pytest.raises(Exception, match="maxManifestFiles"):
        st.execute(spark, ctx)


def test_xml_extract_load_roundtrip(spark, ctx, tmp_path):
    """Spark 4's native XML source as first-class stages: XMLLoad writes
    rowTag elements, XMLExtract reads them back; the round-trip preserves
    the data and the config layer maps rowTag/rootTag."""
    from arc_cassandra_pipeline_plugin_spark.config import parse_config
    from arc_cassandra_pipeline_plugin_spark.stages import XMLExtract, XMLLoad

    src_df = (
        spark.read.parquet(f"{SF_SMALL}/nation.parquet")
        .selectExpr("n_nationkey AS k", "n_name AS name")
    )
    src_df.createOrReplaceTempView("nation_src")
    out = str(tmp_path / "nation_xml")

    XMLLoad(name="w", input_view="nation_src", output_uri=out,
            row_tag="nation", root_tag="nations").execute(spark, ctx)
    st = XMLExtract(name="r", input_uri=out, output_view="nation_xml",
                    row_tag="nation")
    df = st.execute(spark, ctx)
    got = {(r["k"], r["name"]) for r in df.collect()}
    want = {(r["k"], r["name"]) for r in src_df.collect()}
    assert got == want and len(got) == 25

    # config-layer mapping
    conf = {
        "stages": [{
            "type": "XMLExtract", "name": "x", "environments": ["test"],
            "inputURI": out, "rowTag": "nation", "outputView": "nx",
        }]
    }
    import json
    p = parse_config(json.dumps(conf), ctx)
    p.run(spark, ctx)
    assert spark.table("nx").count() == 25


def test_text_extract_lines_and_wholetext(spark, ctx, tmp_path):
    """TextExtract: one row per line by default; wholetext=true gives one
    row per file."""
    from arc_cassandra_pipeline_plugin_spark.stages import TextExtract

    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("alpha\nbeta\n")
    (d / "b.txt").write_text("gamma\n")

    lines = TextExtract(name="t", input_uri=str(d), output_view="t1").execute(
        spark, ctx
    )
    assert {r["value"] for r in lines.collect()} == {"alpha", "beta", "gamma"}

    whole = TextExtract(
        name="t2", input_uri=str(d), output_view="t2", whole_text=True
    ).execute(spark, ctx)
    assert whole.count() == 2


def test_parquet_extract_bloom_index_equality_probe(spark, ctx, tmp_path):
    """The Bloom file index must (a) never lose rows (bloom-pruned read ==
    full-scan equality filter for EVERY probed key, hit or miss), (b)
    prune files a min/max index cannot (hash-distributed high-cardinality
    keys overlap every file's range), (c) reuse a persisted manifest, and
    (d) rebuild a stale manifest after the layout changes."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.stages import ParquetExtract

    # hash layout: every file's o_custkey RANGE overlaps — min/max skipping
    # would read everything; the bloom index keys on VALUES instead
    src = str(tmp_path / "orders_hashed")
    (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .repartition(8, "o_custkey")
        .write.mode("overwrite")
        .parquet(src)
    )
    keys = [r["o_custkey"] for r in spark.read.parquet(src).select("o_custkey").distinct().limit(3).collect()]
    keys.append(-12345)  # guaranteed miss
    manifest = str(tmp_path / "bloom_manifest")

    pruned_somewhere = False
    for i, key in enumerate(keys):
        st = ParquetExtract(
            name=f"bloom{i}",
            input_uri=src,
            output_view=f"orders_bloom{i}",
            skip_bloom_col="o_custkey",
            skip_bloom_value=key,
            skip_bloom_manifest_uri=manifest,
        )
        df = st.execute(spark, ctx)
        got = {tuple(r) for r in df.collect()}
        want = {
            tuple(r)
            for r in spark.read.parquet(src).filter(F.col("o_custkey") == key).collect()
        }
        assert got == want, f"bloom read lost/invented rows for key {key}"
        d = st.stage_detail.as_dict()
        assert d["bloomFilesTotal"] == 8
        if d["bloomFilesRead"] < d["bloomFilesTotal"]:
            pruned_somewhere = True
        if key == -12345:
            assert got == set()
    assert pruned_somewhere, "bloom index never pruned a file"

    # stale manifest: append more files -> set comparison fails -> rebuild
    (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .limit(10)
        .repartition(2, "o_custkey")
        .write.mode("append")
        .parquet(src)
    )
    st_stale = ParquetExtract(
        name="bloom_stale",
        input_uri=src,
        output_view="orders_bloom_stale",
        skip_bloom_col="o_custkey",
        skip_bloom_value=keys[0],
        skip_bloom_manifest_uri=manifest,
    )
    df2 = st_stale.execute(spark, ctx)
    want2 = {
        tuple(r)
        for r in spark.read.parquet(src).filter(F.col("o_custkey") == keys[0]).collect()
    }
    assert {tuple(r) for r in df2.collect()} == want2
    assert st_stale.stage_detail.as_dict()["bloomFilesTotal"] == 10


def test_parquet_extract_bloom_index_nonstring_types(spark, ctx, tmp_path):
    """Regression (r8 advisor): probe positions must hash Spark's own
    CAST(col AS STRING) rendering, not Python's str(). The renderings
    diverge for double ('0.0001' vs '1.0E-4'), boolean ('True' vs 'true')
    and date values — a Python-side probe pruned files containing real
    matches (silent row loss). Probe one of each type and require exact
    full-scan equality, including at least one non-empty result set."""
    import datetime

    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.stages import ParquetExtract

    src = str(tmp_path / "typed")
    (
        spark.range(400)
        .select(
            F.col("id"),
            # 1e-4 * id: small doubles whose Spark rendering is E-notation
            (F.col("id").cast("double") * F.lit(0.0001)).alias("dval"),
            (F.col("id") % 2 == 0).alias("bval"),
            F.date_add(F.lit(datetime.date(2024, 1, 1)), (F.col("id") % 7).cast("int")).alias("dt"),
        )
        .repartition(6, "id")
        .write.mode("overwrite")
        .parquet(src)
    )
    probes = [
        ("dval", 0.0001),                      # Spark renders 1.0E-4
        ("dval", 0.0003),                      # 3.0E-4
        ("bval", True),                        # Spark renders 'true'
        ("dt", datetime.date(2024, 1, 3)),
        ("dval", 123456.789),                  # miss
    ]
    saw_rows = False
    for i, (col, val) in enumerate(probes):
        st = ParquetExtract(
            name=f"bloomtyped{i}",
            input_uri=src,
            output_view=f"typed_bloom{i}",
            skip_bloom_col=col,
            skip_bloom_value=val,
            skip_bloom_manifest_uri=str(tmp_path / f"manifest_{col}"),
        )
        got = {tuple(r) for r in st.execute(spark, ctx).collect()}
        want = {
            tuple(r)
            for r in spark.read.parquet(src).filter(F.col(col) == F.lit(val)).collect()
        }
        assert got == want, f"bloom read lost/invented rows for {col}={val!r}"
        saw_rows = saw_rows or bool(got)
    assert saw_rows, "every probe missed — test fixture is not exercising hits"


def test_parquet_extract_bloom_manifest_geometry_staleness(spark, ctx, tmp_path):
    """Regression (r8 advisor): a persisted manifest built for a DIFFERENT
    column must be treated as stale (rebuilt), never reused — reusing it
    would prune with the wrong bit sets and silently drop rows."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.stages import ParquetExtract

    src = str(tmp_path / "orders_geo")
    (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .repartition(4, "o_custkey")
        .write.mode("overwrite")
        .parquet(src)
    )
    manifest = str(tmp_path / "geo_manifest")
    key = spark.read.parquet(src).select("o_custkey").first()["o_custkey"]
    ParquetExtract(
        name="geo_build",
        input_uri=src,
        output_view="geo_build_v",
        skip_bloom_col="o_custkey",
        skip_bloom_value=key,
        skip_bloom_manifest_uri=manifest,
    ).execute(spark, ctx)
    # same manifest URI, different column: must rebuild, not reuse
    okey = spark.read.parquet(src).select("o_orderkey").first()["o_orderkey"]
    st = ParquetExtract(
        name="geo_swap",
        input_uri=src,
        output_view="geo_swap_v",
        skip_bloom_col="o_orderkey",
        skip_bloom_value=okey,
        skip_bloom_manifest_uri=manifest,
    )
    got = {tuple(r) for r in st.execute(spark, ctx).collect()}
    want = {
        tuple(r)
        for r in spark.read.parquet(src).filter(F.col("o_orderkey") == okey).collect()
    }
    assert got == want
    rebuilt = spark.read.parquet(manifest)
    assert rebuilt.select("bloom_col").first()["bloom_col"] == "o_orderkey"
