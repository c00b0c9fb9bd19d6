"""Stage contract.

Every reference stage is a plain function ``stage -> Option[DataFrame]``
given ``(spark, logger, ctx)`` (``CassandraExtract.scala:81-83``,
``CassandraLoad.scala:87-89``, ``CassandraExecute.scala:76-78``). We keep
exactly that shape: a stage object with an ``execute(spark, ctx)`` method
returning ``Optional[DataFrame]``, trivially testable without the config
layer (reference entry point 2, ``CassandraExecuteSuite.scala:57-68``).

Two dataclass bases say each shared step of that contract once:
:class:`ViewStage` publishes a frame as a temp view (repartition, register,
persist, metrics) and :class:`SQLStage` resolves a stage's SQL text.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.errors import DetailException, StageDetail


@dataclass
class PipelineStage:
    """Base class for all stages.

    Common fields mirror the reference stage case classes
    (``CassandraExtractStage`` at ``CassandraExtract.scala:67-79`` etc.):
    ``name``, ``description``, ``environments`` and the free-form ``params``
    passthrough (``CassandraLoad.scala:116``).
    """

    name: str
    description: str | None = None
    environments: list[str] = field(default_factory=list)
    params: dict[str, str] = field(default_factory=dict)
    #: optional stage id — the reference accepts an 'id' key in every stage's
    #: expectedKeys (CassandraLoad.scala:26, CassandraExecute.scala:26-27)
    stage_id: str | None = None

    # Populated during execute; exposed for structured logging / tests.
    stage_detail: StageDetail = field(default_factory=StageDetail, repr=False, compare=False)

    #: subclasses set this to the declarative ``"type"`` string
    stage_type: str = ""

    def execute(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        """Run the stage. Wraps any failure in :class:`DetailException`
        carrying the stage-detail map (``CassandraExtract.scala:100-104``)."""
        self.stage_detail = StageDetail()
        self.stage_detail.set("type", self.stage_type or type(self).__name__)
        self.stage_detail.set("name", self.name)
        if self.stage_id:
            self.stage_detail.set("id", self.stage_id)
        if self.description:
            self.stage_detail.set("description", self.description)
        start = time.time()
        # tag every Spark job this stage triggers with the stage identity so
        # the Spark UI / event logs attribute cluster work to pipeline
        # stages (essential observability on a shared 1000-executor cluster)
        desc = f"{self.stage_type or type(self).__name__}: {self.name}"
        spark.sparkContext.setJobDescription(desc)
        try:
            result = self._run(spark, ctx)
        except DetailException:
            raise
        except Exception as exc:  # noqa: BLE001 - deliberate wrap-and-rethrow
            raise DetailException(str(exc), self.stage_detail.as_dict()) from exc
        finally:
            spark.sparkContext.setJobDescription(None)
        self.stage_detail.set("duration_ms", int((time.time() - start) * 1000))
        return result

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        raise NotImplementedError


def register_view(df: DataFrame, name: str, ctx: PipelineContext) -> None:
    """Publish a DataFrame as the stage's output view.

    Immutable mode forbids replacement — ``createTempView`` raises on
    duplicates, exactly the ``immutableViews`` branch at
    ``CassandraExtract.scala:123``.
    """
    if ctx.immutable_views:
        df.createTempView(name)
    else:
        df.createOrReplaceTempView(name)


def repartition(
    df: DataFrame,
    num_partitions: int | None,
    partition_by: list[str] | None,
) -> DataFrame:
    """The reference's only physical knob: the repartition matrix on both the
    read and write paths (``CassandraExtract.scala:107-122``,
    ``CassandraLoad.scala:131-151``).

    - ``num_partitions`` only  → round-robin ``repartition(n)``
    - ``partition_by`` only    → hash ``repartition(*cols)``
    - both                     → hash ``repartition(n, *cols)``
    - neither                  → no-op (let AQE pick; at cluster scale an
      unnecessary repartition is a full shuffle of the dataset)
    """
    if partition_by:
        cols = list(partition_by)
        if num_partitions is not None:
            return df.repartition(num_partitions, *cols)
        return df.repartition(*cols)
    if num_partitions is not None:
        return df.repartition(num_partitions)
    return df


def record_frame_metrics(detail: StageDetail, df: DataFrame, count: bool = False) -> None:
    """Instrumentation parity (``CassandraExtract.scala:126-132``,
    ``CassandraLoad.scala:98-101``): inputFiles / outputColumns, optionally
    a forced ``records`` count. Recording runs no query: ``numPartitions``
    is not recorded here, because ``df.rdd`` runs the plan's shuffle stages
    under AQE in a query whose output nothing reads. Only the reference's
    two instrumentation sites, :class:`~.extract.ExtractStage` and
    :class:`~.load.LoadStage`, record it."""
    if not df.isStreaming:
        try:
            detail.set("inputFiles", len(df.inputFiles()))
        except Exception:  # sources without file provenance
            detail.set("inputFiles", None)
        detail.set("outputColumns", len(df.schema))
        if count:
            detail.set("records", df.count())


@dataclass
class ViewStage(PipelineStage):
    """A stage that publishes its frame as ``output_view``: extracts and the
    frame-producing transforms."""

    output_view: str = ""
    num_partitions: int | None = None
    partition_by: list[str] = field(default_factory=list)
    persist: bool = False

    def _publish(self, df: DataFrame, ctx: PipelineContext) -> DataFrame:
        """Repartition matrix, view registration, then persist FIRST so the
        forced count materializes the cache (``CassandraExtract.scala:
        107-133``: persist, then count) — otherwise the count pays a full
        uncached pass and the first downstream consumer recomputes it."""
        df = repartition(df, self.num_partitions, self.partition_by or None)
        register_view(df, self.output_view, ctx)
        if self.persist and not df.isStreaming:
            df.persist(ctx.storage_level)
        record_frame_metrics(self.stage_detail, df, count=self.persist)
        return df


def inject_parameters(sql_text: str, params: dict[str, str], strict: bool = True) -> str:
    """``${param}`` substitution in SQL text before execution — the reference
    delegates to Arc ``SQLUtils.injectParameters`` (``CassandraExecute.scala:93``).
    Fails on missing keys when ``strict`` (Arc behavior: unresolved
    placeholders are a stage error)."""
    import re

    def _sub(match: "re.Match[str]") -> str:
        key = match.group(1)
        if key in params:
            return str(params[key])
        if strict:
            raise KeyError(f"no value supplied for SQL parameter ${{{key}}}")
        return match.group(0)

    return re.sub(r"\$\{([A-Za-z0-9_.]+)\}", _sub, sql_text)


def build_auth_headers(authentication: dict[str, str] | None) -> dict[str, str]:
    """HTTP headers for an Arc-style ``authentication`` map
    (``CassandraExecute.scala:29,31-32``: ``readAuthentication`` feeds
    ``textContentForURI``). Public subset: HTTP Basic and bearer tokens.

    ``{"method": "BasicAuth", "username": ..., "password": ...}`` or
    ``{"method": "BearerToken", "token": ...}``.
    """
    if not authentication:
        return {}
    method = authentication.get("method")
    if method == "BasicAuth":
        import base64

        user = authentication.get("username", "")
        pw = authentication.get("password", "")
        cred = base64.b64encode(f"{user}:{pw}".encode()).decode("ascii")
        return {"Authorization": f"Basic {cred}"}
    if method == "BearerToken":
        return {"Authorization": f"Bearer {authentication.get('token', '')}"}
    raise ValueError(
        f"unsupported authentication method {method!r} (expected BasicAuth or BearerToken)"
    )


def resolve_sql_input(
    sql: str | None,
    input_uri: str | None,
    params: dict[str, str],
    strict: bool = True,
    authentication: dict[str, str] | None = None,
) -> str:
    """Resolve stage SQL either inline or from ``inputURI`` at parse time
    (``CassandraExecute.scala:31-32``, optionally authenticated via the
    stage's ``authentication`` map), then apply ``${param}`` injection at
    execute time (``CassandraExecute.scala:93``)."""
    if sql is None and input_uri is None:
        raise ValueError("one of 'sql' or 'inputURI' is required")
    if sql is None:
        from pathlib import Path
        from urllib.parse import urlparse
        from urllib.request import Request, urlopen

        parsed = urlparse(str(input_uri))
        if parsed.scheme in ("", "file"):
            sql = Path(parsed.path if parsed.scheme else str(input_uri)).read_text()
        else:
            req = Request(str(input_uri), headers=build_auth_headers(authentication))
            with urlopen(req) as resp:  # noqa: S310 - parity feature
                sql = resp.read().decode("utf-8")
    return inject_parameters(sql, params, strict=strict)


@dataclass
class SQLStage(PipelineStage):
    """A stage whose statement is SQL, inline or from ``input_uri``, with
    ``${param}`` injection from the context's and the stage's params."""

    sql: str | None = None
    input_uri: str | None = None
    sql_params: dict[str, str] = field(default_factory=dict)
    #: optional Arc-style auth map for inputURI (CassandraExecute.scala:29)
    authentication: dict[str, str] | None = None

    def _sql_text(self, ctx: PipelineContext) -> str:
        text = resolve_sql_input(
            self.sql,
            self.input_uri,
            {**ctx.sql_params, **self.sql_params},
            authentication=self.authentication,
        )
        self.stage_detail.set("sql", text)
        return text
