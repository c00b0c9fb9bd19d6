"""Transform stages: view → SQL/DataFrame transform → view.

The reference's pipeline model presumes a ``SQLTransform`` stage between
extract and load (SURVEY.md §0; pipeline-composition pattern in
``src/it/resources/arc.json:1-30``) — all relational operators are supplied
by Spark SQL over the registered views. This module supplies that stage plus
a programmatic DataFrame-function variant. ``SQLTransform``,
``PythonTransform`` and ``OperatorTransform`` publish through
:class:`~.base.ViewStage`; ``SQLTransform`` resolves its SQL through
:class:`~.base.SQLStage`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.stages.base import (
    PipelineStage,
    SQLStage,
    ViewStage,
    record_frame_metrics,
    register_view,
)


@dataclass
class SQLTransform(SQLStage, ViewStage):
    """Run a SQL statement over the registered views; publish the result as
    ``output_view``. SQL resolves inline or from ``input_uri``
    (``CassandraExecute.scala:31-32`` pattern) with ``${param}`` injection
    (``CassandraExecute.scala:93``). Catalyst owns the physical plan — this
    stage adds no execution logic of its own (SURVEY.md §4)."""

    stage_type: str = "SQLTransform"

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        return self._publish(spark.sql(self._sql_text(ctx)), ctx)


@dataclass
class PythonTransform(ViewStage):
    """Programmatic transform: a Python callable ``DataFrame -> DataFrame``
    over the input view. This is the hook extension operators (dedup,
    similarity, text analysis — :mod:`..operators`) plug into the
    declarative pipeline."""

    stage_type: str = "PythonTransform"
    input_view: str = ""
    fn: Callable[[DataFrame], DataFrame] | None = None

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        if self.fn is None:
            raise ValueError("PythonTransform requires fn")
        return self._publish(self.fn(spark.table(self.input_view)), ctx)


#: modules of :mod:`..operators` reachable from declarative config — a
#: whitelist, so a config file can never import or execute arbitrary code
_OPERATOR_MODULES = frozenset(
    {
        "archive",
        "blocking",
        "bloom",
        "dedup",
        "graph",
        "layout",
        "linalg",
        "multimodal",
        "packing",
        "quality",
        "ranking",
        "sampling",
        "similarity",
        "sketches",
        "skew",
        "spatial",
        "text",
        "timeseries",
    }
)


@dataclass
class OperatorTransform(ViewStage):
    """Declarative access to the operator library: a config-file pipeline
    (JSON/HOCON) invokes any public ``operators.<module>.<function>`` whose
    first argument is a DataFrame, without writing Python —

    .. code-block:: json

        {"type": "OperatorTransform", "name": "dedup",
         "operator": "dedup.exact_dedup",
         "inputView": "docs", "outputView": "dedup_groups",
         "params": {"text_col": "text"}}

    ``rightView`` supplies a second DataFrame positional argument for
    two-input operators (e.g. ``similarity.brute_force_topk``); ``params``
    pass through as keyword arguments. Resolution is restricted to the
    :data:`_OPERATOR_MODULES` whitelist and public names — config cannot
    reach arbitrary importables."""

    stage_type: str = "OperatorTransform"
    operator: str = ""
    input_view: str = ""
    right_view: str | None = None

    def _resolve(self) -> Callable[..., DataFrame]:
        mod_name, dot, fn_name = self.operator.partition(".")
        if not dot or mod_name not in _OPERATOR_MODULES or fn_name.startswith("_"):
            raise ValueError(
                f"OperatorTransform: invalid operator {self.operator!r} — expected "
                f"'<module>.<public_function>' with module in "
                f"{sorted(_OPERATOR_MODULES)}"
            )
        import importlib

        mod = importlib.import_module(
            f"arc_cassandra_pipeline_plugin_spark.operators.{mod_name}"
        )
        fn = getattr(mod, fn_name, None)
        if fn is None or not callable(fn):
            raise ValueError(
                f"OperatorTransform: no operator {fn_name!r} in operators.{mod_name}"
            )
        return fn

    @staticmethod
    def _coerce_params(fn: Callable[..., DataFrame], params: dict) -> dict:
        """Typed binding for config params: config values arrive as strings
        (Arc's Map[String,String] contract), but operators take int/float/
        bool keyword arguments — coerce each string param to its annotated
        scalar type so e.g. ``"iters": "5"`` reaches
        ``power_iteration_top_component(iters=5)``. Non-string values and
        unannotated/str parameters pass through untouched; a value that
        cannot parse raises with the parameter name."""
        import inspect

        try:
            sig = inspect.signature(fn)
        except (TypeError, ValueError):
            return dict(params)
        out = {}
        for k, v in params.items():
            ann = sig.parameters[k].annotation if k in sig.parameters else None
            ann_name = ann if isinstance(ann, str) else getattr(ann, "__name__", None)
            if (
                isinstance(v, str)
                and isinstance(ann_name, str)
                and ann_name.startswith("list")
            ):
                # a HOCON list arrives stringified by the Map[String,String]
                # params contract ("['a', 'b']", "[a, b]", "[1, 2]") — parse
                # it back for list-annotated operator parameters. Proper
                # literal parsing first (handles commas/brackets/quotes
                # INSIDE items and non-string elements); naive comma-split
                # of bare unquoted words only as the fallback
                body = v.strip()
                if not (body.startswith("[") and body.endswith("]")):
                    raise ValueError(
                        f"OperatorTransform: param {k!r}={v!r} is not a valid list"
                    )
                import ast as _ast

                try:
                    items = list(_ast.literal_eval(body))
                except (ValueError, SyntaxError):
                    items = [
                        s.strip().strip("'\"")
                        for s in body[1:-1].split(",")
                    ]
                    items = [s for s in items if s]
                # coerce per the element annotation: list[int]/list[float]
                # params would otherwise arrive as strings
                elem = None
                if "[" in ann_name and ann_name.endswith("]"):
                    elem = ann_name[ann_name.index("[") + 1 : -1].strip()
                try:
                    if elem == "int":
                        items = [int(s) for s in items]
                    elif elem == "float":
                        items = [float(s) for s in items]
                    elif elem == "str":
                        items = [str(s) for s in items]
                except (TypeError, ValueError) as exc:
                    raise ValueError(
                        f"OperatorTransform: param {k!r}={v!r} has elements "
                        f"that are not valid {elem}"
                    ) from exc
                out[k] = items
                continue
            if isinstance(v, str) and ann_name in ("int", "float", "bool"):
                try:
                    if ann_name == "int":
                        v = int(v)
                    elif ann_name == "float":
                        v = float(v)
                    else:
                        if v.lower() not in ("true", "false", "1", "0"):
                            raise ValueError(v)
                        v = v.lower() in ("true", "1")
                except ValueError as exc:
                    raise ValueError(
                        f"OperatorTransform: param {k!r}={v!r} is not a valid "
                        f"{ann_name}"
                    ) from exc
            out[k] = v
        return out

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        fn = self._resolve()
        self.stage_detail.set("operator", self.operator)
        args = [spark.table(self.input_view)]
        if self.right_view:
            args.append(spark.table(self.right_view))
        out = fn(*args, **self._coerce_params(fn, self.params))
        if not isinstance(out, DataFrame):
            raise ValueError(
                f"OperatorTransform: {self.operator} returned {type(out).__name__}, "
                "not a DataFrame — only frame-to-frame operators are usable here"
            )
        return self._publish(out, ctx)


@dataclass
class TypingTransform(PipelineStage):
    """Type an all-string frame against a target schema — the Arc-ecosystem
    ingestion pattern the reference's tests are built around: DelimitedExtract
    reads all-string (CassandraLoadSuite.scala:63, FIXTURES.md §1) and a
    typing step coerces to the declared types with per-column formatters,
    trim, and nullable-value lists (the column-metadata vocabulary in
    TestUtils.scala:174-349: ``trim``, ``nullableValues``, ``formatters``).

    - ``schema``: target schema (DDL string or StructType); columns absent
      from the input are ignored, input columns absent from the schema pass
      through untouched.
    - ``trim``: strip whitespace before interpreting (default True).
    - ``nullable_values``: string values treated as null (default ["", "null"]).
    - ``formatters``: per-column datetime pattern for date/timestamp targets.
    - ``lenient``: use ``try_cast`` so malformed values become null instead
      of failing the job under ANSI mode (Arc's typing model treats
      conversion failures as data errors, not job failures). ``False``
      fails fast on the first bad value.
    """

    stage_type: str = "TypingTransform"
    input_view: str = ""
    output_view: str = ""
    schema: T.StructType | str | None = None
    trim: bool = True
    nullable_values: list[str] = field(default_factory=lambda: ["", "null"])
    formatters: dict[str, str] = field(default_factory=dict)
    lenient: bool = True

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        from pyspark.sql import functions as F

        if self.schema is None:
            raise ValueError("TypingTransform requires a target schema")
        target = (
            self.schema
            if isinstance(self.schema, T.StructType)
            else T.StructType.fromDDL(str(self.schema))
        )
        df = spark.table(self.input_view)
        by_name = {f.name: f for f in target.fields}
        cols = []
        for name in df.columns:
            f = by_name.get(name)
            if f is None:
                cols.append(F.col(name))
                continue
            c = F.col(name)
            if self.trim:
                c = F.trim(c)
            if self.nullable_values:
                c = F.when(c.isin(*self.nullable_values), F.lit(None)).otherwise(c)
            fmt = self.formatters.get(name)
            if isinstance(f.dataType, T.DateType) and fmt:
                c = F.to_date(c, fmt) if not self.lenient else F.try_to_timestamp(
                    c, F.lit(fmt)
                ).cast("date")
            elif isinstance(f.dataType, T.TimestampType) and fmt:
                c = F.to_timestamp(c, fmt) if not self.lenient else F.try_to_timestamp(
                    c, F.lit(fmt)
                )
            elif self.lenient:
                c = c.try_cast(f.dataType)
            else:
                c = c.cast(f.dataType)
            cols.append(c.alias(name))
        out = df.select(*cols)
        register_view(out, self.output_view, ctx)
        record_frame_metrics(self.stage_detail, out)
        return out


@dataclass
class MetadataTransform(PipelineStage):
    """Attach per-column metadata to the schema (``StructField.metadata``) —
    the reference carries id/description/trim/nullableValues/formatters/
    private/securityLevel per column (TestUtils.scala:174-349). Metadata
    survives parquet round-trips and is queryable via ``df.schema``."""

    stage_type: str = "MetadataTransform"
    input_view: str = ""
    output_view: str = ""
    metadata: dict[str, dict] = field(default_factory=dict)

    def _run(self, spark: SparkSession, ctx: PipelineContext) -> Optional[DataFrame]:
        df = spark.table(self.input_view)
        for col_name, meta in self.metadata.items():
            if col_name in df.columns:
                df = df.withMetadata(col_name, meta)
        register_view(df, self.output_view, ctx)
        record_frame_metrics(self.stage_detail, df)
        return df
