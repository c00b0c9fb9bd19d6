"""Declarative pipeline config: JSON text → validated stage objects.

Rebuilds the reference's config layer semantics (``CassandraExtract.scala:
17-64``, ``CassandraLoad.scala:20-70``, ``CassandraExecute.scala:21-62``):

- a ``"stages"`` array of objects dispatched by ``"type"``
  (``arc.json:2``; ServiceLoader dispatch via the stage registry)
- typed key extraction with defaults and valid-value whitelists
  (saveMode whitelist ``CassandraLoad.scala:35``)
- unknown-key detection against an expected-keys list
  (``checkValidKeys``, ``CassandraExecute.scala:33-37``)
- **error accumulation**: every config problem across every key of every
  stage is reported at once (``CassandraExtract.scala:58-62``)
- environment filtering at parse time (``arc.json:6-9``)
- ``${ENV}`` substitution from the environment for values like ``${PWD}``
  (``arc.json:10``)
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import re
import types
import typing
from typing import Any

from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
from arc_cassandra_pipeline_plugin_spark.errors import ConfigError, StageError
from arc_cassandra_pipeline_plugin_spark.pipeline import Pipeline
from arc_cassandra_pipeline_plugin_spark.stages import STAGE_REGISTRY, PipelineStage

# Declarative key → dataclass field. Keys follow the reference's camelCase
# config vocabulary (outputView/inputView/inputURI/numPartitions/partitionBy/
# saveMode/persist — CassandraExtract.scala:22-35, CassandraLoad.scala:25-40).
_KEY_TO_FIELD = {
    "name": "name",
    "id": "stage_id",
    "description": "description",
    "environments": "environments",
    "params": "params",
    "outputView": "output_view",
    "inputView": "input_view",
    "inputURI": "input_uri",
    "outputURI": "output_uri",
    "sql": "sql",
    "sqlParams": "sql_params",
    "authentication": "authentication",
    "numPartitions": "num_partitions",
    "partitionBy": "partition_by",
    "persist": "persist",
    "saveMode": "save_mode",
    "table": "table",
    "keyspace": "keyspace",
    "schema": "schema",
    "header": "header",
    "delimiter": "delimiter",
    "inferSchema": "infer_schema",
    "multiLine": "multi_line",
    "rowsPerSecond": "rows_per_second",
    "rowTag": "row_tag",
    "rootTag": "root_tag",
    "wholeText": "whole_text",
    "partitionOutput": "partition_output",
    "bucketBy": "bucket_by",
    "numBuckets": "num_buckets",
    "sortBy": "sort_by",
    "trim": "trim",
    "lenient": "lenient",
    "nullableValues": "nullable_values",
    "formatters": "formatters",
    "metadata": "metadata",
    "leftView": "left_view",
    "rightView": "right_view",
    "operator": "operator",
    "skipIndexColumn": "skip_index_col",
    "skipMin": "skip_min",
    "skipMax": "skip_max",
    "skipManifestURI": "skip_manifest_uri",
    "skipSortOutput": "skip_sort_output",
    "skipBloomColumn": "skip_bloom_col",
    "skipBloomValue": "skip_bloom_value",
    "skipBloomManifestURI": "skip_bloom_manifest_uri",
}
_FIELD_TO_KEY = {v: k for k, v in _KEY_TO_FIELD.items()}

_ENV_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")


def _substitute_env(text: str) -> str:
    """``${PWD}``-style substitution from process env (``arc.json:10``).
    Unknown variables are left intact (they may be SQL ``${param}``
    placeholders resolved later at execute time)."""
    return _ENV_RE.sub(lambda m: os.environ.get(m.group(1), m.group(0)), text)


@functools.cache
def _field_types(cls: type) -> dict[str, Any]:
    return typing.get_type_hints(cls)


def _coerce(cls: type, fname: str, value: Any, key: str) -> Any:
    """Typed getters with validation, mirroring the reference's
    getValue[String]/[Int]/[Boolean]/[StringList] extractors
    (``CassandraExtract.scala:22-35``), read from the field's annotation:
    the value must be an instance of one union member, where ``bool`` does
    not count as a number, a ``list[str]`` holds only strings, and the
    values of a ``dict[str, str]`` (Arc's ``Map[String,String]``) are
    stringified."""
    hint = _field_types(cls)[fname]
    unions = (typing.Union, types.UnionType)
    members = typing.get_args(hint) if typing.get_origin(hint) in unions else (hint,)
    for member in members:
        origin = typing.get_origin(member) or member
        args = [typing.get_origin(a) or a for a in typing.get_args(member)]
        if (isinstance(value, bool) and origin is not bool) or not isinstance(value, origin):
            continue
        if origin is list and args and not all(isinstance(v, args[0]) for v in value):
            continue
        if origin is dict and args == [str, str]:
            return {str(k): str(v) for k, v in value.items()}
        if origin is dict and args and not all(isinstance(v, args[1]) for v in value.values()):
            continue
        return value
    expected = " | ".join(
        "None" if m is type(None) else str(m) if typing.get_args(m) else m.__name__
        for m in members
    )
    raise TypeError(f"expected {expected} for '{key}'")


def instantiate_stage(index: int, spec: dict[str, Any]) -> tuple[PipelineStage | None, list[StageError]]:
    """Instantiate one stage spec, accumulating *all* errors
    (``Either[List[StageError], PipelineStage]`` semantics,
    ``CassandraExtract.scala:58-62``)."""
    errors: list[StageError] = []
    name = str(spec.get("name", f"stage-{index}"))
    stage_type = spec.get("type")
    if isinstance(stage_type, str) and stage_type not in STAGE_REGISTRY:
        # ServiceLoader parity: before rejecting, discover stages contributed
        # by installed packages via entry points (stages.ENTRY_POINT_GROUP)
        from arc_cassandra_pipeline_plugin_spark.stages import (
            load_entry_point_stages,
        )

        load_entry_point_stages(refresh=True)
    if not isinstance(stage_type, str) or stage_type not in STAGE_REGISTRY:
        errors.append(
            StageError(index, name, "type", f"unknown stage type {stage_type!r}; "
                       f"registered: {sorted(STAGE_REGISTRY)}")
        )
        return None, errors

    cls = STAGE_REGISTRY[stage_type]
    fields = {f.name: f for f in dataclasses.fields(cls) if f.init}
    expected_keys = {"type"} | {
        _FIELD_TO_KEY[fname] for fname in fields if fname in _FIELD_TO_KEY
    }

    # Unknown-key detection (checkValidKeys, CassandraExecute.scala:33-37).
    for key in spec:
        if key not in expected_keys:
            errors.append(StageError(index, name, key, "unknown config key"))

    kwargs: dict[str, Any] = {}
    for key, value in spec.items():
        if key == "type" or key not in _KEY_TO_FIELD:
            continue
        fname = _KEY_TO_FIELD[key]
        if fname not in fields:
            continue
        try:
            kwargs[fname] = _coerce(cls, fname, value, key)
        except TypeError as exc:
            errors.append(StageError(index, name, key, str(exc)))

    if "name" not in spec:
        errors.append(StageError(index, name, "name", "required key missing"))

    if errors:
        return None, errors
    try:
        stage = cls(**kwargs)  # dataclass validators (e.g. saveMode whitelist)
    except (ValueError, TypeError) as exc:
        errors.append(StageError(index, name, "-", str(exc)))
        return None, errors
    return stage, []


def parse_config(
    text_or_dict: str | dict[str, Any], ctx: PipelineContext | None = None
) -> Pipeline:
    """Parse config JSON into a :class:`Pipeline`.

    Raises :class:`ConfigError` with the complete accumulated error list on
    any validation failure — never just the first problem
    (``CassandraExtract.scala:58-62``). Stages whose ``environments`` list
    excludes the active environment are dropped at parse time
    (``arc.json:6-9``, ``TestUtils.scala:58``).
    """
    ctx = ctx or PipelineContext()
    if isinstance(text_or_dict, str):
        try:
            doc = json.loads(_substitute_env(text_or_dict))
        except json.JSONDecodeError:
            # the reference's config layer is Typesafe Config, i.e. HOCON —
            # a JSON superset with comments / unquoted keys / substitutions
            # (CassandraLoadSuite.scala:126 ArcPipeline.parseConfig)
            from arc_cassandra_pipeline_plugin_spark import hocon

            try:
                doc = hocon.loads(text_or_dict)
            except hocon.HoconError as exc:
                raise ConfigError([StageError(0, "-", "-", f"config parse error: {exc}")])
    else:
        doc = text_or_dict
    if not isinstance(doc, dict) or not isinstance(doc.get("stages"), list):
        raise ConfigError([StageError(0, "-", "stages", "config must be an object with a 'stages' array")])

    stages: list[PipelineStage] = []
    errors: list[StageError] = []
    for i, spec in enumerate(doc["stages"]):
        if not isinstance(spec, dict):
            errors.append(StageError(i, "-", "-", "stage spec must be an object"))
            continue
        stage, errs = instantiate_stage(i, spec)
        errors.extend(errs)
        if stage is None:
            continue
        if not ctx.should_run(stage.environments):
            continue
        stages.append(stage)

    if errors:
        raise ConfigError(errors)
    return Pipeline(stages)
