"""Error types for the pipeline shell.

The reference accumulates *all* config problems per stage into
``Either[List[StageError], PipelineStage]`` (``CassandraExtract.scala:58-62``)
and rethrows runtime exceptions wrapped with the stage-detail map
(``CassandraExtract.scala:100-104``, ``CassandraLoad.scala:155-159``,
``CassandraExecute.scala:104-108``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class StageError:
    """One config-validation problem for one stage.

    Mirrors Arc's ``StageError`` carried in the Left of the instantiate
    Either (reference ``CassandraExtract.scala:58-62``).
    """

    stage_index: int
    stage_name: str
    key: str
    message: str

    def __str__(self) -> str:  # pragma: no cover - cosmetic
        return f"stage {self.stage_index} ({self.stage_name}): {self.key}: {self.message}"


class ConfigError(Exception):
    """Raised when a pipeline config fails validation.

    Carries the *complete* accumulated error list — the reference reports all
    config problems at once rather than failing on the first
    (``CassandraExtract.scala:58-62``).
    """

    def __init__(self, errors: list[StageError]):
        self.errors = list(errors)
        super().__init__("; ".join(str(e) for e in self.errors))


class DetailException(Exception):
    """Runtime stage failure carrying the structured stage-detail map.

    Mirrors ``Exception with DetailException`` in the reference
    (``CassandraExtract.scala:100-104``): the original error message is
    preserved verbatim (the reference asserts Cassandra's own parser message
    survives wrapping, ``CassandraExecuteSuite.scala:96``).
    """

    def __init__(self, message: str, stage_detail: dict[str, Any] | None = None):
        super().__init__(message)
        self.stage_detail: dict[str, Any] = dict(stage_detail or {})


@dataclass
class StageDetail:
    """Mutable per-stage instrumentation map (reference ``stageDetail``).

    The reference records type/name/description plus runtime metrics such as
    ``numPartitions``, ``outputColumns``, ``records``
    (``CassandraExtract.scala:126-132``, ``CassandraLoad.scala:98-101``).
    ``numPartitions`` is recorded by extract and load stages only, the
    reference's two instrumentation sites: it converts the frame to an RDD,
    which under AQE runs the plan's shuffle stages, and the transform
    stages' metrics must not execute a query of their own.
    """

    data: dict[str, Any] = field(default_factory=dict)

    def set(self, key: str, value: Any) -> None:
        self.data[key] = value

    def as_dict(self) -> dict[str, Any]:
        return dict(self.data)
