"""Archive-shard ingestion: WebDataset-style tar shards as a table.

Large text/multimodal corpora ship as directories of tar shards (the
WebDataset convention: one tar per shard, one or more members per sample).
These kernels treat each shard as an opaque ``binary`` payload row and
unpack it executor-side with the standard library's ``tarfile`` — one
Arrow batch in, one member-row batch out (``functions.per_row``), no shard
ever materialized on the driver. At 100 TB the shard table is just a
binary column scan; extraction parallelism = shard-row parallelism, and
downstream operators see ordinary (member, payload) rows.
"""

from __future__ import annotations

import io
import tarfile

import pandas as pd
from pyspark.sql import DataFrame

from arc_cassandra_pipeline_plugin_spark.functions import per_row


def _member_text(doc_id: int) -> bytes:
    """Deterministic member content (mirrored exactly by the SQL oracle)."""
    return (f"doc {doc_id} payload " + "x" * (doc_id % 50)).encode("ascii")


def synthesize_tar_shards(
    ids: DataFrame, id_col: str = "doc_id", docs_per_shard: int = 10
) -> DataFrame:
    """Deterministic tar-shard corpus: documents bucket into shards of
    ``docs_per_shard`` by id; each shard is a REAL uncompressed tar built
    with the standard library, members named ``<doc_id>.txt`` in id order
    with formula-derived content — so an SQL oracle can re-derive every
    member's name, size and checksum without touching tar bytes."""
    from pyspark.sql import functions as F

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard_id = int(pdf["shard_id"].iloc[0])
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for i in sorted(int(x) for x in pdf[id_col]):
                data = _member_text(i)
                info = tarfile.TarInfo(name=f"{i}.txt")
                info.size = len(data)
                info.mtime = 0  # deterministic archive bytes
                tf.addfile(info, io.BytesIO(data))
        return pd.DataFrame({"shard_id": [shard_id], "payload": [buf.getvalue()]})

    with_shard = ids.select(
        F.col(id_col), (F.col(id_col) / docs_per_shard).cast("long").alias("shard_id")
    )
    return with_shard.groupBy("shard_id").applyInPandas(
        build, schema="shard_id bigint, payload binary"
    )


TAR_MEMBER_SCHEMA = (
    "shard_id bigint, member string, n_bytes int, byte_sum bigint"
)


def tar_member_stats(shards: DataFrame) -> DataFrame:
    """Unpack every tar shard executor-side and emit one row per member
    with integer-exact stats (size, byte sum) — the ingest-audit kernel a
    pipeline runs before trusting a shard drop. Malformed archives raise
    (fail loud, not silent skip)."""

    def members(sid, payload):
        with tarfile.open(fileobj=io.BytesIO(payload)) as tf:
            for info in tf.getmembers():
                data = tf.extractfile(info).read()
                yield sid, info.name, len(data), sum(data)

    return per_row(shards.select("shard_id", "payload"), members, TAR_MEMBER_SCHEMA)
