"""Column-level and frame-level helper functions.

The column helpers return Spark ``Column`` expressions built from
``pyspark.sql.functions``: JVM-side, no Python UDFs. The vector helpers'
``transform`` / ``aggregate`` / ``zip_with`` lambdas are not
whole-stage-codegen'd: Spark's higher-order functions have no codegen
path and evaluate row by row, interpreted. Where a function participates in
oracle-checked queries, its semantics are chosen to be expressible
identically in ANSI SQL (cross-engine-deterministic: md5-hex prefixes for
hashing, sequential left-to-right folds for vector math).

:func:`per_row` is the one Python escape hatch for per-row kernels that
Spark has no builtin for (the media codecs, the tar unpacker): a
``mapInArrow`` pass whose output batches are laid out from row tuples the
same way :func:`small_df` lays out driver rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# vector math (embedding array<float> columns → double)
# --------------------------------------------------------------------------

def vec_double(col: Column | str) -> Column:
    """Cast an ``array<float>`` embedding to ``array<double>`` so all math
    runs in double precision (matches the oracle's ``::DOUBLE[]`` cast)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product via ``zip_with`` + ``aggregate``
    — a deterministic fold, not a shuffle-order-dependent sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


# --------------------------------------------------------------------------
# text metrics (documents.text) — engine-portable building blocks
# --------------------------------------------------------------------------

def token_count(text: Column | str) -> Column:
    """Whitespace-token count; empty/blank text counts 0. Matches
    ``len(string_split_regex(trim(text), '\\s+'))`` modulo the blank guard."""
    c = F.col(text) if isinstance(text, str) else text
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def occurrence_count(text: Column, needle: str) -> Column:
    """Occurrences of a literal substring via the replace-length trick —
    ``replace``/``length`` have identical semantics in every SQL engine, so
    the language-ID heuristic built on this is oracle-portable."""
    return (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) / len(needle)


def non_alnum_ratio(text: Column) -> Column:
    """Share of characters that are not [a-z0-9 ] after lowercasing."""
    lower = F.lower(text)
    stripped = F.regexp_replace(lower, "[a-z0-9 ]", "")
    return F.when(F.length(lower) == 0, F.lit(0.0)).otherwise(
        F.length(stripped).cast("double") / F.length(lower)
    )


def hex_hash64(col: Column, length: int = 16) -> Column:
    """Deterministic engine-portable fingerprint: leading hex chars of the
    md5 digest. Fixed-width hex compares identically as string or number."""
    return F.substring(F.md5(col), 1, length)


# Accuracy for the certified lossless-sketch equivalence
# ``approx_percentile(x, p, LOSSLESS_PCTL_ACC)`` ≡ DuckDB ``quantile_disc``:
# the equivalence holds ONLY while the per-group (or, for global
# percentiles, per-table) row count stays ≤ the accuracy — beyond that the
# GK sketch's rank-error budget (n/acc) exceeds one rank and the returned
# order statistic can silently fork from the oracle's (the r10
# feature_winsorize drift class). 1e7 gives ≥10× headroom over every
# certified fixture (largest certified input: lineitem sf1 = 6M rows;
# largest percentile input: orders sf1 = 1.5M). If a fixture decade ever
# pushes a percentile input past 1e6 rows/group × 10, bump this and
# re-certify. At true 100 TB scale the exact-percentile contract is
# intentionally dropped: use a real approximate accuracy (1e4-ish) and
# accept sketch semantics — the oracle equivalence is a TEST-SCALE pin.
LOSSLESS_PCTL_ACC = 10_000_000


def lossless_pctl(col: str, frac, acc: int = LOSSLESS_PCTL_ACC) -> Column:
    """Exact discrete percentile(s) via the lossless-sketch equivalence
    (see ``LOSSLESS_PCTL_ACC``). ``frac`` is a float or list of floats;
    the DuckDB oracle twin is ``quantile_disc(col, frac)``."""
    if isinstance(frac, (list, tuple)):
        fr = "array(" + ",".join(repr(f) for f in frac) + ")"
    else:
        fr = repr(frac)
    return F.expr(f"approx_percentile({col}, {fr}, {acc})")


def hash_bucket(col: Column, buckets: int) -> Column:
    """Uniform bucket id in [0, buckets) from an md5 prefix — portable
    (``('0x' || substr(md5(x),1,8))::bigint % buckets`` in DuckDB)."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % buckets).cast("int")


def hash_bucket_wide(col: Column, buckets: int) -> Column:
    """48-bit variant of :func:`hash_bucket` — portable
    (``('0x' || substr(md5(x),1,12))::bigint % buckets`` in DuckDB).

    For a modulus like 1e6 that does not divide any power-of-two hash
    space, the 32-bit prefix leaves a ~0.02% over-weight on the low
    residues (2^32 % 1e6 = 967296); 48 bits shrink that to ~4e-9 —
    below any statistical resolution the certified queries report."""
    return (
        F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint") % buckets
    ).cast("int")


#: driver-replay safety cap: see :func:`driver_rows`
_DRIVER_EDGE_CAP = 65536


def driver_rows(df: DataFrame, n: int | None = None) -> list | None:
    """The rows of ``df`` on the driver when a driver replay of an iterate
    over it applies, else ``None`` — the one bounded-collect contract of
    the graph and connected-components operators.

    A replay applies when the frame's first column (the node key) has a
    type whose Python equality and ordering are Spark's — integers, dates,
    decimals, binary-collation strings — and the frame holds at most
    ``_DRIVER_EDGE_CAP`` rows. Doubles are excluded: Spark groups every
    NaN key into one and -0.0 with 0.0, while a Python ``dict`` keeps each
    NaN apart. ``n`` is a row count the caller already observed on its
    checkpoint; with it, past the cap costs no job and within it one
    collect. Without it one ``limit(cap + 1)`` collect decides. Past the
    cap the caller runs its distributed rounds, so a web-scale graph
    degrades to correct, never to a driver blowup."""
    from pyspark.sql import types as T

    key = df.schema[0].dataType
    if not (
        isinstance(key, (T.IntegralType, T.DateType, T.DecimalType))
        or key == T.StringType()
    ):
        return None
    if n is not None:
        return df.collect() if n <= _DRIVER_EDGE_CAP else None
    rows = df.limit(_DRIVER_EDGE_CAP + 1).collect()
    return rows if len(rows) <= _DRIVER_EDGE_CAP else None


def small_df(spark, rows, schema) -> DataFrame:
    """Driver-built control-plane DataFrame (LUTs, offsets, centroids,
    query-term lists, driver-replayed labels and ranks).

    ``schema`` is a ``StructType`` or a DDL string. Each row is checked
    against it with PySpark's own type verifier (a ``str`` into BIGINT
    raises, as ``createDataFrame(verifySchema=True)`` does), converted by
    ``StructType.toInternal`` and laid out as a ``pyarrow.Table`` of the
    schema's Arrow types. Spark decodes that table in the JVM and plans it
    as a ``LocalRelation``: no Python worker ever runs for the frame,
    ``collect`` needs no job, and building its broadcast or writing it
    directly is one JVM job of at most min(rows, cores) tasks. A decimal
    whose scale exceeds the column's raises rather than rounding.

    The frame is not a ``parallelize``: an RDD of Python rows is a
    ``PythonRDD``, so every action over it starts a ``pyspark.worker``
    task (~300 ms a replay on 4 cores, the first one also forking the
    worker daemon) just to hand a few literal rows to the JVM."""
    import pyarrow as pa
    from pyspark.sql.types import _make_type_verifier

    struct, arrow = _schemas(schema)
    verify = _make_type_verifier(struct)

    def internal(row):
        verify(row)
        return struct.toInternal(row)

    batch = _record_batch(map(internal, rows), arrow)
    return spark.createDataFrame(pa.Table.from_batches([batch]), struct)


def per_row(df: DataFrame, fn, schema) -> DataFrame:
    """One ``mapInArrow`` pass calling ``fn(*row)`` on each row of ``df``
    (its columns in order, as Python values: ``bytes`` for binary, ``int``,
    ``None`` for NULL); ``fn`` yields zero or more output tuples in
    ``schema``'s column order (a ``StructType`` or a DDL string). Each
    input batch becomes one output batch built straight from those tuples
    as Arrow arrays of the schema's types, with no pandas frame on either
    side; an empty batch is typed by the schema. An exception raised by
    ``fn`` fails the task, and with it the action."""
    struct, arrow = _schemas(schema)

    def batches(it):
        for batch in it:
            rows = zip(*(c.to_pylist() for c in batch.columns))
            yield _record_batch((out for row in rows for out in fn(*row)), arrow)

    return df.mapInArrow(batches, struct)


def _schemas(schema):
    """``schema`` (a ``StructType`` or DDL string) as (StructType, Arrow
    schema)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    return struct, to_arrow_schema(struct)


def _record_batch(rows, arrow):
    """Row tuples laid out as one ``pyarrow.RecordBatch`` of ``arrow``'s
    column types."""
    import pyarrow as pa

    cols: list[list] = [[] for _ in arrow]
    for row in rows:
        for col, v in zip(cols, row, strict=True):
            col.append(v)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


def checkpoint_sized(df: DataFrame, target_bytes: int = 64 << 20) -> DataFrame:
    """Eager ``localCheckpoint`` whose downstream width is re-derived from
    the MEASURED materialized size — the rule AQE applies after a shuffle
    (advisory partition size), applied to a checkpoint.

    A frame fanned out for an expensive projection (``ensure_parallelism``
    before a tokenize) keeps that fan-out past the checkpoint, so every
    later control-plane stage over it schedules one task per core for
    kilobytes of work (~6-10 ms/task of scheduler overhead per stage,
    measured +26% on dedup_setsim_prefix end to end). The old shuffle-based
    builds got right-sizing for free from AQE's post-shuffle coalescing;
    with the shuffle removed this re-derives it: checkpoint, read the
    materialized bytes from the block manager (no job), and ``coalesce``
    (narrow, no exchange) to ``ceil(bytes / target)``. At real scale the
    measured size keeps the width unchanged; only small-relative-to-target
    frames narrow. Falls back to the plain checkpoint if storage info is
    unavailable."""
    sc = df.sparkSession.sparkContext
    try:
        before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    except Exception:
        return df.localCheckpoint(eager=True)
    ck = df.localCheckpoint(eager=True)
    try:
        sizes = [
            i.memSize() + i.diskSize()
            for i in sc._jsc.sc().getRDDStorageInfo()
            if i.id() not in before
        ]
        size = max(sizes) if sizes else None
    except Exception:
        return ck
    if size is None:
        return ck
    want = max(1, -(-size // target_bytes))
    if want < ck.rdd.getNumPartitions():
        ck = ck.coalesce(want)
    return ck


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the input
    has fewer partitions.

    Row-amplifying projections (shingle/token explodes, per-vector scoring)
    otherwise run in however few partitions the scan produced — measured at
    sf0.1: the whole MinHash chain ran as ONE task (3.2 s on one core vs
    ~0.5 s on 32) because the corpus was a single small parquet file. The
    shuffle moved is the pre-amplification input (cheap); at real scale the
    scan already yields >= parallelism partitions and this is a no-op."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df
