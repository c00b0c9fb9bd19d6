"""Data-mining and feature-engineering certified queries (round-2 batch).

Four operators a reference user runs downstream of the pipeline stages,
each Spark-first with an exact DuckDB oracle:

- ``pareto_frontier_parts`` — 2-D skyline (min price, max size) computed
  with *partitioned* prefix-max windows only (bucket boundaries from an
  exact discrete-quantile sketch, per-bucket carry-in maxes broadcast —
  the same two-phase shape as :mod:`..operators.ranking`), certified
  against the textbook NOT EXISTS dominance oracle.
- ``dq_benford_digits`` — Benford's-law first-digit audit; expected
  frequencies are Python-generated ``log10`` literals embedded in BOTH
  engines (the char-entropy LUT rule: never trust two libms to agree on
  a transcendental to the last ulp).
- ``events_ewma_rolling`` — exponentially-weighted rolling mean over the
  last K events per user. The weighted sum is a *fixed-order* expression
  tree over lag columns (identical text in both engines), so the float
  arithmetic is bit-identical by construction — no aggregation-order
  nondeterminism exists to round away.
- ``agg_histogram_equidepth`` — equi-depth histogram whose bucket
  boundaries are exact discrete quantiles (``approx_percentile`` with
  lossless accuracy ≡ DuckDB ``quantile_disc`` — certified equivalence
  inherited from ``agg_approx_percentiles``), so boundary comparisons
  are against *stored* doubles, never interpolated ones.

Determinism rules follow the registry header; scale notes per query.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from arc_cassandra_pipeline_plugin_spark.functions import small_df

from arc_cassandra_pipeline_plugin_spark.queries import register
from arc_cassandra_pipeline_plugin_spark.sources import load_table

# --------------------------------------------------------------------------
# Pareto frontier (2-D skyline)
# --------------------------------------------------------------------------

_PARETO_BUCKETS = 8


@register(
    "pareto_frontier_parts",
    category="mining",
    oracle="""
SELECT a.p_partkey, a.p_retailprice, a.p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
""",
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier: parts not dominated on (price low, size high).

    A part is dominated iff some part is <= on price and >= on size with
    at least one strict. Equivalent prefix-max formulation (what we
    compute): reduce to one row per distinct price with the max size at
    that price (``gmax``); a part survives iff its size equals ``gmax``
    at its price AND the max size over all *strictly cheaper* prices
    (``cheaper_max``) is below its size.

    Scale shape: the O(n²) dominance join is replaced by one groupBy on
    price (massive reduction: |distinct prices| rows), a *partitioned*
    prefix-max window (buckets from exact discrete price quantiles), and
    an O(buckets) driver-side carry-in max — the exact two-phase pattern
    of ``operators.ranking``. No global window, no cartesian join; the
    comparisons all run on raw stored doubles (no arithmetic → no
    rounding rule needed).
    """
    part = load_table(spark, sf_dir, "part")
    g = part.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))

    qs = [i / _PARETO_BUCKETS for i in range(1, _PARETO_BUCKETS)]
    row = g.select(
        F.percentile_approx("p_retailprice", qs, 100_000).alias("b")
    ).first()
    bounds = sorted(set(row["b"] or []))
    if bounds:
        bounds_arr = F.array(*[F.lit(b) for b in bounds])
        g = g.withColumn(
            "__bkt", F.size(F.filter(bounds_arr, lambda b: b < F.col("p_retailprice")))
        )
    else:  # constant price column: single bucket, still exact
        g = g.withColumn("__bkt", F.lit(0))
    # lineage cut: the carry-in collect and the final frontier both read
    # this frame; one materialization instead of two source scans
    g = g.localCheckpoint(eager=True)

    bucket_max = sorted(
        (r["__bkt"], r["m"])
        for r in g.groupBy("__bkt").agg(F.max("gmax").alias("m")).collect()
    )
    carry, running = [], None
    for bkt, m in bucket_max:
        carry.append((bkt, running))  # max over all strictly-lower buckets
        running = m if running is None else max(running, m)
    carry_df = small_df(spark, 
        [(b, -1 if m is None else m) for b, m in carry], "__bkt INT, prev_max INT"
    )

    w_in = (
        Window.partitionBy("__bkt")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g2 = (
        g.join(F.broadcast(carry_df), "__bkt")
        .withColumn("in_max", F.max("gmax").over(w_in))
        # one row per *distinct* price inside each bucket, so "earlier
        # rows" ≡ "strictly cheaper prices"; sizes are >= 1 so -1 is a
        # safe identity for the running max
        .withColumn(
            "cheaper_max",
            F.greatest(F.coalesce(F.col("in_max"), F.lit(-1)), F.col("prev_max")),
        )
        .select("p_retailprice", "gmax", "cheaper_max")
    )
    return (
        part.join(g2, "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("gmax"))
            & (F.col("cheaper_max") < F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------

# Expected Benford frequency log10(1 + 1/d), Python-generated literals
# shared by both engines (LUT rule: a transcendental evaluated by two
# different libms is a certified 1-ulp divergence source — see
# text_char_entropy).
_BENFORD = [(str(d), round(math.log10(1.0 + 1.0 / d), 6)) for d in range(1, 10)]


def _benford_oracle() -> str:
    values = ", ".join(f"('{d}', {e!r})" for d, e in _BENFORD)
    return f"""
WITH digits AS (
  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS digit
  FROM orders),
counts AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit),
total AS (SELECT count(*) AS total FROM orders),
expected(digit, expected) AS (VALUES {values})
SELECT c.digit, CAST(c.n AS BIGINT) AS n, e.expected AS expected,
       round(CAST(c.n AS DOUBLE) / t.total - e.expected, 6) + 0.0 AS dev
FROM counts c JOIN expected e USING (digit) CROSS JOIN total t
"""


@register("dq_benford_digits", category="quality", oracle=_benford_oracle())
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit: observed vs expected first-digit frequency of
    order totals (a standard fraud/synthetic-data smell test).

    The digit is taken from the DECIMAL(18,2) string rendering (identical
    plain notation in both engines for values >= 1 — no float formatting
    ambiguity); expected frequencies are shared Python literals; the
    deviation divides two exact integers (bit-identical double division)
    and rounds. Scale: one scan, one 9-group aggregate, one broadcast of
    a 1-row total — nothing grows with data."""
    orders = load_table(spark, sf_dir, "orders")
    counts = (
        orders.select(
            F.substring(
                F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expected = small_df(spark, _BENFORD, "digit STRING, expected DOUBLE")
    total = orders.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.join(F.broadcast(expected), "digit")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            "expected",
            (
                F.round(
                    F.col("n").cast("double") / F.col("total") - F.col("expected"), 6
                )
                + F.lit(0.0)
            ).alias("dev"),
        )
    )


# --------------------------------------------------------------------------
# Exponentially-weighted rolling mean
# --------------------------------------------------------------------------

_EWMA_DECAY = 0.7
_EWMA_LAGS = 8  # current row + 7 lags


def _ewma_expr() -> str:
    """The weighted-mean expression over ``value`` and ``lag_1..lag_7``.

    Emitted once and used verbatim in BOTH engines: a fixed-order
    left-associative expression tree over IEEE doubles evaluates
    bit-identically everywhere, so no aggregation-order nondeterminism
    exists — the trailing round(6) is cosmetic, not load-bearing."""
    num, den = [], []
    for j in range(_EWMA_LAGS):
        w = repr(_EWMA_DECAY**j)
        if j == 0:
            num.append(f"value * {w}")
            den.append(f"{w}")
        else:
            num.append(f"coalesce(lag_{j}, 0.0) * {w}")
            den.append(f"(CASE WHEN lag_{j} IS NULL THEN 0.0 ELSE {w} END)")
    return f"round(({' + '.join(num)}) / ({' + '.join(den)}), 6) + 0.0"


def _ewma_oracle() -> str:
    lags = ",\n         ".join(
        f"lag(value, {j}) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS lag_" + str(j)
        for j in range(1, _EWMA_LAGS)
    )
    return f"""
WITH lagged AS (
  SELECT event_id, user_id, value,
         {lags}
  FROM events)
SELECT event_id, user_id, {_ewma_expr()} AS ewma
FROM lagged
"""


@register("events_ewma_rolling", category="timeseries", oracle=_ewma_oracle())
def events_ewma_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted rolling mean of the last 8 event
    values (decay 0.7) — the standard smoothed-feature kernel of a
    training-data pipeline.

    Formulated over ``lag`` columns + one shared fixed-order arithmetic
    expression (see ``_ewma_expr``) instead of an aggregate, so both
    engines evaluate the *same* IEEE expression tree. Scale: one shuffle
    on user_id, partitioned windows only, O(K) lag columns — the
    unbounded-history EWMA recurrence is deliberately avoided because
    its ``decay**-k`` rescaling overflows on long partitions."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    df = ev.select("event_id", "user_id", "value", "ts")
    for j in range(1, _EWMA_LAGS):
        df = df.withColumn(f"lag_{j}", F.lag("value", j).over(w))
    return df.select("event_id", "user_id", F.expr(_ewma_expr()).alias("ewma"))


# --------------------------------------------------------------------------
# Equi-depth histogram
# --------------------------------------------------------------------------

_EQD_FRACS = [round(i / 10, 1) for i in range(1, 10)]


def _equidepth_oracle() -> str:
    fracs = ", ".join(repr(f) for f in _EQD_FRACS)
    bucket = " + ".join(
        f"(CASE WHEN o_totalprice > qs[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(len(_EQD_FRACS))
    )
    return f"""
WITH b AS (SELECT quantile_disc(o_totalprice, [{fracs}]) AS qs FROM orders)
SELECT 1 + {bucket} AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM orders CROSS JOIN b
GROUP BY 1
"""


@register("agg_histogram_equidepth", category="aggregation", oracle=_equidepth_oracle())
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of order totals: 10 buckets
    bounded by exact discrete deciles (sibling of the equi-width
    ``agg_histogram``).

    The boundaries come from ``approx_percentile`` at lossless accuracy —
    *stored* data values, ≡ DuckDB ``quantile_disc`` (the certified
    equivalence of ``agg_approx_percentiles``) — so bucket assignment
    compares raw doubles against raw doubles; no interpolated boundary
    can straddle an ulp. Scale: one mergeable sketch pass for the
    boundaries (broadcast 1 row), one group aggregate; bucket count is
    fixed, so the result never grows."""
    orders = load_table(spark, sf_dir, "orders")
    fracs = ", ".join(repr(f) for f in _EQD_FRACS)
    b = orders.agg(
        F.expr(f"approx_percentile(o_totalprice, array({fracs}), 10000000)").alias("qs")
    )
    bucket = " + ".join(
        f"(CASE WHEN o_totalprice > element_at(qs, {i + 1}) THEN 1 ELSE 0 END)"
        for i in range(len(_EQD_FRACS))
    )
    return (
        orders.crossJoin(F.broadcast(b))
        .groupBy(F.expr(f"1 + {bucket}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total"),
        )
    )


# --------------------------------------------------------------------------
# blocked fuzzy entity resolution (record linkage)
# --------------------------------------------------------------------------

_ER_MAX_EDIT = 3


@register(
    "er_blocked_fuzzy_match",
    category="mining",
    oracle=f"""
WITH b AS (
  SELECT p_partkey, p_name, p_brand, split_part(p_name, ' ', 1) AS blk FROM part)
SELECT a.p_partkey AS part_a, c.p_partkey AS part_b,
       CAST(levenshtein(a.p_name, c.p_name) AS INT) AS edit_dist
FROM b a
JOIN b c ON a.p_brand = c.p_brand AND a.blk = c.blk AND a.p_partkey < c.p_partkey
WHERE levenshtein(a.p_name, c.p_name) <= {_ER_MAX_EDIT}
""",
)
def er_blocked_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage with blocking: candidate entity pairs whose names are
    within edit distance 3, generated ONLY within (brand, first-name-token)
    blocks — the standard two-phase shape (cheap blocking key → expensive
    verify) that keeps fuzzy matching off the all-pairs cliff.

    Scale shape: the self-join is an equi-join on the block key, so the
    quadratic term is the largest block, not the table; edit distance runs
    only on in-block candidates. The integer threshold and JVM levenshtein
    (certified against DuckDB's in scalar_edit_distance) keep both engines
    in exact agreement."""
    from arc_cassandra_pipeline_plugin_spark.sources import load_table as _lt

    parts = _lt(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk")
    )
    a = parts.select(
        F.col("p_partkey").alias("part_a"), F.col("p_name").alias("name_a"), "p_brand", "blk"
    )
    b = parts.select(
        F.col("p_partkey").alias("part_b"), F.col("p_name").alias("name_b"), "p_brand", "blk"
    )
    return (
        a.join(b, ["p_brand", "blk"])
        .filter(F.col("part_a") < F.col("part_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= _ER_MAX_EDIT)
        .select("part_a", "part_b", "edit_dist")
    )


# --------------------------------------------------------------------------
# two-sample distribution drift (discrete KS statistic)
# --------------------------------------------------------------------------

_KS_FRACS = [round(i / 10, 1) for i in range(1, 10)]


def _drift_oracle() -> str:
    fracs = ", ".join(repr(f) for f in _KS_FRACS)
    return f"""
WITH b AS (SELECT quantile_disc(value, [{fracs}]) AS qs FROM events),
th AS (SELECT DISTINCT unnest(qs) AS t FROM b),
per AS (
  SELECT t,
         sum(CASE WHEN event_id % 2 = 0 AND value <= t THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_id % 2 = 1 AND value <= t THEN 1 ELSE 0 END) AS cb
  FROM events CROSS JOIN th GROUP BY t),
tot AS (
  SELECT sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS n_base,
         sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS n_cand
  FROM events)
SELECT round(max(abs(CAST(ca AS DOUBLE) / n_base - CAST(cb AS DOUBLE) / n_cand)), 6)
         AS ks_stat,
       CAST(any_value(n_base) AS BIGINT) AS n_base,
       CAST(any_value(n_cand) AS BIGINT) AS n_cand
FROM per CROSS JOIN tot
"""


@register("dq_distribution_drift", category="quality", oracle=_drift_oracle())
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample distribution drift monitor: the discrete Kolmogorov-
    Smirnov statistic (max CDF gap at the combined deciles) between a
    baseline and a candidate slice of the value column — the standard
    "did the feature distribution move?" gate between pipeline runs.

    The decile grid comes from the lossless-accuracy percentile sketch
    (stored data values ≡ DuckDB quantile_disc), CDF counts are exact
    integers against those stored boundaries, and each CDF is one IEEE
    division — so the statistic is engine-exact after one rounding. Scale:
    one sketch pass, one constant-factor (×9) conditional aggregate, no
    shuffle wider than the 9-row grid broadcast."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    fracs = ", ".join(repr(f) for f in _KS_FRACS)
    b = ev.agg(F.expr(f"approx_percentile(value, array({fracs}), 10000000)").alias("qs"))
    # distinct: concentrated distributions can repeat decile values; a
    # duplicated threshold would double-count its CDF rows after the
    # cross join while n_base/n_cand do not scale (ADVICE r2)
    th = b.select(F.explode("qs").alias("t")).distinct()
    even = F.col("event_id") % 2 == 0
    per = (
        ev.crossJoin(F.broadcast(th))
        .groupBy("t")
        .agg(
            F.sum(F.when(even & (F.col("value") <= F.col("t")), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(~even & (F.col("value") <= F.col("t")), 1).otherwise(0)).alias("cb"),
        )
    )
    tot = ev.agg(
        F.sum(F.when(even, 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(~even, 1).otherwise(0)).alias("n_cand"),
    )
    gap = F.abs(
        F.col("ca").cast("double") / F.col("n_base")
        - F.col("cb").cast("double") / F.col("n_cand")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.max(gap), 6).alias("ks_stat"),
            F.any_value("n_base").cast("bigint").alias("n_base"),
            F.any_value("n_cand").cast("bigint").alias("n_cand"),
        )
    )


@register(
    "dq_ks_exact",
    category="quality",
    oracle="""
WITH per AS (
  SELECT round(value, 2) AS val,
         sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
  FROM events GROUP BY 1),
cum AS (
  SELECT val,
         sum(ca) OVER (ORDER BY val
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         sum(cb) OVER (ORDER BY val
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM per),
tot AS (
  SELECT sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS n_base,
         sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS n_cand
  FROM events)
SELECT round(max(abs(CAST(cum_a AS DOUBLE) / n_base
                     - CAST(cum_b AS DOUBLE) / n_cand)), 6) AS ks_stat,
       count(*) AS n_grid,
       CAST(any_value(n_base) AS BIGINT) AS n_base,
       CAST(any_value(n_cand) AS BIGINT) AS n_cand
FROM cum CROSS JOIN tot
""",
)
def dq_ks_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between the baseline
    and candidate slices: the max CDF gap evaluated at EVERY distinct
    (2-dp-gridded) value, not just the decile sketch grid of
    dq_distribution_drift — the drift gate you run when the sketch KS is
    near the alarm threshold and you need the true statistic.

    Scalable shape: counts pre-aggregate per distinct grid value FIRST
    (groupBy with map-side combine — the only data-sized pass), then the
    cumulative-sum window runs over the VALUE GRID, whose cardinality is
    bounded by the 2-dp grid (value range × 100 cells) regardless of row
    count — the same bounded-input-below-global-window pattern as the
    CUSUM and Zipf queries (plan-guarded in tests/test_plans.py). CDF
    gaps are exact-integer cumulative counts over one IEEE division each;
    one final round(6)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    even = F.col("event_id") % 2 == 0
    per = ev.groupBy(F.round("value", 2).alias("val")).agg(
        F.sum(F.when(even, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~even, 1).otherwise(0)).alias("cb"),
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per.select(
        "val",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = ev.agg(
        F.sum(F.when(even, 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(~even, 1).otherwise(0)).alias("n_cand"),
    )
    gap = F.abs(
        F.col("cum_a").cast("double") / F.col("n_base")
        - F.col("cum_b").cast("double") / F.col("n_cand")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.max(gap), 6).alias("ks_stat"),
            F.count(F.lit(1)).alias("n_grid"),
            F.any_value("n_base").cast("bigint").alias("n_base"),
            F.any_value("n_cand").cast("bigint").alias("n_cand"),
        )
    )


# --------------------------------------------------------------------------
# key-skew diagnostic (Gini coefficient of the key distribution)
# --------------------------------------------------------------------------

@register(
    "dq_key_skew_gini",
    category="quality",
    oracle="""
WITH c AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey),
r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, o_custkey) AS i FROM c),
s AS (SELECT sum(i * cnt) AS s_ic, sum(cnt) AS st, count(*) AS n FROM r)
SELECT round(CAST(2 * s_ic AS DOUBLE) / (n * st) - CAST(n + 1 AS DOUBLE) / n, 6)
         AS gini,
       CAST(n AS BIGINT) AS n_keys,
       CAST(st AS BIGINT) AS n_rows
FROM s
""",
)
def dq_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew early warning: the Gini coefficient of the join/group
    key distribution (0 = perfectly uniform keys, → 1 = one hot key owns
    the table). This is the diagnostic you run BEFORE a big join to decide
    whether salting / AQE skew handling is needed.

    The rank-weighted identity G = 2·Σ(i·cᵢ)/(n·Σcᵢ) − (n+1)/n needs a
    GLOBAL rank of per-key counts — computed with the two-phase bucketed
    ranking operator (partitioned windows + broadcast offsets), never a
    single-partition window; everything up to the final two divisions is
    exact integer arithmetic."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    r = global_row_number(c, order_key="cnt", tiebreaks=["o_custkey"], out_col="i")
    s = r.agg(
        F.sum(F.col("i") * F.col("cnt")).alias("s_ic"),
        F.sum("cnt").alias("st"),
        F.count(F.lit(1)).alias("n"),
    )
    return s.select(
        F.round(
            (F.lit(2) * F.col("s_ic")).cast("double") / (F.col("n") * F.col("st"))
            - (F.col("n") + 1).cast("double") / F.col("n"),
            6,
        ).alias("gini"),
        F.col("n").cast("bigint").alias("n_keys"),
        F.col("st").cast("bigint").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# grouped linear regression (trend per event type)
# --------------------------------------------------------------------------

_REGR_EPOCH0 = 1704067200  # 2024-01-01 UTC — centers x to keep moments small


@register(
    "agg_regression",
    category="aggregation",
    oracle=f"""
SELECT event_type,
       CAST(regr_count(value, epoch(ts) - {_REGR_EPOCH0}) AS BIGINT) AS n,
       round(regr_slope(value, epoch(ts) - {_REGR_EPOCH0}) * 86400, 6) AS slope_per_day,
       round(regr_intercept(value, epoch(ts) - {_REGR_EPOCH0}), 6) AS intercept,
       round(regr_r2(value, epoch(ts) - {_REGR_EPOCH0}), 6) AS r2
FROM events GROUP BY event_type
""",
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend: slope/intercept/R² of event
    value over time via the SQL-standard REGR_* aggregates (one map-side-
    combinable pass — the moments are mergeable, no per-group sort).

    The x axis is epoch seconds CENTERED on a fixed origin: raw epochs
    (~1.7e9) square to ~3e18 and eat the double mantissa, making the tiny
    slope numerically unstable across summation orders; centered x keeps
    every moment small enough that 6-dp rounding absorbs order drift.
    Slope is rescaled to per-day units for legibility."""
    ev = load_table(spark, sf_dir, "events")
    x = F.col("ts").cast("double") - F.lit(_REGR_EPOCH0)
    return ev.groupBy("event_type").agg(
        F.regr_count(F.col("value"), x).cast("bigint").alias("n"),
        F.round(F.regr_slope(F.col("value"), x) * 86400, 6).alias("slope_per_day"),
        F.round(F.regr_intercept(F.col("value"), x), 6).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# ABC (Pareto) revenue classification — scalable cumulative share
# --------------------------------------------------------------------------

_ABC_BUCKET = 512


@register(
    "orders_abc_analysis",
    category="mining",
    oracle="""
WITH rev AS (SELECT o_custkey AS c, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rv
             FROM orders GROUP BY 1),
rk AS (SELECT c, rv, row_number() OVER (ORDER BY CAST(rv AS DOUBLE) DESC, c) AS rn
       FROM rev),
cum AS (SELECT c, rv, sum(rv) OVER (ORDER BY rn
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm FROM rk),
tot AS (SELECT sum(rv) AS t FROM rev)
SELECT CASE WHEN 10 * cm <= 8 * t THEN 'A'
            WHEN 100 * cm <= 95 * t THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(rv) AS DOUBLE), 2) AS class_revenue
FROM cum CROSS JOIN tot GROUP BY 1
""",
)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: customers ranked by revenue, class A =
    the head covering 80% of cumulative revenue, B to 95%, C the tail —
    the inventory-management classic, here as the scalable shape.

    The global revenue rank uses the two-phase bucketed ranking operator;
    the CUMULATIVE sum then reuses the same decomposition — prefix sums
    within rank-buckets (partitioned windows) plus a broadcast per-bucket
    carry-in offset — so no single-partition running sum exists. Revenue
    stays in exact DECIMAL end-to-end and the 80/95 boundaries are
    integer-multiplied decimal comparisons — no float can move a customer
    across a class edge."""
    from pyspark.sql.window import Window
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rv")
    )
    ranked = global_row_number(
        rev.withColumn("rev_ord", -F.col("rv").cast("double")),
        order_key="rev_ord",
        tiebreaks=["c"],
        out_col="rn",
    ).withColumn("bkt", ((F.col("rn") - 1) / _ABC_BUCKET).cast("bigint"))
    wb = (
        Window.partitionBy("bkt")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = ranked.withColumn("prefix", F.sum("rv").over(wb))
    btot = ranked.groupBy("bkt").agg(F.sum("rv").alias("bt"))
    a = btot.select(F.col("bkt").alias("bi"))
    b = btot.select(F.col("bkt").alias("bj"), "bt")
    offs = (
        a.join(F.broadcast(b), F.col("bj") < F.col("bi"), "left")
        .groupBy("bi")
        .agg(F.coalesce(F.sum("bt"), F.lit(0).cast("decimal(18,2)")).alias("off"))
    )
    cum = within.join(F.broadcast(offs), within["bkt"] == offs["bi"]).withColumn(
        "cm", F.col("prefix") + F.col("off")
    )
    tot = rev.agg(F.sum("rv").alias("t"))
    cls = (
        F.when(F.lit(10) * F.col("cm") <= F.lit(8) * F.col("t"), "A")
        .when(F.lit(100) * F.col("cm") <= F.lit(95) * F.col("t"), "B")
        .otherwise("C")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("rv").cast("double"), 2).alias("class_revenue"),
        )
    )


# --------------------------------------------------------------------------
# MAD-based robust outlier screen
# --------------------------------------------------------------------------

@register(
    "dq_outliers_mad",
    category="quality",
    oracle="""
WITH med AS (SELECT event_type, quantile_disc(value, 0.5) AS med FROM events GROUP BY 1),
dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
        FROM events e JOIN med m ON m.event_type = e.event_type),
mad AS (SELECT event_type, quantile_disc(ad, 0.5) AS mad FROM dev GROUP BY 1)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       any_value(d.med) AS median_value,
       any_value(m.mad) AS mad,
       CAST(sum(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type
""",
)
def dq_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per group: |x − median| > 3·MAD — immune to
    the outliers themselves (unlike the z-score screen, whose mean and
    σ the outliers inflate). Companion to dq_outliers_zscore.

    Median and MAD are exact discrete quantiles (stored values); the
    deviation and the 3·MAD threshold are single IEEE ops on identical
    operands, so the flag set is engine-exact with no rounding step at
    all. Two group aggregates and two broadcast-sized joins on the group
    key."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000000)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("approx_percentile(ad, 0.5, 10000000)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.any_value("med").alias("median_value"),
            F.any_value("mad").alias("mad"),
            F.sum(F.when(F.col("ad") > F.lit(3) * F.col("mad"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (exact-quartile bucketing)
# --------------------------------------------------------------------------

_RFM_FRACS = [0.25, 0.5, 0.75]


def _rfm_oracle() -> str:
    fracs = ", ".join(repr(f) for f in _RFM_FRACS)

    def bucket(val: str, qs: str) -> str:
        return "1 + " + " + ".join(
            f"(CASE WHEN {val} > {qs}[{i + 1}] THEN 1 ELSE 0 END)"
            for i in range(len(_RFM_FRACS))
        )

    return f"""
WITH ref AS (SELECT max(o_orderdate) AS mx FROM orders),
base AS (
  SELECT o_custkey,
         CAST(date_diff('day', max(o_orderdate), any_value(mx)) AS BIGINT) AS recency_d,
         count(*) AS freq,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders CROSS JOIN ref GROUP BY o_custkey),
qs AS (
  SELECT quantile_disc(recency_d, [{fracs}]) AS qr,
         quantile_disc(freq, [{fracs}]) AS qf,
         quantile_disc(monetary, [{fracs}]) AS qm
  FROM base),
scored AS (
  SELECT ({bucket('recency_d', 'qr')}) AS r_score,
         ({bucket('freq', 'qf')}) AS f_score,
         ({bucket('monetary', 'qm')}) AS m_score
  FROM base CROSS JOIN qs)
SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score, CAST(count(*) AS BIGINT) AS n_customers
FROM scored GROUP BY 1, 2, 3
"""


@register("orders_rfm_segmentation", category="mining", oracle=_rfm_oracle())
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1-4 on Recency (days since
    last order), Frequency (order count) and Monetary (exact-decimal
    revenue) by exact-quartile bucketing — the classic marketing segment
    cube, certified as per-segment counts.

    Quartile boundaries come from the lossless percentile sketch (stored
    values ≡ quantile_disc) broadcast as one row; bucket assignment is
    raw-value > stored-boundary comparisons — no interpolation, no
    rounding anywhere. Two linear aggregates plus a 64-cell group-by."""
    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("mx"))
    base = (
        orders.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.any_value("mx"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("recency_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    fracs = ", ".join(repr(f) for f in _RFM_FRACS)
    qs = base.agg(
        F.expr(f"approx_percentile(recency_d, array({fracs}), 10000000)").alias("qr"),
        F.expr(f"approx_percentile(freq, array({fracs}), 10000000)").alias("qf"),
        F.expr(f"approx_percentile(monetary, array({fracs}), 10000000)").alias("qm"),
    )

    def bucket(val: str, qcol: str):
        e = F.lit(1)
        for i in range(len(_RFM_FRACS)):
            e = e + F.when(
                F.col(val) > F.element_at(F.col(qcol), i + 1), 1
            ).otherwise(0)
        return e

    scored = base.crossJoin(F.broadcast(qs)).select(
        bucket("recency_d", "qr").cast("int").alias("r_score"),
        bucket("freq", "qf").cast("int").alias("f_score"),
        bucket("monetary", "qm").cast("int").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


# --------------------------------------------------------------------------
# decile gains curve (marketing lift chart)
# --------------------------------------------------------------------------

@register(
    "orders_decile_gains",
    category="mining",
    oracle="""
WITH rev AS (SELECT o_custkey AS c, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rv
             FROM orders GROUP BY 1),
rk AS (SELECT c, rv, ntile(10) OVER (ORDER BY CAST(rv AS DOUBLE) DESC, c) AS decile
       FROM rev),
tot AS (SELECT sum(rv) AS t FROM rev)
SELECT CAST(decile AS INT) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(rv) AS DOUBLE), 2) AS decile_revenue,
       round(CAST(sum(rv) AS DOUBLE) / CAST(any_value(t) AS DOUBLE), 6) AS revenue_share
FROM rk CROSS JOIN tot GROUP BY decile
""",
)
def orders_decile_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains (lift) curve: customers ranked by revenue, the revenue
    share captured by each decile — the targeting chart behind "the top
    10% drive X% of revenue".

    The global decile assignment uses the two-phase bucketed ntile
    operator (partitioned windows + broadcast offsets — no
    single-partition sort); revenue stays exact DECIMAL and each share is
    one division against the broadcast total."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rv")
    )
    ranked = global_ntile(
        rev.withColumn("rev_ord", -F.col("rv").cast("double")),
        order_key="rev_ord",
        tiebreaks=["c"],
        n=10,
        out_col="decile",
    )
    tot = rev.agg(F.sum("rv").alias("t"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(F.col("decile").cast("int").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("rv").cast("double"), 2).alias("decile_revenue"),
            F.round(
                F.sum("rv").cast("double") / F.any_value(F.col("t").cast("double")), 6
            ).alias("revenue_share"),
        )
    )


# --------------------------------------------------------------------------
# one-way ANOVA (rational-arithmetic F statistic)
# --------------------------------------------------------------------------

@register(
    "dq_anova_value_by_type",
    category="quality",
    oracle="""
WITH g AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(value AS DECIMAL(18,2))) AS s
  FROM events GROUP BY event_type),
tot AS (SELECT sum(n) AS nt, sum(s) AS st, count(*) AS k FROM g),
terms AS (
  SELECT e.event_type,
         CAST(round((e.value - CAST(g.s AS DOUBLE) / g.n)
                    * (e.value - CAST(g.s AS DOUBLE) / g.n), 9) AS DECIMAL(24,9)) AS w
  FROM events e JOIN g ON g.event_type = e.event_type),
ssw AS (SELECT sum(w) AS ssw FROM terms),
ssb AS (
  SELECT sum(CAST(round(g.n * (CAST(g.s AS DOUBLE) / g.n - CAST(t.st AS DOUBLE) / t.nt)
                        * (CAST(g.s AS DOUBLE) / g.n - CAST(t.st AS DOUBLE) / t.nt), 9)
                  AS DECIMAL(24,9))) AS ssb
  FROM g CROSS JOIN tot t)
SELECT round(CAST(ssb.ssb AS DOUBLE), 4) AS ss_between,
       round(CAST(ssw.ssw AS DOUBLE), 4) AS ss_within,
       CAST(t.k - 1 AS BIGINT) AS df_between,
       CAST(t.nt - t.k AS BIGINT) AS df_within,
       round((CAST(ssb.ssb AS DOUBLE) / (t.k - 1))
             / (CAST(ssw.ssw AS DOUBLE) / (t.nt - t.k)), 6) AS f_stat
FROM ssb, ssw, tot t
""",
)
def dq_anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across event types: does the mean
    value genuinely differ by type, or is the spread within-group noise?
    Like the chi-square audit, the F statistic is entirely RATIONAL —
    group means are single divisions of DECIMAL-exact sums, each squared
    deviation rounds to 9 dp and sums in DECIMAL (no float order), and F
    is a fixed 4-op scalar chain — so it certifies exactly; the p-value
    lookup (incomplete beta) belongs to the caller.

    Scale: one corpus aggregate for the group moments, one corpus pass
    for within-group terms against broadcast means, dimension-sized
    everything else."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"), F.sum("s").alias("st"), F.count(F.lit(1)).alias("k")
    )
    mean_g = F.col("s").cast("double") / F.col("n")
    dev = F.col("value") - mean_g
    terms = ev.join(F.broadcast(g), "event_type").select(
        F.round(dev * dev, 9).cast("decimal(24,9)").alias("w")
    )
    ssw = terms.agg(F.sum("w").alias("ssw"))
    mean_t = F.col("st").cast("double") / F.col("nt")
    bdev = mean_g - mean_t
    ssb = (
        g.crossJoin(F.broadcast(tot))
        .select(F.round(F.col("n") * bdev * bdev, 9).cast("decimal(24,9)").alias("b"))
        .agg(F.sum("b").alias("ssb"))
    )
    return (
        ssb.crossJoin(ssw)
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(F.col("ssb").cast("double"), 4).alias("ss_between"),
            F.round(F.col("ssw").cast("double"), 4).alias("ss_within"),
            (F.col("k") - 1).cast("bigint").alias("df_between"),
            (F.col("nt") - F.col("k")).cast("bigint").alias("df_within"),
            F.round(
                (F.col("ssb").cast("double") / (F.col("k") - 1))
                / (F.col("ssw").cast("double") / (F.col("nt") - F.col("k"))),
                6,
            ).alias("f_stat"),
        )
    )


# --------------------------------------------------------------------------
# Kendall tau over aggregated levels (scalable rank correlation)
# --------------------------------------------------------------------------

@register(
    "corr_kendall_size_price",
    category="mining",
    oracle="""
WITH lvl AS (
  SELECT p_size, sum(CAST(p_retailprice AS DECIMAL(18,2))) AS s, count(*) AS n
  FROM part GROUP BY p_size),
pairs AS (
  SELECT CASE WHEN (a.s * b.n) < (b.s * a.n) THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.s * b.n) > (b.s * a.n) THEN 1 ELSE 0 END AS disc
  FROM lvl a JOIN lvl b ON a.p_size < b.p_size)
SELECT CAST((SELECT count(*) FROM lvl) AS BIGINT) AS n_levels,
       CAST(sum(conc) AS BIGINT) AS concordant,
       CAST(sum(disc) AS BIGINT) AS discordant,
       round(CAST(sum(conc) - sum(disc) AS DOUBLE) / (sum(conc) + sum(disc)), 6)
         AS kendall_tau
FROM pairs
""",
)
def corr_kendall_size_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank (Kendall) correlation between part size and mean retail price,
    computed over the AGGREGATED size levels — the scalable form of a
    rank correlation: raw Kendall is O(n²) in rows, but monotonicity of a
    size→price relation lives entirely in the ~50-level means, so the
    pair stage is level², a dimension constant.

    The mean comparison is the cross-multiplication a.s·b.n vs b.s·a.n in
    exact DECIMAL — no division before comparing, so concordance is
    engine-exact; tau is one final rounded division. Complements the
    Pearson corr/covar battery with the outlier-robust rank view."""
    part = load_table(spark, sf_dir, "part")
    lvl = part.groupBy("p_size").agg(
        F.sum(F.col("p_retailprice").cast("decimal(18,2)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    a = lvl.select(
        F.col("p_size").alias("sa"), F.col("s").alias("xa"), F.col("n").alias("na")
    )
    b = lvl.select(
        F.col("p_size").alias("sb"), F.col("s").alias("xb"), F.col("n").alias("nb")
    )
    pairs = a.join(F.broadcast(b), F.col("sa") < F.col("sb")).select(
        F.when(F.col("xa") * F.col("nb") < F.col("xb") * F.col("na"), 1)
        .otherwise(0)
        .alias("conc"),
        F.when(F.col("xa") * F.col("nb") > F.col("xb") * F.col("na"), 1)
        .otherwise(0)
        .alias("disc"),
    )
    n_levels = lvl.agg(F.count(F.lit(1)).alias("n_levels"))
    return (
        pairs.agg(
            F.sum("conc").alias("concordant"), F.sum("disc").alias("discordant")
        )
        .crossJoin(F.broadcast(n_levels))
        .select(
            F.col("n_levels").cast("bigint").alias("n_levels"),
            F.col("concordant").cast("bigint").alias("concordant"),
            F.col("discordant").cast("bigint").alias("discordant"),
            F.round(
                (F.col("concordant") - F.col("discordant")).cast("double")
                / (F.col("concordant") + F.col("discordant")),
                6,
            ).alias("kendall_tau"),
        )
    )


# --------------------------------------------------------------------------
# market-basket affinity (support / confidence / lift)
# --------------------------------------------------------------------------

@register(
    "basket_category_affinity",
    category="mining",
    oracle="""
WITH items AS (
  SELECT DISTINCT l.l_orderkey, split_part(p.p_name, ' ', 1) AS cat
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS no FROM items),
cat_n AS (SELECT cat, count(*) AS nc FROM items GROUP BY cat),
pair_n AS (
  SELECT a.cat AS cat_a, b.cat AS cat_b, count(*) AS nab
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.cat < b.cat
  GROUP BY 1, 2)
SELECT cat_a, cat_b, CAST(nab AS BIGINT) AS n_together,
       round(CAST(nab AS DOUBLE) / no, 6) AS support,
       round(CAST(nab AS DOUBLE) / ca.nc, 6) AS confidence_a_to_b,
       round(CAST(no * nab AS DOUBLE) / (ca.nc * cb.nc), 6) AS lift
FROM pair_n
JOIN cat_n ca ON ca.cat = pair_n.cat_a
JOIN cat_n cb ON cb.cat = pair_n.cat_b
CROSS JOIN n_orders
""",
)
def basket_category_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis over part categories (first name token):
    support, confidence and lift for every category pair co-occurring in
    an order — the association-rule core (the full Apriori lattice
    reduces to this pair pass when the itemset cap is 2).

    The pair join runs on the per-order DISTINCT category projection
    (categories², dimension-bounded output); counts stay integer and the
    three ratios are single divisions — lift in particular is the
    cross-multiplied form with no intermediate probability rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            "l_orderkey",
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("cat"),
        )
        .distinct()
    )
    n_orders = items.agg(F.countDistinct("l_orderkey").alias("no"))
    cat_n = items.groupBy("cat").agg(F.count(F.lit(1)).alias("nc"))
    a = items.select("l_orderkey", F.col("cat").alias("cat_a"))
    b = items.select("l_orderkey", F.col("cat").alias("cat_b"))
    pair_n = (
        a.join(b, "l_orderkey")
        .filter(F.col("cat_a") < F.col("cat_b"))
        .groupBy("cat_a", "cat_b")
        .agg(F.count(F.lit(1)).alias("nab"))
    )
    ca = cat_n.select(F.col("cat").alias("cat_a"), F.col("nc").alias("nca"))
    cb = cat_n.select(F.col("cat").alias("cat_b"), F.col("nc").alias("ncb"))
    return (
        pair_n.join(F.broadcast(ca), "cat_a")
        .join(F.broadcast(cb), "cat_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "cat_a",
            "cat_b",
            F.col("nab").cast("bigint").alias("n_together"),
            F.round(F.col("nab").cast("double") / F.col("no"), 6).alias("support"),
            F.round(F.col("nab").cast("double") / F.col("nca"), 6).alias(
                "confidence_a_to_b"
            ),
            F.round(
                (F.col("no") * F.col("nab")).cast("double")
                / (F.col("nca") * F.col("ncb")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# return-rate by brand (product quality analytics)
# --------------------------------------------------------------------------

@register(
    "lineitem_return_rate_by_brand",
    category="mining",
    oracle="""
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       round(CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS return_rate,
       round(CAST(sum(CASE WHEN l.l_returnflag = 'R'
                           THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 2)
         AS returned_value
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
""",
)
def lineitem_return_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate league table per brand: line counts, returned share and
    DECIMAL-exact returned value — the product-quality readout that feeds
    supplier scorecards. The part dimension broadcasts (fixed
    cardinality), the fact aggregates map-side, and the rate is one
    division of exact counts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    is_r = F.col("l_returnflag") == "R"
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(is_r, 1).otherwise(0)).cast("bigint").alias("n_returned"),
            F.round(
                F.sum(F.when(is_r, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("return_rate"),
            F.round(
                F.sum(
                    F.when(
                        is_r, F.col("l_extendedprice").cast("decimal(18,2)")
                    ).otherwise(F.lit(0).cast("decimal(18,2)"))
                ).cast("double"),
                2,
            ).alias("returned_value"),
        )
    )


# --------------------------------------------------------------------------
# spatial: grid-bucketed proximity join (vs brute-force oracle)
# --------------------------------------------------------------------------

_PROX_GRID = 1000
_PROX_RADIUS = 25


@register(
    "spatial_proximity_join",
    category="spatial",
    oracle=f"""
WITH pt AS (
  SELECT c_custkey AS id,
         ('0x' || substr(md5('sx:' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
           % {_PROX_GRID} AS x,
         ('0x' || substr(md5('sy:' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
           % {_PROX_GRID} AS y
  FROM customer)
SELECT a.id AS id_a, b.id AS id_b,
       CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT)
         AS dist_sq
FROM pt a JOIN pt b ON a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {_PROX_RADIUS * _PROX_RADIUS}
""",
)
def spatial_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within Euclidean radius 25 on a deterministic
    1000×1000 lattice (md5-prefix coordinates) — the spatial self-join
    every geo workload needs, certified against the brute-force all-pairs
    oracle.

    The Spark plan is the SCALABLE formulation: radius-sized grid cells,
    each point replicated to its 3×3 cell neighborhood (constant fan-out),
    one equi-join keyed by cell — never an all-pairs comparison, and every
    qualifying pair found exactly once by construction (the mirror match
    dies on the id_a < id_b canonicalization). Distances are exact integer
    squares; no float enters the predicate. See operators/spatial.py."""
    from arc_cassandra_pipeline_plugin_spark.operators import spatial as SP

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    pts = SP.grid_points(cust, "c_custkey", grid=_PROX_GRID)
    return SP.proximity_join(pts, radius=_PROX_RADIUS)


# --------------------------------------------------------------------------
# file-level skipping index through the _metadata hidden column
# --------------------------------------------------------------------------


@register(
    "scan_metadata_skipping_index",
    category="scan",
    oracle="""
SELECT l_returnflag AS flag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
       CAST(max(l_orderkey) AS BIGINT) AS max_orderkey
FROM lineitem WHERE l_orderkey < 4000
GROUP BY 1
""",
)
def scan_metadata_skipping_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a file-level min/max skipping index through Spark's hidden
    `_metadata` column: a partitioned parquet layout is written (one file
    per partition value), read back, and grouped by the partition value
    EXTRACTED FROM THE FILE PATH — certifying that `_metadata.file_path`
    reflects the physical layout and that per-file min/max statistics
    equal the per-partition truth. This is the metadata a lakehouse query
    planner consults to skip files; at scale the index build is one
    aggregate keyed by file, proportional to file count."""
    from arc_cassandra_pipeline_plugin_spark.queries import scratch_dir

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 4000)
        .select("l_orderkey", "l_returnflag")
    )
    path = scratch_dir("skipidx")
    (
        li.repartition("l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    flag = F.regexp_extract(F.col("_metadata.file_path"), r"l_returnflag=([^/]+)/", 1)
    return back.groupBy(flag.alias("flag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("l_orderkey").cast("bigint").alias("min_orderkey"),
        F.max("l_orderkey").cast("bigint").alias("max_orderkey"),
    )


# --------------------------------------------------------------------------
# trailing-window OLS trend per user (exact integer normal equations)
# --------------------------------------------------------------------------


@register(
    "events_rolling_ols_slope",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2, 3),
win AS (
  SELECT user_id, day,
         count(*) OVER w AS n,
         CAST(sum(x) OVER w AS BIGINT) AS sx,
         CAST(sum(y) OVER w AS BIGINT) AS sy,
         CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
         CAST(sum(x * x) OVER w AS BIGINT) AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
SELECT user_id, day, CAST(n AS BIGINT) AS n_obs,
       CASE WHEN n * sxx - sx * sx > 0
            THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / (n * sxx - sx * sx), 6) END AS slope_cents_per_day
FROM win
""",
)
def events_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-observation OLS trend per user: the least-squares slope
    of daily spend (exact cents) against the day index, evaluated at every
    day — the rolling "how fast is this account growing?" feature.

    The normal equations use ONLY exact integer window sums (n, Σx, Σy,
    Σxy, Σx²) over the per-(user, day) aggregate — one user-keyed shuffle,
    window state bounded at 30 rows — and the slope materializes as a
    single integer-ratio division (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²), so no
    accumulation-order float drift is possible; the denominator is zero
    exactly when the window holds one day."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("y"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-29, Window.currentRow)
    )
    win = daily.select(
        "user_id",
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return win.select(
        "user_id",
        "day",
        F.col("n").cast("bigint").alias("n_obs"),
        F.when(den > 0, F.round(num.cast("double") / den, 6)).alias(
            "slope_cents_per_day"
        ),
    )


_TRIPLE_LIFT_SQL = (
    "CAST(round((CAST(no AS DOUBLE) * CAST(no AS DOUBLE)"
    " * CAST(nabc AS DOUBLE)"
    " / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(nc3 AS DOUBLE)))"
    " * 1000000.0) AS BIGINT)"
)

_TRIPLE_SUPPORT_SQL = (
    "CAST(round((CAST(nabc AS DOUBLE) / CAST(no AS DOUBLE))"
    " * 1000000.0) AS BIGINT)"
)


@register(
    "basket_apriori_triples",
    category="mining",
    plan_shape="scalar_broadcast",
    plan_reason="broadcast 1-row basket-count total for support thresholds",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
no_t AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS no FROM items),
brand_n AS (SELECT brand, CAST(count(*) AS BIGINT) AS nb1 FROM items
            GROUP BY brand),
freq AS (SELECT brand, nb1 FROM brand_n CROSS JOIN no_t
         WHERE nb1 * 100 >= no),
itf AS (SELECT i.l_orderkey, i.brand FROM items i
        JOIN freq f ON f.brand = i.brand),
triples AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, c.brand AS brand_c,
         CAST(count(*) AS BIGINT) AS nabc
  FROM itf a
  JOIN itf b ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
  JOIN itf c ON b.l_orderkey = c.l_orderkey AND b.brand < c.brand
  GROUP BY 1, 2, 3),
kept AS (
  SELECT t.brand_a, t.brand_b, t.brand_c, t.nabc,
         fa.nb1 AS na, fb.nb1 AS nb, fc.nb1 AS nc3, no_t.no
  FROM triples t
  JOIN freq fa ON fa.brand = t.brand_a
  JOIN freq fb ON fb.brand = t.brand_b
  JOIN freq fc ON fc.brand = t.brand_c
  CROSS JOIN no_t
  WHERE t.nabc * 500 >= no_t.no)
SELECT brand_a, brand_b, brand_c, nabc AS n_together,
       {_TRIPLE_SUPPORT_SQL} AS support_micro,
       {_TRIPLE_LIFT_SQL} AS lift_micro
FROM kept
""",
)
def basket_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori 3-itemset mining over order baskets of part brands: frequent
    single brands (>=1% of orders) gate the candidate space — the Apriori
    downward-closure prune — then an ordered triple self-join on the
    per-order DISTINCT projection counts exact co-occurrence, keeping
    triples with >=0.2% support. Lift against three-way independence is
    the cross-multiplied integer form scored as one fixed-shape double
    (SAME SQL text both engines), emitted as integer micro-units.

    Scale shape: the basket projection is one fact shuffle; the triple
    join is keyed by order and bounded by per-basket frequent-brand count
    (C(m,3) rows per order, m <= basket size), never all-pairs across
    orders; brand margins and the order count are label-sized broadcasts.
    Thresholds are integer cross-multiplications — no float boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint()
    )
    no_t = items.agg(F.countDistinct("l_orderkey").cast("bigint").alias("no"))
    brand_n = items.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb1")
    )
    freq = (
        brand_n.crossJoin(F.broadcast(no_t))
        .where(F.col("nb1") * 100 >= F.col("no"))
        .select("brand", "nb1")
    )
    itf = items.join(F.broadcast(freq.select("brand")), "brand").select(
        "l_orderkey", "brand"
    )
    a = itf.select("l_orderkey", F.col("brand").alias("brand_a"))
    b = itf.select("l_orderkey", F.col("brand").alias("brand_b"))
    c = itf.select("l_orderkey", F.col("brand").alias("brand_c"))
    triples = (
        a.join(b, "l_orderkey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .join(c, "l_orderkey")
        .where(F.col("brand_b") < F.col("brand_c"))
        .groupBy("brand_a", "brand_b", "brand_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nabc"))
    )
    fa = freq.select(F.col("brand").alias("brand_a"), F.col("nb1").alias("na"))
    fb = freq.select(F.col("brand").alias("brand_b"), F.col("nb1").alias("nb"))
    fc = freq.select(F.col("brand").alias("brand_c"), F.col("nb1").alias("nc3"))
    kept = (
        triples.join(F.broadcast(fa), "brand_a")
        .join(F.broadcast(fb), "brand_b")
        .join(F.broadcast(fc), "brand_c")
        .crossJoin(F.broadcast(no_t))
        .where(F.col("nabc") * 500 >= F.col("no"))
    )
    return kept.select(
        "brand_a",
        "brand_b",
        "brand_c",
        F.col("nabc").alias("n_together"),
        F.expr(_TRIPLE_SUPPORT_SQL).alias("support_micro"),
        F.expr(_TRIPLE_LIFT_SQL).alias("lift_micro"),
    )


# --------------------------------------------------------------------------
# exponentially-weighted moving average of daily spend (dyadic-exact)
# --------------------------------------------------------------------------


@register(
    "events_ewma_spend",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
win AS (
  SELECT user_id, day, y,
         CAST(count(*) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
         lag(y, 0) OVER w AS y0,
         lag(y, 1) OVER w AS y1,
         lag(y, 2) OVER w AS y2,
         lag(y, 3) OVER w AS y3,
         lag(y, 4) OVER w AS y4,
         lag(y, 5) OVER w AS y5,
         lag(y, 6) OVER w AS y6,
         lag(y, 7) OVER w AS y7,
         lag(y, 8) OVER w AS y8,
         lag(y, 9) OVER w AS y9,
         lag(y, 10) OVER w AS y10,
         lag(y, 11) OVER w AS y11,
         lag(y, 12) OVER w AS y12,
         lag(y, 13) OVER w AS y13,
         lag(y, 14) OVER w AS y14,
         lag(y, 15) OVER w AS y15
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day))
SELECT user_id, day, n AS n_obs,
       round(CAST(coalesce(y0, 0) * 32768 + coalesce(y1, 0) * 16384 + coalesce(y2, 0) * 8192 + coalesce(y3, 0) * 4096 + coalesce(y4, 0) * 2048 + coalesce(y5, 0) * 1024 + coalesce(y6, 0) * 512 + coalesce(y7, 0) * 256 + coalesce(y8, 0) * 128 + coalesce(y9, 0) * 64 + coalesce(y10, 0) * 32 + coalesce(y11, 0) * 16 + coalesce(y12, 0) * 8 + coalesce(y13, 0) * 4 + coalesce(y14, 0) * 2 + coalesce(y15, 0) * 1 AS DOUBLE)
             / ((1::BIGINT << 16) - (1::BIGINT << CAST(16 - n AS INT))), 6)
         AS ewma_cents
FROM win
""",
)
def events_ewma_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 1/2, 16-term window)
    of daily spend per user — the smoothed activity feature every
    engagement model consumes, certified EXACTLY across engines.

    Determinism by construction: with alpha = 1/2 the weights are powers
    of two, so numerator (sum of y_(t-k) * 2^(15-k)) and denominator
    (2^16 - 2^(16-n), the geometric partial sum over the n observed lags)
    are EXACT BIGINTs assembled from 16 lag columns in ONE user-keyed
    window pass; the EWMA is a single integer-ratio division rounded at
    6 dp — no float accumulation anywhere, so partitioning cannot move
    the result. Scale shape: one shuffle on user_id, window state bounded
    at 16 rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    wn = w.rowsBetween(-15, 0)
    lagged = daily.select(
        "user_id",
        "day",
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
        F.lag("y", 0).over(w).alias("y0"),
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 2).over(w).alias("y2"),
        F.lag("y", 3).over(w).alias("y3"),
        F.lag("y", 4).over(w).alias("y4"),
        F.lag("y", 5).over(w).alias("y5"),
        F.lag("y", 6).over(w).alias("y6"),
        F.lag("y", 7).over(w).alias("y7"),
        F.lag("y", 8).over(w).alias("y8"),
        F.lag("y", 9).over(w).alias("y9"),
        F.lag("y", 10).over(w).alias("y10"),
        F.lag("y", 11).over(w).alias("y11"),
        F.lag("y", 12).over(w).alias("y12"),
        F.lag("y", 13).over(w).alias("y13"),
        F.lag("y", 14).over(w).alias("y14"),
        F.lag("y", 15).over(w).alias("y15"),
    )
    num = (
        F.coalesce(F.col("y0"), F.lit(0)).cast("bigint") * F.lit(32768)
        + F.coalesce(F.col("y1"), F.lit(0)).cast("bigint") * F.lit(16384)
        + F.coalesce(F.col("y2"), F.lit(0)).cast("bigint") * F.lit(8192)
        + F.coalesce(F.col("y3"), F.lit(0)).cast("bigint") * F.lit(4096)
        + F.coalesce(F.col("y4"), F.lit(0)).cast("bigint") * F.lit(2048)
        + F.coalesce(F.col("y5"), F.lit(0)).cast("bigint") * F.lit(1024)
        + F.coalesce(F.col("y6"), F.lit(0)).cast("bigint") * F.lit(512)
        + F.coalesce(F.col("y7"), F.lit(0)).cast("bigint") * F.lit(256)
        + F.coalesce(F.col("y8"), F.lit(0)).cast("bigint") * F.lit(128)
        + F.coalesce(F.col("y9"), F.lit(0)).cast("bigint") * F.lit(64)
        + F.coalesce(F.col("y10"), F.lit(0)).cast("bigint") * F.lit(32)
        + F.coalesce(F.col("y11"), F.lit(0)).cast("bigint") * F.lit(16)
        + F.coalesce(F.col("y12"), F.lit(0)).cast("bigint") * F.lit(8)
        + F.coalesce(F.col("y13"), F.lit(0)).cast("bigint") * F.lit(4)
        + F.coalesce(F.col("y14"), F.lit(0)).cast("bigint") * F.lit(2)
        + F.coalesce(F.col("y15"), F.lit(0)).cast("bigint") * F.lit(1)
    )
    den = F.expr(
        "shiftleft(CAST(1 AS BIGINT), 16)"
        " - shiftleft(CAST(1 AS BIGINT), CAST(16 - n AS INT))"
    )
    return lagged.select(
        "user_id",
        "day",
        F.col("n").alias("n_obs"),
        F.round(num.cast("double") / den, 6).alias("ewma_cents"),
    )


# --------------------------------------------------------------------------
# file-skipping index through the ParquetExtract stage option
# --------------------------------------------------------------------------


@register(
    "scan_skipping_index_extract",
    category="scan",
    oracle="""
SELECT l_returnflag AS flag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey
FROM lineitem WHERE l_orderkey >= 1200 AND l_orderkey <= 4200
GROUP BY 1
""",
)
def scan_skipping_index_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ParquetExtract file-skipping index driven end-to-end as a
    certified query: a range-partitioned layout is written (disjoint
    per-file min/max stats), then read back THROUGH the stage with
    skipIndexColumn + bounds — the stage consults the per-file manifest,
    reads only intersecting files (pytest asserts the pruned inputFiles),
    and re-applies the range predicate, so the result is provably the
    full scan's. At 100 TB this is the lakehouse data-skipping pattern:
    pruning work is O(files) in the planner, zero rows from skipped files
    ever leave storage. Oracle is the plain filtered aggregate."""
    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
    from arc_cassandra_pipeline_plugin_spark.queries import scratch_dir, session_suffix
    from arc_cassandra_pipeline_plugin_spark.stages import ParquetExtract

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    path = scratch_dir("skipstage")
    li.repartitionByRange(8, "l_orderkey").write.mode("overwrite").parquet(path)
    st = ParquetExtract(
        name="skip_scan",
        input_uri=path,
        output_view=f"skip_scan_{session_suffix()}",
        skip_index_col="l_orderkey",
        skip_min=1200,
        skip_max=4200,
    )
    df = st.execute(spark, PipelineContext())
    return df.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("l_orderkey").cast("bigint").alias("sum_orderkey"),
    )


# --------------------------------------------------------------------------
# first-order Markov transition matrix over user event sequences
# --------------------------------------------------------------------------


@register(
    "events_markov_transitions",
    category="sequence",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events),
pairs AS (
  SELECT event_type AS cur, next_type AS nxt,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
tot AS (
  SELECT cur, CAST(sum(n) AS BIGINT) AS row_total FROM pairs GROUP BY 1)
SELECT p.cur, p.nxt, p.n,
       round(CAST(p.n AS DOUBLE) / t.row_total, 6) AS p_transition
FROM pairs p JOIN tot t ON t.cur = p.cur
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    — P(next event type | current), the behavioral fingerprint behind
    next-action prediction and bot detection.

    Ordering is total ((ts, event_id) — duplicate timestamps cannot flip
    pairs across engines); transition counts are exact BIGINTs from one
    user-keyed window pass + one (cur, nxt) aggregation (label² rows, tiny
    at any scale); each probability is one exact-integer division rounded
    at 6 dp. Scale shape: one shuffle on user_id for the lead window, one
    map-side-combinable pair count, one label-sized broadcast join for
    row totals."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("cur"), F.col("next_type").alias("nxt")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = pairs.groupBy("cur").agg(F.sum("n").cast("bigint").alias("row_total"))
    return pairs.join(F.broadcast(tot), "cur").select(
        "cur", "nxt", "n",
        F.round(F.col("n").cast("double") / F.col("row_total"), 6).alias("p_transition"),
    )


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch, certified vs exact
# --------------------------------------------------------------------------

_KMV_K = 64


@register(
    "agg_kmv_distinct",
    category="aggregation",
    oracle=f"""
WITH keys AS (
  SELECT DISTINCT o_orderpriority AS grp, o_custkey AS k FROM orders),
hashed AS (
  SELECT grp, k,
         ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM keys),
ranked AS (
  SELECT grp, hv,
         row_number() OVER (PARTITION BY grp ORDER BY hv, k) AS rn,
         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n_exact
  FROM hashed)
SELECT grp, n_exact,
       CAST(CASE WHEN n_exact < {_KMV_K} THEN n_exact ELSE {_KMV_K} END
            AS BIGINT) AS sketch_size,
       round(CASE WHEN n_exact < {_KMV_K} THEN CAST(n_exact AS DOUBLE)
                  ELSE ({_KMV_K} - 1) * 1152921504606846976.0 / hv END, 4)
         AS kmv_estimate
FROM ranked
WHERE rn = CASE WHEN n_exact < {_KMV_K} THEN n_exact ELSE {_KMV_K} END
""",
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per order priority,
    certified against the exact distinct count it estimates — the
    MERGEABLE sketch family's textbook member (union = keep the k smallest
    of the pooled hashes), complementing the HLL union certification.

    Estimator: with hashes uniform on [0, 2^60), the k-th smallest order
    statistic gives (k-1) * 2^60 / h_(k); groups under k keys fall back to
    the exact count (the sketch IS the key set there). Deterministic by
    construction: md5-prefix hashing (the repo's content-hash convention),
    BIGINT order statistics with a total order tiebreak, one fixed-shape
    double division rounded at 4 dp. Scale shape: one distinct shuffle,
    one group-keyed window bounded by k — at 100 TB the sketch state per
    group is k 8-byte values, merged map-side."""
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(
        F.col("o_orderpriority").alias("grp"), F.col("o_custkey").alias("k")
    ).distinct()
    hashed = keys.select(
        "grp",
        "k",
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    w_rank = Window.partitionBy("grp").orderBy("hv", "k")
    w_all = Window.partitionBy("grp")
    ranked = hashed.select(
        "grp",
        "hv",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_exact"),
    )
    kth = F.when(F.col("n_exact") < _KMV_K, F.col("n_exact")).otherwise(F.lit(_KMV_K))
    est = F.when(
        F.col("n_exact") < _KMV_K, F.col("n_exact").cast("double")
    ).otherwise(F.lit(_KMV_K - 1) * F.lit(1152921504606846976.0) / F.col("hv"))
    return ranked.filter(F.col("rn") == kth).select(
        "grp",
        "n_exact",
        kth.cast("bigint").alias("sketch_size"),
        F.round(est, 4).alias("kmv_estimate"),
    )


# --------------------------------------------------------------------------
# Count-Min sketch frequency estimates, certified vs exact counts
# --------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 64


@register(
    "agg_count_min_sketch",
    category="aggregation",
    oracle=f"""
WITH rows_d AS (
  SELECT o_custkey AS k, unnest(range(0, {_CMS_DEPTH})) AS d
  FROM orders),
cells AS (
  SELECT d,
         ('0x' || substr(md5('cms' || d || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
           % {_CMS_WIDTH} AS cell,
         CAST(count(*) AS BIGINT) AS c
  FROM rows_d GROUP BY 1, 2),
exact AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_exact
  FROM orders GROUP BY 1),
top10 AS (
  SELECT k, n_exact FROM exact
  ORDER BY n_exact DESC, k ASC LIMIT 10),
probes AS (
  SELECT t.k, t.n_exact, c.d, c.c
  FROM top10 t JOIN cells c
    ON c.cell = ('0x' || substr(md5('cms' || c.d || ':' || CAST(t.k AS VARCHAR)), 1, 8))::BIGINT
                % {_CMS_WIDTH})
SELECT k AS custkey, n_exact, CAST(min(c) AS BIGINT) AS cms_estimate
FROM probes GROUP BY 1, 2
""",
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (4 rows × 64 cells) frequency estimation over order counts
    per customer, certified against the exact counts for the top-10
    heaviest customers — the streaming heavy-hitter sketch whose estimate
    is provably an overcount bounded by n/width per row, with min over
    depth rows tightening it.

    Determinism: cell assignment is the repo's md5-prefix convention
    (salted per depth row), every counter an exact BIGINT, the probe a
    total-ordered top-10 (count DESC, key ASC) and a min over 4 cells —
    no floats exist in the query. Scale shape: the sketch build is ONE
    map-side-combinable aggregate of depth×width = 4×64 cells (a
    constant-size table at any corpus scale — this is why CMS works on
    streams); the probe joins 10 rows against it broadcast."""
    orders = load_table(spark, sf_dir, "orders")

    def cell_of(d_col, k_col):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cms"), d_col.cast("string"), F.lit(":"),
                               k_col.cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") % _CMS_WIDTH

    rows_d = orders.select(
        F.col("o_custkey").alias("k"),
        F.explode(F.array(*[F.lit(d) for d in range(_CMS_DEPTH)])).alias("d"),
    )
    cells = rows_d.groupBy(
        "d", cell_of(F.col("d"), F.col("k")).alias("cell")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    exact = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    top10 = exact.orderBy(F.col("n_exact").desc(), F.col("k").asc()).limit(10)
    probe_cells = top10.select(
        "k", "n_exact",
        F.explode(F.array(*[F.lit(d) for d in range(_CMS_DEPTH)])).alias("d"),
    ).withColumn("cell", cell_of(F.col("d"), F.col("k")))
    probes = probe_cells.join(F.broadcast(cells), ["d", "cell"])
    return probes.groupBy(F.col("k").alias("custkey"), "n_exact").agg(
        F.min("c").cast("bigint").alias("cms_estimate")
    )


# --------------------------------------------------------------------------
# sequence-pattern funnel: regex over per-user ordered event strings
# --------------------------------------------------------------------------


@register(
    "events_pattern_sequence",
    category="sequence",
    oracle="""
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN regexp_matches(s, 'v.*c.*p') THEN 1 ELSE 0 END)
            AS BIGINT) AS full_funnel,
       CAST(sum(CASE WHEN regexp_matches(s, 'v.*c') THEN 1 ELSE 0 END)
            AS BIGINT) AS view_click,
       CAST(sum(CASE WHEN regexp_matches(s, 'ee') THEN 1 ELSE 0 END)
            AS BIGINT) AS double_error,
       CAST(sum(CASE WHEN s LIKE 'p%' THEN 1 ELSE 0 END)
            AS BIGINT) AS purchase_first
FROM seq
""",
)
def events_pattern_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern funnel without the operator:
    each user's event history collapses into an ordered initial-letter
    string ('vcvp...') and behavioral patterns become regexes — ordered
    funnel completion (view→click→purchase in order, arbitrary gaps),
    consecutive double-errors, purchase-before-anything. The string-
    encoding trick makes arbitrary sequence patterns expressible in ANY
    SQL engine — and distributable: one user-keyed shuffle builds the
    per-user string (ordered aggregation under a TOTAL order (ts,
    event_id) — engines cannot disagree), per-user state bounded by
    history length, then regex evaluation is embarrassingly parallel."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c")).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("e")), lambda x: x["c"]), ""
            ).alias("s")
        )
    )
    return seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("s").rlike("v.*c.*p"), 1).otherwise(0))
        .cast("bigint")
        .alias("full_funnel"),
        F.sum(F.when(F.col("s").rlike("v.*c"), 1).otherwise(0))
        .cast("bigint")
        .alias("view_click"),
        F.sum(F.when(F.col("s").rlike("ee"), 1).otherwise(0))
        .cast("bigint")
        .alias("double_error"),
        F.sum(F.when(F.col("s").startswith("p"), 1).otherwise(0))
        .cast("bigint")
        .alias("purchase_first"),
    )


# --------------------------------------------------------------------------
# A/B experiment analysis with deterministic hash assignment
# --------------------------------------------------------------------------


@register(
    "events_ab_test_analysis",
    category="analytics",
    oracle="""
WITH assign AS (
  SELECT DISTINCT user_id,
         ('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
           AS variant
  FROM events),
per_user AS (
  SELECT e.user_id, a.variant,
         CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS spend,
         CAST(max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM events e JOIN assign a ON a.user_id = e.user_id
  GROUP BY 1, 2),
s AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(spend) AS BIGINT) AS sx,
         CAST(sum(spend * spend) AS BIGINT) AS sxx,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM per_user GROUP BY 1),
w AS (
  SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
         max(CASE WHEN variant = 0 THEN sx END) AS sx0,
         max(CASE WHEN variant = 0 THEN sxx END) AS sxx0,
         max(CASE WHEN variant = 0 THEN conv END) AS c0,
         max(CASE WHEN variant = 1 THEN n END) AS n1,
         max(CASE WHEN variant = 1 THEN sx END) AS sx1,
         max(CASE WHEN variant = 1 THEN sxx END) AS sxx1,
         max(CASE WHEN variant = 1 THEN conv END) AS c1
  FROM s)
SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treat,
       round(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0, 6)
         AS spend_diff_cents,
       round((CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)
             / sqrt((CAST(sxx1 AS DOUBLE) / n1
                     - (CAST(sx1 AS DOUBLE) / n1) * (CAST(sx1 AS DOUBLE) / n1)) / n1
                    + (CAST(sxx0 AS DOUBLE) / n0
                       - (CAST(sx0 AS DOUBLE) / n0) * (CAST(sx0 AS DOUBLE) / n0)) / n0),
             6) AS spend_z,
       round(CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0, 6)
         AS conversion_diff
FROM w
""",
)
def events_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with deterministic hash assignment — the
    md5-bucket variant split every experimentation platform uses (same
    user always lands in the same arm, no assignment table needed), then
    Welch z on per-user spend and the conversion-rate delta.

    Exactness: per-user spend is exact cents, all moments (n, Σx, Σx²,
    conversions) are exact BIGINTs per arm, and the z statistic is one
    fixed-shape double expression over them (IEEE-identical on both
    engines). Scale shape: assignment is a pure projection (no shuffle),
    per-user aggregation one user-keyed shuffle, the readout a 2-row
    pivot."""
    ev = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") % 2
    )
    per_user = (
        ev.select(
            "user_id",
            variant.alias("variant"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
            (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        )
        .groupBy("user_id", "variant")
        .agg(
            F.sum("cents").cast("bigint").alias("spend"),
            F.max("is_p").cast("bigint").alias("converted"),
        )
    )
    s = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("spend").cast("bigint").alias("sx"),
        F.sum(F.col("spend") * F.col("spend")).cast("bigint").alias("sxx"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    w = s.agg(
        *[
            F.max(F.when(F.col("variant") == v, F.col(c))).alias(f"{c}{v}")
            for v in (0, 1)
            for c in ("n", "sx", "sxx", "conv")
        ]
    )
    m0 = F.col("sx0").cast("double") / F.col("n0")
    m1 = F.col("sx1").cast("double") / F.col("n1")
    var0 = (F.col("sxx0").cast("double") / F.col("n0") - m0 * m0) / F.col("n0")
    var1 = (F.col("sxx1").cast("double") / F.col("n1") - m1 * m1) / F.col("n1")
    return w.select(
        F.col("n0").cast("bigint").alias("n_control"),
        F.col("n1").cast("bigint").alias("n_treat"),
        F.round(m1 - m0, 6).alias("spend_diff_cents"),
        F.round((m1 - m0) / F.sqrt(var1 + var0), 6).alias("spend_z"),
        F.round(
            F.col("conv1").cast("double") / F.col("n1")
            - F.col("conv0").cast("double") / F.col("n0"),
            6,
        ).alias("conversion_diff"),
    )


# --------------------------------------------------------------------------
# funnel stage-to-stage latency distribution
# --------------------------------------------------------------------------


@register(
    "events_funnel_latency",
    category="sequence",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY 1),
deltas AS (
  SELECT CAST(date_diff('second', t_view, t_click) AS BIGINT) AS vc,
         CAST(date_diff('second', t_click, t_purchase) AS BIGINT) AS cp
  FROM firsts),
stages AS (
  SELECT 'view_to_click' AS stage, vc AS delta FROM deltas
  WHERE vc IS NOT NULL AND vc >= 0
  UNION ALL
  SELECT 'click_to_purchase', cp FROM deltas
  WHERE cp IS NOT NULL AND cp >= 0)
SELECT stage, CAST(count(*) AS BIGINT) AS n_users,
       round(quantile_cont(delta, 0.5), 6) AS p50_seconds,
       round(quantile_cont(delta, 0.9), 6) AS p90_seconds,
       CAST(max(delta) AS BIGINT) AS max_seconds
FROM stages GROUP BY 1
""",
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-to-stage funnel latency: per user, the time from first view
    to first subsequent click and first click to first subsequent
    purchase, summarized as exact-interpolated percentiles — the
    conversion-velocity readout behind time-to-convert dashboards.

    Negative deltas (conversion preceding the earlier stage for that
    user) are excluded on BOTH engines, making the population identical;
    deltas are exact integer seconds; percentiles follow the
    PERCENTILE_CONT parity convention (identical interpolation up to one
    ulp, absorbed by 6-dp rounding). One user-keyed conditional-min
    aggregate + one 2-group percentile — two shuffles total."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    vc = (F.unix_timestamp("t_click") - F.unix_timestamp("t_view")).cast("bigint")
    cp = (F.unix_timestamp("t_purchase") - F.unix_timestamp("t_click")).cast("bigint")
    stages = (
        firsts.select(F.lit("view_to_click").alias("stage"), vc.alias("delta"))
        .filter(F.col("delta").isNotNull() & (F.col("delta") >= 0))
        .unionAll(
            firsts.select(F.lit("click_to_purchase").alias("stage"), cp.alias("delta"))
            .filter(F.col("delta").isNotNull() & (F.col("delta") >= 0))
        )
    )
    return stages.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.expr("percentile(delta, 0.5)"), 6).alias("p50_seconds"),
        F.round(F.expr("percentile(delta, 0.9)"), 6).alias("p90_seconds"),
        F.max("delta").cast("bigint").alias("max_seconds"),
    )


# --------------------------------------------------------------------------
# Gini concentration of customer spend
# --------------------------------------------------------------------------


@register(
    "orders_gini_concentration",
    category="analytics",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM spend),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(i * x) AS BIGINT) AS six
  FROM ranked)
SELECT n, sx AS total_cents,
       round(2.0 * six / (CAST(n AS DOUBLE) * sx)
             - (CAST(n AS DOUBLE) + 1) / n, 6) AS gini
FROM s
""",
)
def orders_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration — the inequality
    metric behind whale-risk dashboards, computed by the rank formula
    G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over the (spend, custkey)-totally-
    ordered sequence.

    All inputs to the final fixed-shape double expression are exact
    BIGINTs (per-customer cents, ranks, Σx, Σi·x). The global rank uses a
    total order so both engines index identically; at 100 TB the single
    ntile-style sort becomes the two-phase bucketed rank
    (operators/ranking.global_row_number) — same formula, partitioned
    windows."""
    spend = load_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import global_row_number

    ranked = global_row_number(spend, "x", ["o_custkey"], out_col="i")
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "n",
        F.col("sx").alias("total_cents"),
        F.round(
            2.0 * F.col("six") / (nd * F.col("sx")) - (nd + 1) / F.col("n"), 6
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# theta-sketch-style set intersection via KMV
# --------------------------------------------------------------------------


@register(
    "agg_kmv_intersection",
    category="aggregation",
    plan_shape="scalar_broadcast",
    plan_reason="broadcast 1-row exact-intersection count next to the sketch row",
    oracle=f"""
WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
           WHERE o_orderpriority = '1-URGENT'),
b AS (SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderpriority = '2-HIGH'),
u AS (SELECT k FROM a UNION SELECT k FROM b),
hu AS (SELECT k, ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT AS hv
       FROM u),
theta AS (
  SELECT hv, k, row_number() OVER (ORDER BY hv, k) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n_union
  FROM hu),
kept AS (SELECT * FROM theta
         WHERE rn <= CASE WHEN n_union < {_KMV_K} THEN n_union ELSE {_KMV_K} END),
marked AS (
  SELECT kept.rn, kept.n_union,
         CASE WHEN kept.k IN (SELECT k FROM a)
               AND kept.k IN (SELECT k FROM b) THEN 1 ELSE 0 END AS in_both,
         max(kept.hv) OVER () AS hv_k
  FROM kept),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS sketch_size,
         CAST(sum(in_both) AS BIGINT) AS n_matches,
         CAST(max(n_union) AS BIGINT) AS n_union_exact,
         CAST(max(hv_k) AS BIGINT) AS hv_k
  FROM marked),
ex AS (SELECT CAST(count(*) AS BIGINT) AS n_inter_exact
       FROM a JOIN b ON a.k = b.k)
SELECT s.sketch_size, s.n_matches, ex.n_inter_exact,
       round(CASE WHEN s.n_union_exact < {_KMV_K}
                  THEN CAST(s.n_matches AS DOUBLE)
                  ELSE CAST(s.n_matches AS DOUBLE) / s.sketch_size
                       * (({_KMV_K} - 1) * 1152921504606846976.0 / s.hv_k) END,
             4) AS inter_estimate
FROM s CROSS JOIN ex
""",
)
def agg_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style set intersection: urgent-priority and
    high-priority customer sets sketch as the k smallest hashes of their
    UNION; the fraction of retained samples present in both sets, scaled
    by the KMV union estimate, estimates the intersection — certified
    next to the exact |A∩B| so the estimator error is visible. This is
    the composable form of COUNT DISTINCT set algebra (union/intersect
    sketches merge; exact distinct does not).

    Same determinism as agg_kmv_distinct: md5-prefix hashes, total-order
    statistics, one fixed-shape double expression rounded at 4 dp. The
    theta cut and membership marking are vertex... set-sized aggregates;
    nothing scales with fact rows beyond the two distinct shuffles."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    u = a.union(b).distinct()
    hu = u.select(
        "k",
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    w_rank = Window.orderBy("hv", "k")
    w_all = Window.partitionBy()
    theta = hu.select(
        "k", "hv",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_union"),
    )
    cut = F.when(F.col("n_union") < _KMV_K, F.col("n_union")).otherwise(F.lit(_KMV_K))
    kept = theta.filter(F.col("rn") <= cut)
    am = a.withColumn("_a", F.lit(1))
    bm = b.withColumn("_b", F.lit(1))
    marked = (
        kept.join(am, "k", "left")
        .join(bm, "k", "left")
        .select(
            "n_union", "hv",
            F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), 1)
            .otherwise(0)
            .alias("in_both"),
        )
    )
    s = marked.agg(
        F.count(F.lit(1)).cast("bigint").alias("sketch_size"),
        F.sum("in_both").cast("bigint").alias("n_matches"),
        F.max("n_union").cast("bigint").alias("n_union_exact"),
        F.max("hv").cast("bigint").alias("hv_k"),
    )
    ex = a.join(b, "k").agg(F.count(F.lit(1)).cast("bigint").alias("n_inter_exact"))
    est = F.when(
        F.col("n_union_exact") < _KMV_K, F.col("n_matches").cast("double")
    ).otherwise(
        F.col("n_matches").cast("double") / F.col("sketch_size")
        * (F.lit(_KMV_K - 1) * F.lit(1152921504606846976.0) / F.col("hv_k"))
    )
    return s.crossJoin(F.broadcast(ex)).select(
        "sketch_size", "n_matches", "n_inter_exact", F.round(est, 4).alias("inter_estimate")
    )


# --------------------------------------------------------------------------
# longest increasing-spend streak per user (gaps and islands on deltas)
# --------------------------------------------------------------------------


@register(
    "events_spend_streaks",
    category="sequence",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
d AS (
  SELECT user_id, day, y,
         CASE WHEN y > lag(y) OVER w THEN 1 ELSE 0 END AS up
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
isl AS (
  SELECT user_id, day, up,
         row_number() OVER (PARTITION BY user_id ORDER BY day)
         - row_number() OVER (PARTITION BY user_id, up ORDER BY day) AS island
  FROM d),
streaks AS (
  SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
  FROM isl WHERE up = 1 GROUP BY 1, 2)
SELECT user_id,
       CAST(max(len) AS BIGINT) AS longest_up_streak,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM streaks GROUP BY 1
""",
)
def events_spend_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of strictly-increasing daily spend per user — the
    gaps-and-islands pattern on a DERIVED flag (up = today beats
    yesterday), the momentum feature growth teams track. Two row_number
    windows on the same user-keyed sort (overall minus per-flag) make
    consecutive same-flag days share an island id; islands aggregate to
    streaks.

    All comparisons are exact cents; the flag, islands, and streak
    lengths are pure integers. One shuffle keys everything by user; the
    two windows share that partitioning (no second exchange), and window
    state is a single lag value plus counters."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    d = daily.select(
        "user_id",
        "day",
        F.when(F.col("y") > F.lag("y").over(w), 1).otherwise(0).alias("up"),
    )
    w_flag = Window.partitionBy("user_id", "up").orderBy("day")
    isl = d.select(
        "user_id",
        "up",
        (F.row_number().over(w) - F.row_number().over(w_flag)).alias("island"),
    )
    streaks = isl.filter(F.col("up") == 1).groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_up_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


# --------------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# --------------------------------------------------------------------------


@register(
    "events_cuped_adjustment",
    category="analytics",
    plan_shape="scalar_broadcast",
    plan_reason="two 1-row moment pivots (per-variant, global) broadcast-crossed",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         ('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
           AS variant,
         CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                       THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                       THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
s AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM per_user GROUP BY 1),
g AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(sx) AS BIGINT) AS gx,
         CAST(sum(sy) AS BIGINT) AS gy, CAST(sum(sxx) AS BIGINT) AS gxx,
         CAST(sum(sxy) AS BIGINT) AS gxy, CAST(sum(syy) AS BIGINT) AS gyy
  FROM s),
w AS (
  SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
         max(CASE WHEN variant = 0 THEN sx END) AS sx0,
         max(CASE WHEN variant = 0 THEN sy END) AS sy0,
         max(CASE WHEN variant = 1 THEN n END) AS n1,
         max(CASE WHEN variant = 1 THEN sx END) AS sx1,
         max(CASE WHEN variant = 1 THEN sy END) AS sy1
  FROM s)
SELECT n0 AS n_control, n1 AS n_treat,
       round((CAST(nt AS DOUBLE) * gxy - CAST(gx AS DOUBLE) * gy)
             / (CAST(nt AS DOUBLE) * gxx - CAST(gx AS DOUBLE) * gx), 6) AS theta,
       round(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0, 6) AS raw_diff_cents,
       round((CAST(sy1 AS DOUBLE) / n1
              - ((CAST(nt AS DOUBLE) * gxy - CAST(gx AS DOUBLE) * gy)
                 / (CAST(nt AS DOUBLE) * gxx - CAST(gx AS DOUBLE) * gx))
                * (CAST(sx1 AS DOUBLE) / n1 - CAST(gx AS DOUBLE) / nt))
             - (CAST(sy0 AS DOUBLE) / n0
                - ((CAST(nt AS DOUBLE) * gxy - CAST(gx AS DOUBLE) * gy)
                   / (CAST(nt AS DOUBLE) * gxx - CAST(gx AS DOUBLE) * gx))
                  * (CAST(sx0 AS DOUBLE) / n0 - CAST(gx AS DOUBLE) / nt)), 6)
         AS cuped_diff_cents,
       round(((CAST(nt AS DOUBLE) * gxy - CAST(gx AS DOUBLE) * gy)
              * (CAST(nt AS DOUBLE) * gxy - CAST(gx AS DOUBLE) * gy))
             / ((CAST(nt AS DOUBLE) * gxx - CAST(gx AS DOUBLE) * gx)
                * (CAST(nt AS DOUBLE) * gyy - CAST(gy AS DOUBLE) * gy)), 6)
         AS var_reduction
FROM w CROSS JOIN g
""",
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al.): the pre-period
    spend covariate (days 1-15) adjusts the post-period metric
    (days 16+) via the pooled regression theta = cov(x,y)/var(x), the
    standard sensitivity boost every mature experimentation platform
    applies before the t-test. Certified: theta, the raw and
    CUPED-adjusted treatment deltas, and the achieved variance-reduction
    factor (rho^2), alongside arm sizes — same deterministic md5 hash
    assignment as events_ab_test_analysis.

    Exactness: per-user (x, y) are exact cents; all cross-moments are
    exact BIGINT sums; every reported figure is ONE fixed-shape double
    expression over those integers (identical text both engines, IEEE
    ops only), rounded at 6 dp. Scale shape: one user-keyed shuffle for
    per-user sums, one 2-row variant aggregate, 1-row global/variant
    pivots broadcast into the final projection — nothing scales past
    the per-user aggregate."""
    ev = load_table(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))), 1, 8
            ),
            16, 10,
        ).cast("bigint") % 2
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    pre = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    per_user = (
        ev.select(
            "user_id",
            variant.alias("variant"),
            F.when(pre, cents).otherwise(F.lit(0)).alias("xc"),
            F.when(~pre, cents).otherwise(F.lit(0)).alias("yc"),
        )
        .groupBy("user_id", "variant")
        .agg(
            F.sum("xc").cast("bigint").alias("x"),
            F.sum("yc").cast("bigint").alias("y"),
        )
    )
    s = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    ).localCheckpoint(eager=True)
    g = s.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("sx").cast("bigint").alias("gx"),
        F.sum("sy").cast("bigint").alias("gy"),
        F.sum("sxx").cast("bigint").alias("gxx"),
        F.sum("sxy").cast("bigint").alias("gxy"),
        F.sum("syy").cast("bigint").alias("gyy"),
    )
    w = s.agg(
        *[
            F.max(F.when(F.col("variant") == v, F.col(c))).alias(f"{c}{v}")
            for v in (0, 1)
            for c in ("n", "sx", "sy")
        ]
    )
    j = w.crossJoin(F.broadcast(g))
    ntd = F.col("nt").cast("double")
    gxd, gyd = F.col("gx").cast("double"), F.col("gy").cast("double")
    cov_n = ntd * F.col("gxy") - gxd * F.col("gy")
    var_n = ntd * F.col("gxx") - gxd * F.col("gx")
    vary_n = ntd * F.col("gyy") - gyd * F.col("gy")
    theta = cov_n / var_n
    mean = lambda sc, nc: F.col(sc).cast("double") / F.col(nc)
    adj = lambda sy, sx, n: (
        mean(sy, n) - theta * (mean(sx, n) - gxd / F.col("nt"))
    )
    return j.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treat"),
        F.round(theta, 6).alias("theta"),
        F.round(mean("sy1", "n1") - mean("sy0", "n0"), 6).alias("raw_diff_cents"),
        F.round(
            adj("sy1", "sx1", "n1") - adj("sy0", "sx0", "n0"), 6
        ).alias("cuped_diff_cents"),
        F.round((cov_n * cov_n) / (var_n * vary_n), 6).alias("var_reduction"),
    )


# --------------------------------------------------------------------------
# join-cardinality estimation via CMS inner product
# --------------------------------------------------------------------------

_CMJ_DEPTH = 4
_CMJ_WIDTH = 4096


@register(
    "dq_join_size_estimate",
    category="dq",
    plan_shape="scalar_broadcast",
    plan_reason="1-row exact join count broadcast next to the 4-row sketch inner products",
    oracle=f"""
WITH a AS (SELECT o_custkey AS k FROM orders),
b AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
ad AS (SELECT k, unnest(range(0, {_CMJ_DEPTH})) AS d FROM a),
bd AS (SELECT k, unnest(range(0, {_CMJ_DEPTH})) AS d FROM b),
ca AS (
  SELECT d, ('0x' || substr(md5('cmj' || d || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
              % {_CMJ_WIDTH} AS cell,
         CAST(count(*) AS BIGINT) AS c
  FROM ad GROUP BY 1, 2),
cb AS (
  SELECT d, ('0x' || substr(md5('cmj' || d || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
              % {_CMJ_WIDTH} AS cell,
         CAST(count(*) AS BIGINT) AS c
  FROM bd GROUP BY 1, 2),
ip AS (
  SELECT ca.d, CAST(sum(ca.c * cb.c) AS BIGINT) AS est
  FROM ca JOIN cb ON cb.d = ca.d AND cb.cell = ca.cell GROUP BY 1),
ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM a JOIN b ON b.k = a.k)
SELECT ex.n_exact, CAST(min(ip.est) AS BIGINT) AS cms_estimate,
       CAST(min(ip.est) - ex.n_exact AS BIGINT) AS overcount
FROM ip CROSS JOIN ex GROUP BY 1
""",
)
def dq_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation WITHOUT executing the join: the
    Count-Min inner product. Sketch both join inputs (orders.o_custkey vs
    BUILDING-segment customers) into 4x4096 counter arrays with the same
    per-depth hash family; sum(ca_cell * cb_cell) per depth row is a
    provable OVERestimate of |A join B| (equality when no collisions),
    and min over depth rows tightens it — the sketch-algebra primitive a
    planner or a data-contract monitor uses to budget a shuffle before
    paying for it. Certified next to the exact join count so the
    estimator error is visible.

    Determinism: md5-prefix cell hashing (depth-salted), every counter
    and inner product an exact BIGINT, min over 4 rows — no floats.
    Scale shape: each sketch is ONE map-side-combinable aggregate into a
    constant 4x4096 table regardless of input size (sketches of
    sub-streams merge by cell-wise add — this runs on partitions
    independently); the inner product joins two constant-size tables.
    The exact count here is the certification yardstick, not part of the
    estimator."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a = orders.select(F.col("o_custkey").alias("k"))
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )

    def cell_of(d_col, k_col):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cmj"), d_col.cast("string"), F.lit(":"),
                               k_col.cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") % _CMJ_WIDTH

    def sketch(df):
        rows_d = df.select(
            "k",
            F.explode(F.array(*[F.lit(d) for d in range(_CMJ_DEPTH)])).alias("d"),
        )
        return rows_d.groupBy(
            "d", cell_of(F.col("d"), F.col("k")).alias("cell")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))

    ca = sketch(a)
    cb = sketch(b).select(
        F.col("d").alias("d2"), F.col("cell").alias("cell2"),
        F.col("c").alias("c2"),
    )
    ip = (
        ca.join(
            F.broadcast(cb),
            (F.col("d2") == F.col("d")) & (F.col("cell2") == F.col("cell")),
        )
        .groupBy("d")
        .agg(F.sum(F.col("c") * F.col("c2")).cast("bigint").alias("est"))
    )
    ex = a.join(b, "k").agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    return (
        ip.crossJoin(F.broadcast(ex))
        .groupBy("n_exact")
        .agg(F.min("est").cast("bigint").alias("cms_estimate"))
        .select(
            "n_exact",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("n_exact"))
            .cast("bigint")
            .alias("overcount"),
        )
    )


@register(
    "agg_kmv_difference",
    category="aggregation",
    plan_shape="scalar_broadcast",
    plan_reason="broadcast 1-row exact-difference count next to the sketch row",
    oracle=f"""
WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
           WHERE o_orderpriority = '1-URGENT'),
b AS (SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderpriority = '2-HIGH'),
u AS (SELECT k FROM a UNION SELECT k FROM b),
hu AS (SELECT k, ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT AS hv
       FROM u),
theta AS (
  SELECT hv, k, row_number() OVER (ORDER BY hv, k) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n_union
  FROM hu),
kept AS (SELECT * FROM theta
         WHERE rn <= CASE WHEN n_union < {_KMV_K} THEN n_union ELSE {_KMV_K} END),
marked AS (
  SELECT kept.rn, kept.n_union,
         CASE WHEN kept.k IN (SELECT k FROM a)
               AND kept.k NOT IN (SELECT k FROM b) THEN 1 ELSE 0 END AS a_only,
         max(kept.hv) OVER () AS hv_k
  FROM kept),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS sketch_size,
         CAST(sum(a_only) AS BIGINT) AS n_matches,
         CAST(max(n_union) AS BIGINT) AS n_union_exact,
         CAST(max(hv_k) AS BIGINT) AS hv_k
  FROM marked),
ex AS (SELECT CAST(count(*) AS BIGINT) AS n_diff_exact
       FROM a WHERE k NOT IN (SELECT k FROM b))
SELECT s.sketch_size, s.n_matches, ex.n_diff_exact,
       round(CASE WHEN s.n_union_exact < {_KMV_K}
                  THEN CAST(s.n_matches AS DOUBLE)
                  ELSE CAST(s.n_matches AS DOUBLE) / s.sketch_size
                       * (({_KMV_K} - 1) * 1152921504606846976.0 / s.hv_k) END,
             4) AS diff_estimate
FROM s CROSS JOIN ex
""",
)
def agg_kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style set DIFFERENCE |A \\ B| (urgent-priority
    customers who never placed a high-priority order), completing the
    sketch set algebra with agg_kmv_distinct (union) and
    agg_kmv_intersection: the same k-smallest-hash sample of A UNION B,
    with retained samples marked A-only and scaled by the KMV union
    estimate — certified next to the exact difference so estimator error
    is visible. Same md5-prefix hashing, total-order theta cut, and
    fixed-shape double expression (4 dp) as its siblings; membership
    marking is two hash-keyed semi/anti-join-shaped lookups against the
    distinct sets, nothing scales past the two distinct shuffles."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    u = a.union(b).distinct()
    hu = u.select(
        "k",
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    w_rank = Window.orderBy("hv", "k")
    w_all = Window.partitionBy()
    theta = hu.select(
        "k", "hv",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_union"),
    )
    cut = F.when(F.col("n_union") < _KMV_K, F.col("n_union")).otherwise(F.lit(_KMV_K))
    kept = theta.filter(F.col("rn") <= cut)
    am = a.withColumn("_a", F.lit(1))
    bm = b.withColumn("_b", F.lit(1))
    marked = (
        kept.join(am, "k", "left")
        .join(bm, "k", "left")
        .select(
            "n_union", "hv",
            F.when(F.col("_a").isNotNull() & F.col("_b").isNull(), 1)
            .otherwise(0)
            .alias("a_only"),
        )
    )
    s = marked.agg(
        F.count(F.lit(1)).cast("bigint").alias("sketch_size"),
        F.sum("a_only").cast("bigint").alias("n_matches"),
        F.max("n_union").cast("bigint").alias("n_union_exact"),
        F.max("hv").cast("bigint").alias("hv_k"),
    )
    ex = a.join(b, "k", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_diff_exact")
    )
    est = F.when(
        F.col("n_union_exact") < _KMV_K, F.col("n_matches").cast("double")
    ).otherwise(
        F.col("n_matches").cast("double") / F.col("sketch_size")
        * (F.lit(_KMV_K - 1) * F.lit(1152921504606846976.0) / F.col("hv_k"))
    )
    return s.crossJoin(F.broadcast(ex)).select(
        "sketch_size", "n_matches", "n_diff_exact", F.round(est, 4).alias("diff_estimate")
    )


@register(
    "orders_did_lift",
    category="analytics",
    oracle="""
WITH o AS (
  SELECT ('0x' || substr(md5('did:' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 2
           AS treat,
         CASE WHEN o_orderdate >= DATE '1998-04-01' THEN 1 ELSE 0 END AS post,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders),
cells AS (
  SELECT treat, post, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS sx
  FROM o GROUP BY 1, 2),
w AS (
  SELECT max(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n_tp,
         max(CASE WHEN treat = 1 AND post = 1 THEN sx END) AS s_tp,
         max(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n_t0,
         max(CASE WHEN treat = 1 AND post = 0 THEN sx END) AS s_t0,
         max(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n_cp,
         max(CASE WHEN treat = 0 AND post = 1 THEN sx END) AS s_cp,
         max(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n_c0,
         max(CASE WHEN treat = 0 AND post = 0 THEN sx END) AS s_c0
  FROM cells)
SELECT CAST(n_tp AS BIGINT) AS n_treat_post, CAST(n_t0 AS BIGINT) AS n_treat_pre,
       CAST(n_cp AS BIGINT) AS n_ctrl_post, CAST(n_c0 AS BIGINT) AS n_ctrl_pre,
       round((CAST(s_tp AS DOUBLE) / n_tp - CAST(s_t0 AS DOUBLE) / n_t0)
             - (CAST(s_cp AS DOUBLE) / n_cp - CAST(s_c0 AS DOUBLE) / n_c0), 6)
         AS did_cents
FROM w
""",
)
def orders_did_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences lift estimate — the quasi-experimental
    causal readout (parallel-trends design) paired with
    events_cuped_adjustment's randomized-experiment one: hash-assigned
    customer arms x a 1998-04-01 pre/post boundary form the classic 2x2,
    and DiD = (treat_post - treat_pre) - (ctrl_post - ctrl_pre) on mean
    order value strips time shocks common to both arms.

    Exactness: cell moments are exact cents BIGINTs; DiD is one
    fixed-shape double expression over the 8 integers, rounded at 6 dp.
    Scale shape: one map-side-combinable 4-cell aggregate, a 1-row pivot,
    a pure projection — nothing scales past the scan."""
    o = load_table(spark, sf_dir, "orders").select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("did:"), F.col("o_custkey").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint") % 2
        ).alias("treat"),
        F.when(F.col("o_orderdate") >= F.lit("1998-04-01").cast("date"), 1)
        .otherwise(0)
        .alias("post"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    cells = o.groupBy("treat", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
    )
    w = cells.agg(
        *[
            F.max(
                F.when((F.col("treat") == t) & (F.col("post") == p), F.col(c))
            ).alias(f"{c}_{'t' if t else 'c'}{'p' if p else '0'}")
            for t in (1, 0)
            for p in (1, 0)
            for c in ("n", "sx")
        ]
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n)
    return w.select(
        F.col("n_tp").alias("n_treat_post"),
        F.col("n_t0").alias("n_treat_pre"),
        F.col("n_cp").alias("n_ctrl_post"),
        F.col("n_c0").alias("n_ctrl_pre"),
        F.round(
            (mean("sx_tp", "n_tp") - mean("sx_t0", "n_t0"))
            - (mean("sx_cp", "n_cp") - mean("sx_c0", "n_c0")),
            6,
        ).alias("did_cents"),
    )


_MARKOV_EDGES_SQL = """
SELECT cur AS src, nxt AS dst, n AS w FROM (
  SELECT event_type AS cur, next_type AS nxt, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events) seq
  WHERE next_type IS NOT NULL GROUP BY 1, 2) pairs
"""


def _markov_stationary_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import pagerank_oracle_sql

    sql = pagerank_oracle_sql(_MARKOV_EDGES_SQL, iters=4, damping=1.0)
    return f"SELECT node AS event_type, round(rank, 8) AS stationary_p FROM ({sql})"


@register(
    "events_markov_stationary",
    category="sequence",
    plan_shape="scalar_broadcast",
    plan_reason="pagerank engine broadcasts its 1-row node count into the init/update",
    oracle=_markov_stationary_oracle(),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — where the
    behavioral process settles regardless of starting state, the
    long-run companion to events_markov_transitions. Four synchronous
    power-iteration rounds over the transition-count edge list, which is
    EXACTLY the PageRank engine with damping=1.0 (no teleport): the same
    12-dp rounded contributions, exact DECIMAL sums, and unrolled-CTE
    oracle (operators/graph.pagerank — one certified fixed-point engine,
    three certified uses: pagerank, personalized, stationary).

    Scale shape: transition counts are one user-keyed window pass + one
    label-squared aggregate; the iteration then runs on a label-sized
    (5x5) edge list — every per-round join is dimension-bounded."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    edges = seq.groupBy(
        F.col("event_type").alias("src"), F.col("next_type").alias("dst")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    # label-squared (5x5) edge list — the rounds replay on the driver over
    # the collected rollup
    out = pagerank(edges, iters=4, damping=1.0)
    return out.select(
        F.col("node").alias("event_type"),
        F.round("rank", 8).alias("stationary_p"),
    )


_CS_DEPTH = 5
_CS_WIDTH = 256


@register(
    "agg_count_sketch_signed",
    category="aggregation",
    oracle=f"""
WITH rows_d AS (
  SELECT event_type AS k, unnest(range(0, {_CS_DEPTH})) AS d FROM events),
hashed AS (
  SELECT d, k,
         ('0x' || substr(md5('cs' || d || ':' || k), 1, 8))::BIGINT AS hv
  FROM rows_d),
cells AS (
  SELECT d, hv % {_CS_WIDTH} AS cell,
         CAST(sum(CASE WHEN (hv // {_CS_WIDTH}) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT)
           AS c
  FROM hashed GROUP BY 1, 2),
exact AS (SELECT event_type AS k, CAST(count(*) AS BIGINT) AS n_exact
          FROM events GROUP BY 1),
pr AS (
  SELECT e.k, e.n_exact, g.d,
         ('0x' || substr(md5('cs' || g.d || ':' || e.k), 1, 8))::BIGINT AS hv
  FROM exact e CROSS JOIN (SELECT unnest(range(0, {_CS_DEPTH})) AS d) g),
probes AS (
  SELECT pr.k, pr.n_exact, pr.d,
         CASE WHEN (pr.hv // {_CS_WIDTH}) % 2 = 0 THEN c.c ELSE -c.c END AS est
  FROM pr JOIN cells c ON c.d = pr.d AND c.cell = pr.hv % {_CS_WIDTH}),
med AS (
  SELECT k, n_exact, est,
         row_number() OVER (PARTITION BY k ORDER BY est, d) AS rn
  FROM probes)
SELECT k AS event_type, n_exact,
       CAST(max(CASE WHEN rn = 3 THEN est END) AS BIGINT) AS cs_estimate
FROM med GROUP BY 1, 2
""",
)
def agg_count_sketch_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Sketch (signed) frequency estimation, completing the sketch
    family next to Count-Min: each of 5 rows hashes the key to one of 256
    cells AND a +/-1 sign (the next bit of the same hash), cells
    accumulate SIGNED counts, and the estimate is the exact median of the
    5 signed probes — unlike CMS this is unbiased and supports DELETIONS /
    stream subtraction (negative updates cancel), the property a
    train-corpus retraction pipeline needs. Certified per event type
    beside the exact counts.

    Determinism: md5-prefix cells and signs, integer counters, and the
    median realized as row_number()=3 under an (est, d) total order — no
    floats anywhere. Scale shape: the sketch build is ONE
    map-side-combinable aggregate into a constant depth x width table
    (cell-wise additive across partitions and streams); probes join a
    label-sized table against it broadcast."""
    ev = load_table(spark, sf_dir, "events")
    d_arr = F.array(*[F.lit(d) for d in range(_CS_DEPTH)])
    hv = lambda d_col, k_col: F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cs"), d_col.cast("string"), F.lit(":"), k_col)),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")
    rows_d = ev.select(F.col("event_type").alias("k"), F.explode(d_arr).alias("d"))
    hashed = rows_d.select("d", "k", hv(F.col("d"), F.col("k")).alias("hv"))
    sign = F.when(F.expr(f"(hv div {_CS_WIDTH}) % 2") == 0, 1).otherwise(-1)
    cells = hashed.groupBy("d", (F.col("hv") % _CS_WIDTH).alias("cell")).agg(
        F.sum(sign).cast("bigint").alias("c")
    )
    exact = ev.groupBy(F.col("event_type").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    pr = exact.select(
        "k", "n_exact", F.explode(d_arr).alias("d")
    ).withColumn("hv", hv(F.col("d"), F.col("k")))
    probes = pr.join(
        F.broadcast(cells),
        (cells.d == pr.d) & (F.col("cell") == F.col("hv") % _CS_WIDTH),
    ).select(
        "k",
        "n_exact",
        pr.d.alias("pd"),
        F.when(F.expr(f"(hv div {_CS_WIDTH}) % 2") == 0, F.col("c"))
        .otherwise(-F.col("c"))
        .alias("est"),
    )
    w_med = Window.partitionBy("k").orderBy("est", "pd")
    med = probes.select("k", "n_exact", "est", F.row_number().over(w_med).alias("rn"))
    return med.groupBy(F.col("k").alias("event_type"), "n_exact").agg(
        F.max(F.when(F.col("rn") == 3, F.col("est"))).cast("bigint").alias("cs_estimate")
    )


@register(
    "scan_bloom_index_extract",
    category="scan",
    oracle="""
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders WHERE o_custkey = 7
GROUP BY 1
""",
)
def scan_bloom_index_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ParquetExtract BLOOM file index driven end-to-end as a certified
    query: orders are written hash-distributed by customer (every file's
    o_custkey RANGE overlaps, so the min/max index could prune NOTHING),
    then read back through the stage with skipBloomColumn + an equality
    probe — the stage consults the per-file bit-position manifest, reads
    only files whose Bloom set contains all the probe's positions, and
    re-applies the predicate, so the result is provably the full scan's.
    At 100 TB this is the value-skipping complement of min/max stats
    (Delta/Iceberg bloom columns): O(files) planner work for point
    lookups on high-cardinality keys. Oracle is the plain filtered
    aggregate."""
    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
    from arc_cassandra_pipeline_plugin_spark.queries import scratch_dir, session_suffix
    from arc_cassandra_pipeline_plugin_spark.stages import ParquetExtract

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = scratch_dir("bloomstage")
    o.repartition(8, "o_custkey").write.mode("overwrite").parquet(path)
    st = ParquetExtract(
        name="bloom_scan",
        input_uri=path,
        output_view=f"bloom_scan_{session_suffix()}",
        skip_bloom_col="o_custkey",
        skip_bloom_value=7,
    )
    df = st.execute(spark, PipelineContext())
    return df.groupBy(F.col("o_custkey").cast("bigint").alias("custkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )
