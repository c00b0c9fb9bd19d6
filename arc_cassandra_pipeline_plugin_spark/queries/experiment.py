"""Experimentation / A-B analysis certified queries (round-8 batch).

The missing family between the data-quality audits and the ML evaluation
battery: the statistics an experimentation platform computes over an
exposure log at corpus scale. Treatment assignment is the registry's
md5-bucket convention (content-deterministic: the same user lands in the
same arm on any cluster layout, and the DuckDB oracle reproduces the
assignment bit-for-bit), the unit of analysis is the USER (per-user
aggregation before any statistic — the correct randomization unit, and
the step that collapses 100 TB of events to |users| rows), and every
statistic follows the registry's determinism rules: DECIMAL-exact sums,
then one fixed-order double expression tree written with identical shape
in both engines, rounded once at the end.

- ``exp_welch_t2`` — Welch's unequal-variance t² + Satterthwaite df.
- ``exp_conversion_z2`` — two-proportion conversion z² plus the
  sample-ratio-mismatch chi-square (the guardrail you check FIRST).
- ``exp_cuped_adjustment`` — CUPED variance reduction from a pre-period
  covariate; θ, adjusted lift, and ρ² from one aggregate pass.
- ``exp_permutation_test`` — 64 deterministic hash permutations of the
  arm labels; exact-count p-value, no distributional assumption.
- ``exp_poisson_bootstrap`` — 32 Poisson(1)-weighted replicates (the
  scale-canonical bootstrap: no resampling shuffle, just a weight column
  from the row hash); order-statistic CI over the replicate means.

Scale shape shared by all five: one events-scan → groupBy(user) shuffle
to |users| rows, then constant-factor explodes (×64 / ×32) of the USER
frame — never of raw events — and O(1)-row final aggregates. At 100 TB
the only corpus-sized stage is the first groupBy, which is map-side
combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from arc_cassandra_pipeline_plugin_spark.functions import small_df

from arc_cassandra_pipeline_plugin_spark.queries import register
from arc_cassandra_pipeline_plugin_spark.sources import load_table

# md5-bucket arm assignment (operators/sampling.py convention): 32-bit hex
# prefix of md5("salt:key") — reproduced verbatim in every oracle below.
_ASSIGN_SALT = "expassign"

# Pre/post split for CUPED: the synthetic events table spans 2024-01-01 ..
# 2024-01-30 at every SF, so mid-month is a stable covariate boundary.
_CUPED_CUTOFF = "2024-01-15 00:00:00"

# Poisson(1) inverse-CDF thresholds on the [0, 1e6) bucket space:
# floor(1e6 * CDF(k)) for k = 0..8 with CDF(k) = e^-1 * sum_{i<=k} 1/i!.
# Hardcoded literals shared by both engines (the char-entropy LUT rule:
# never trust two libms to agree on a transcendental to the last ulp).
_POISSON_CUM_1M = [367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989, 999998]

_N_PERM = 64
_N_BOOT = 32

# Conversion event for the two-proportion test: a purchase with value at or
# above this cut. Calibrated so the per-user conversion rate is interior
# (~20-27%) at every shipped SF — per-user event counts are roughly
# SF-invariant in the synthetic generator, so the rate stays interior as
# data scales; the z² NULL-guards the degenerate all/none pool anyway.
_CONV_VALUE = "200.0"


def _hash_bucket(col: F.Column, salt: F.Column, modulus: int) -> F.Column:
    """32-bit md5-prefix bucket of ``salt || ':' || col`` in [0, modulus)
    — the shared portable convention (functions.hash_bucket) with the
    salt prepended, so a future change to the bucket convention cannot
    silently fork the certified arm assignment."""
    from arc_cassandra_pipeline_plugin_spark.functions import hash_bucket

    return hash_bucket(F.concat(salt, F.lit(":"), col.cast("string")), modulus)


def _hash_bucket_wide(col: F.Column, salt: F.Column, modulus: int) -> F.Column:
    """48-bit sibling of :func:`_hash_bucket` (functions.hash_bucket_wide)
    for moduli that do not divide a power-of-two hash space — used where a
    32-bit prefix's ~0.02% residue bias would tilt a weight distribution
    (the Poisson bootstrap's [0,1e6) bucket grid)."""
    from arc_cassandra_pipeline_plugin_spark.functions import hash_bucket_wide

    return hash_bucket_wide(F.concat(salt, F.lit(":"), col.cast("string")), modulus)


def _per_user_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (u, s DECIMAL(18,2), g ∈ {0,1}): per-user value sum and arm."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(18,2)").alias("s")
    )
    return users.withColumn("g", _hash_bucket(F.col("u"), F.lit(_ASSIGN_SALT), 2))


_PER_USER_CTE = f"""
peruser AS (
  SELECT user_id AS u,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s,
         (('0x' || substr(md5('{_ASSIGN_SALT}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS g
  FROM events GROUP BY user_id)
"""


# --------------------------------------------------------------------------
# Welch's t² (unequal variances) + Satterthwaite degrees of freedom
# --------------------------------------------------------------------------

@register(
    "exp_welch_t2",
    category="experiment",
    oracle=f"""
WITH {_PER_USER_CTE},
gs AS (
  SELECT count(*) FILTER (WHERE g = 0) AS n_a,
         sum(s)   FILTER (WHERE g = 0) AS s_a,
         sum(s * s) FILTER (WHERE g = 0) AS q_a,
         count(*) FILTER (WHERE g = 1) AS n_b,
         sum(s)   FILTER (WHERE g = 1) AS s_b,
         sum(s * s) FILTER (WHERE g = 1) AS q_b
  FROM peruser),
d AS (
  SELECT CAST(n_a AS DOUBLE) AS na, CAST(s_a AS DOUBLE) AS sa, CAST(q_a AS DOUBLE) AS qa,
         CAST(n_b AS DOUBLE) AS nb, CAST(s_b AS DOUBLE) AS sb, CAST(q_b AS DOUBLE) AS qb,
         n_a, n_b
  FROM gs),
v AS (
  -- degenerate-arm guard (mirrored in the Spark frame): 0/1-unit arms
  -- must yield NULL, not an ANSI error / IEEE Infinity cross-engine fork
  SELECT n_a, n_b, na, nb,
         CASE WHEN na = 0 THEN NULL ELSE sa / na END AS ma,
         CASE WHEN nb = 0 THEN NULL ELSE sb / nb END AS mb,
         CASE WHEN na <= 1 THEN NULL
              ELSE (qa - sa * sa / na) / (na - 1.0) END AS va,
         CASE WHEN nb <= 1 THEN NULL
              ELSE (qb - sb * sb / nb) / (nb - 1.0) END AS vb
  FROM d)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       round(ma, 6) AS mean_a,
       round(mb, 6) AS mean_b,
       round(CASE WHEN va / na + vb / nb = 0 THEN NULL
                  ELSE (ma - mb) * (ma - mb) / (va / na + vb / nb) END,
             6) AS welch_t2,
       round(CASE WHEN va / na + vb / nb = 0 THEN NULL
                  ELSE (va / na + vb / nb) * (va / na + vb / nb)
                       / ((va / na) * (va / na) / (na - 1.0)
                          + (vb / nb) * (vb / nb) / (nb - 1.0)) END,
             4) AS welch_df
FROM v
""",
)
def exp_welch_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t² between the two hash-assigned arms of
    the per-user value metric, with the Welch–Satterthwaite df. The t²
    form (like the ANOVA F and the χ² audits) keeps the statistic free of
    sqrt — the whole chain is DECIMAL-exact sums (n, Σs, Σs² per arm)
    followed by one fixed-order double expression tree mirrored verbatim
    in the oracle; the p-value lookup belongs to the caller.

    Scale: one map-side-combinable groupBy(user) to |users| rows, one
    6-column single-row aggregate, then scalar math. No other shuffle."""
    users = _per_user_metric(spark, sf_dir)
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = users.agg(
        F.count(F.when(g0, 1)).alias("n_a"),
        F.sum(F.when(g0, F.col("s"))).alias("s_a"),
        F.sum(F.when(g0, F.col("s") * F.col("s"))).alias("q_a"),
        F.count(F.when(g1, 1)).alias("n_b"),
        F.sum(F.when(g1, F.col("s"))).alias("s_b"),
        F.sum(F.when(g1, F.col("s") * F.col("s"))).alias("q_b"),
    )
    d = gs.select(
        F.col("n_a"),
        F.col("n_b"),
        F.col("n_a").cast("double").alias("na"),
        F.col("s_a").cast("double").alias("sa"),
        F.col("q_a").cast("double").alias("qa"),
        F.col("n_b").cast("double").alias("nb"),
        F.col("s_b").cast("double").alias("sb"),
        F.col("q_b").cast("double").alias("qb"),
    )
    # degenerate-arm guard mirrored from the oracle: 0/1-unit arms yield
    # NULL instead of an ANSI error / IEEE Infinity fork
    v = d.select(
        "n_a",
        "n_b",
        "na",
        "nb",
        F.when(F.col("na") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("sa") / F.col("na"))
        .alias("ma"),
        F.when(F.col("nb") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("sb") / F.col("nb"))
        .alias("mb"),
        F.when(F.col("na") <= 1, F.lit(None).cast("double"))
        .otherwise(
            (F.col("qa") - F.col("sa") * F.col("sa") / F.col("na"))
            / (F.col("na") - F.lit(1.0))
        )
        .alias("va"),
        F.when(F.col("nb") <= 1, F.lit(None).cast("double"))
        .otherwise(
            (F.col("qb") - F.col("sb") * F.col("sb") / F.col("nb"))
            / (F.col("nb") - F.lit(1.0))
        )
        .alias("vb"),
    )
    se_a = F.col("va") / F.col("na")
    se_b = F.col("vb") / F.col("nb")
    se2 = se_a + se_b
    diff = F.col("ma") - F.col("mb")
    null_d = F.lit(None).cast("double")
    return v.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(F.col("ma"), 6).alias("mean_a"),
        F.round(F.col("mb"), 6).alias("mean_b"),
        F.round(
            F.when(se2 == 0, null_d).otherwise(diff * diff / se2), 6
        ).alias("welch_t2"),
        F.round(
            F.when(se2 == 0, null_d).otherwise(
                se2
                * se2
                / (
                    se_a * se_a / (F.col("na") - F.lit(1.0))
                    + se_b * se_b / (F.col("nb") - F.lit(1.0))
                )
            ),
            4,
        ).alias("welch_df"),
    )


# --------------------------------------------------------------------------
# Two-proportion conversion z² + sample-ratio-mismatch guardrail
# --------------------------------------------------------------------------

@register(
    "exp_conversion_z2",
    category="experiment",
    oracle=f"""
WITH pu AS (
  SELECT user_id AS u,
         max(CASE WHEN event_type = 'purchase' AND value >= {_CONV_VALUE} THEN 1 ELSE 0 END) AS conv,
         (('0x' || substr(md5('{_ASSIGN_SALT}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS g
  FROM events GROUP BY user_id),
gs AS (
  SELECT count(*) FILTER (WHERE g = 0) AS n_a,
         sum(conv) FILTER (WHERE g = 0) AS x_a,
         count(*) FILTER (WHERE g = 1) AS n_b,
         sum(conv) FILTER (WHERE g = 1) AS x_b
  FROM pu),
d AS (
  SELECT n_a, x_a, n_b, x_b,
         CAST(n_a AS DOUBLE) AS na, CAST(x_a AS DOUBLE) AS xa,
         CAST(n_b AS DOUBLE) AS nb, CAST(x_b AS DOUBLE) AS xb
  FROM gs),
p AS (
  SELECT n_a, x_a, n_b, x_b, na, nb,
         xa / na AS pa, xb / nb AS pb,
         (xa + xb) / (na + nb) AS pp
  FROM d)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(x_a AS BIGINT) AS x_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(x_b AS BIGINT) AS x_b,
       round(pa, 6) AS p_a,
       round(pb, 6) AS p_b,
       CASE WHEN pp * (1.0 - pp) = 0.0 THEN NULL
            ELSE round((pa - pb) * (pa - pb)
                       / (pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), 6) END AS z2,
       round((na - nb) * (na - nb) / (na + nb), 6) AS srm_chi2
FROM p
""",
)
def exp_conversion_z2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z² on user-level conversion (did the user
    ever fire a high-value ``purchase`` event) between the hash-assigned
    arms, plus
    the sample-ratio-mismatch χ² against the designed 50/50 split — the
    guardrail every experiment readout checks before the treatment stat.
    Arm counts and converter counts are exact integers; the two squared
    statistics are fixed-order double chains over those four counts.

    Scale: conversion is a per-user max — same single map-side-combinable
    groupBy(user) as the metric queries, then a 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= float(_CONV_VALUE)),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    pu = pu.withColumn("g", _hash_bucket(F.col("u"), F.lit(_ASSIGN_SALT), 2))
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = pu.agg(
        F.count(F.when(g0, 1)).alias("n_a"),
        F.sum(F.when(g0, F.col("conv"))).alias("x_a"),
        F.count(F.when(g1, 1)).alias("n_b"),
        F.sum(F.when(g1, F.col("conv"))).alias("x_b"),
    )
    d = gs.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.col("n_a").cast("double").alias("na"),
        F.col("x_a").cast("double").alias("xa"),
        F.col("n_b").cast("double").alias("nb"),
        F.col("x_b").cast("double").alias("xb"),
    )
    p = d.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        "na",
        "nb",
        (F.col("xa") / F.col("na")).alias("pa"),
        (F.col("xb") / F.col("nb")).alias("pb"),
        ((F.col("xa") + F.col("xb")) / (F.col("na") + F.col("nb"))).alias("pp"),
    )
    dp = F.col("pa") - F.col("pb")
    return p.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("x_a").cast("bigint").alias("x_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("x_b").cast("bigint").alias("x_b"),
        F.round(F.col("pa"), 6).alias("p_a"),
        F.round(F.col("pb"), 6).alias("p_b"),
        F.when(
            F.col("pp") * (F.lit(1.0) - F.col("pp")) == F.lit(0.0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                dp * dp
                / (
                    F.col("pp")
                    * (F.lit(1.0) - F.col("pp"))
                    * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
                ),
                6,
            )
        )
        .alias("z2"),
        F.round(
            (F.col("na") - F.col("nb"))
            * (F.col("na") - F.col("nb"))
            / (F.col("na") + F.col("nb")),
            6,
        ).alias("srm_chi2"),
    )


# --------------------------------------------------------------------------
# CUPED variance reduction (pre-period covariate adjustment)
# --------------------------------------------------------------------------

@register(
    "exp_cuped_adjustment",
    category="experiment",
    oracle=f"""
WITH pu AS (
  SELECT user_id AS u,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS y,
         (('0x' || substr(md5('{_ASSIGN_SALT}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS g
  FROM events GROUP BY user_id),
gs AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy,
         count(*) FILTER (WHERE g = 0) AS n_a,
         sum(x) FILTER (WHERE g = 0) AS sx_a,
         sum(y) FILTER (WHERE g = 0) AS sy_a,
         count(*) FILTER (WHERE g = 1) AS n_b,
         sum(x) FILTER (WHERE g = 1) AS sx_b,
         sum(y) FILTER (WHERE g = 1) AS sy_b
  FROM pu),
d AS (
  SELECT n,
         CAST(n AS DOUBLE) AS nn, CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy, CAST(syy AS DOUBLE) AS syy,
         CAST(n_a AS DOUBLE) AS na, CAST(sx_a AS DOUBLE) AS sxa, CAST(sy_a AS DOUBLE) AS sya,
         CAST(n_b AS DOUBLE) AS nb, CAST(sx_b AS DOUBLE) AS sxb, CAST(sy_b AS DOUBLE) AS syb
  FROM gs),
c AS (
  SELECT n, nn, na, nb, sxa, sya, sxb, syb,
         sx / nn AS xbar,
         sxy - sx * sy / nn AS cxy,
         sxx - sx * sx / nn AS cxx,
         syy - sy * sy / nn AS cyy
  FROM d)
SELECT CAST(n AS BIGINT) AS n_users,
       round(cxy / cxx, 6) AS theta,
       round(sya / na - syb / nb, 6) AS raw_diff,
       round((sya / na - (cxy / cxx) * (sxa / na - xbar))
             - (syb / nb - (cxy / cxx) * (sxb / nb - xbar)), 6) AS cuped_diff,
       round(cxy * cxy / (cxx * cyy), 6) AS var_reduction
FROM c
""",
)
def exp_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment-using-pre-experiment-data) adjustment:
    the pre-period per-user value sum (events before mid-month) is the
    covariate, the post-period sum is the metric; θ = cov(x,y)/var(x),
    the adjusted lift substitutes ŷ = y − θ(x − x̄), and ρ² is the
    variance fraction CUPED removes. Group-level identity means NO second
    pass is needed: the adjusted arm means are linear in the arm sums, so
    one aggregate row carries the entire readout.

    Scale: one groupBy(user) with two conditional sums, one 12-column
    single-row aggregate, scalar math. The ×1 corpus pass is shared with
    every other stat here at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    zero = F.lit(0).cast("decimal(18,2)")
    val = F.col("value").cast("decimal(18,2)")
    pu = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.sum(F.when(F.col("ts") < cutoff, val).otherwise(zero))
        .cast("decimal(18,2)")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= cutoff, val).otherwise(zero))
        .cast("decimal(18,2)")
        .alias("y"),
    )
    pu = pu.withColumn("g", _hash_bucket(F.col("u"), F.lit(_ASSIGN_SALT), 2))
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = pu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.count(F.when(g0, 1)).alias("n_a"),
        F.sum(F.when(g0, F.col("x"))).alias("sx_a"),
        F.sum(F.when(g0, F.col("y"))).alias("sy_a"),
        F.count(F.when(g1, 1)).alias("n_b"),
        F.sum(F.when(g1, F.col("x"))).alias("sx_b"),
        F.sum(F.when(g1, F.col("y"))).alias("sy_b"),
    )
    d = gs.select(
        "n",
        F.col("n").cast("double").alias("nn"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("sxy").cast("double").alias("sxy"),
        F.col("syy").cast("double").alias("syy"),
        F.col("n_a").cast("double").alias("na"),
        F.col("sx_a").cast("double").alias("sxa"),
        F.col("sy_a").cast("double").alias("sya"),
        F.col("n_b").cast("double").alias("nb"),
        F.col("sx_b").cast("double").alias("sxb"),
        F.col("sy_b").cast("double").alias("syb"),
    )
    c = d.select(
        "n",
        "nn",
        "na",
        "nb",
        "sxa",
        "sya",
        "sxb",
        "syb",
        (F.col("sxd") / F.col("nn")).alias("xbar"),
        (F.col("sxy") - F.col("sxd") * F.col("syd") / F.col("nn")).alias("cxy"),
        (F.col("sxx") - F.col("sxd") * F.col("sxd") / F.col("nn")).alias("cxx"),
        (F.col("syy") - F.col("syd") * F.col("syd") / F.col("nn")).alias("cyy"),
    )
    theta = F.col("cxy") / F.col("cxx")
    return c.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(F.col("sya") / F.col("na") - F.col("syb") / F.col("nb"), 6).alias(
            "raw_diff"
        ),
        F.round(
            (
                F.col("sya") / F.col("na")
                - theta * (F.col("sxa") / F.col("na") - F.col("xbar"))
            )
            - (
                F.col("syb") / F.col("nb")
                - theta * (F.col("sxb") / F.col("nb") - F.col("xbar"))
            ),
            6,
        ).alias("cuped_diff"),
        F.round(
            F.col("cxy") * F.col("cxy") / (F.col("cxx") * F.col("cyy")), 6
        ).alias("var_reduction"),
    )


# --------------------------------------------------------------------------
# Deterministic hash-permutation test (distribution-free p-value)
# --------------------------------------------------------------------------

@register(
    "exp_permutation_test",
    category="experiment",
    oracle=f"""
WITH {_PER_USER_CTE},
perms AS (
  SELECT p.u, p.s, r.b,
         CASE WHEN r.b = {_N_PERM} THEN p.g
              ELSE (('0x' || substr(md5('perm' || CAST(r.b AS VARCHAR) || ':' || CAST(p.u AS VARCHAR)), 1, 8))::BIGINT) % 2
         END AS gp
  FROM peruser p CROSS JOIN (SELECT range AS b FROM range(0, {_N_PERM + 1})) r),
pstat AS (
  SELECT b,
         abs(CAST(sum(s) FILTER (WHERE gp = 0) AS DOUBLE)
               / CAST(count(*) FILTER (WHERE gp = 0) AS DOUBLE)
             - CAST(sum(s) FILTER (WHERE gp = 1) AS DOUBLE)
               / CAST(count(*) FILTER (WHERE gp = 1) AS DOUBLE)) AS t_b
  FROM perms GROUP BY b),
pstat2 AS (
  SELECT b, t_b,
         max(CASE WHEN b = {_N_PERM} THEN t_b END) OVER () AS t_obs
  FROM pstat)
SELECT round(any_value(t_obs), 6) AS t_obs,
       CAST({_N_PERM} AS BIGINT) AS n_perm,
       CAST(sum(CASE WHEN t_b >= t_obs THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
       round((1.0 + sum(CASE WHEN t_b >= t_obs THEN 1 ELSE 0 END))
             / (1.0 + {_N_PERM}), 6) AS p_value
FROM pstat2
WHERE b < {_N_PERM}
""",
)
def exp_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the arm mean difference: 64 deterministic hash
    relabelings of the users (md5 of perm-id + user — reproducible on any
    cluster and in the oracle), the |mean₀ − mean₁| statistic per
    relabeling, and the standard add-one permutation p-value. Exact
    counting, no normality assumption — the readout to trust when the
    metric is heavy-tailed and t² is fragile.

    Scale: ONE events scan — the observed statistic rides the same
    explode as permutation b = 64 with the REAL assignment substituted
    (the groupBy(b) exchange is computed once and reused for both the
    observed row and the null distribution); the ×65 explode multiplies
    the |users| frame, never raw events."""
    users = _per_user_metric(spark, sf_dir)
    perms = users.select(
        "u",
        "s",
        "g",
        F.explode(F.sequence(F.lit(0), F.lit(_N_PERM))).alias("b"),
    ).withColumn(
        "gp",
        F.when(F.col("b") == _N_PERM, F.col("g")).otherwise(
            _hash_bucket(
                F.col("u"), F.concat(F.lit("perm"), F.col("b").cast("string")), 2
            )
        ),
    )
    p0 = F.col("gp") == 0
    p1 = F.col("gp") == 1
    pstat = perms.groupBy("b").agg(
        F.abs(
            F.sum(F.when(p0, F.col("s"))).cast("double")
            / F.count(F.when(p0, 1)).cast("double")
            - F.sum(F.when(p1, F.col("s"))).cast("double")
            / F.count(F.when(p1, 1)).cast("double")
        ).alias("t_b")
    )
    w_all = Window.partitionBy()
    pstat2 = pstat.withColumn(
        "t_obs",
        F.max(F.when(F.col("b") == _N_PERM, F.col("t_b"))).over(w_all),
    )
    ge = F.when(F.col("t_b") >= F.col("t_obs"), 1).otherwise(0)
    return (
        pstat2.filter(F.col("b") < _N_PERM)
        .agg(
            F.round(F.any_value(F.col("t_obs")), 6).alias("t_obs"),
            F.lit(_N_PERM).cast("bigint").alias("n_perm"),
            F.sum(ge).cast("bigint").alias("n_ge"),
            F.round(
                (F.lit(1.0) + F.sum(ge)) / F.lit(1.0 + _N_PERM), 6
            ).alias("p_value"),
        )
    )


# --------------------------------------------------------------------------
# Poisson bootstrap confidence interval (the at-scale bootstrap)
# --------------------------------------------------------------------------

def _poisson_weight_sql(bucket_expr: str) -> str:
    clauses = " ".join(
        f"WHEN {bucket_expr} < {t} THEN {k}" for k, t in enumerate(_POISSON_CUM_1M)
    )
    return f"CASE {clauses} ELSE {len(_POISSON_CUM_1M)} END"


def _poisson_weight_col(bucket: F.Column) -> F.Column:
    w = F.when(bucket < _POISSON_CUM_1M[0], 0)
    for k, t in enumerate(_POISSON_CUM_1M[1:], start=1):
        w = w.when(bucket < t, k)
    return w.otherwise(len(_POISSON_CUM_1M))


@register(
    "exp_poisson_bootstrap",
    category="experiment",
    oracle=f"""
WITH {_PER_USER_CTE},
reps AS (
  SELECT p.u, p.s, r.b,
         CASE WHEN r.b = {_N_BOOT} THEN 1
              ELSE {_poisson_weight_sql("(('0x' || substr(md5('boot' || CAST(r.b AS VARCHAR) || ':' || CAST(p.u AS VARCHAR)), 1, 12))::BIGINT) % 1000000")}
         END AS w
  FROM peruser p CROSS JOIN (SELECT range AS b FROM range(0, {_N_BOOT + 1})) r),
rmean AS (
  SELECT b, CAST(sum(w * s) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS m
  FROM reps GROUP BY b),
rmean2 AS (
  SELECT b, m,
         max(CASE WHEN b = {_N_BOOT} THEN m END) OVER () AS pm
  FROM rmean),
ranked AS (
  SELECT m, pm, row_number() OVER (ORDER BY m ASC NULLS LAST, b ASC) AS rn
  FROM rmean2 WHERE b < {_N_BOOT})
SELECT round(any_value(pm), 6) AS point_mean,
       round(max(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
       round(max(CASE WHEN rn = {_N_BOOT - 1} THEN m END), 6) AS ci_hi,
       CAST({_N_BOOT} AS BIGINT) AS n_replicates
FROM ranked
""",
)
def exp_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the per-user mean: each of 32 replicates gives
    every user a Poisson(1) weight via the inverse CDF of its md5 bucket
    (the resampling-free bootstrap that actually runs at corpus scale —
    a weight column, not a shuffle), the replicate means are ordered, and
    the 2nd/31st order statistics bracket the ≈94% CI.

    The Poisson thresholds are shared integer literals on the [0,1e6)
    bucket grid, so the weights are engine-exact; the bucket is a 48-bit
    md5 prefix (hash_bucket_wide) so the non-dividing modulus biases a
    residue by ~4e-9, not the 32-bit prefix's ~2e-4; each replicate mean is
    one DECIMAL-exact weighted sum and one double division. The 32-row
    ranking is an empty-partition window on a constant-size frame (the
    kmv precedent), not a corpus sort.

    Scale: ONE events scan — the point estimate rides the same explode
    as replicate b = 32 with unit weights (the groupBy(b) exchange is
    shared); ×33 explode of the |users| frame, one groupBy(b), then 33
    rows. At 100 TB the bootstrap costs 33 weighted sums — no resample
    materialization, no per-replicate pass over raw events."""
    users = _per_user_metric(spark, sf_dir)
    reps = users.select(
        "u",
        "s",
        F.explode(F.sequence(F.lit(0), F.lit(_N_BOOT))).alias("b"),
    ).withColumn(
        "w",
        F.when(F.col("b") == _N_BOOT, 1).otherwise(
            _poisson_weight_col(
                _hash_bucket_wide(
                    F.col("u"),
                    F.concat(F.lit("boot"), F.col("b").cast("string")),
                    1_000_000,
                )
            )
        ),
    )
    rmean = reps.groupBy("b").agg(
        (
            F.sum(F.col("w") * F.col("s")).cast("double")
            / F.sum("w").cast("double")
        ).alias("m")
    )
    w_pm = Window.partitionBy()
    rmean2 = rmean.withColumn(
        "pm", F.max(F.when(F.col("b") == _N_BOOT, F.col("m"))).over(w_pm)
    )
    w_all = Window.partitionBy().orderBy(F.col("m").asc_nulls_last(), F.col("b").asc())
    ranked = rmean2.filter(F.col("b") < _N_BOOT).select(
        "m", "pm", F.row_number().over(w_all).alias("rn")
    )
    return (
        ranked
        .agg(
            F.round(F.any_value(F.col("pm")), 6).alias("point_mean"),
            F.round(F.max(F.when(F.col("rn") == 2, F.col("m"))), 6).alias("ci_lo"),
            F.round(
                F.max(F.when(F.col("rn") == _N_BOOT - 1, F.col("m"))), 6
            ).alias("ci_hi"),
            F.lit(_N_BOOT).cast("bigint").alias("n_replicates"),
        )
    )


# --------------------------------------------------------------------------
# Difference-in-differences across the mid-month boundary
# --------------------------------------------------------------------------

@register(
    "exp_did_midmonth",
    category="experiment",
    oracle=f"""
WITH pu AS (
  SELECT user_id AS u,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS y,
         (('0x' || substr(md5('{_ASSIGN_SALT}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS g
  FROM events GROUP BY user_id),
gs AS (
  SELECT CAST(count(*) FILTER (WHERE g = 0) AS DOUBLE) AS na,
         CAST(sum(x) FILTER (WHERE g = 0) AS DOUBLE) AS sxa,
         CAST(sum(y) FILTER (WHERE g = 0) AS DOUBLE) AS sya,
         CAST(count(*) FILTER (WHERE g = 1) AS DOUBLE) AS nb,
         CAST(sum(x) FILTER (WHERE g = 1) AS DOUBLE) AS sxb,
         CAST(sum(y) FILTER (WHERE g = 1) AS DOUBLE) AS syb,
         count(*) AS n
  FROM pu)
SELECT CAST(n AS BIGINT) AS n_users,
       round(sxa / na, 6) AS pre_mean_a,
       round(sya / na, 6) AS post_mean_a,
       round(sxb / nb, 6) AS pre_mean_b,
       round(syb / nb, 6) AS post_mean_b,
       round((sya / na - sxa / na) - (syb / nb - sxb / nb), 6) AS did
FROM gs
""",
)
def exp_did_midmonth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: each arm's post-period minus pre-period
    per-user mean, differenced across arms — the estimator that nets out
    any shared temporal shift (seasonality, traffic mix) the raw lift
    would absorb. Same per-user pre/post frame as CUPED; four DECIMAL
    sums and two counts carry the whole readout.

    Scale: one groupBy(user) corpus pass, one 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    zero = F.lit(0).cast("decimal(18,2)")
    val = F.col("value").cast("decimal(18,2)")
    pu = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.sum(F.when(F.col("ts") < cutoff, val).otherwise(zero))
        .cast("decimal(18,2)")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= cutoff, val).otherwise(zero))
        .cast("decimal(18,2)")
        .alias("y"),
    )
    pu = pu.withColumn("g", _hash_bucket(F.col("u"), F.lit(_ASSIGN_SALT), 2))
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = pu.agg(
        F.count(F.when(g0, 1)).cast("double").alias("na"),
        F.sum(F.when(g0, F.col("x"))).cast("double").alias("sxa"),
        F.sum(F.when(g0, F.col("y"))).cast("double").alias("sya"),
        F.count(F.when(g1, 1)).cast("double").alias("nb"),
        F.sum(F.when(g1, F.col("x"))).cast("double").alias("sxb"),
        F.sum(F.when(g1, F.col("y"))).cast("double").alias("syb"),
        F.count(F.lit(1)).alias("n"),
    )
    return gs.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("sxa") / F.col("na"), 6).alias("pre_mean_a"),
        F.round(F.col("sya") / F.col("na"), 6).alias("post_mean_a"),
        F.round(F.col("sxb") / F.col("nb"), 6).alias("pre_mean_b"),
        F.round(F.col("syb") / F.col("nb"), 6).alias("post_mean_b"),
        F.round(
            (F.col("sya") / F.col("na") - F.col("sxa") / F.col("na"))
            - (F.col("syb") / F.col("nb") - F.col("sxb") / F.col("nb")),
            6,
        ).alias("did"),
    )


# --------------------------------------------------------------------------
# Quantile treatment effects (per-arm exact discrete quantiles)
# --------------------------------------------------------------------------

@register(
    "exp_quantile_lift",
    category="experiment",
    oracle=f"""
WITH {_PER_USER_CTE},
d AS (SELECT g, CAST(s AS DOUBLE) AS sv FROM peruser)
SELECT CAST(g AS BIGINT) AS arm,
       CAST(count(*) AS BIGINT) AS n_users,
       quantile_disc(sv, 0.25) AS q25,
       quantile_disc(sv, 0.50) AS q50,
       quantile_disc(sv, 0.75) AS q75,
       quantile_disc(sv, 0.90) AS q90
FROM d GROUP BY g
""",
)
def exp_quantile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the per-arm exact discrete quartiles
    (plus p90) of the per-user metric — where in the distribution the
    treatment moves mass, which a mean-only readout hides entirely.
    Certified via the registry's lossless-sketch equivalence:
    ``approx_percentile`` with accuracy ≥ |arm| returns the exact stored
    discrete quantile ≡ DuckDB ``quantile_disc`` (stored doubles compared
    verbatim, no interpolation, no rounding).

    Scale: groupBy(arm) over the user frame — two mergeable GK sketches.
    The exact-equivalence contract holds while |arm| ≤ accuracy (1e7
    here — ``functions.LOSSLESS_PCTL_ACC`` — ≥10× the largest certified
    fixture input); beyond that the sketch degrades gracefully
    to its ε-rank guarantee and the oracle comparison no longer applies —
    raise accuracy with the fleet's memory budget at real scale."""
    users = _per_user_metric(spark, sf_dir)
    d = users.select("g", F.col("s").cast("double").alias("sv"))
    return d.groupBy(F.col("g").cast("bigint").alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.expr("approx_percentile(sv, 0.25, 10000000)").alias("q25"),
        F.expr("approx_percentile(sv, 0.50, 10000000)").alias("q50"),
        F.expr("approx_percentile(sv, 0.75, 10000000)").alias("q75"),
        F.expr("approx_percentile(sv, 0.90, 10000000)").alias("q90"),
    )


# --------------------------------------------------------------------------
# Group-sequential readout: the z² trajectory at weekly checkpoints
# --------------------------------------------------------------------------

_SEQ_CUTOFFS = [
    "2024-01-08 00:00:00",
    "2024-01-15 00:00:00",
    "2024-01-22 00:00:00",
    "2024-01-29 00:00:00",
]


def _seq_cutoff_sql() -> str:
    rows = ", ".join(
        f"({i + 1}, TIMESTAMP '{c}')" for i, c in enumerate(_SEQ_CUTOFFS)
    )
    return f"(VALUES {rows}) AS cp(week, cutoff)"


#: shared oracle CTE chain ending in ``traj(week, n_a, x_a, n_b, x_b, z2)``
#: — the z² trajectory both exp_sequential_z2 and the O'Brien–Fleming
#: boundary readout are built on
_SEQ_Z2_CTES = f"""pu AS (
  SELECT user_id AS u,
         min(ts) AS first_seen,
         min(CASE WHEN event_type = 'purchase' AND value >= {_CONV_VALUE}
                  THEN ts END) AS first_conv,
         (('0x' || substr(md5('{_ASSIGN_SALT}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS g
  FROM events GROUP BY user_id),
cw AS (
  SELECT cp.week, pu.g,
         CASE WHEN pu.first_seen < cp.cutoff THEN 1 ELSE 0 END AS seen,
         CASE WHEN pu.first_conv < cp.cutoff THEN 1 ELSE 0 END AS conv
  FROM pu CROSS JOIN {_seq_cutoff_sql()}),
gs AS (
  SELECT week,
         sum(seen) FILTER (WHERE g = 0) AS n_a,
         sum(conv) FILTER (WHERE g = 0) AS x_a,
         sum(seen) FILTER (WHERE g = 1) AS n_b,
         sum(conv) FILTER (WHERE g = 1) AS x_b
  FROM cw GROUP BY week),
d AS (
  SELECT week, n_a, x_a, n_b, x_b,
         CAST(n_a AS DOUBLE) AS na, CAST(x_a AS DOUBLE) AS xa,
         CAST(n_b AS DOUBLE) AS nb, CAST(x_b AS DOUBLE) AS xb
  FROM gs),
p AS (
  SELECT week, n_a, x_a, n_b, x_b, na, nb,
         xa / na AS pa, xb / nb AS pb,
         (xa + xb) / (na + nb) AS pp
  FROM d),
traj AS (
  SELECT CAST(week AS INT) AS week,
         CAST(n_a AS BIGINT) AS n_a,
         CAST(x_a AS BIGINT) AS x_a,
         CAST(n_b AS BIGINT) AS n_b,
         CAST(x_b AS BIGINT) AS x_b,
         CASE WHEN pp * (1.0 - pp) = 0.0 THEN NULL
              ELSE round((pa - pb) * (pa - pb)
                         / (pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), 6) END AS z2
  FROM p)"""


@register(
    "exp_sequential_z2",
    category="experiment",
    plan_shape="dimension_bounded",
    plan_reason="4-row checkpoint dimension joined against per-user first-times",
    oracle=f"""
WITH {_SEQ_Z2_CTES}
SELECT week, n_a, x_a, n_b, x_b, z2 FROM traj
""",
)
def exp_sequential_z2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential (peeking) readout: the conversion z² recomputed at
    four weekly checkpoints from each user's FIRST exposure and FIRST
    conversion timestamps — the trajectory an alpha-spending boundary
    (O'Brien-Fleming etc.) is applied to. One corpus pass collapses
    events to per-user first-times; every checkpoint is then a CASE over
    the 4-row cutoff dimension, so adding checkpoints costs nothing.

    Scale: groupBy(user) with two min aggregates, a ×4 dimension join on
    the user frame, one groupBy(week) to 4 rows."""
    return _seq_z2_traj(spark, sf_dir)


def _seq_z2_traj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of the ``traj`` CTE in :data:`_SEQ_Z2_CTES`."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.min("ts").alias("first_seen"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= float(_CONV_VALUE)),
                F.col("ts"),
            )
        ).alias("first_conv"),
    )
    pu = pu.withColumn("g", _hash_bucket(F.col("u"), F.lit(_ASSIGN_SALT), 2))
    cp = small_df(spark, 
        [(i + 1, c) for i, c in enumerate(_SEQ_CUTOFFS)], "week INT, cutoff_s STRING"
    ).select("week", F.col("cutoff_s").cast("timestamp").alias("cutoff"))
    cw = pu.crossJoin(F.broadcast(cp)).select(
        "week",
        "g",
        F.when(F.col("first_seen") < F.col("cutoff"), 1).otherwise(0).alias("seen"),
        F.when(F.col("first_conv") < F.col("cutoff"), 1).otherwise(0).alias("conv"),
    )
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = cw.groupBy("week").agg(
        F.sum(F.when(g0, F.col("seen"))).alias("n_a"),
        F.sum(F.when(g0, F.col("conv"))).alias("x_a"),
        F.sum(F.when(g1, F.col("seen"))).alias("n_b"),
        F.sum(F.when(g1, F.col("conv"))).alias("x_b"),
    )
    d = gs.select(
        "week",
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.col("n_a").cast("double").alias("na"),
        F.col("x_a").cast("double").alias("xa"),
        F.col("n_b").cast("double").alias("nb"),
        F.col("x_b").cast("double").alias("xb"),
    )
    p = d.select(
        "week",
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        "na",
        "nb",
        (F.col("xa") / F.col("na")).alias("pa"),
        (F.col("xb") / F.col("nb")).alias("pb"),
        ((F.col("xa") + F.col("xb")) / (F.col("na") + F.col("nb"))).alias("pp"),
    )
    dp = F.col("pa") - F.col("pb")
    return p.select(
        F.col("week").cast("int").alias("week"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("x_a").cast("bigint").alias("x_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("x_b").cast("bigint").alias("x_b"),
        F.when(
            F.col("pp") * (F.lit(1.0) - F.col("pp")) == F.lit(0.0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                dp * dp
                / (
                    F.col("pp")
                    * (F.lit(1.0) - F.col("pp"))
                    * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
                ),
                6,
            )
        )
        .alias("z2"),
    )


# --------------------------------------------------------------------------
# Streaming twin: incremental per-arm readout over the event stream
# --------------------------------------------------------------------------

@register(
    "streaming_experiment_readout",
    category="streaming",
    oracle=f"""
WITH {_PER_USER_CTE},
gs AS (
  SELECT g, count(*) AS n_users, sum(s) AS total
  FROM peruser GROUP BY g)
SELECT CAST(g AS BIGINT) AS arm,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(CAST(total AS DECIMAL(38,2)) AS DOUBLE) AS total_value,
       round(CAST(total AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS mean_value
FROM gs
""",
)
def streaming_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experiment readout maintained INCREMENTALLY over the event
    stream: per-user value sums accumulate via ``run_stream_accumulate``
    (foreachBatch additive state — associative sum-merge, so the final
    state is micro-batch-boundary independent), then the drained user
    frame is assigned to arms and folded to per-arm totals. Certified ≡
    the batch recompute — the streaming production shape of every
    ``exp_*`` statistic, whose inputs are exactly these running per-user
    sums.

    Scale: streaming state is |users| rows of (key, decimal sum) —
    bounded by the entity space, not the stream length; each micro-batch
    costs one partial aggregation of its own rows. Output totals are cast
    decimal->DOUBLE (on-grid, lossless at certified scales): decimal-typed
    result columns are a driver-hash hazard (r10 agg_decimal_exact)."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    ev = ST.table_stream(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"), F.col("value").cast("decimal(18,2)").alias("s")
    )
    users = ST.run_stream_accumulate(ev, key_cols=("u",), sum_cols=("s",))
    users = users.withColumn("g", _hash_bucket(F.col("u"), F.lit(_ASSIGN_SALT), 2))
    gs = users.groupBy(F.col("g").cast("bigint").alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("s").cast("decimal(18,2)")).alias("total"),
    )
    return gs.select(
        "arm",
        "n_users",
        F.col("total").cast("decimal(38,2)").cast("double").alias("total_value"),
        F.round(
            F.col("total").cast("double") / F.col("n_users").cast("double"), 6
        ).alias("mean_value"),
    )


# --------------------------------------------------------------------------
# Randomized response (local-DP conversion telemetry) with exact debiasing
# --------------------------------------------------------------------------

@register(
    "privacy_randomized_response",
    category="experiment",
    oracle=f"""
WITH pu AS (
  SELECT user_id AS u,
         max(CASE WHEN event_type = 'purchase' AND value >= {_CONV_VALUE} THEN 1 ELSE 0 END) AS t,
         (('0x' || substr(md5('rrcoin1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS c1,
         (('0x' || substr(md5('rrcoin2:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS c2
  FROM events GROUP BY user_id),
rr AS (
  SELECT u, t, CASE WHEN c1 = 0 THEN t ELSE c2 END AS r FROM pu),
gs AS (
  SELECT count(*) AS n, sum(t) AS true_x, sum(r) AS rep_x FROM rr)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(true_x AS BIGINT) AS true_converters,
       CAST(rep_x AS BIGINT) AS reported_ones,
       round(CAST(true_x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS true_rate,
       round((CAST(rep_x AS DOUBLE) / CAST(n AS DOUBLE) - 0.25) / 0.5, 6) AS debiased_rate
FROM gs
""",
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner randomized response, the local-DP collection mechanism: each
    user reports the TRUTH on heads (deterministic md5 coin 1) and a
    random bit (coin 2) on tails — ε = ln 3 local differential privacy —
    and the aggregate debiases with p̂ = (mean(report) − ¼)/½. Both coins
    are content-deterministic hash bits, so the privatized channel and
    its debiasing certify exactly against the oracle; the readout pairs
    the true rate (available here because this is the pipeline's own
    audit) with the estimate, exposing the privacy-accuracy gap.

    Scale: same single groupBy(user) pass; the mechanism itself is two
    hash bits per user — no extra shuffle, no state."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= float(_CONV_VALUE)),
                1,
            ).otherwise(0)
        ).alias("t")
    )
    pu = pu.withColumn("c1", _hash_bucket(F.col("u"), F.lit("rrcoin1"), 2))
    pu = pu.withColumn("c2", _hash_bucket(F.col("u"), F.lit("rrcoin2"), 2))
    rr = pu.select(
        "u",
        "t",
        F.when(F.col("c1") == 0, F.col("t")).otherwise(F.col("c2")).alias("r"),
    )
    gs = rr.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("true_x"),
        F.sum("r").alias("rep_x"),
    )
    return gs.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("true_x").cast("bigint").alias("true_converters"),
        F.col("rep_x").cast("bigint").alias("reported_ones"),
        F.round(
            F.col("true_x").cast("double") / F.col("n").cast("double"), 6
        ).alias("true_rate"),
        F.round(
            (F.col("rep_x").cast("double") / F.col("n").cast("double") - F.lit(0.25))
            / F.lit(0.5),
            6,
        ).alias("debiased_rate"),
    )


# --------------------------------------------------------------------------
# Power analysis: minimum detectable effect at the current sample size
# --------------------------------------------------------------------------

# Standard-normal quantiles as shared literals (the LUT rule): z for
# two-sided alpha=0.05 and for power=0.80.
_Z_ALPHA = "1.959963984540054"
_Z_BETA = "0.8416212335729143"


@register(
    "exp_power_mde",
    category="experiment",
    oracle=f"""
WITH pu AS (
  SELECT user_id AS u,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s,
         max(CASE WHEN event_type = 'purchase' AND value >= {_CONV_VALUE} THEN 1 ELSE 0 END) AS c,
         (('0x' || substr(md5('{_ASSIGN_SALT}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS g
  FROM events GROUP BY user_id),
gs AS (
  SELECT count(*) AS n,
         CAST(count(*) FILTER (WHERE g = 0) AS DOUBLE) AS na,
         CAST(count(*) FILTER (WHERE g = 1) AS DOUBLE) AS nb,
         CAST(sum(c) AS DOUBLE) AS x,
         CAST(sum(s) AS DOUBLE) AS sv,
         CAST(sum(s * s) AS DOUBLE) AS qv
  FROM pu),
d AS (
  SELECT n, na, nb,
         x / (na + nb) AS pp,
         (qv - sv * sv / (na + nb)) / (na + nb - 1.0) AS var_s
  FROM gs)
SELECT CAST(n AS BIGINT) AS n_users,
       round(pp, 6) AS base_rate,
       round(({_Z_ALPHA} + {_Z_BETA})
             * sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), 6) AS mde_conversion,
       round(({_Z_ALPHA} + {_Z_BETA})
             * sqrt(var_s * (1.0 / na + 1.0 / nb)), 6) AS mde_mean
FROM d
""",
)
def exp_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at the CURRENT sample size (two-sided
    α=0.05, power 0.80): the experiment-design readout — how small a
    conversion-rate or mean-value lift this exposure log could confirm.
    The normal quantiles are shared 17-digit literals (the LUT rule) and
    ``sqrt`` is IEEE-754 correctly rounded, so the whole chain stays
    engine-exact despite the irrational constants.

    Scale: ONE events scan — metric sums and the conversion flag come
    from the same groupBy(user) — plus a 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    j = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("s"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= float(_CONV_VALUE)),
                1,
            ).otherwise(0)
        ).alias("c"),
    ).withColumn("g", _hash_bucket(F.col("u"), F.lit(_ASSIGN_SALT), 2))
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(g0, 1)).cast("double").alias("na"),
        F.count(F.when(g1, 1)).cast("double").alias("nb"),
        F.sum("c").cast("double").alias("x"),
        F.sum("s").cast("double").alias("sv"),
        F.sum(F.col("s") * F.col("s")).cast("double").alias("qv"),
    )
    d = gs.select(
        "n",
        "na",
        "nb",
        (F.col("x") / (F.col("na") + F.col("nb"))).alias("pp"),
        (
            (F.col("qv") - F.col("sv") * F.col("sv") / (F.col("na") + F.col("nb")))
            / (F.col("na") + F.col("nb") - F.lit(1.0))
        ).alias("var_s"),
    )
    zsum = F.lit(float(_Z_ALPHA)) + F.lit(float(_Z_BETA))
    inv_n = F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb")
    return d.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("pp"), 6).alias("base_rate"),
        F.round(
            zsum * F.sqrt(F.col("pp") * (F.lit(1.0) - F.col("pp")) * inv_n), 6
        ).alias("mde_conversion"),
        F.round(zsum * F.sqrt(F.col("var_s") * inv_n), 6).alias("mde_mean"),
    )


# --------------------------------------------------------------------------
# Heterogeneous treatment effects: per-region lift via the dimension chain
# --------------------------------------------------------------------------

@register(
    "exp_lift_by_region",
    category="experiment",
    oracle=f"""
WITH {_PER_USER_CTE},
seg AS (
  SELECT p.u, p.s, p.g, r.r_name
  FROM peruser p
  JOIN customer c ON c.c_custkey = p.u
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey),
gs AS (
  SELECT r_name,
         count(*) FILTER (WHERE g = 0) AS n_a,
         sum(s)   FILTER (WHERE g = 0) AS s_a,
         count(*) FILTER (WHERE g = 1) AS n_b,
         sum(s)   FILTER (WHERE g = 1) AS s_b
  FROM seg GROUP BY r_name)
SELECT r_name,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CASE WHEN n_a = 0 THEN NULL
            ELSE round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) END AS mean_a,
       CASE WHEN n_b = 0 THEN NULL
            ELSE round(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) END AS mean_b,
       CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
            ELSE round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                       - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) END AS lift
FROM gs
""",
)
def exp_lift_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effects: the arm lift sliced by the user's
    region through the customer → nation → region dimension chain — the
    readout that localizes where a global null hides offsetting segment
    effects. Segments whose arm is empty report NULL (guarded identically
    on both engines) rather than dividing by zero.

    Scale: nation/region are constant dims (broadcast hint); customer
    grows with SF, so its join strategy is left to AQE — broadcast while
    it fits, shuffle join beyond. The final groupBy lands on |regions|
    rows."""
    users = _per_user_metric(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # customer grows with SF — leave its join strategy to AQE's size-based
    # decision (sources.ALWAYS_BROADCAST covers only nation/region)
    seg = (
        users.join(cust, users["u"] == cust["c_custkey"])
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = seg.groupBy("r_name").agg(
        F.count(F.when(g0, 1)).alias("n_a"),
        F.sum(F.when(g0, F.col("s"))).alias("s_a"),
        F.count(F.when(g1, 1)).alias("n_b"),
        F.sum(F.when(g1, F.col("s"))).alias("s_b"),
    )
    mean_a = F.col("s_a").cast("double") / F.col("n_a").cast("double")
    mean_b = F.col("s_b").cast("double") / F.col("n_b").cast("double")
    return gs.select(
        "r_name",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.when(F.col("n_a") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(mean_a, 6))
        .alias("mean_a"),
        F.when(F.col("n_b") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(mean_b, 6))
        .alias("mean_b"),
        F.when(
            (F.col("n_a") == 0) | (F.col("n_b") == 0), F.lit(None).cast("double")
        )
        .otherwise(F.round(mean_a - mean_b, 6))
        .alias("lift"),
    )


# --------------------------------------------------------------------------
# Switchback design: time-block (daily) randomization
# --------------------------------------------------------------------------

def _unit_welch_sql(unit_cte: str) -> str:
    """Shared oracle tail: Welch t² over randomized UNITS (days/clusters)
    whose per-unit means are projected to the DECIMAL(18,6) grid first, so
    the variance sums are order-free on both engines."""
    return f"""
gs AS (
  -- DECIMAL(19,6) forces DuckDB's product onto the hugeint path (the
  -- int64-backed DECIMAL(18) square overflows at |m| > ~3e3); Spark keeps
  -- (18,6)^2 = (37,12) — both exact, identical values
  SELECT count(*) FILTER (WHERE g = 0) AS n_a,
         sum(m)   FILTER (WHERE g = 0) AS s_a,
         sum(CAST(m AS DECIMAL(19,6)) * CAST(m AS DECIMAL(19,6))) FILTER (WHERE g = 0) AS q_a,
         count(*) FILTER (WHERE g = 1) AS n_b,
         sum(m)   FILTER (WHERE g = 1) AS s_b,
         sum(CAST(m AS DECIMAL(19,6)) * CAST(m AS DECIMAL(19,6))) FILTER (WHERE g = 1) AS q_b
  FROM {unit_cte}),
d AS (
  SELECT n_a, n_b,
         CAST(n_a AS DOUBLE) AS na, CAST(s_a AS DOUBLE) AS sa, CAST(q_a AS DOUBLE) AS qa,
         CAST(n_b AS DOUBLE) AS nb, CAST(s_b AS DOUBLE) AS sb, CAST(q_b AS DOUBLE) AS qb
  FROM gs),
v AS (
  -- degenerate-arm guard (mirrored in the Spark frame): an arm with 0
  -- or 1 units would divide by zero, where Spark ANSI errors/NULLs but
  -- DuckDB IEEE double division yields Infinity — a cross-engine fork
  SELECT n_a, n_b, na, nb,
         CASE WHEN na = 0 THEN NULL ELSE sa / na END AS ma,
         CASE WHEN nb = 0 THEN NULL ELSE sb / nb END AS mb,
         CASE WHEN na <= 1 THEN NULL
              ELSE (qa - sa * sa / na) / (na - 1.0) END AS va,
         CASE WHEN nb <= 1 THEN NULL
              ELSE (qb - sb * sb / nb) / (nb - 1.0) END AS vb
  FROM d)
SELECT CAST(n_a AS BIGINT) AS n_units_a,
       CAST(n_b AS BIGINT) AS n_units_b,
       round(ma, 6) AS mean_a,
       round(mb, 6) AS mean_b,
       round(ma - mb, 6) AS lift,
       round(CASE WHEN va / na + vb / nb = 0 THEN NULL
                  ELSE (ma - mb) * (ma - mb) / (va / na + vb / nb) END,
             6) AS welch_t2
FROM v
"""


@register(
    "exp_switchback_daily",
    category="experiment",
    oracle=f"""
WITH days AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS m,
         (('0x' || substr(md5('swb:' || CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 8))::BIGINT) % 2 AS g
  FROM events GROUP BY CAST(ts AS DATE)),
{_unit_welch_sql("days")}
""",
)
def exp_switchback_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Switchback (time-block randomized) design: each DAY is assigned
    whole to an arm by hashing its date — the design for marketplace/
    pricing experiments where user-level assignment leaks through shared
    inventory. The estimator treats days as the randomization units:
    per-day mean event value (projected to the DECIMAL(18,6) grid so the
    unit-level variance sums are order-free), then the across-day lift
    and a day-level Welch t².

    Scale: one groupBy(day) corpus pass — at 100 TB the unit frame is
    |days| rows; everything after is O(1)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("m")
    )
    days = days.withColumn("g", _hash_bucket(F.col("d"), F.lit("swb"), 2))
    return _unit_welch_frame(days)


def _unit_welch_frame(units: DataFrame) -> DataFrame:
    """Spark mirror of :func:`_unit_welch_sql` over a (unit, m, g) frame."""
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = units.agg(
        F.count(F.when(g0, 1)).alias("n_a"),
        F.sum(F.when(g0, F.col("m"))).alias("s_a"),
        F.sum(F.when(g0, F.col("m") * F.col("m"))).alias("q_a"),
        F.count(F.when(g1, 1)).alias("n_b"),
        F.sum(F.when(g1, F.col("m"))).alias("s_b"),
        F.sum(F.when(g1, F.col("m") * F.col("m"))).alias("q_b"),
    )
    d = gs.select(
        "n_a",
        "n_b",
        F.col("n_a").cast("double").alias("na"),
        F.col("s_a").cast("double").alias("sa"),
        F.col("q_a").cast("double").alias("qa"),
        F.col("n_b").cast("double").alias("nb"),
        F.col("s_b").cast("double").alias("sb"),
        F.col("q_b").cast("double").alias("qb"),
    )
    # degenerate-arm guard mirrored from _unit_welch_sql: 0/1-unit arms
    # must yield NULL, not an ANSI error / IEEE Infinity fork
    v = d.select(
        "n_a",
        "n_b",
        "na",
        "nb",
        F.when(F.col("na") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("sa") / F.col("na"))
        .alias("ma"),
        F.when(F.col("nb") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("sb") / F.col("nb"))
        .alias("mb"),
        F.when(F.col("na") <= 1, F.lit(None).cast("double"))
        .otherwise(
            (F.col("qa") - F.col("sa") * F.col("sa") / F.col("na"))
            / (F.col("na") - F.lit(1.0))
        )
        .alias("va"),
        F.when(F.col("nb") <= 1, F.lit(None).cast("double"))
        .otherwise(
            (F.col("qb") - F.col("sb") * F.col("sb") / F.col("nb"))
            / (F.col("nb") - F.lit(1.0))
        )
        .alias("vb"),
    )
    diff = F.col("ma") - F.col("mb")
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    return v.select(
        F.col("n_a").cast("bigint").alias("n_units_a"),
        F.col("n_b").cast("bigint").alias("n_units_b"),
        F.round(F.col("ma"), 6).alias("mean_a"),
        F.round(F.col("mb"), 6).alias("mean_b"),
        F.round(diff, 6).alias("lift"),
        F.round(
            F.when(se2 == 0, F.lit(None).cast("double")).otherwise(
                diff * diff / se2
            ),
            6,
        ).alias("welch_t2"),
    )


# --------------------------------------------------------------------------
# Cluster-randomized design: nation-level assignment
# --------------------------------------------------------------------------

@register(
    "exp_cluster_randomized_nation",
    category="experiment",
    oracle=f"""
WITH pu AS (
  SELECT user_id AS u,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
  FROM events GROUP BY user_id),
clus AS (
  SELECT n.n_name,
         CAST(round(CAST(sum(p.s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS m,
         (('0x' || substr(md5('cluster:' || n.n_name), 1, 8))::BIGINT) % 2 AS g
  FROM pu p
  JOIN customer c ON c.c_custkey = p.u
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name),
{_unit_welch_sql("clus")}
""",
)
def exp_cluster_randomized_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-randomized design: whole NATIONS are assigned to arms (the
    design when treatment spills over within a market, so user-level
    randomization is invalid). Inference happens at the cluster level —
    per-nation mean of the per-user metric (DECIMAL(18,6)-projected), the
    across-cluster lift, and a cluster-level Welch t² whose df reflects
    |clusters|, not |users| — the variance penalty that makes naive
    user-level readouts anti-conservative.

    Scale: one groupBy(user) corpus pass, a dimension chain (nation
    broadcast-hinted; customer left to AQE's size-based choice), one
    groupBy(nation) to |nations| rows."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(18,2)").alias("s")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # customer grows with SF — AQE decides its join strategy (see
    # exp_lift_by_region)
    clus = (
        pu.join(cust, pu["u"] == cust["c_custkey"])
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum("s").cast("double") / F.count(F.lit(1)).cast("double"), 6
            )
            .cast("decimal(18,6)")
            .alias("m")
        )
    )
    clus = clus.withColumn("g", _hash_bucket(F.col("n_name"), F.lit("cluster"), 2))
    return _unit_welch_frame(clus)


# --------------------------------------------------------------------------
# Uplift by targeting decile (who should get the treatment?)
# --------------------------------------------------------------------------

@register(
    "exp_uplift_by_pre_decile",
    category="experiment",
    oracle=f"""
WITH pu AS (
  SELECT user_id AS u,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                       THEN CAST(value AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS x,
         max(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                   AND event_type = 'purchase' AND value >= {_CONV_VALUE}
                  THEN 1 ELSE 0 END) AS conv,
         (('0x' || substr(md5('{_ASSIGN_SALT}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS g
  FROM events GROUP BY user_id),
dec AS (
  SELECT u, conv, g,
         ntile(10) OVER (ORDER BY CAST(x AS DOUBLE), u) AS decile
  FROM pu),
gs AS (
  SELECT decile,
         count(*) FILTER (WHERE g = 0) AS n_a,
         sum(conv) FILTER (WHERE g = 0) AS x_a,
         count(*) FILTER (WHERE g = 1) AS n_b,
         sum(conv) FILTER (WHERE g = 1) AS x_b
  FROM dec GROUP BY decile)
SELECT CAST(decile AS INT) AS decile,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(coalesce(x_a, 0) AS BIGINT) AS x_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(coalesce(x_b, 0) AS BIGINT) AS x_b,
       CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
            ELSE round(CAST(coalesce(x_a, 0) AS DOUBLE) / CAST(n_a AS DOUBLE)
                       - CAST(coalesce(x_b, 0) AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
       END AS uplift
FROM gs
""",
)
def exp_uplift_by_pre_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift targeting curve: users deciled by the PRE-period covariate
    (the targeting score), post-period conversion lift per decile — the
    readout behind 'treat only the deciles where the lift concentrates'.
    The decile assignment is the two-phase bucketed global ntile operator
    (partitioned windows + broadcast offsets — no single-partition
    corpus sort), certified ≡ SQL ``ntile`` through the
    window_ntile_scalable equivalence; per-decile counts are exact
    integers with empty-arm NULL guards.

    Scale: one groupBy(user) corpus pass, the two-phase rank on the
    |users| frame, one groupBy(decile) to 10 rows."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import global_ntile

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    zero = F.lit(0).cast("decimal(18,2)")
    val = F.col("value").cast("decimal(18,2)")
    pu = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.sum(F.when(F.col("ts") < cutoff, val).otherwise(zero))
        .cast("decimal(18,2)")
        .alias("x"),
        F.max(
            F.when(
                (F.col("ts") >= cutoff)
                & (F.col("event_type") == "purchase")
                & (F.col("value") >= float(_CONV_VALUE)),
                1,
            ).otherwise(0)
        ).alias("conv"),
    )
    pu = pu.withColumn("g", _hash_bucket(F.col("u"), F.lit(_ASSIGN_SALT), 2))
    dec = global_ntile(
        pu.withColumn("xo", F.col("x").cast("double")),
        order_key="xo",
        tiebreaks=["u"],
        n=10,
        out_col="decile",
    )
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = dec.groupBy("decile").agg(
        F.count(F.when(g0, 1)).alias("n_a"),
        F.coalesce(F.sum(F.when(g0, F.col("conv"))), F.lit(0)).alias("x_a"),
        F.count(F.when(g1, 1)).alias("n_b"),
        F.coalesce(F.sum(F.when(g1, F.col("conv"))), F.lit(0)).alias("x_b"),
    )
    return gs.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("x_a").cast("bigint").alias("x_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("x_b").cast("bigint").alias("x_b"),
        F.when(
            (F.col("n_a") == 0) | (F.col("n_b") == 0), F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                F.col("x_a").cast("double") / F.col("n_a").cast("double")
                - F.col("x_b").cast("double") / F.col("n_b").cast("double"),
                6,
            )
        )
        .alias("uplift"),
    )


# --------------------------------------------------------------------------
# Novelty-effect check: the weekly lift trajectory
# --------------------------------------------------------------------------

@register(
    "exp_novelty_weekly_lift",
    category="experiment",
    oracle=f"""
WITH uw AS (
  SELECT user_id AS u,
         CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7) AS INT) + 1 AS week,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s,
         (('0x' || substr(md5('{_ASSIGN_SALT}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS g
  FROM events GROUP BY user_id, 2),
gs AS (
  SELECT week,
         count(*) FILTER (WHERE g = 0) AS n_a,
         sum(s)   FILTER (WHERE g = 0) AS s_a,
         count(*) FILTER (WHERE g = 1) AS n_b,
         sum(s)   FILTER (WHERE g = 1) AS s_b
  FROM uw GROUP BY week)
SELECT CAST(week AS INT) AS week,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
            ELSE round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                       - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
       END AS lift
FROM gs
""",
)
def exp_novelty_weekly_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty-effect check: the arm lift recomputed per calendar week of
    the experiment — a lift that decays week over week is a novelty
    artifact, not a durable effect, and shipping on the week-1 readout
    overstates it. Week ids are exact integer day arithmetic from the
    fixture epoch (no timezone-dependent week-of-year semantics).

    Scale: one groupBy(user, week) corpus pass (map-side combinable),
    one groupBy(week) to |weeks| rows."""
    ev = load_table(spark, sf_dir, "events")
    week = (
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            / 7
        ).cast("int")
        + 1
    )
    uw = ev.groupBy(F.col("user_id").alias("u"), week.alias("week")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(18,2)").alias("s")
    )
    uw = uw.withColumn("g", _hash_bucket(F.col("u"), F.lit(_ASSIGN_SALT), 2))
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = uw.groupBy("week").agg(
        F.count(F.when(g0, 1)).alias("n_a"),
        F.sum(F.when(g0, F.col("s"))).alias("s_a"),
        F.count(F.when(g1, 1)).alias("n_b"),
        F.sum(F.when(g1, F.col("s"))).alias("s_b"),
    )
    return gs.select(
        F.col("week").cast("int").alias("week"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.when(
            (F.col("n_a") == 0) | (F.col("n_b") == 0), F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                F.col("s_a").cast("double") / F.col("n_a").cast("double")
                - F.col("s_b").cast("double") / F.col("n_b").cast("double"),
                6,
            )
        )
        .alias("lift"),
    )


# --------------------------------------------------------------------------
# Differential-attrition guardrail
# --------------------------------------------------------------------------

@register(
    "exp_attrition_check",
    category="experiment",
    oracle=f"""
WITH pu AS (
  SELECT user_id AS u,
         max(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}' THEN 1 ELSE 0 END) AS pre,
         max(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}' THEN 1 ELSE 0 END) AS post,
         (('0x' || substr(md5('{_ASSIGN_SALT}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT) % 2 AS g
  FROM events GROUP BY user_id),
gs AS (
  SELECT sum(pre) FILTER (WHERE g = 0) AS n_a,
         sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END) FILTER (WHERE g = 0) AS d_a,
         sum(pre) FILTER (WHERE g = 1) AS n_b,
         sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END) FILTER (WHERE g = 1) AS d_b
  FROM pu),
d AS (
  SELECT n_a, d_a, n_b, d_b,
         CAST(n_a AS DOUBLE) AS na, CAST(d_a AS DOUBLE) AS xa,
         CAST(n_b AS DOUBLE) AS nb, CAST(d_b AS DOUBLE) AS xb
  FROM gs),
p AS (
  SELECT n_a, d_a, n_b, d_b, na, nb,
         xa / na AS pa, xb / nb AS pb,
         (xa + xb) / (na + nb) AS pp
  FROM d)
SELECT CAST(n_a AS BIGINT) AS n_pre_a,
       CAST(d_a AS BIGINT) AS dropped_a,
       CAST(n_b AS BIGINT) AS n_pre_b,
       CAST(d_b AS BIGINT) AS dropped_b,
       round(pa, 6) AS attrition_a,
       round(pb, 6) AS attrition_b,
       CASE WHEN pp * (1.0 - pp) = 0.0 THEN NULL
            ELSE round((pa - pb) * (pa - pb)
                       / (pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), 6) END AS z2
FROM p
""",
)
def exp_attrition_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-attrition guardrail: among users active in the PRE
    period, the fraction that disappears in the POST period, per arm,
    with a two-proportion z² on the attrition rates — selective dropout
    between arms invalidates the treatment readout before any lift is
    worth reading (the companion gate to SRM). Degenerate pools (nobody
    or everybody drops) report NULL identically on both engines.

    Scale: one groupBy(user) with two boolean maxes, a 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    pu = ev.groupBy(F.col("user_id").alias("u")).agg(
        F.max(F.when(F.col("ts") < cutoff, 1).otherwise(0)).alias("pre"),
        F.max(F.when(F.col("ts") >= cutoff, 1).otherwise(0)).alias("post"),
    )
    pu = pu.withColumn("g", _hash_bucket(F.col("u"), F.lit(_ASSIGN_SALT), 2))
    dropped = F.when((F.col("pre") == 1) & (F.col("post") == 0), 1).otherwise(0)
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = pu.agg(
        F.sum(F.when(g0, F.col("pre"))).alias("n_a"),
        F.sum(F.when(g0, dropped)).alias("d_a"),
        F.sum(F.when(g1, F.col("pre"))).alias("n_b"),
        F.sum(F.when(g1, dropped)).alias("d_b"),
    )
    d = gs.select(
        "n_a",
        "d_a",
        "n_b",
        "d_b",
        F.col("n_a").cast("double").alias("na"),
        F.col("d_a").cast("double").alias("xa"),
        F.col("n_b").cast("double").alias("nb"),
        F.col("d_b").cast("double").alias("xb"),
    )
    p = d.select(
        "n_a",
        "d_a",
        "n_b",
        "d_b",
        "na",
        "nb",
        (F.col("xa") / F.col("na")).alias("pa"),
        (F.col("xb") / F.col("nb")).alias("pb"),
        ((F.col("xa") + F.col("xb")) / (F.col("na") + F.col("nb"))).alias("pp"),
    )
    dp = F.col("pa") - F.col("pb")
    return p.select(
        F.col("n_a").cast("bigint").alias("n_pre_a"),
        F.col("d_a").cast("bigint").alias("dropped_a"),
        F.col("n_b").cast("bigint").alias("n_pre_b"),
        F.col("d_b").cast("bigint").alias("dropped_b"),
        F.round(F.col("pa"), 6).alias("attrition_a"),
        F.round(F.col("pb"), 6).alias("attrition_b"),
        F.when(
            F.col("pp") * (F.lit(1.0) - F.col("pp")) == F.lit(0.0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                dp * dp
                / (
                    F.col("pp")
                    * (F.lit(1.0) - F.col("pp"))
                    * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
                ),
                6,
            )
        )
        .alias("z2"),
    )


# --------------------------------------------------------------------------
# O'Brien–Fleming group-sequential boundary readout
# --------------------------------------------------------------------------

#: squared O'Brien–Fleming boundaries for K = 4 equally-spaced looks at
#: two-sided alpha = 0.05: z_k = C * sqrt(K/k) with the published constant
#: C = 2.024 (O'Brien & Fleming 1979, standard K=4 table), squared so the
#: comparison against the z-squared trajectory is sqrt-free. Shared literal
#: LUT per the registry's transcendental rule — both engines parse the
#: identical decimal literals, never compute a normal quantile.
_OBF_BOUND_Z2 = [
    (1, 16.386304),
    (2, 8.193152),
    (3, 5.462101333333333),
    (4, 4.096576),
]


@register(
    "exp_group_sequential_obf",
    category="experiment",
    plan_shape="dimension_bounded",
    plan_reason="4-row checkpoint dimension joined against per-user first-times",
    oracle=f"""
WITH {_SEQ_Z2_CTES},
lut(week, obf_bound_z2) AS (VALUES {", ".join(f"({k}, {b})" for k, b in _OBF_BOUND_Z2)}),
j AS (
  SELECT t.week, t.n_a, t.n_b, t.z2, l.obf_bound_z2,
         CASE WHEN t.z2 IS NOT NULL AND t.z2 >= l.obf_bound_z2
              THEN 1 ELSE 0 END AS crossed
  FROM traj t JOIN lut l ON l.week = t.week)
SELECT CAST(week AS INT) AS week,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       z2,
       obf_bound_z2,
       CAST(crossed AS INT) AS crossed,
       CAST(max(crossed) OVER (ORDER BY week
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
         AS rejected_by
FROM j
""",
)
def exp_group_sequential_obf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential DECISION readout: the weekly conversion z²
    trajectory (shared with ``exp_sequential_z2``) judged against the
    O'Brien–Fleming K=4 boundary — the classic early-stopping envelope
    that spends almost no alpha at the first looks (z₁ = 4.05) and ends
    near the fixed-horizon cut (z₄ = 2.024). ``crossed`` flags each look
    that clears its boundary; ``rejected_by`` is the running OR — 1 from
    the first crossing look onward, i.e. "the experiment would have
    stopped by week k". Boundaries ship as shared squared literals
    (the LUT rule), so the whole readout is sqrt- and quantile-free.

    Scale: identical to exp_sequential_z2 — one groupBy(user) corpus
    pass, a ×4 broadcast dimension join, 4-row tail; the boundary join
    and running max act on the 4-row frame."""
    traj = _seq_z2_traj(spark, sf_dir)
    lut = small_df(spark, _OBF_BOUND_Z2, "week INT, obf_bound_z2 DOUBLE")
    j = traj.join(F.broadcast(lut), "week").select(
        "week",
        "n_a",
        "n_b",
        "z2",
        "obf_bound_z2",
        F.when(
            F.col("z2").isNotNull() & (F.col("z2") >= F.col("obf_bound_z2")), 1
        )
        .otherwise(0)
        .alias("crossed"),
    )
    w = (
        Window.partitionBy()
        .orderBy("week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        F.col("week").cast("int").alias("week"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "z2",
        "obf_bound_z2",
        F.col("crossed").cast("int").alias("crossed"),
        F.max("crossed").over(w).cast("int").alias("rejected_by"),
    )


# --------------------------------------------------------------------------
# Post-stratified estimator (CUPED's categorical sibling)
# --------------------------------------------------------------------------

@register(
    "exp_post_stratified",
    category="experiment",
    oracle=f"""
WITH {_PER_USER_CTE},
st AS (
  SELECT p.u, p.s, p.g, coalesce(c.c_mktsegment, 'NONE') AS stratum
  FROM peruser p LEFT JOIN customer c ON c.c_custkey = p.u),
gs AS (
  SELECT stratum,
         CAST(count(*) AS BIGINT) AS n_s,
         count(*) FILTER (WHERE g = 0) AS n_a,
         sum(s)   FILTER (WHERE g = 0) AS s_a,
         count(*) FILTER (WHERE g = 1) AS n_b,
         sum(s)   FILTER (WHERE g = 1) AS s_b
  FROM st GROUP BY stratum),
m AS (
  SELECT stratum, n_s, n_a, n_b, s_a, s_b,
         CASE WHEN n_a >= 1 AND n_b >= 1 THEN 1 ELSE 0 END AS incl,
         CASE WHEN n_a >= 1 THEN CAST(round(CAST(s_a AS DOUBLE)
              / CAST(n_a AS DOUBLE), 6) AS DECIMAL(18,6)) END AS ma,
         CASE WHEN n_b >= 1 THEN CAST(round(CAST(s_b AS DOUBLE)
              / CAST(n_b AS DOUBLE), 6) AS DECIMAL(18,6)) END AS mb
  FROM gs),
tot AS (
  SELECT CAST(sum(n_s) AS BIGINT) AS n_users,
         CAST(sum(incl) AS BIGINT) AS n_strata,
         CAST(sum(CASE WHEN incl = 1 THEN n_s END) AS BIGINT) AS n_included,
         sum(CASE WHEN incl = 1
                  THEN CAST(n_s AS DECIMAL(18,0)) * (ma - mb) END) AS wsum,
         CAST(sum(n_a) AS DOUBLE) AS na, CAST(sum(s_a) AS DOUBLE) AS sa,
         CAST(sum(n_b) AS DOUBLE) AS nb, CAST(sum(s_b) AS DOUBLE) AS sb
  FROM m)
SELECT n_users,
       n_strata,
       round(CASE WHEN na = 0 OR nb = 0 THEN NULL
                  ELSE sa / na - sb / nb END, 6) AS raw_diff,
       round(CASE WHEN n_included IS NULL OR n_included = 0 THEN NULL
                  ELSE CAST(wsum AS DOUBLE) / CAST(n_included AS DOUBLE) END,
             6) AS poststrat_diff
FROM tot
""",
)
def exp_post_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified lift — CUPED's categorical sibling: users are
    stratified by their pre-experiment market segment (customer join;
    unmatched users form a 'NONE' stratum), and the estimator reweights
    per-stratum arm differences by the stratum's population share,
    removing the variance/imbalance the segment explains:
    Δ_ps = Σ_s (N_s/N)·(mean_a,s − mean_b,s). Strata missing an arm are
    excluded from the weighted sum (their weight has no defined
    difference); N is re-normalized over included strata.

    Exactness: per-stratum arm means are projected to the DECIMAL(18,6)
    grid (the cluster/switchback convention), so N_s·Δ_s and its sum
    across strata are DECIMAL-exact and order-free; ONE double division
    at the end, mirrored verbatim in the oracle.

    Scale: one map-side-combinable groupBy(user) corpus pass, one join
    against the customer dimension (AQE-decided strategy), a groupBy to
    |segments|+1 rows, then a single-row aggregate."""
    pu = _per_user_metric(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    st = pu.join(cust, pu["u"] == cust["c_custkey"], "left").select(
        "u", "s", "g", F.coalesce(F.col("c_mktsegment"), F.lit("NONE")).alias("stratum")
    )
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    gs = st.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
        F.count(F.when(g0, 1)).alias("n_a"),
        F.sum(F.when(g0, F.col("s"))).alias("s_a"),
        F.count(F.when(g1, 1)).alias("n_b"),
        F.sum(F.when(g1, F.col("s"))).alias("s_b"),
    )
    m = gs.select(
        "n_s",
        "n_a",
        "n_b",
        "s_a",
        "s_b",
        F.when((F.col("n_a") >= 1) & (F.col("n_b") >= 1), 1).otherwise(0).alias("incl"),
        F.when(
            F.col("n_a") >= 1,
            F.round(
                F.col("s_a").cast("double") / F.col("n_a").cast("double"), 6
            ).cast("decimal(18,6)"),
        ).alias("ma"),
        F.when(
            F.col("n_b") >= 1,
            F.round(
                F.col("s_b").cast("double") / F.col("n_b").cast("double"), 6
            ).cast("decimal(18,6)"),
        ).alias("mb"),
    )
    tot = m.agg(
        F.sum("n_s").cast("bigint").alias("n_users"),
        F.sum("incl").cast("bigint").alias("n_strata"),
        F.sum(F.when(F.col("incl") == 1, F.col("n_s"))).cast("bigint").alias("n_included"),
        F.sum(
            F.when(
                F.col("incl") == 1,
                F.col("n_s").cast("decimal(18,0)") * (F.col("ma") - F.col("mb")),
            )
        ).alias("wsum"),
        F.sum("n_a").cast("double").alias("na"),
        F.sum("s_a").cast("double").alias("sa"),
        F.sum("n_b").cast("double").alias("nb"),
        F.sum("s_b").cast("double").alias("sb"),
    )
    null_d = F.lit(None).cast("double")
    return tot.select(
        "n_users",
        "n_strata",
        F.round(
            F.when((F.col("na") == 0) | (F.col("nb") == 0), null_d).otherwise(
                F.col("sa") / F.col("na") - F.col("sb") / F.col("nb")
            ),
            6,
        ).alias("raw_diff"),
        F.round(
            F.when(
                F.col("n_included").isNull() | (F.col("n_included") == 0), null_d
            ).otherwise(
                F.col("wsum").cast("double") / F.col("n_included").cast("double")
            ),
            6,
        ).alias("poststrat_diff"),
    )


# --------------------------------------------------------------------------
# Mann–Whitney U (rank-sum) — the distribution-free lift test
# --------------------------------------------------------------------------

@register(
    "exp_mann_whitney_u",
    category="experiment",
    oracle=f"""
WITH {_PER_USER_CTE},
d AS (SELECT CAST(s AS DOUBLE) AS sv, g FROM peruser),
gv AS (
  SELECT sv, count(*) AS t, count(*) FILTER (WHERE g = 1) AS tb
  FROM d GROUP BY sv),
rk AS (
  SELECT sv, t, tb,
         coalesce(sum(t) OVER (ORDER BY sv
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
  FROM gv),
tot AS (
  SELECT sum(t) AS n, sum(tb) AS nb, sum(t) - sum(tb) AS na,
         sum(CAST(tb AS DECIMAL(19,0))
             * CAST(2 * lt + t + 1 AS DECIMAL(19,0))) AS r2b,
         sum(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
             * CAST(t AS DECIMAL(12,0)) - t) AS tcube
  FROM rk),
f AS (
  SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         CAST(r2b - CAST(nb AS DECIMAL(19,0)) * CAST(nb + 1 AS DECIMAL(19,0))
              AS BIGINT) AS u2,
         CAST(tcube AS BIGINT) AS tie_cubes,
         CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
         CAST(n AS DOUBLE) AS nd, CAST(tcube AS DOUBLE) AS td
  FROM tot),
v AS (
  SELECT n_a, n_b, u2, tie_cubes, nad, nbd,
         CASE WHEN n_a <= 1 OR n_b <= 1 THEN NULL
              ELSE nad * nbd / 12.0
                   * ((nd + 1.0) - td / (nd * (nd - 1.0))) END AS var
  FROM f)
SELECT n_a, n_b, u2, tie_cubes,
       round(CASE WHEN var IS NULL OR var = 0 THEN NULL
                  ELSE (CAST(u2 AS DOUBLE) - nad * nbd)
                       * (CAST(u2 AS DOUBLE) - nad * nbd) / (4.0 * var) END,
             6) AS z2
FROM v
""",
)
def exp_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between the arms of the
    per-user metric — the distribution-free lift test a heavy-tailed
    revenue metric calls for when the Welch t's normality is suspect.
    Average ranks for ties ride an INTEGER grid (×2 units: a tie group at
    exclusive-prefix lt with size t has rank-sum-×2 per member
    2·lt + t + 1), so U×2, the tie-correction Σ(t³−t), and every
    aggregate are exact; the variance
    n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))) and z² are ONE double
    expression tree mirrored in the oracle, with the z2 degenerate-arm /
    all-tied guards NULLed identically on both engines.

    Scale: one groupBy(user) corpus pass, one groupBy(value) collapse to
    the value histogram, then the scale-safe two-phase
    ``global_prefix_sum`` (operators/ranking.py) for exclusive rank
    offsets — NO single-partition window — and a single-row aggregate.
    Sums are DECIMAL so rank products cannot overflow at any corpus
    scale (u2/tie_cubes output as BIGINT — exact to ~9e18, far past any
    shipped fixture)."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        global_prefix_sum,
    )

    users = _per_user_metric(spark, sf_dir)
    d = users.select(F.col("s").cast("double").alias("sv"), "g")
    gv = d.groupBy("sv").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.count(F.when(F.col("g") == 1, 1)).cast("long").alias("tb"),
    )
    ps = global_prefix_sum(gv, "sv", "t", out_col="lt", num_buckets=32)
    t12 = F.col("t").cast("decimal(12,0)")
    tot = ps.agg(
        F.sum("t").alias("n"),
        F.sum("tb").alias("nb"),
        (F.sum("t") - F.sum("tb")).alias("na"),
        F.sum(
            F.col("tb").cast("decimal(19,0)")
            * (2 * F.col("lt") + F.col("t") + 1).cast("decimal(19,0)")
        ).alias("r2b"),
        F.sum(t12 * t12 * t12 - F.col("t")).alias("tcube"),
    )
    fr = tot.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        (
            F.col("r2b")
            - F.col("nb").cast("decimal(19,0)")
            * (F.col("nb") + 1).cast("decimal(19,0)")
        )
        .cast("bigint")
        .alias("u2"),
        F.col("tcube").cast("bigint").alias("tie_cubes"),
        F.col("na").cast("double").alias("nad"),
        F.col("nb").cast("double").alias("nbd"),
        F.col("n").cast("double").alias("nd"),
        F.col("tcube").cast("double").alias("td"),
    )
    var = F.when(
        (F.col("n_a") <= 1) | (F.col("n_b") <= 1), F.lit(None).cast("double")
    ).otherwise(
        F.col("nad")
        * F.col("nbd")
        / F.lit(12.0)
        * (
            (F.col("nd") + F.lit(1.0))
            - F.col("td") / (F.col("nd") * (F.col("nd") - F.lit(1.0)))
        )
    )
    v = fr.select("n_a", "n_b", "u2", "tie_cubes", "nad", "nbd", var.alias("var"))
    diff = F.col("u2").cast("double") - F.col("nad") * F.col("nbd")
    return v.select(
        "n_a",
        "n_b",
        "u2",
        "tie_cubes",
        F.round(
            F.when(
                F.col("var").isNull() | (F.col("var") == 0),
                F.lit(None).cast("double"),
            ).otherwise(diff * diff / (F.lit(4.0) * F.col("var"))),
            6,
        ).alias("z2"),
    )


# --------------------------------------------------------------------------
# Brown–Forsythe variance homogeneity (the equal-variance guardrail)
# --------------------------------------------------------------------------

@register(
    "exp_variance_homogeneity",
    category="experiment",
    oracle=f"""
WITH {_PER_USER_CTE},
d AS (SELECT CAST(s AS DOUBLE) AS sv, g FROM peruser),
med AS (
  SELECT g, quantile_disc(sv, 0.50) AS med FROM d GROUP BY g),
z AS (
  SELECT d.g, CAST(abs(d.sv - med.med) AS DECIMAL(18,2)) AS z
  FROM d JOIN med ON med.g = d.g),
gs AS (
  SELECT count(*) FILTER (WHERE g = 0) AS n_a,
         sum(z)   FILTER (WHERE g = 0) AS s_a,
         sum(CAST(z AS DECIMAL(19,2)) * CAST(z AS DECIMAL(19,2)))
           FILTER (WHERE g = 0) AS q_a,
         count(*) FILTER (WHERE g = 1) AS n_b,
         sum(z)   FILTER (WHERE g = 1) AS s_b,
         sum(CAST(z AS DECIMAL(19,2)) * CAST(z AS DECIMAL(19,2)))
           FILTER (WHERE g = 1) AS q_b
  FROM z),
dd AS (
  SELECT n_a, n_b,
         CAST(n_a AS DOUBLE) AS na, CAST(s_a AS DOUBLE) AS sa, CAST(q_a AS DOUBLE) AS qa,
         CAST(n_b AS DOUBLE) AS nb, CAST(s_b AS DOUBLE) AS sb, CAST(q_b AS DOUBLE) AS qb
  FROM gs),
v AS (
  SELECT n_a, n_b, na, nb, sa, sb,
         CASE WHEN na = 0 OR nb = 0 THEN NULL
              ELSE (qa - sa * sa / na) + (qb - sb * sb / nb) END AS within,
         CASE WHEN na = 0 OR nb = 0 THEN NULL
              ELSE na * (sa / na - (sa + sb) / (na + nb))
                      * (sa / na - (sa + sb) / (na + nb))
                 + nb * (sb / nb - (sa + sb) / (na + nb))
                      * (sb / nb - (sa + sb) / (na + nb)) END AS between_ss
  FROM dd)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       (SELECT med FROM med WHERE g = 0) AS med_a,
       (SELECT med FROM med WHERE g = 1) AS med_b,
       round(CASE WHEN within IS NULL OR within = 0
                       OR n_a <= 1 OR n_b <= 1 THEN NULL
                  ELSE (na + nb - 2.0) * between_ss / within END, 6) AS bf_f
FROM v
""",
)
def exp_variance_homogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity guardrail: the one-way ANOVA F
    on |metric − arm median| — did the treatment move the SPREAD of the
    per-user metric, not just its mean (median-centered, so heavy tails
    don't masquerade as variance change; and the check that validates the
    pooled-variance assumptions other readouts lean on).

    Exactness: arm medians via the lossless-sketch equivalence
    (``approx_percentile`` at lossless accuracy (1e7 ≥ 10× any certified group) ≡ ``quantile_disc``); |s − med| is
    mathematically a 2-dp value, so its DECIMAL(18,2) cast is exact and
    identical on both engines; Σz, Σz² are order-free decimal sums
    (Spark (18,2)² = (37,4) exact; the oracle casts DECIMAL(19,2) so
    DuckDB squares on the hugeint path); the F ratio is ONE double
    expression tree with mirrored degenerate guards.

    Scale: one groupBy(user) corpus pass, one groupBy(arm) GK sketch for
    medians, one broadcast equi-join of the 2-row median table, one
    single-row aggregate that also recovers the arm medians via
    min(when(arm)) — no crossJoin anywhere, and an empty arm yields one
    row with NULL medians exactly like the oracle's scalar subqueries."""
    users = _per_user_metric(spark, sf_dir)
    d = users.select(F.col("s").cast("double").alias("sv"), "g")
    med = d.groupBy("g").agg(
        F.expr("approx_percentile(sv, 0.50, 10000000)").alias("med")
    )
    z = d.join(F.broadcast(med), "g").select(
        "g",
        F.abs(F.col("sv") - F.col("med")).cast("decimal(18,2)").alias("z"),
        "med",
    )
    g0 = F.col("g") == 0
    g1 = F.col("g") == 1
    # med is constant within an arm, so min(when(arm)) recovers the arm
    # median as a scalar in the SAME single-row aggregate as the moment
    # sums — an empty arm yields NULL, matching the oracle's scalar
    # subqueries, and no crossJoin/BNLJ appears in the plan.
    gs = z.agg(
        F.count(F.when(g0, 1)).alias("n_a"),
        F.sum(F.when(g0, F.col("z"))).alias("s_a"),
        F.sum(F.when(g0, F.col("z") * F.col("z"))).alias("q_a"),
        F.count(F.when(g1, 1)).alias("n_b"),
        F.sum(F.when(g1, F.col("z"))).alias("s_b"),
        F.sum(F.when(g1, F.col("z") * F.col("z"))).alias("q_b"),
        F.min(F.when(g0, F.col("med"))).alias("med_a"),
        F.min(F.when(g1, F.col("med"))).alias("med_b"),
    )
    dd = gs.select(
        "n_a",
        "n_b",
        "med_a",
        "med_b",
        F.col("n_a").cast("double").alias("na"),
        F.col("s_a").cast("double").alias("sa"),
        F.col("q_a").cast("double").alias("qa"),
        F.col("n_b").cast("double").alias("nb"),
        F.col("s_b").cast("double").alias("sb"),
        F.col("q_b").cast("double").alias("qb"),
    )
    null_d = F.lit(None).cast("double")
    zbar = (F.col("sa") + F.col("sb")) / (F.col("na") + F.col("nb"))
    within = F.when((F.col("na") == 0) | (F.col("nb") == 0), null_d).otherwise(
        (F.col("qa") - F.col("sa") * F.col("sa") / F.col("na"))
        + (F.col("qb") - F.col("sb") * F.col("sb") / F.col("nb"))
    )
    between = F.when((F.col("na") == 0) | (F.col("nb") == 0), null_d).otherwise(
        F.col("na") * (F.col("sa") / F.col("na") - zbar)
        * (F.col("sa") / F.col("na") - zbar)
        + F.col("nb") * (F.col("sb") / F.col("nb") - zbar)
        * (F.col("sb") / F.col("nb") - zbar)
    )
    v = dd.select(
        "n_a", "n_b", "na", "nb", "med_a", "med_b",
        within.alias("within"), between.alias("between_ss"),
    )
    return (
        v.select(
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            "med_a",
            "med_b",
            F.round(
                F.when(
                    F.col("within").isNull()
                    | (F.col("within") == 0)
                    | (F.col("n_a") <= 1)
                    | (F.col("n_b") <= 1),
                    null_d,
                ).otherwise(
                    (F.col("na") + F.col("nb") - F.lit(2.0))
                    * F.col("between_ss")
                    / F.col("within")
                ),
                6,
            ).alias("bf_f"),
        )
    )
