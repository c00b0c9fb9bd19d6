"""Product/corpus analytics queries: funnel conversion, retention cohorts,
time-series gap-fill (LOCF resample), unigram-LM fluency scoring, canonical
document selection.

These extend the engine's certified surface with the event-analytics and
corpus-curation workloads a reference user runs downstream of the pipeline
stages (the reference delegates all query semantics to the engine — these
are the Spark-first formulations, each with an exact DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from arc_cassandra_pipeline_plugin_spark.operators import text as TX
from arc_cassandra_pipeline_plugin_spark.queries import register
from arc_cassandra_pipeline_plugin_spark.queries.extensions import (
    _clusters_oracle,
    _NORM,
    _TOKENS_CTE,
    dedup_clusters,
)
from arc_cassandra_pipeline_plugin_spark.sources import load_table


@register(
    "funnel_conversion",
    category="timeseries",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS users_view,
       (SELECT count(*) FROM c) AS users_click,
       (SELECT count(*) FROM p) AS users_purchase
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: users whose first click
    follows their first view, and first purchase after that click.

    Each stage is a groupBy(user) min-timestamp semi-reduction joined to
    the previous stage on the user key — at scale all three legs shuffle
    on the SAME key (user_id), so AQE coalesces them into co-located
    exchanges; the final counts are three 1-row aggregates cross-joined
    (no driver collect). All-integer output → exact."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("users_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("users_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("users_purchase")))
    )


@register(
    "retention_cohorts",
    category="timeseries",
    oracle="""
WITH first_seen AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(first_ts AS DATE)) // 7 AS INT)
         AS cohort_week,
       CAST(date_diff('day', CAST(first_ts AS DATE), CAST(ts AS DATE)) // 7 AS INT)
         AS week_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN first_seen USING (user_id)
GROUP BY 1, 2
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users bucketed by first-seen week
    (cohort), counted distinct in each subsequent week offset.

    Shape: one groupBy(user) for first-seen, one shuffle join back on
    user_id (co-partitioned with the aggregate), then a tiny
    (cohort, offset) distinct-count. Week indexes are integer day
    arithmetic — exact on both engines (floor division on non-negative
    day differences)."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohort = F.floor(
        F.datediff(F.to_date("first_ts"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("int")
    offset = F.floor(F.datediff(F.to_date("ts"), F.to_date("first_ts")) / 7).cast("int")
    return (
        ev.join(first_seen, "user_id")
        .groupBy(cohort.alias("cohort_week"), offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "timeseries_resample_locf",
    category="timeseries",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, arg_max(value, ts) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         FROM bounds),
joined AS (
  SELECT g.user_id, g.hour, h.v
  FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
)
SELECT user_id, hour,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
FROM joined
""",
)
def timeseries_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event stream onto an hourly grid, carrying the
    last observation forward through gaps (LOCF) — the standard
    time-series densification step before window features.

    Shape: groupBy(user, hour) picks the latest value per bucket (max_by
    on the event timestamp — (user, ts) is unique in the fixture, so the
    pick is total-ordered); the grid is `sequence()` per user (generated
    distributed, never a driver loop); the fill is one window partitioned
    by user — state bounded by each user's own span. At 100 TB the only
    shuffles are the bucket aggregate and the user-partitioned window,
    both on user keys."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.max_by("value", "ts").alias("v"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("v", ignorenulls=True).over(w).alias("value_locf"),
        )
    )


@register(
    "timeseries_interpolate_linear",
    category="timeseries",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour, arg_max(value, ts) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         FROM bounds),
joined AS (
  SELECT g.user_id, g.hour, h.v
  FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
),
filled AS (
  SELECT user_id, hour, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hour
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hour
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM joined),
exact AS (
  SELECT user_id, hour, v,
         CAST(round(pv * 100, 0) AS BIGINT) AS pvc,
         CAST(round(nv * 100, 0) AS BIGINT) AS nvc,
         (CAST(epoch(nh) AS BIGINT) - CAST(epoch(hour) AS BIGINT)) // 3600 AS a,
         (CAST(epoch(hour) AS BIGINT) - CAST(epoch(ph) AS BIGINT)) // 3600 AS b
  FROM filled)
SELECT user_id, hour,
       CAST(CASE WHEN v IS NOT NULL THEN CAST(round(v * 100, 0) AS BIGINT) * 10000
            ELSE (2 * (pvc * a + nvc * b) * 10000 + (a + b)) // (2 * (a + b)) END
            AS DOUBLE) / 1000000.0 AS value_interp
FROM exact
""",
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event stream onto an hourly grid, filling gaps
    by LINEAR interpolation between the surrounding observations — the
    densification step for signals where carrying the last value forward
    (LOCF) biases downstream features.

    Shape mirrors the LOCF query: one groupBy(user, hour) bucket aggregate
    (max_by picks the latest value — (user, ts) unique in the fixture), a
    distributed `sequence()` grid, then TWO windows partitioned by user
    (backward last-non-null, forward first-non-null) that Spark evaluates
    over the same user-keyed sort. The grid spans each user's own observed
    [min, max] hours, so both neighbors always exist where v is null.

    Determinism: floating-point interpolation of 2-dp values over dyadic
    hour fractions lands EXACTLY on round-halfway boundaries (e.g.
    7.15 → 82.92 over 8 h hits 54.50625), where the engines' rounding
    algorithms diverge — so the interpolation is integer arithmetic end to
    end: values in exact cents, hour gaps as exact bigints, half-up
    integer division to micro-units ((2·N·10⁴ + D) div 2·D), and one final
    int→double division both engines perform identically."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.max_by("value", "ts").alias("v"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col("v")
    obs_hour = F.when(v.isNotNull(), F.col("hour"))
    filled = grid.join(hourly, ["user_id", "hour"], "left").select(
        "user_id",
        "hour",
        v,
        F.last(v, ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(wb).alias("ph"),
        F.first(v, ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(wf).alias("nh"),
    )
    cents = lambda c: F.round(c * 100, 0).cast("bigint")  # noqa: E731
    exact = filled.select(
        "user_id",
        "hour",
        v,
        cents(F.col("pv")).alias("pvc"),
        cents(F.col("nv")).alias("nvc"),
        ((F.col("nh").cast("long") - F.col("hour").cast("long")) / 3600)
        .cast("bigint")
        .alias("a"),
        ((F.col("hour").cast("long") - F.col("ph").cast("long")) / 3600)
        .cast("bigint")
        .alias("b"),
    )
    micro = F.when(v.isNotNull(), cents(v) * 10000).otherwise(
        F.expr("(2 * (pvc * a + nvc * b) * 10000 + (a + b)) div (2 * (a + b))")
    )
    return exact.select(
        "user_id",
        "hour",
        (micro.cast("double") / F.lit(1000000.0)).alias("value_interp"),
    )


@register(
    "session_pattern_match",
    category="timeseries",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS letter,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                   > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sess AS (
  SELECT user_id, ts, event_id, letter,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged),
seqs AS (
  SELECT user_id, sid,
         string_agg(letter, '' ORDER BY ts, event_id) AS seq
  FROM sess GROUP BY 1, 2)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_conv_sessions,
       CAST(max(length(seq)) AS BIGINT) AS max_session_len
FROM seqs GROUP BY user_id
""",
)
def session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over sessionized event streams — the
    MATCH_RECOGNIZE workload Spark lacks natively, expressed Spark-first:
    each 30-min-gap session becomes an ordered event-type letter string
    (one letter per event), and a regex over that string detects the
    view→click→purchase conversion shape anywhere within the session.
    Arbitrary sequence patterns (retries, abandon loops, A*B+C?) are one
    regex swap away.

    Shape: the sessionizer is the certified lag/running-sum pair (windows
    partitioned by user), the per-session string is a sort_array-then-
    concat aggregate (bounded by session length), and the regex evaluates
    JVM-side per session row — no explode-back, no UDF. Deterministic:
    (ts, event_id) totally orders each session's letters in both
    engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.substring("event_type", 1, 1).alias("letter")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.col("ts").cast("long") - F.lag("ts").over(wo).cast("long")
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("sid", F.sum(is_new).over(wc))
    seqs = sess.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "letter"))),
                lambda x: x["letter"],
            ),
            "",
        ).alias("seq")
    )
    conv = F.when(F.col("seq").rlike("v.*c.*p"), 1).otherwise(0)
    return seqs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(conv).cast("bigint").alias("n_conv_sessions"),
        F.max(F.length("seq")).cast("bigint").alias("max_session_len"),
    )


@register(
    "events_mann_kendall_trend",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
         count(*) AS cnt
  FROM events GROUP BY 1, 2),
p AS (
  SELECT d1.user_id,
         CASE WHEN d2.cents * d1.cnt > d1.cents * d2.cnt THEN 1
              WHEN d2.cents * d1.cnt < d1.cents * d2.cnt THEN -1
              ELSE 0 END AS sgn
  FROM daily d1 JOIN daily d2
    ON d1.user_id = d2.user_id AND d1.day < d2.day),
s AS (SELECT user_id, sum(sgn) AS s_stat, count(*) AS n_pairs FROM p GROUP BY 1),
nd AS (SELECT user_id, count(*) AS n_days FROM daily GROUP BY 1)
SELECT nd.user_id, CAST(n_days AS BIGINT) AS n_days,
       CAST(coalesce(s_stat, 0) AS BIGINT) AS s_stat,
       CASE WHEN n_pairs > 0
            THEN round(CAST(s_stat AS DOUBLE) / n_pairs, 6) END AS tau_a
FROM nd LEFT JOIN s ON nd.user_id = s.user_id
""",
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend statistic per user: S = Σ_{i<j}
    sign(mean_j − mean_i) over the user's DAILY mean values, plus Kendall's
    tau-a (S over the pair count) — the nonparametric "is this metric
    drifting?" test that needs no distributional assumptions.

    Scalable shape: the O(n²) pair comparison runs over the per-(user, day)
    AGGREGATE, so pairs are bounded by calendar-days² per user regardless
    of event volume; the self-join shuffles once on user_id. Exactness: the
    mean comparison is cross-multiplied integer cents
    (sign(c_j·n_i − c_i·n_j)) — no float enters until the final tau
    division, so sign flips from engine-order ulp drift are impossible by
    construction."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"),
        F.count(F.lit(1)).alias("cnt"),
    )
    d1 = daily.alias("d1")
    d2 = daily.alias("d2")
    lhs = F.col("d2.cents") * F.col("d1.cnt")
    rhs = F.col("d1.cents") * F.col("d2.cnt")
    pairs = d1.join(
        d2,
        (F.col("d1.user_id") == F.col("d2.user_id"))
        & (F.col("d1.day") < F.col("d2.day")),
    ).select(
        F.col("d1.user_id").alias("user_id"),
        F.when(lhs > rhs, 1).when(lhs < rhs, -1).otherwise(0).alias("sgn"),
    )
    s = pairs.groupBy("user_id").agg(
        F.sum("sgn").alias("s_stat"), F.count(F.lit(1)).alias("n_pairs")
    )
    nd = daily.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_days"))
    return nd.join(s, "user_id", "left").select(
        "user_id",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.coalesce(F.col("s_stat"), F.lit(0)).cast("bigint").alias("s_stat"),
        F.when(
            F.col("n_pairs") > 0,
            F.round(F.col("s_stat").cast("double") / F.col("n_pairs"), 6),
        ).alias("tau_a"),
    )


@register(
    "text_unigram_lm_score",
    category="text",
    oracle=f"""
WITH {_TOKENS_CTE},
vocab AS (SELECT token, count(*) AS tok_cnt FROM tok2 GROUP BY token),
total AS (SELECT sum(tok_cnt) AS corpus_total FROM vocab)
SELECT doc_id, count(*) AS n_tokens,
       round(CAST(sum(CAST(round(ln(CAST(tok_cnt AS DOUBLE) / CAST(corpus_total AS DOUBLE)), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_logprob
FROM tok2 JOIN vocab USING (token) CROSS JOIN total
GROUP BY doc_id
""",
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM fluency score per document (mean token log-prob under the
    corpus's own unigram distribution) — the CCNet-style quality signal."""
    return TX.unigram_lm_score(load_table(spark, sf_dir, "documents"))


@register(
    "text_bigram_lm_score",
    category="text",
    oracle=f"""
WITH tokp AS (
  SELECT doc_id, CAST(generate_subscripts(toks, 1) AS INT) AS pos,
         unnest(toks) AS token
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents) d),
ptok AS (SELECT doc_id, pos, token FROM tokp WHERE length(token) > 0),
vocab AS (SELECT count(DISTINCT token) AS v FROM ptok),
big AS (
  SELECT doc_id, lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
         token AS cur
  FROM ptok),
big2 AS (SELECT doc_id, prev, cur FROM big WHERE prev IS NOT NULL),
c2 AS (SELECT prev, cur, count(*) AS c2 FROM big2 GROUP BY prev, cur),
c1 AS (SELECT prev, sum(c2) AS c1 FROM c2 GROUP BY prev)
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(sum(CAST(round(ln((c2 + 1.0) / CAST(c1 + v AS DOUBLE)), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_logprob
FROM big2 JOIN c2 USING (prev, cur) JOIN c1 USING (prev) CROSS JOIN vocab
GROUP BY doc_id
""",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram-LM fluency score per document (mean
    conditional token log-prob under the corpus's own bigram distribution)
    — the order-sensitive upgrade of the unigram signal: shuffled or
    template-stitched text scores low even with a fluent unigram profile."""
    return TX.bigram_lm_score(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_canonical_docs",
    category="dedup",
    oracle=f"""
WITH clusters AS ({_clusters_oracle()}),
ranked AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT cluster_id,
       max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
       CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS canonical_chars,
       count(*) AS n_members
FROM ranked
GROUP BY cluster_id
""",
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection for near-duplicate clusters: keep
    the longest document (doc_id tiebreak) of each LSH/connected-component
    cluster — the "which copy survives" policy step of a dedup pipeline.

    Shape: reuses the full certified cluster pipeline, joins cluster labels
    to document metadata (a key join on doc_id), one window partitioned by
    cluster to pick the representative, one aggregate for member counts.
    The window partitions by cluster_id — bounded by cluster size, never
    global."""
    clusters = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = clusters.join(docs, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("n_chars").desc(), F.col("doc_id")
            )
        ),
    )
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("canonical_doc"),
        F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
        .cast("bigint")
        .alias("canonical_chars"),
        F.count(F.lit(1)).alias("n_members"),
    )


@register(
    "embeddings_normalize_l2",
    category="similarity",
    oracle="""
WITH n2 AS (
  SELECT vec_id,
         embedding,
         CAST(list_sum(list_transform(embedding,
              x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(24,12))))
           AS DOUBLE) AS norm_sq
  FROM embeddings
)
SELECT vec_id,
       round(sqrt(norm_sq), 6) AS l2_norm,
       array_to_string(list_transform(embedding,
         x -> printf('%.4f', round(CAST(x AS DOUBLE) / sqrt(norm_sq), 4) + 0.0)), ',')
         AS unit_csv
FROM n2
""",
)
def embeddings_normalize_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embedding vectors to unit length — the standard prep
    step before cosine similarity becomes a dot product.

    Pure per-row projection: zero shuffles at any scale. The squared norm
    accumulates in exact DECIMAL (the per-element double square is
    row-deterministic; the decimal sum is order-free), so sqrt and the
    normalized elements are bit-identical across engines; elements render
    as %.4f CSV with the -0.0 guard."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm_sq = F.aggregate(
        F.col("embedding"),
        F.lit(0).cast("decimal(24,12)"),
        lambda acc, x: (
            acc + (x.cast("double") * x.cast("double")).cast("decimal(24,12)")
        ).cast("decimal(24,12)"),
    ).cast("double")
    norm = F.sqrt(F.col("norm_sq"))
    return (
        emb.select("vec_id", "embedding", norm_sq.alias("norm_sq"))
        .select(
            "vec_id",
            F.round(norm, 6).alias("l2_norm"),
            F.array_join(
                F.transform(
                    F.col("embedding"),
                    lambda x: F.format_string(
                        "%.4f", F.round(x.cast("double") / norm, 4) + F.lit(0.0)
                    ),
                ),
                ",",
            ).alias("unit_csv"),
        )
    )


@register(
    "events_time_rollup",
    category="timeseries",
    oracle="""
SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
       CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY ROLLUP (CAST(year(ts) AS INT), CAST(month(ts) AS INT),
                 CAST(day(ts) AS INT), CAST(hour(ts) AS INT))
""",
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: hour → day → month → year →
    grand total in ONE pass (the continuous-aggregate shape TimescaleDB
    materializes; here it's a single ROLLUP with map-side partial
    aggregation — each level is a re-aggregation of the level below, never
    a rescan). Value sums accumulate in exact DECIMAL."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.rollup(
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
            F.hour("ts").alias("h"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
    )


@register(
    "agg_sketch_union",
    category="aggregation",
    oracle="""
WITH per_source AS (
  SELECT source, count(DISTINCT text) AS n_exact FROM documents GROUP BY source
)
SELECT CAST(count(*) AS BIGINT) AS n_sources,
       CAST((SELECT count(DISTINCT text) FROM documents) AS BIGINT) AS n_exact_total,
       TRUE AS within_bound
FROM per_source
""",
)
def agg_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: one HLL sketch per source,
    union-merged into a corpus-wide estimate — the 100 TB pattern where
    per-partition/per-day sketches are tiny, mergeable, and never reshuffle
    raw values. Certified contract: the merged estimate lands within 5% of
    the exact corpus-wide distinct count (pinned TRUE by the oracle),
    alongside exact per-source bookkeeping."""
    docs = load_table(spark, sf_dir, "documents")
    sketches = docs.groupBy("source").agg(
        F.hll_sketch_agg("text").alias("sk"),
        F.countDistinct("text").alias("n_exact"),
    )
    merged = sketches.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    exact_total = docs.agg(F.countDistinct("text").alias("n_exact_total"))
    return (
        merged.crossJoin(F.broadcast(exact_total))
        .select(
            "n_sources",
            "n_exact_total",
            (
                F.abs(F.col("_est") - F.col("n_exact_total"))
                <= 0.05 * F.col("n_exact_total")
            ).alias("within_bound"),
        )
    )


def _partitioned_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Hive-partitioned (by event_type) twin of the events table, written
    once per distinct fixture generation into a content-keyed temp dir
    (path+size+mtime key, so a regenerated fixture invalidates the cache).
    The write itself is the partitioned-sink half of the exercise; the
    certified query reads it back through partition discovery."""
    import hashlib
    import os
    import tempfile

    from arc_cassandra_pipeline_plugin_spark.sources import table_path

    src = table_path(sf_dir, "events")
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_size}:{int(st.st_mtime)}".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), "acpps_part_events", key)
    if not os.path.exists(os.path.join(base, "_SUCCESS")):
        load_table(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(base)
    return base


def partitioned_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruned scan under ``scan_partition_pruning`` — split out so the
    plan test can assert PartitionFilters on the exact DataFrame the
    certified query aggregates."""
    part = spark.read.parquet(_partitioned_events_dir(spark, sf_dir))
    return part.filter(F.col("event_type").isin("click", "purchase"))


@register(
    "scan_partition_pruning",
    category="scan",
    oracle="""
SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY 1, 2
""",
)
def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan over a hive-partitioned table: events are
    written out partitioned by event_type (directory-per-value layout — the
    standard 100 TB table organization), then read back with a filter on
    the partition column. The filter never touches row data: Spark's
    partition discovery prunes 3 of 5 directories at planning time
    (PartitionFilters in the scan node, asserted in test_plans), which at
    scale is the difference between scanning 40% and 100% of a table.
    Certified against the unpartitioned source table."""
    return (
        partitioned_events_scan(spark, sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


from arc_cassandra_pipeline_plugin_spark.operators.layout import zorder_key_sql

_Z_SQL = zorder_key_sql("user_id", "(day(ts) - 1)", bits=8)


@register(
    "layout_zorder_events",
    category="scan",
    oracle=f"""
SELECT ({_Z_SQL}) >> 8 AS z_bucket,
       count(*) AS n_rows,
       CAST(min(user_id) AS BIGINT) AS min_user, CAST(max(user_id) AS BIGINT) AS max_user,
       CAST(min(day(ts)) AS BIGINT) AS min_day,  CAST(max(day(ts)) AS BIGINT) AS max_day
FROM events
GROUP BY 1
""",
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit: interleave user_id × day-of-month into
    a Z key and report per-Z-bucket row counts and min/max ranges of BOTH
    dimensions — the file-level statistics a clustered write would produce.

    Tight per-bucket ranges on both columns are exactly what makes min/max
    file skipping work for predicates on either dimension; a plain sort
    gives tight ranges on one column only. The key is pure integer bit
    arithmetic (codegen, zero extra shuffles — the groupBy stands in for
    the file boundary). Write-side twin: `operators.layout.cluster_by_zorder`
    (range-partition + sort on the same key)."""
    from arc_cassandra_pipeline_plugin_spark.operators.layout import zorder_key

    ev = load_table(spark, sf_dir, "events")
    z = zorder_key(F.col("user_id"), F.dayofmonth("ts") - 1, bits=8)
    return (
        ev.select(
            z.alias("z"),
            "user_id",
            F.dayofmonth("ts").alias("_day"),
        )
        .groupBy(F.shiftright("z", 8).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("user_id").cast("bigint").alias("min_user"),
            F.max("user_id").cast("bigint").alias("max_user"),
            F.min("_day").cast("bigint").alias("min_day"),
            F.max("_day").cast("bigint").alias("max_day"),
        )
    )


@register(
    "dq_outliers_zscore",
    category="quality",
    oracle="""
WITH stats AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           AS sq
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round(CAST(e.value AS DOUBLE), 2) AS value,
       round((e.value - s / n) / sqrt(greatest(sq / n - (s / n) * (s / n), 1e-12)), 4)
         AS zscore
FROM events e JOIN stats USING (event_type)
WHERE abs((e.value - s / n) / sqrt(greatest(sq / n - (s / n) * (s / n), 1e-12))) > 2.0
""",
)
def dq_outliers_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection: events whose value deviates more
    than 2σ from their event-type mean — the numeric-column anomaly screen
    of a data-quality suite.

    One pass builds per-group (n, Σx, Σx²) — exact DECIMAL sums, so mean
    and population variance are bit-identical across engines — then a
    broadcast-joinable tiny stats table rejoins the facts: two scans, one
    tiny shuffle, no window. The z threshold compares doubles derived from
    exact sums (deterministic)."""
    ev = load_table(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,2)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vdec).cast("double").alias("s"),
        F.sum(vdec * vdec).cast("double").alias("sq"),
    )
    mean = F.col("s") / F.col("n")
    var = F.greatest(F.col("sq") / F.col("n") - mean * mean, F.lit(1e-12))
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.0)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value").cast("double"), 2).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


_POSTINGS_MIN_DF = 40


@register(
    "text_inverted_index",
    category="text",
    oracle=f"""
WITH {_TOKENS_CTE},
posting AS (SELECT DISTINCT token, doc_id FROM tok2)
SELECT token,
       count(*) AS doc_freq,
       array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',') AS postings_csv
FROM posting
GROUP BY token
HAVING count(*) >= {_POSTINGS_MIN_DF}
""",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (token → sorted posting list) for the
    corpus's frequent terms — the search/retrieval building block over a
    document store.

    One explode + distinct + one groupBy(token) shuffle; posting lists
    assemble with sort_array (deterministic order) and ship as CSV so the
    array representation is engine-identical. The doc-frequency floor keeps
    posting lists bounded — at web scale the long tail is sharded by
    (token, bucket) instead of materializing unbounded arrays."""
    toks = TX.tokens(load_table(spark, sf_dir, "documents")).dropDuplicates(
        ["token", "doc_id"]
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("postings_csv"),
        )
        .filter(F.col("doc_freq") >= _POSTINGS_MIN_DF)
    )


@register(
    "events_rolling_24h",
    category="window",
    oracle="""
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_prev_24h,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2)
         AS sum_prev_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
""",
)
def events_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling features: per user, the count and value-sum of
    events in the trailing 24 hours of each event (inclusive) — the
    feature-engineering staple RANGE frame, keyed on event time, not row
    position.

    One user-partitioned window; the frame is RANGE over epoch seconds so
    gaps and bursts are handled correctly (a ROWS frame would not be).
    Frame sums accumulate in exact DECIMAL. Window state is bounded by 24h
    of any single user's events at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-86400, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_prev_24h"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"), 2
        ).alias("sum_prev_24h"),
    )


@register(
    "event_transitions",
    category="timeseries",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS next_type
  FROM events
)
SELECT event_type, next_type, count(*) AS n_transitions
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (behavioral bigrams): for each user's
    time-ordered stream, count consecutive (current → next) event-type
    pairs — the input to funnel discovery / Markov-chain attribution.

    One user-partitioned window (lead), one tiny 25-cell aggregate.
    (user_id, ts) is unique in the fixture so the sequence order is total;
    at scale the window state is one row."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    seq = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@register(
    "scd2_history_orders",
    category="window",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(o_totalprice, 2) AS total_price,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS valid_to,
       CASE WHEN lead(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey) IS NULL
            THEN TRUE ELSE FALSE END AS is_current
FROM orders
WHERE o_custkey < 100
""",
)
def scd2_history_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: each key's
    versions get [valid_from, valid_to) intervals and an is_current flag —
    the warehouse pattern for effectivity-dated records, built with one
    key-partitioned lead() window (total order: date + unique key
    tiebreak). The custkey bound keeps the certified output small; the
    plan is identical unbounded."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


_TRADE_EDGES_SQL = """
SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
FROM lineitem
JOIN orders    ON o_orderkey = l_orderkey
JOIN supplier  ON s_suppkey  = l_suppkey
JOIN customer  ON c_custkey  = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2
"""

def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) supplier nation → customer nation, one row per
    international lineitem: the join and filter of ``_TRADE_EDGES_SQL``
    before its rollup, shared by the trade-graph queries (the fact joins
    orders and customer; supplier and both nation sides broadcast)."""
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))
    n2 = nation.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def _pagerank_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import pagerank_oracle_sql

    sql = pagerank_oracle_sql(_TRADE_EDGES_SQL, iters=3, damping=0.85)
    return f"SELECT node AS nation, round(rank, 8) AS pagerank FROM ({sql})"


@register("graph_pagerank_trade", category="graph", oracle=_pagerank_oracle())
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the international trade graph (supplier
    nation → customer nation, edge weight = lineitem count): which nations
    the flow of goods concentrates on.

    The edge list is a fact-table rollup (dims broadcast, one fact
    shuffle); three synchronous PageRank rounds then iterate the rank
    vector via edge-join + dst-aggregation — the distributed
    vector-against-edges shape, certified against three unrolled CTE rounds
    generated from the same constants (see operators/graph.py)."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import pagerank

    edges = (
        _trade_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # pagerank pins the rollup in its own lazy checkpoint, which its
    # driver probe and its distributed rounds both read, so the fact join
    # runs once. The vertex set is the 25-nation dimension, so the three
    # rounds replay on the driver over the collected ≤|V|² edge rollup
    # (distributed they are ~25 local-mode jobs of ~60 ms scheduler floor
    # for a 25-row vector)
    pr = pagerank(edges, iters=3, damping=0.85)
    return pr.select(
        F.col("node").alias("nation"), F.round("rank", 8).alias("pagerank")
    )


def _bfs_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import bfs_oracle_sql

    return (
        "SELECT node AS nation, level FROM ("
        + bfs_oracle_sql(_TRADE_EDGES_SQL, rounds=3)
        + ")"
    )


@register("graph_bfs_levels", category="graph", oracle=_bfs_oracle())
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first trade distance (operators/graph.bfs_levels): hop
    counts from the lexicographically-first nation over the directed trade
    graph — the single-source shortest-path frontier shape, three
    synchronous rounds, certified against the identical rounds unrolled as
    CTEs. Completes the iterative-graph family next to PageRank
    (value propagation) and the two connected-components variants (label
    propagation)."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import bfs_levels

    edges = _trade_edges(spark, sf_dir)
    # 25-nation dimension graph: frontier expansion replays on the driver
    # over the collected distinct edge set
    lv = bfs_levels(edges, rounds=3)
    return lv.select(F.col("node").alias("nation"), "level")


@register(
    "graph_reciprocity",
    category="graph",
    oracle=f"""
WITH eg AS (SELECT DISTINCT src, dst FROM ({_TRADE_EDGES_SQL})),
recip AS (
  SELECT count(*) AS n_recip
  FROM eg a JOIN eg b ON a.src = b.dst AND a.dst = b.src)
SELECT CAST((SELECT count(*) FROM eg) AS BIGINT) AS n_edges,
       CAST(n_recip AS BIGINT) AS n_reciprocated,
       round(n_recip / CAST((SELECT count(*) FROM eg) AS DOUBLE), 6) AS reciprocity
FROM recip
""",
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-graph reciprocity of the trade graph: the fraction of
    edges whose reverse edge also exists (does country A buy from everyone
    it sells to?). One self-join on the swapped key pair — edge-keyed
    shuffle, a 1-row answer; the census sibling of the triangle count."""
    eg = (
        _trade_edges(spark, sf_dir)
        .distinct()
        .localCheckpoint(eager=True)
    )
    rev = eg.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_recip = eg.join(rev, ["src", "dst"]).agg(
        F.count(F.lit(1)).alias("n_reciprocated")
    )
    n_edges = eg.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(n_recip))
        .select(
            "n_edges",
            "n_reciprocated",
            F.round(
                F.col("n_reciprocated") / F.col("n_edges").cast("double"), 6
            ).alias("reciprocity"),
        )
    )


@register(
    "merge_upsert_customers",
    category="pipeline",
    oracle="""
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey,
         round(c_acctbal + 100.0, 2) AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey < 50
  UNION ALL
  SELECT 1000000 + i AS c_custkey,
         'Customer#new' || CAST(i AS VARCHAR) AS c_name,
         CAST(i % 25 AS BIGINT) AS c_nationkey,
         0.0 AS c_acctbal,
         'BUILDING' AS c_mktsegment
  FROM range(10) t(i)
)
SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
       coalesce(u.c_name, b.c_name) AS c_name,
       coalesce(u.c_nationkey, b.c_nationkey) AS c_nationkey,
       round(coalesce(u.c_acctbal, b.c_acctbal), 2) AS c_acctbal,
       coalesce(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
       CASE WHEN b.c_custkey IS NULL THEN 'insert'
            WHEN u.c_custkey IS NULL THEN 'unchanged'
            ELSE 'update' END AS merge_action
FROM customer b FULL OUTER JOIN updates u ON b.c_custkey = u.c_custkey
""",
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style batch upsert (MERGE) into a parquet-lake dimension:
    update-rows overwrite matching keys, insert-rows append new keys,
    untouched rows pass through — with a merge_action audit column.

    Without a transactional table format, MERGE is exactly one full-outer
    join on the key + column-wise coalesce (update wins) — one
    co-partitioned shuffle; at scale the rewrite is confined to matched
    partitions when the lake is key-partitioned. The synthetic update set
    (50 balance adjustments + 10 new keys via `spark.range` ≡ DuckDB
    `range`) keeps the query self-contained and exact."""
    base = load_table(spark, sf_dir, "customer")
    mods = (
        base.filter(F.col("c_custkey") < 50)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
            "c_mktsegment",
        )
    )
    news = spark.range(10).select(
        (F.lit(1000000) + F.col("id")).alias("c_custkey"),
        F.concat(F.lit("Customer#new"), F.col("id").cast("string")).alias("c_name"),
        (F.col("id") % 25).alias("c_nationkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("BUILDING").alias("c_mktsegment"),
    )
    updates = mods.unionByName(news)
    u = updates.alias("u")
    b = base.alias("b")
    action = (
        F.when(F.col("b.c_custkey").isNull(), "insert")
        .when(F.col("u.c_custkey").isNull(), "unchanged")
        .otherwise("update")
    )
    return b.join(u, F.col("b.c_custkey") == F.col("u.c_custkey"), "full_outer").select(
        F.coalesce("u.c_custkey", "b.c_custkey").alias("c_custkey"),
        F.coalesce("u.c_name", "b.c_name").alias("c_name"),
        F.coalesce("u.c_nationkey", "b.c_nationkey").alias("c_nationkey"),
        F.round(F.coalesce("u.c_acctbal", "b.c_acctbal"), 2).alias("c_acctbal"),
        F.coalesce("u.c_mktsegment", "b.c_mktsegment").alias("c_mktsegment"),
        action.alias("merge_action"),
    )


_COOC_VOCAB = 30
_COOC_TOP = 20


@register(
    "text_cooccurrence_pairs",
    category="text",
    oracle=f"""
WITH {_TOKENS_CTE},
vocab AS (
  SELECT token FROM tok2 GROUP BY token
  ORDER BY count(*) DESC, token LIMIT {_COOC_VOCAB}
),
dt AS (SELECT DISTINCT doc_id, token FROM tok2 JOIN vocab USING (token)),
pairs AS (
  SELECT a.token AS token_a, b.token AS token_b, count(*) AS n_docs
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
)
SELECT token_a, token_b, n_docs
FROM pairs
ORDER BY n_docs DESC, token_a, token_b
LIMIT {_COOC_TOP}
""",
)
def text_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: document co-occurrence counts for pairs of
    head-vocabulary tokens (the PMI/market-basket building block).

    The pair explosion is bounded by the broadcast head vocabulary (top-30
    tokens → ≤ C(30,2) pairs per doc), so the within-doc self-join never
    goes quadratic in document length; one groupBy(pair) shuffle; top-N is
    TakeOrderedAndProject with a total order."""
    toks = TX.tokens(load_table(spark, sf_dir, "documents"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("token"))
        .limit(_COOC_VOCAB)
        .select("token")
    )
    dt = toks.join(F.broadcast(vocab), "token").dropDuplicates(["doc_id", "token"])
    a = dt.select("doc_id", F.col("token").alias("token_a"))
    b = dt.select(F.col("doc_id").alias("doc_b"), F.col("token").alias("token_b"))
    return (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b")) & (F.col("token_a") < F.col("token_b")),
        )
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "token_a", "token_b")
        .limit(_COOC_TOP)
    )


@register(
    "streaming_funnel_stage_mins",
    category="streaming",
    oracle="""
WITH mins AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT user_id, t_view, t_click, t_purchase,
       CASE WHEN t_view IS NULL THEN 0
            WHEN t_click IS NULL OR t_click <= t_view THEN 1
            WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 2
            ELSE 3 END AS funnel_depth
FROM mins
""",
)
def streaming_funnel_stage_mins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel state maintained BY A STREAM: per-user first-touch timestamp
    of each stage (view/click/purchase) as a real Structured Streaming
    aggregation (availableNow → memory sink, complete mode), with the
    funnel depth derived from the stage ordering.

    Conditional `min` is fully mergeable — each micro-batch folds into
    per-user state of three timestamps, so the streaming plan is a plain
    stateful aggregation (state = |users| × 3 values, key-partitioned).
    This is the streaming-safe funnel formulation: the batch variant
    (`funnel_conversion`) orders events within history; this one maintains
    first-touch state incrementally and derives depth from the overall
    first-touch ordering — the trade a production stream actually makes."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    ev = ST.table_stream(spark, sf_dir, "events")
    mins = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    depth = (
        F.when(F.col("t_view").isNull(), 0)
        .when(
            F.col("t_click").isNull() | (F.col("t_click") <= F.col("t_view")), 1
        )
        .when(
            F.col("t_purchase").isNull() | (F.col("t_purchase") <= F.col("t_click")),
            2,
        )
        .otherwise(3)
    )
    out = mins.select(
        "user_id", "t_view", "t_click", "t_purchase", depth.alias("funnel_depth")
    )
    return ST.run_stream_to_memory(out, "streaming_funnel_stage_mins_result")


@register(
    "incremental_view_maintenance",
    category="pipeline",
    oracle="""
SELECT o_custkey,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_spend
FROM orders
GROUP BY o_custkey
""",
)
def incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a materialized per-customer aggregate
    built from history (orders before 2000), then brought current by
    merging ONLY the delta batch (orders from 2000 on) — never rescanning
    history. Certified against the full recompute, proving the merge
    algebra (count and decimal-sum are commutative monoids) is exact.

    At 100 TB this is the difference between a nightly full rebuild and an
    O(delta) refresh: the delta aggregates alone (map-side combine), then
    one full-outer join on the aggregate key merges partial states. Both
    aggregates and the merge shuffle on the same key."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01 00:00:00").cast("timestamp")
    spend = F.col("o_totalprice").cast("decimal(18,2)")

    def agg(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"), F.sum(spend).alias("spend")
        )

    base = agg(orders.filter(F.col("o_orderdate") < cutoff))
    delta = agg(orders.filter(F.col("o_orderdate") >= cutoff))
    b, d = base.alias("b"), delta.alias("d")
    return (
        b.join(d, F.col("b.o_custkey") == F.col("d.o_custkey"), "full_outer")
        .select(
            F.coalesce("b.o_custkey", "d.o_custkey").alias("o_custkey"),
            (
                F.coalesce(F.col("b.n_orders"), F.lit(0))
                + F.coalesce(F.col("d.n_orders"), F.lit(0))
            ).alias("n_orders"),
            F.round(
                (
                    F.coalesce(F.col("b.spend"), F.lit(0).cast("decimal(18,2)"))
                    + F.coalesce(F.col("d.spend"), F.lit(0).cast("decimal(18,2)"))
                ).cast("double"),
                2,
            ).alias("total_spend"),
        )
    )


@register(
    "dq_profile_summary",
    category="quality",
    oracle="""
WITH per AS (
  SELECT 'o_orderkey' AS column_name,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
         CAST(min(o_orderkey) AS VARCHAR) AS min_value,
         CAST(max(o_orderkey) AS VARCHAR) AS max_value
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', CAST(count(DISTINCT o_orderstatus) AS BIGINT),
         CAST(count(*) - count(o_orderstatus) AS BIGINT),
         CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice', CAST(count(DISTINCT o_totalprice) AS BIGINT),
         CAST(count(*) - count(o_totalprice) AS BIGINT),
         CAST(round(min(o_totalprice), 2) AS VARCHAR),
         CAST(round(max(o_totalprice), 2) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(count(DISTINCT o_orderpriority) AS BIGINT),
         CAST(count(*) - count(o_orderpriority) AS BIGINT),
         CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
  FROM orders
)
SELECT * FROM per
""",
)
def dq_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiler summary (the data-catalog staple): one row per
    profiled column with distinct count, null count, min and max — computed
    in a SINGLE scan of the table (all per-column aggregates in one
    groupBy-less pass), then unpivoted to rows.

    The naive per-column loop would scan the table once per column; this
    shape is the one-pass profile every catalog/quality tool wants at
    100 TB. Numeric min/max render through round+string so both engines
    format identically."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.countDistinct("o_orderkey").alias("d_key"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("n_key"),
        F.min("o_orderkey").cast("string").alias("mn_key"),
        F.max("o_orderkey").cast("string").alias("mx_key"),
        F.countDistinct("o_orderstatus").alias("d_st"),
        (F.count(F.lit(1)) - F.count("o_orderstatus")).alias("n_st"),
        F.min("o_orderstatus").cast("string").alias("mn_st"),
        F.max("o_orderstatus").cast("string").alias("mx_st"),
        F.countDistinct("o_totalprice").alias("d_tp"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("n_tp"),
        F.round(F.min("o_totalprice"), 2).cast("string").alias("mn_tp"),
        F.round(F.max("o_totalprice"), 2).cast("string").alias("mx_tp"),
        F.countDistinct("o_orderpriority").alias("d_pr"),
        (F.count(F.lit(1)) - F.count("o_orderpriority")).alias("n_pr"),
        F.min("o_orderpriority").cast("string").alias("mn_pr"),
        F.max("o_orderpriority").cast("string").alias("mx_pr"),
    )
    return agg.selectExpr(
        """stack(4,
           'o_orderkey',      d_key, n_key, mn_key, mx_key,
           'o_orderstatus',   d_st,  n_st,  mn_st,  mx_st,
           'o_totalprice',    d_tp,  n_tp,  mn_tp,  mx_tp,
           'o_orderpriority', d_pr,  n_pr,  mn_pr,  mx_pr
        ) AS (column_name, n_distinct, n_nulls, min_value, max_value)"""
    )


@register(
    "attribution_last_touch",
    category="timeseries",
    oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
  FROM events
)
SELECT coalesce(touch_type, 'none') AS touch_type,
       count(*) AS n_purchases
FROM tagged WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase credits the user's
    most recent preceding non-purchase event type — the marketing-analytics
    primitive, expressed as one user-partitioned window (last non-purchase
    carried forward, frame ending 1 row before current) plus a 5-group
    count. No self-join, single shuffle on user_id; window state is one
    value. (user_id, ts) is unique in the fixture → total order."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch_type", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("none")).alias("touch_type"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


@register(
    "agg_mad_robust",
    category="aggregation",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       round(m, 4) AS median_value,
       round(quantile_cont(abs(e.value - m), 0.5), 4) AS mad
FROM events e JOIN med USING (event_type)
GROUP BY e.event_type, m
""",
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion measure
    (outlier-insensitive, unlike stddev): two-level exact-percentile
    aggregation with the group medians broadcast back between passes.

    Shape: one groupBy computes medians, rejoins (25-row broadcast), a
    second groupBy computes the deviation median. Exact interpolated
    percentiles (`percentile` ≡ `quantile_cont`) are deterministic doubles
    on both engines (established by agg_percentiles)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "m")
        .agg(
            F.expr("percentile(abs(value - m), 0.5)").alias("_mad"),
        )
        .select(
            "event_type",
            F.round("m", 4).alias("median_value"),
            F.round("_mad", 4).alias("mad"),
        )
    )


_PACK_TOKENS = 300


@register(
    "text_pack_sequences",
    category="text",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, source,
         len(list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
                         t -> length(t) > 0)) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {_PACK_TOKENS}
           AS BIGINT) AS pack_id
  FROM sized
)
SELECT source, pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM packed
GROUP BY source, pack_id
""",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: greedily bin documents into
    ~fixed-token-budget packs (the step that turns a curated corpus into
    dense training batches — minimal padding, stable assignment).

    Token counts come from `size(split(...))` — a pure projection, NO
    explode. The greedy assignment is one running sum over a
    (source)-partitioned window ordered by doc_id: pack_id =
    prior-cumulative-tokens div budget. Packing within source keeps every
    window partition bounded (never a global single-partition sort) and is
    what a sharded pipeline does anyway. All-integer → exact."""
    docs = load_table(spark, sf_dir, "documents")
    normed = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    sized = docs.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split(normed, " "), lambda t: F.length(t) > 0)).alias(
            "n_tokens"
        ),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.withColumn(
        "pack_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / _PACK_TOKENS
        ),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "udf_grouped_map_normalize",
    category="udf",
    oracle="""
WITH stats AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type,
       round((e.value - mn) / (CASE WHEN mx = mn THEN 1.0 ELSE mx - mn END), 6)
         AS norm
FROM events e JOIN stats USING (event_type)
""",
)
def udf_grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (`applyInPandas`): per-event-type min-max
    normalization computed inside an Arrow batch per group — certifying the
    THIRD Python execution surface (alongside the grouped-agg pandas UDF
    and mapInPandas kernels) against the SQL window formulation.

    The kernel does only exact float64 ops (min/max/subtract/divide — IEEE
    bit-identical to the SQL engines); rounding happens JVM-side afterward
    so Python's banker's rounding never touches the result. Group state is
    one Arrow batch per event_type — bounded by the largest group, the
    standard applyInPandas scaling contract."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def norm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        mn, mx = pdf["value"].min(), pdf["value"].max()
        rng = (mx - mn) if mx != mn else 1.0
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "norm_raw": (pdf["value"] - mn) / rng,
            }
        )

    out = ev.groupBy("event_type").applyInPandas(
        norm, schema="event_id long, event_type string, norm_raw double"
    )
    return out.select(
        "event_id", "event_type", F.round("norm_raw", 6).alias("norm")
    )


import math as _math
from arc_cassandra_pipeline_plugin_spark.functions import small_df

#: shared natural-log lookup (6 dp) for integer counts 1..4096 — BOTH engines
#: consume these literals, so entropy terms are identical by construction
#: (ln() ulp differences between JVM and C libm are out of the picture)
_LN_LUT = [round(_math.log(i), 6) for i in range(1, 4097)]


def _entropy_oracle() -> str:
    lut = "[" + ", ".join(f"{v!r}" for v in _LN_LUT) + "]"
    return f"""
WITH lut AS (
  SELECT generate_subscripts(L, 1) AS i, unnest(L) AS lnv
  FROM (SELECT {lut}::DOUBLE[] AS L)
),
chars AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '')) AS ch
  FROM documents
),
chars2 AS (SELECT doc_id, ch FROM chars WHERE ch <> ''),
freq AS (SELECT doc_id, ch, count(*) AS c FROM chars2 GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM freq GROUP BY 1),
summed AS (
  SELECT f.doc_id,
         sum(CAST(f.c AS DECIMAL(18,6)) * CAST(l.lnv AS DECIMAL(12,6))) AS s
  FROM freq f JOIN lut l ON l.i = f.c
  GROUP BY f.doc_id
)
SELECT t.doc_id, t.n AS n_chars_counted,
       round(ln_n.lnv - CAST(s AS DOUBLE) / t.n, 4) AS char_entropy
FROM tot t JOIN summed USING (doc_id) JOIN lut ln_n ON ln_n.i = t.n
"""


@register("text_char_entropy", category="text", oracle=_entropy_oracle())
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (nats) — the classic
    gibberish/boilerplate screen: natural prose sits in a narrow entropy
    band, while repeated boilerplate (low) and random noise (high) fall
    outside it.

    Determinism by construction: H = ln(n) - (1/n)·Σ c·ln(c) over integer
    character counts, with every ln value drawn from a Python-generated
    6-dp lookup table that is embedded as LITERALS in both the Spark plan
    (broadcast 4096-row dim) and the DuckDB oracle — no transcendental is
    ever evaluated by either engine, so there is no ulp to disagree on.
    The c·ln(c) products are exact decimals, summed associatively. One
    char explode (parallelism guard) + two doc-keyed aggregates + one
    broadcast lookup join. Docs beyond 4096 counted chars would fall out
    of the lookup (inner join) — the fixture maximum is ~600."""
    from arc_cassandra_pipeline_plugin_spark.functions import ensure_parallelism

    lut = small_df(spark, 
        [(i + 1, v) for i, v in enumerate(_LN_LUT)], "i long, lnv double"
    )
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.lower(F.trim(F.col("text"))).alias("t")
        )
    )
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("t"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    summed = (
        freq.join(F.broadcast(lut), freq.c == lut.i)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("c").cast("decimal(18,6)") * F.col("lnv").cast("decimal(12,6)")
            ).alias("s"),
            F.sum("c").alias("n"),
        )
    )
    ln_n = lut.select(F.col("i").alias("n_i"), F.col("lnv").alias("ln_n"))
    return (
        summed.join(F.broadcast(ln_n), summed.n == ln_n.n_i)
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_chars_counted"),
            F.round(
                F.col("ln_n") - F.col("s").cast("double") / F.col("n"), 4
            ).alias("char_entropy"),
        )
    )


@register(
    "gdpr_delete_audit",
    category="quality",
    oracle="""
WITH del AS (SELECT user_id FROM events WHERE event_type = 'error'
             GROUP BY user_id HAVING count(*) >= 5),
surviving AS (
  SELECT e.* FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.user_id = e.user_id)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM del) AS n_users_deleted,
       CAST((SELECT count(*) FROM events) AS BIGINT) AS rows_before,
       CAST((SELECT count(*) FROM surviving) AS BIGINT) AS rows_after,
       CAST((SELECT count(*) FROM events) - (SELECT count(*) FROM surviving)
         AS BIGINT) AS rows_purged
""",
)
def gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure propagation audit: a delete-list of subjects (here:
    users with ≥5 error events, standing in for deletion requests) is
    anti-joined out of the fact table, and the audit row records
    users-deleted / rows-before / rows-after / rows-purged — the
    compliance evidence a deletion job must emit.

    Shape: the delete-list is a HAVING aggregate (tiny, broadcastable);
    the purge is one left_anti join on the subject key — at scale this is
    the partition-rewrite driver, never a row-by-row delete. All counts
    are 1-row aggregates cross-joined; everything integer-exact."""
    ev = load_table(spark, sf_dir, "events")
    del_list = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 5)
        .select("user_id")
    )
    surviving = ev.join(F.broadcast(del_list), "user_id", "left_anti")
    return (
        del_list.agg(F.count(F.lit(1)).alias("n_users_deleted"))
        .crossJoin(ev.agg(F.count(F.lit(1)).alias("rows_before")))
        .crossJoin(surviving.agg(F.count(F.lit(1)).alias("rows_after")))
        .withColumn("rows_purged", F.col("rows_before") - F.col("rows_after"))
    )


@register(
    "feature_winsorize",
    category="aggregation",
    oracle="""
WITH cuts AS (
  SELECT event_type,
         quantile_disc(value, 0.05) AS lo,
         quantile_disc(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n,
       CAST(count(*) FILTER (WHERE e.value < lo) AS BIGINT) AS n_clipped_low,
       CAST(count(*) FILTER (WHERE e.value > hi) AS BIGINT) AS n_clipped_high,
       round(CAST(sum(CAST(greatest(least(e.value, hi), lo) AS DECIMAL(18,6)))
                  AS DOUBLE) / count(*), 4) AS winsorized_mean
FROM events e JOIN cuts USING (event_type)
GROUP BY e.event_type
""",
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized features: clip each group's values at its exact 5th/95th
    percentile ORDER STATISTIC and report the robust mean plus clip
    counts — the outlier-tolerant normalization step of a feature
    pipeline.

    PRECONDITION (lossless-sketch contract): per-group row count must
    stay ≤ the sketch accuracy (``functions.LOSSLESS_PCTL_ACC`` = 1e7;
    sf1 events groups are ~200k, 50× margin — and the margin now spans
    the next fixture decade, the r10-ADVICE gap). Past it the cut drifts
    off the stored-value grid and the clip comparisons fork silently.

    The cuts are exact DISCRETE percentiles (the certified
    lossless-sketch equivalence: ``approx_percentile(x, p, acc)`` with acc ≥ group rows (LOSSLESS_PCTL_ACC=1e7) ≡
    DuckDB ``quantile_disc``) — an order statistic is an actual 2-dp data
    value, bit-identical in both engines, so the `<`/clip comparisons and
    the DECIMAL cast of the clipped value can never fork. The r10 sf1
    sweep caught the interpolated form (`percentile`/`quantile_cont`)
    drifting by one ulp between engines and flipping a clip at one
    group's cut.

    Two-pass: exact percentile sketch per group (tiny, broadcast back),
    then a single clipped-aggregate pass with DECIMAL-exact sums. The
    clip itself is `greatest(least(...))` — pure codegen."""
    ev = load_table(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.05, 10000000)").alias("lo"),
        F.expr("approx_percentile(value, 0.95, 10000000)").alias("hi"),
    )
    clipped = F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo"))
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") < F.col("lo")).cast("long")).alias("n_clipped_low"),
            F.sum((F.col("value") > F.col("hi")).cast("long")).alias("n_clipped_high"),
            F.round(
                F.sum(clipped.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("winsorized_mean"),
        )
    )


# ---------------------------------------------------------------------------
# interval sweep-line: concurrent sessions per day
# ---------------------------------------------------------------------------

@register(
    "sessions_concurrency_sweep",
    category="timeseries",
    oracle="""
WITH labeled AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT event_id, user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                     > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM events)),
sess AS (
  SELECT user_id, session_id,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS sp,
         CAST(floor(epoch(max(ts))) AS BIGINT) + 1 AS ep
  FROM labeled GROUP BY 1, 2),
span AS (SELECT min(sp) // 86400 AS d0, max(ep) // 86400 AS d1 FROM sess),
pts AS (
  SELECT sp AS p, 1 AS delta FROM sess
  UNION ALL SELECT ep, -1 FROM sess
  UNION ALL SELECT unnest(generate_series(d0, d1)) * 86400, 0 FROM span),
net AS (SELECT p, CAST(sum(delta) AS BIGINT) AS net FROM pts GROUP BY p),
run AS (SELECT p, sum(net) OVER (ORDER BY p
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        FROM net)
SELECT DATE '1970-01-01' + CAST(p // 86400 AS INT) AS day,
       CAST(max(open) AS BIGINT) AS max_concurrent
FROM run GROUP BY 1
""",
)
def sessions_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent user sessions per day via an interval sweep-line:
    +1 at session start, -1 one second past session end (closed-interval
    semantics — single-event sessions still occupy their instant), net
    delta per timestamp, running sum = open-session count.

    The running sum is NOT a global window: points are bucketed by day,
    prefix-summed WITHIN each day (partitioned window), and each day adds
    a carry-in offset equal to the sum of all earlier days' net deltas —
    the offset table is day-count sized and joins as a broadcast. Synthetic
    zero-delta points at each midnight carry concurrency into days with no
    session boundary of their own. Scale shape: linear shuffles keyed by
    (user), (timestamp), (day); the only quadratic term is days², i.e.
    calendar-sized.
    """
    from arc_cassandra_pipeline_plugin_spark.operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    labeled = TS.sessionize(ev, gap_minutes=30)
    sess = labeled.groupBy("user_id", "session_id").agg(
        F.floor(F.min(F.col("ts").cast("double"))).cast("bigint").alias("sp"),
        (F.floor(F.max(F.col("ts").cast("double"))).cast("bigint") + 1).alias("ep"),
    )
    span = sess.agg(
        (F.min("sp") / 86400).cast("bigint").alias("d0"),
        (F.max("ep") / 86400).cast("bigint").alias("d1"),
    )
    midnights = span.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    ).select((F.col("d") * 86400).alias("p"), F.lit(0).alias("delta"))
    pts = (
        sess.select(F.col("sp").alias("p"), F.lit(1).alias("delta"))
        .unionAll(sess.select(F.col("ep").alias("p"), F.lit(-1).alias("delta")))
        .unionAll(midnights)
    )
    net = pts.groupBy("p").agg(F.sum("delta").cast("bigint").alias("net"))
    net = net.withColumn("day_idx", (F.col("p") / 86400).cast("bigint"))
    w_day = (
        Window.partitionBy("day_idx")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = net.withColumn("prefix", F.sum("net").over(w_day))
    day_tot = net.groupBy("day_idx").agg(F.sum("net").alias("day_net"))
    a = day_tot.select(F.col("day_idx").alias("di"))
    b = day_tot.select(F.col("day_idx").alias("dj"), "day_net")
    carry = (
        a.join(F.broadcast(b), F.col("dj") < F.col("di"), "left")
        .groupBy("di")
        .agg(F.coalesce(F.sum("day_net"), F.lit(0)).alias("carry"))
    )
    run = within.join(
        F.broadcast(carry), within["day_idx"] == carry["di"]
    ).withColumn("open", F.col("prefix") + F.col("carry"))
    return (
        run.groupBy("day_idx")
        .agg(F.max("open").cast("bigint").alias("max_concurrent"))
        .select(
            F.date_add(
                F.lit("1970-01-01").cast("date"), F.col("day_idx").cast("int")
            ).alias("day"),
            "max_concurrent",
        )
    )


# ---------------------------------------------------------------------------
# cumulative distinct users (first-seen decomposition)
# ---------------------------------------------------------------------------

@register(
    "users_cumulative_distinct",
    category="timeseries",
    oracle="""
WITH first_seen AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id),
daily AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM first_seen GROUP BY day)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM daily
""",
)
def users_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day, the growth-curve staple.

    A naive COUNT(DISTINCT) per expanding window rescans history per day;
    the scalable identity is first-seen decomposition: each user counts
    exactly once, on their first-seen day, and the cumulative curve is a
    running sum of the per-day first-seen counts. Both shuffles are linear
    (user, then day); the running sum runs over the per-day aggregate —
    calendar-sized, so the join-based carry is a broadcast of day rows."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    a = daily.select(F.col("day").alias("di"))
    b = daily.select(F.col("day").alias("dj"), "new_users")
    cum = (
        a.join(F.broadcast(b), F.col("dj") <= F.col("di"))
        .groupBy("di")
        .agg(F.sum("new_users").cast("bigint").alias("cum_users"))
    )
    return daily.join(F.broadcast(cum), daily["day"] == cum["di"]).select(
        "day", "new_users", "cum_users"
    )


# ---------------------------------------------------------------------------
# triangle counting on the near-duplicate candidate graph
# ---------------------------------------------------------------------------

def _triangles_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.queries.extensions import _clusters_cte

    return f"""
WITH RECURSIVE {_clusters_cte()},
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY node),
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
wed AS (SELECT sum(d * (d - 1) // 2) AS n_wedges FROM deg)
SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST(n_wedges AS BIGINT) AS n_wedges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       round(CASE WHEN n_wedges = 0 THEN 0.0
                  ELSE 3 * n_triangles / n_wedges END, 6) AS clustering_coeff
FROM tri, wed
"""


def _link_prediction_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.queries.extensions import _clusters_cte

    return f"""
WITH RECURSIVE {_clusters_cte()},
nbr AS (
  SELECT doc_a AS node, doc_b AS nb FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs),
deg AS (SELECT node, count(*) AS d FROM nbr GROUP BY node),
two AS (
  SELECT n1.node AS a, n2.node AS c, count(*) AS cn
  FROM nbr n1 JOIN nbr n2 ON n1.nb = n2.nb AND n1.node < n2.node
  GROUP BY 1, 2),
cand AS (
  SELECT a, c, cn FROM two t
  WHERE NOT EXISTS (SELECT 1 FROM pairs p
                    WHERE p.doc_a = t.a AND p.doc_b = t.c)),
scored AS (
  SELECT a, c, cn, da.d AS da, dc.d AS dc
  FROM cand JOIN deg da ON da.node = a JOIN deg dc ON dc.node = c)
SELECT a AS doc_a, c AS doc_b,
       CAST(cn AS BIGINT) AS common_neighbors,
       round(CAST(cn AS DOUBLE) / (da + dc - cn), 6) AS jaccard
FROM scored
ORDER BY jaccard DESC, common_neighbors DESC, doc_a, doc_b
LIMIT 20
"""


@register("graph_link_prediction", category="graph", oracle=_link_prediction_oracle())
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the LSH near-duplicate candidate
    graph: the top-20 NON-edges ranked by neighbor-set Jaccard — "these
    two documents share near-duplicate neighborhoods but were never banded
    together", the recall audit for an LSH dedup pass (and the classic
    link-prediction primitive).

    Algorithm: symmetric neighbor list → two-hop join through the shared
    neighbor (n1.nb = n2.nb, node< orientation counts each unordered pair
    once) → anti-join against existing edges → degree join →
    Jaccard = cn / (d_a + d_c − cn), exact because a and c are non-adjacent
    so |N_a ∪ N_c| = d_a + d_c − cn in pure integers. Shuffles are all
    keyed by vertex; the two-hop fan-out is Σ d² over the shared-neighbor
    key — the banded graph keeps degrees bounded (hot buckets are already
    salted upstream). Top-20 compiles to TakeOrderedAndProject under a
    total order (score, cn, doc_a, doc_b)."""
    from arc_cassandra_pipeline_plugin_spark.operators import dedup as D
    from arc_cassandra_pipeline_plugin_spark.queries.extensions import (
        _BANDS,
        _NUM_PERM,
        _SHINGLE_K,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signature(docs, num_perm=_NUM_PERM, shingle_k=_SHINGLE_K)
    pairs = (
        D.lsh_candidate_pairs(sigs, num_perm=_NUM_PERM, bands=_BANDS)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    nbr = pairs.select(
        F.col("doc_a").alias("node"), F.col("doc_b").alias("nb")
    ).unionAll(pairs.select(F.col("doc_b").alias("node"), F.col("doc_a").alias("nb")))
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    n1 = nbr.select(F.col("node").alias("a"), F.col("nb").alias("m"))
    n2 = nbr.select(F.col("node").alias("c"), F.col("nb").alias("m"))
    two = (
        n1.join(n2, "m")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = two.join(
        pairs,
        (two["a"] == pairs["doc_a"]) & (two["c"] == pairs["doc_b"]),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("node").alias("c"), F.col("d").alias("dc"))
    scored = cand.join(da, "a").join(dc, "c")
    jac = F.round(
        F.col("cn").cast("double") / (F.col("da") + F.col("dc") - F.col("cn")), 6
    )
    return (
        scored.select(
            F.col("a").alias("doc_a"),
            F.col("c").alias("doc_b"),
            F.col("cn").cast("bigint").alias("common_neighbors"),
            jac.alias("jaccard"),
        )
        .orderBy(
            F.col("jaccard").desc(),
            F.col("common_neighbors").desc(),
            "doc_a",
            "doc_b",
        )
        .limit(20)
    )


@register("graph_triangle_count", category="graph", oracle=_triangles_oracle())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the LSH near-duplicate candidate graph:
    edges, wedges (2-paths), triangles, and the global clustering
    coefficient 3·triangles/wedges — the standard density diagnostic for
    how clique-like dedup clusters are.

    Algorithm: edges are kept in canonical a<b orientation, so each
    triangle a<b<c is counted exactly once via the two-hop join
    (a,b)⋈(b,c)⋈(a,c) — the compact-forward strategy without the
    quadratic symmetric blowup. Wedges come from the degree aggregate in
    exact integer arithmetic. The only data-sized shuffles are the edge
    joins, keyed by vertex; the band constants are shared with the dedup
    certifications so the graph is the certified one."""
    from arc_cassandra_pipeline_plugin_spark.operators import dedup as D
    from arc_cassandra_pipeline_plugin_spark.queries.extensions import (
        _BANDS,
        _NUM_PERM,
        _SHINGLE_K,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signature(docs, num_perm=_NUM_PERM, shingle_k=_SHINGLE_K)
    pairs = D.lsh_candidate_pairs(sigs, num_perm=_NUM_PERM, bands=_BANDS).select(
        "doc_a", "doc_b"
    )
    pairs = pairs.localCheckpoint()
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint")).alias("n_wedges")
    )
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        edges.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_wedges").cast("bigint").alias("n_wedges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            F.round(
                F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
                    F.lit(3) * F.col("n_triangles") / F.col("n_wedges")
                ),
                6,
            ).alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# sparse behavioral cosine similarity (inverted-index join)
# ---------------------------------------------------------------------------

@register(
    "user_behavior_similarity",
    category="similarity",
    oracle="""
WITH cnt AS (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
nrm AS (SELECT user_id, sum(c * c) AS n2 FROM cnt GROUP BY 1),
dots AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, sum(a.c * b.c) AS dot
  FROM cnt a JOIN cnt b ON a.event_type = b.event_type AND a.user_id < b.user_id
  GROUP BY 1, 2)
SELECT user_a, user_b,
       round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cosine
FROM dots
JOIN nrm na ON na.user_id = dots.user_a
JOIN nrm nb ON nb.user_id = dots.user_b
WHERE 10000 * dot * dot >= 9801 * na.n2 * nb.n2
""",
)
def user_behavior_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-user cosine similarity over sparse behavioral vectors (event-
    type count profiles), computed by the inverted-index join: the dot
    product is a sum over SHARED coordinates (join keyed on event_type),
    so user pairs never meet unless they share a dimension and no dense
    vector is ever materialized.

    Everything until the final cosine is exact integer arithmetic —
    counts, squared norms, dot products — and the >= 0.99 threshold is the
    cross-multiplied comparison 10000·dot² >= 9801·n2a·n2b, so boundary
    pairs are engine-exact; the reported cosine is the single rounded
    float expression. Scale: the quadratic term concentrates in hot
    dimensions (frequent event types) — the production mitigation is the
    same df-cap/prefix ordering as the set-similarity join."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    nrm = cnt.groupBy("user_id").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    a = cnt.select(F.col("user_id").alias("user_a"), "event_type", F.col("c").alias("ca"))
    b = cnt.select(F.col("user_id").alias("user_b"), "event_type", F.col("c").alias("cb"))
    dots = (
        a.join(b, "event_type")
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = nrm.select(F.col("user_id").alias("user_a"), F.col("n2").alias("n2a"))
    nb = nrm.select(F.col("user_id").alias("user_b"), F.col("n2").alias("n2b"))
    return (
        dots.join(na, "user_a")
        .join(nb, "user_b")
        .filter(
            F.lit(10000) * F.col("dot") * F.col("dot")
            >= F.lit(9801) * F.col("n2a") * F.col("n2b")
        )
        .select(
            "user_a",
            "user_b",
            F.round(
                F.col("dot") / (F.sqrt(F.col("n2a")) * F.sqrt(F.col("n2b"))), 6
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# session path mining (top event-type sequences)
# ---------------------------------------------------------------------------

@register(
    "session_top_paths",
    category="timeseries",
    oracle="""
WITH labeled AS (
  SELECT user_id, event_id, ts, event_type,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT event_id, user_id, ts, event_type,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                     > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM events)),
paths AS (
  SELECT user_id, session_id,
         array_to_string((list(event_type ORDER BY ts, event_id))[1:3], '>') AS path
  FROM labeled GROUP BY 1, 2)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 10
""",
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: the 10 most common session-opening paths (first 3
    event types per session, in order). The sequential-pattern staple for
    funnel discovery.

    Distributed shape: sessionize (lag + running sum, one user-keyed
    shuffle), per-session rank filter (rn <= 3 compiles to the
    WindowGroupLimit heap — sessions never sort fully), ordered
    re-assembly via array_sort on (rank, type) structs, then one
    path-keyed count and a TakeOrderedAndProject top-10. Total order
    (count desc, path asc) makes the limit deterministic."""
    from arc_cassandra_pipeline_plugin_spark.operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    labeled = TS.sessionize(ev, gap_minutes=30)
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    firstk = (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda p: p.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        firstk.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# as-of join with tolerance (pandas merge_asof parity)
# ---------------------------------------------------------------------------

@register(
    "asof_join_tolerance",
    category="timeseries",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT event_id AS view_event_id, user_id, ts AS view_ts
      FROM events WHERE event_type = 'view'),
j AS (
  SELECT p.event_id, p.user_id, p.ts, v.view_event_id, v.view_ts
  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.view_ts)
SELECT event_id, user_id,
       CASE WHEN view_ts IS NOT NULL
              AND CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(view_ts)) AS BIGINT) <= 3600
            THEN view_event_id END AS view_event_id,
       CASE WHEN view_ts IS NOT NULL
              AND CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(view_ts)) AS BIGINT) <= 3600
            THEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(view_ts)) AS BIGINT)
       END AS staleness_s
FROM j
""",
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (pandas ``merge_asof
    tolerance=`` parity): each purchase matched to the user's most recent
    prior view, but matches older than 1 hour are nulled out — the
    attribution-window form of the as-of join.

    Same single-shuffle union+window kernel as asof_join_events_orders;
    tolerance is a post-join projection (integer epoch arithmetic on both
    engines), so the scale shape is unchanged."""
    from arc_cassandra_pipeline_plugin_spark.operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    j = TS.asof_join(purchases, views, on="user_id", left_ts="ts", right_ts="view_ts")
    stale = F.floor(F.col("ts").cast("double")).cast("bigint") - F.floor(
        F.col("view_ts").cast("double")
    ).cast("bigint")
    ok = F.col("view_ts").isNotNull() & (stale <= 3600)
    return j.select(
        "event_id",
        "user_id",
        F.when(ok, F.col("view_event_id")).alias("view_event_id"),
        F.when(ok, stale).alias("staleness_s"),
    )


# ---------------------------------------------------------------------------
# cross-table reconciliation audit (header vs line totals)
# ---------------------------------------------------------------------------

@register(
    "dq_reconcile_order_totals",
    category="quality",
    oracle="""
WITH li AS (
  SELECT l_orderkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(5,2))
             * CAST(1 + l_tax AS DECIMAL(5,2))) AS computed
  FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT o.o_orderkey, CAST(o.o_totalprice AS DECIMAL(18,2)) AS header, li.computed
  FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN computed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lineless,
       CAST(sum(CASE WHEN computed IS NOT NULL
                      AND abs(header - computed) <= CAST(0.01 AS DECIMAL(18,2))
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled,
       CAST(sum(CASE WHEN computed IS NOT NULL
                      AND abs(header - computed) > CAST(0.01 AS DECIMAL(18,2))
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched
FROM j
""",
)
def dq_reconcile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation: does each order header's total
    equal the sum of its line amounts (price × (1−discount) × (1+tax))
    within a cent? The anti-entropy audit every warehouse runs between a
    fact header and its detail table.

    All arithmetic is exact DECIMAL — products and sums are associative,
    so no float-summation order can flip a boundary row on either engine.
    One line-keyed aggregate and one header join; both shuffles linear."""
    li = load_table(spark, sf_dir, "lineitem")
    computed = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(5,2)")
            * (F.lit(1) + F.col("l_tax")).cast("decimal(5,2)")
        ).alias("computed")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("header")
    )
    j = orders.join(computed, orders["o_orderkey"] == computed["l_orderkey"], "left")
    tol = F.lit("0.01").cast("decimal(18,2)")
    has = F.col("computed").isNotNull()
    diff_ok = F.abs(F.col("header") - F.col("computed")) <= tol
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(~has, 1).otherwise(0)).cast("bigint").alias("n_lineless"),
        F.sum(F.when(has & diff_ok, 1).otherwise(0)).cast("bigint").alias("n_reconciled"),
        F.sum(F.when(has & ~diff_ok, 1).otherwise(0)).cast("bigint").alias("n_mismatched"),
    )


# ---------------------------------------------------------------------------
# linear multi-touch attribution
# ---------------------------------------------------------------------------

@register(
    "attribution_linear",
    category="timeseries",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
  FROM events),
seqd AS (
  SELECT *, coalesce(sum(isp) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb
  FROM ordered),
totals AS (SELECT user_id, sum(isp) AS p FROM ordered GROUP BY user_id),
touches AS (
  SELECT s.user_id, s.event_type, s.pb + 1 AS segment
  FROM seqd s JOIN totals t ON t.user_id = s.user_id
  WHERE s.isp = 0 AND s.pb + 1 <= t.p),
szs AS (SELECT user_id, segment, count(*) AS n FROM touches GROUP BY 1, 2),
credited AS (
  SELECT tc.event_type,
         CAST(round(CAST(1 AS DOUBLE) / n, 9) AS DECIMAL(12,9)) AS credit
  FROM touches tc JOIN szs USING (user_id, segment))
SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(round(sum(credit), 6) AS DOUBLE) AS total_credit
FROM credited GROUP BY event_type
""",
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every touch between two purchases
    shares the next purchase's credit equally (1/n each), the
    position-agnostic counterpart to attribution_last_touch. Touches after
    a user's final purchase convert nothing and get zero credit.

    Per-credit shares are rounded to 9 dp and summed in exact DECIMAL, so
    the cross-engine result is independent of float summation order — the
    one unrounded float op is the 1/n division, which IEEE rounds
    identically everywhere. Shuffles: one user-keyed window pass, two
    small keyed aggregates, one segment join — all linear."""
    ev = load_table(spark, sf_dir, "events")
    isp = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seqd = ev.select(
        "user_id",
        "event_type",
        isp.alias("isp"),
        F.coalesce(F.sum(isp).over(w), F.lit(0)).alias("pb"),
    )
    totals = seqd.groupBy("user_id").agg(F.sum("isp").alias("p"))
    touches = (
        seqd.join(totals, "user_id")
        .filter((F.col("isp") == 0) & (F.col("pb") + 1 <= F.col("p")))
        .select("user_id", "event_type", (F.col("pb") + 1).alias("segment"))
    )
    szs = touches.groupBy("user_id", "segment").agg(F.count(F.lit(1)).alias("n"))
    credited = touches.join(szs, ["user_id", "segment"]).select(
        "event_type",
        F.round(F.lit(1.0) / F.col("n"), 9).cast("decimal(12,9)").alias("credit"),
    )
    return credited.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.round(F.sum("credit"), 6).cast("double").alias("total_credit"),
    )


# ---------------------------------------------------------------------------
# collocation lift (log-free PMI surrogate)
# ---------------------------------------------------------------------------

@register(
    "text_collocation_lift",
    category="text",
    oracle=f"""
WITH {_TOKENS_CTE},
vocab AS (
  SELECT token FROM tok2 GROUP BY token
  ORDER BY count(*) DESC, token LIMIT {_COOC_VOCAB}
),
dt AS (SELECT DISTINCT doc_id, token FROM tok2 JOIN vocab USING (token)),
n_tot AS (SELECT count(DISTINCT doc_id) AS nd FROM dt),
df AS (SELECT token, count(*) AS n_t FROM dt GROUP BY token),
pairs AS (
  SELECT a.token AS token_a, b.token AS token_b, count(*) AS n_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2)
SELECT token_a, token_b, CAST(n_ab AS BIGINT) AS n_ab,
       round(CAST(nd * n_ab AS DOUBLE) / (fa.n_t * fb.n_t), 6) AS lift
FROM pairs
JOIN df fa ON fa.token = pairs.token_a
JOIN df fb ON fb.token = pairs.token_b
CROSS JOIN n_tot
ORDER BY lift DESC, token_a, token_b
LIMIT 20
""",
)
def text_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation strength by LIFT — n·df(a,b) / (df(a)·df(b)), the
    rank-equivalent, log-free surrogate for PMI (no engine ever evaluates
    a transcendental, so there is no libm to disagree with). Top-20 pairs
    under a total order.

    Same vocab-bounded shape as text_cooccurrence_pairs: the pair join
    runs on the 30-token vocabulary projection, document frequencies are
    one tiny aggregate, the corpus size is a broadcast scalar, and
    everything until the single lift division is exact integer counting."""
    from arc_cassandra_pipeline_plugin_spark.operators import text as TX

    docs = load_table(spark, sf_dir, "documents")
    tok = TX.tokens(docs)
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(_COOC_VOCAB)
        .select("token")
    )
    dt = tok.join(F.broadcast(vocab), "token").select("doc_id", "token").distinct()
    n_tot = dt.agg(F.countDistinct("doc_id").alias("nd"))
    df_t = dt.groupBy("token").agg(F.count(F.lit(1)).alias("n_t"))
    a = dt.select("doc_id", F.col("token").alias("token_a"))
    b = dt.select("doc_id", F.col("token").alias("token_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    fa = df_t.select(F.col("token").alias("token_a"), F.col("n_t").alias("na"))
    fb = df_t.select(F.col("token").alias("token_b"), F.col("n_t").alias("nb"))
    return (
        pairs.join(F.broadcast(fa), "token_a")
        .join(F.broadcast(fb), "token_b")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "token_a",
            "token_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(
                (F.col("nd") * F.col("n_ab")).cast("double")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "token_a", "token_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# inter-event burstiness (coefficient of variation of gaps)
# ---------------------------------------------------------------------------

@register(
    "events_burstiness",
    category="timeseries",
    oracle="""
WITH gaps AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
           AS g
  FROM events),
s AS (
  SELECT user_id, count(*) AS n, sum(g) AS sg, sum(g * g) AS sg2
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id)
SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
       round(CAST(sg AS DOUBLE) / n, 6) AS mean_gap_s,
       CASE WHEN sg = 0 THEN NULL
            ELSE round(sqrt(CAST(n * sg2 - sg * sg AS DOUBLE)) / sg, 6)
       END AS gap_cv
FROM s
""",
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profile per user: mean inter-event gap and its
    coefficient of variation (CV ≈ 1 → Poisson-like, ≫ 1 → bursty, ≪ 1 →
    periodic) — the timing fingerprint used for bot detection and
    traffic modeling.

    Gaps are exact integer seconds; CV uses the one-pass identity
    sqrt(n·Σg² − (Σg)²)/Σg where every term is exact int64 before one
    fixed-order cast/sqrt/divide chain — so no float summation ever
    happens, only the same IEEE scalar ops on both engines. One
    user-keyed window pass plus one aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.floor(F.col("ts").cast("double")).cast("bigint")
    gaps = ev.select(
        "user_id", (ep - F.floor(F.lag(F.col("ts")).over(w).cast("double")).cast("bigint")).alias("g")
    ).filter(F.col("g").isNotNull())
    s = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g").alias("sg"),
        F.sum(F.col("g") * F.col("g")).alias("sg2"),
    )
    return s.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.round(F.col("sg").cast("double") / F.col("n"), 6).alias("mean_gap_s"),
        F.when(F.col("sg") == 0, F.lit(None).cast("double")).otherwise(
            F.round(
                F.sqrt((F.col("n") * F.col("sg2") - F.col("sg") * F.col("sg")).cast("double"))
                / F.col("sg"),
                6,
            )
        ).alias("gap_cv"),
    )


# ---------------------------------------------------------------------------
# funnel latency percentiles (time-to-convert)
# ---------------------------------------------------------------------------

@register(
    "funnel_time_to_convert",
    category="timeseries",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
p AS (SELECT e.user_id,
             min(CAST(floor(epoch(e.ts)) AS BIGINT)
                 - CAST(floor(epoch(v.t_view)) AS BIGINT)) AS latency_s
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       CAST(quantile_disc(latency_s, 0.5) AS BIGINT) AS p50_s,
       CAST(quantile_disc(latency_s, 0.9) AS BIGINT) AS p90_s,
       CAST(max(latency_s) AS BIGINT) AS max_s
FROM p
""",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per converting user, seconds from
    first view to first subsequent purchase; reported as exact discrete
    p50/p90/max — the funnel-latency SLA readout.

    Latencies are exact integer seconds; the percentiles use the lossless
    approx_percentile ≡ quantile_disc equivalence (stored values, never
    interpolated). Two user-keyed aggregates and one user join — all
    linear, final stats a 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    ep = lambda c: F.floor(c.cast("double")).cast("bigint")  # noqa: E731
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min(ep(F.col("ts")) - ep(F.col("t_view"))).alias("latency_s"))
    )
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.expr("approx_percentile(latency_s, 0.5, 10000000)").cast("bigint").alias("p50_s"),
        F.expr("approx_percentile(latency_s, 0.9, 10000000)").cast("bigint").alias("p90_s"),
        F.max("latency_s").cast("bigint").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# share-of-total window (ratio_to_report)
# ---------------------------------------------------------------------------

@register(
    "window_share_of_total",
    category="window",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation, r.r_name AS region,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2)
SELECT nation, region,
       round(CAST(revenue AS DOUBLE), 2) AS revenue,
       round(CAST(revenue AS DOUBLE)
             / CAST(sum(revenue) OVER (PARTITION BY region) AS DOUBLE), 6)
         AS region_share
FROM rev
""",
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (ratio_to_report): each nation's fraction of its
    region's revenue via a window sum over the aggregate — the BI staple
    that avoids a self-join against the totals.

    Revenue aggregates in exact DECIMAL (associative), the region window
    runs over the 25-row nation aggregate (dimension-sized, partitioned by
    region), and the share is one double division of two decimal-exact
    operands."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"))
    )
    w = Window.partitionBy("region")
    return rev.select(
        "nation",
        "region",
        F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
        F.round(
            F.col("revenue").cast("double") / F.sum("revenue").over(w).cast("double"),
            6,
        ).alias("region_share"),
    )


# ---------------------------------------------------------------------------
# chi-square independence audit (rational arithmetic only)
# ---------------------------------------------------------------------------

@register(
    "dq_chisq_independence",
    category="quality",
    oracle="""
WITH o AS (SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2),
rt AS (SELECT lang, sum(obs) AS r FROM o GROUP BY lang),
ct AS (SELECT source, sum(obs) AS c FROM o GROUP BY source),
n AS (SELECT sum(obs) AS nn FROM o),
terms AS (
  SELECT CAST(round(
           (obs - CAST(r * c AS DOUBLE) / nn) * (obs - CAST(r * c AS DOUBLE) / nn)
             / (CAST(r * c AS DOUBLE) / nn), 9) AS DECIMAL(20,9)) AS t
  FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n)
SELECT CAST(round(sum(t), 6) AS DOUBLE) AS chi_sq,
       CAST((SELECT (count(DISTINCT lang) - 1) FROM o)
            * (SELECT (count(DISTINCT source) - 1) FROM o) AS BIGINT) AS dof
FROM terms
""",
)
def dq_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit between two categorical columns
    (language × source): is the language mix the same across sources, or
    is some source skewing the corpus? The statistic is entirely RATIONAL
    — observed counts are ints, each expected count is one division, each
    cell term a fixed-order scalar chain — so unlike a p-value (which
    needs the incomplete gamma), it certifies exactly: terms round to 9 dp
    and sum in DECIMAL, immune to float summation order. Degrees of
    freedom ship alongside for the caller's significance lookup.

    Scale: contingency cells = |langs|x|sources| (dimension-sized); the
    only corpus-wide work is the first count aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    rt = o.groupBy("lang").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("c"))
    n = o.agg(F.sum("obs").alias("nn"))
    e = (F.col("r") * F.col("c")).cast("double") / F.col("nn")
    term = F.round((F.col("obs") - e) * (F.col("obs") - e) / e, 9).cast(
        "decimal(20,9)"
    )
    terms = (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .select(term.alias("t"))
    )
    dof = o.agg(
        ((F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1))
        .cast("bigint")
        .alias("dof")
    )
    return (
        terms.agg(F.round(F.sum("t"), 6).cast("double").alias("chi_sq"))
        .crossJoin(F.broadcast(dof))
    )


# ---------------------------------------------------------------------------
# hourly/weekday seasonality profile
# ---------------------------------------------------------------------------

@register(
    "events_hourly_seasonality",
    category="timeseries",
    oracle="""
WITH g AS (
  SELECT CAST(extract(dow FROM ts) AS INT) AS dow,
         CAST(extract(hour FROM ts) AS INT) AS hod,
         count(*) AS n,
         sum(CAST(value AS DECIMAL(18,2))) AS sv
  FROM events GROUP BY 1, 2),
tot AS (SELECT sum(n) AS t FROM g)
SELECT dow, hod, CAST(n AS BIGINT) AS n_events,
       round(CAST(sv AS DOUBLE), 2) AS sum_value,
       round(CAST(n * 1000000 AS DOUBLE) / t, 6) AS per_million
FROM g CROSS JOIN tot
""",
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality profile: event density by (day-of-week,
    hour-of-day) with each cell's share per million events — the load-
    shaping matrix behind capacity planning and anomaly baselines.

    Calendar extraction is integer (UTC-pinned); value sums are exact
    DECIMAL; the share is one division of integers. The result is a
    fixed 7x24 grid — constant output at any corpus size, all shuffles
    map-side-combinable."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        F.dayofweek("ts").alias("dow_spark"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
    )
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB extract(dow): 0=Sunday..6
    g = g.withColumn("dow", (F.col("dow_spark") - 1).cast("int")).drop("dow_spark")
    tot = g.agg(F.sum("n").alias("t"))
    return g.crossJoin(F.broadcast(tot)).select(
        "dow",
        F.col("hod").cast("int").alias("hod"),
        F.col("n").cast("bigint").alias("n_events"),
        F.round(F.col("sv").cast("double"), 2).alias("sum_value"),
        F.round((F.col("n") * 1000000).cast("double") / F.col("t"), 6).alias(
            "per_million"
        ),
    )


# ---------------------------------------------------------------------------
# cohort lifetime value (revenue-weighted retention)
# ---------------------------------------------------------------------------

@register(
    "orders_cohort_ltv",
    category="timeseries",
    oracle="""
WITH fy AS (SELECT o_custkey, min(CAST(extract(year FROM o_orderdate) AS INT)) AS cohort
            FROM orders GROUP BY 1),
rev AS (
  SELECT fy.cohort,
         CAST(extract(year FROM o.o_orderdate) AS INT) - fy.cohort AS age,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue,
         count(DISTINCT o.o_custkey) AS active_customers
  FROM orders o JOIN fy ON fy.o_custkey = o.o_custkey
  GROUP BY 1, 2)
SELECT CAST(cohort AS INT) AS cohort_year, CAST(age AS INT) AS cohort_age,
       CAST(active_customers AS BIGINT) AS active_customers,
       round(CAST(revenue AS DOUBLE), 2) AS revenue
FROM rev
""",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: revenue and active-customer counts by
    (first-order-year cohort, years since first order) — the
    revenue-weighted sibling of the retention triangle that answers "how
    much does a cohort spend as it ages".

    Cohort assignment is a user-keyed min; the matrix aggregate groups on
    (cohort, age) — both linear shuffles on the customer key, with
    revenue in exact DECIMAL. The output is a years×years triangle —
    dimension-sized at any corpus scale."""
    orders = load_table(spark, sf_dir, "orders")
    fy = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("int").alias("cohort")
    )
    rev = (
        orders.join(fy, "o_custkey")
        .groupBy(
            "cohort",
            (F.year("o_orderdate").cast("int") - F.col("cohort")).alias("age"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
    )
    return rev.select(
        F.col("cohort").cast("int").alias("cohort_year"),
        F.col("age").cast("int").alias("cohort_age"),
        F.col("active_customers").cast("bigint").alias("active_customers"),
        F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# open-order backlog aging
# ---------------------------------------------------------------------------

@register(
    "orders_backlog_aging",
    category="quality",
    oracle="""
WITH ref AS (SELECT max(o_orderdate) AS mx FROM orders),
open_orders AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(date_diff('day', o_orderdate, mx) AS BIGINT) AS age_d
  FROM orders CROSS JOIN ref WHERE o_orderstatus = 'O'),
bucketed AS (
  SELECT o_orderpriority,
         CASE WHEN age_d < 30 THEN '0-29d' WHEN age_d < 90 THEN '30-89d'
              WHEN age_d < 365 THEN '90-364d' ELSE '365d+' END AS age_bucket,
         age_d
  FROM open_orders)
SELECT o_orderpriority, age_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(max(age_d) AS BIGINT) AS oldest_d
FROM bucketed GROUP BY 1, 2
""",
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational backlog aging: open orders bucketed by age (days since
    order date, relative to the dataset's latest date) per priority — the
    ops dashboard behind SLA escalation.

    Ages are exact integer day differences against a broadcast 1-row
    reference date; buckets are integer range tests. One scan, one
    dimension-sized aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("mx"))
    open_orders = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(ref))
        .select(
            "o_orderpriority",
            F.datediff("mx", "o_orderdate").cast("bigint").alias("age_d"),
        )
    )
    bucket = (
        F.when(F.col("age_d") < 30, "0-29d")
        .when(F.col("age_d") < 90, "30-89d")
        .when(F.col("age_d") < 365, "90-364d")
        .otherwise("365d+")
    )
    return open_orders.groupBy("o_orderpriority", bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.max("age_d").cast("bigint").alias("oldest_d"),
    )


# ---------------------------------------------------------------------------
# gaps-and-islands: merged active intervals per user
# ---------------------------------------------------------------------------

@register(
    "events_active_intervals",
    category="timeseries",
    oracle="""
WITH iv AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 600 AS e
  FROM events),
ord AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM iv),
flag AS (
  SELECT user_id, s, e,
         CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS new_island,
         row_number() OVER (PARTITION BY user_id ORDER BY s, e) AS rn
  FROM ord),
isl AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flag),
agg AS (SELECT user_id, island_id, min(s) AS i_start, max(e) AS i_end
        FROM isl GROUP BY 1, 2)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(i_end - i_start) AS BIGINT) AS active_s
FROM agg GROUP BY user_id
""",
)
def events_active_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merging: each event opens a 10-minute
    activity interval; overlapping intervals merge into islands via the
    cumulative-max technique (prev_max < start ⇒ new island), yielding
    per-user active-time totals that never double-count overlap — the
    union-of-intervals primitive behind usage billing and uptime math.

    All endpoints are exact integer epoch seconds under a unique total
    order, so island boundaries are engine-exact. One user-partitioned
    window pass plus two keyed aggregates — the same linear shape as
    sessionize."""
    ev = load_table(spark, sf_dir, "events")
    s = F.floor(F.col("ts").cast("double")).cast("bigint")
    iv = ev.select("user_id", "event_id", s.alias("s"), (s + 600).alias("e"))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ord_ = iv.select(
        "user_id", "s", "e", F.max("e").over(w_prev).alias("prev_max")
    )
    flag = ord_.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
        ).otherwise(0).alias("new_island"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("s", "e"))
        .alias("rn"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = flag.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island_id")
    )
    agg = isl.groupBy("user_id", "island_id").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    return agg.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("bigint").alias("active_s"),
    )


# ---------------------------------------------------------------------------
# relational division (FOR ALL)
# ---------------------------------------------------------------------------

@register(
    "division_users_all_types",
    category="relational",
    oracle="""
WITH types AS (SELECT count(DISTINCT event_type) AS nt FROM events),
per_user AS (
  SELECT user_id, count(DISTINCT event_type) AS ut FROM events GROUP BY user_id)
SELECT user_id, CAST(ut AS BIGINT) AS n_types
FROM per_user CROSS JOIN types
WHERE ut = nt
""",
)
def division_users_all_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION (the FOR-ALL quantifier): users who performed
    EVERY event type in the catalog — the textbook division shape,
    implemented as distinct-count equality against a broadcast 1-row
    universe count (two linear aggregates, no double-negation
    NOT-EXISTS-NOT-EXISTS join tree)."""
    ev = load_table(spark, sf_dir, "events")
    types = ev.agg(F.countDistinct("event_type").alias("nt"))
    per_user = ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("ut")
    )
    return (
        per_user.crossJoin(F.broadcast(types))
        .filter(F.col("ut") == F.col("nt"))
        .select("user_id", F.col("ut").cast("bigint").alias("n_types"))
    )


# ---------------------------------------------------------------------------
# monthly seasonal index
# ---------------------------------------------------------------------------

@register(
    "orders_seasonal_index",
    category="timeseries",
    oracle="""
WITH m AS (
  SELECT CAST(extract(month FROM o_orderdate) AS INT) AS month,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1),
tot AS (SELECT sum(rev) AS t, count(*) AS nm FROM m)
SELECT month, round(CAST(rev AS DOUBLE), 2) AS revenue,
       round(CAST(rev AS DOUBLE) / (CAST(t AS DOUBLE) / nm), 6) AS seasonal_index
FROM m CROSS JOIN tot
""",
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonal index: each calendar month's revenue relative to
    the average month (index 1.0 = typical) — the deseasonalization
    factor behind demand forecasting. Revenue is exact DECIMAL; the index
    is two fixed-order divisions of decimal-exact operands against a
    broadcast 1-row total. Twelve output rows at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(F.month("o_orderdate").cast("int").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    tot = m.agg(F.sum("rev").alias("t"), F.count(F.lit(1)).alias("nm"))
    return m.crossJoin(F.broadcast(tot)).select(
        "month",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(
            F.col("rev").cast("double")
            / (F.col("t").cast("double") / F.col("nm")),
            6,
        ).alias("seasonal_index"),
    )


# ---------------------------------------------------------------------------
# market concentration (Herfindahl-Hirschman index)
# ---------------------------------------------------------------------------

@register(
    "market_concentration_hhi",
    category="mining",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation, sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1),
tot AS (SELECT sum(r) AS t FROM rev),
shares AS (
  SELECT nation,
         CAST(round(CAST(r AS DOUBLE) / CAST(t AS DOUBLE), 9) AS DECIMAL(12,9)) AS share
  FROM rev CROSS JOIN tot)
SELECT CAST(count(*) AS BIGINT) AS n_participants,
       CAST(round(sum(share * share) * 10000, 4) AS DOUBLE) AS hhi,
       CAST(round(max(share), 6) AS DOUBLE) AS top_share
FROM shares
""",
)
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index over nation revenue shares
    (0 → fragmented, 10000 → monopoly) — the standard concentration
    screen, also the right metric for corpus-source dominance audits.

    Shares are rounded to 9 dp then squared and summed in exact DECIMAL,
    so the quadratic sum has no float order; the participant dimension
    (25 nations) bounds everything after the one revenue aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    )
    tot = rev.agg(F.sum("r").alias("t"))
    shares = rev.crossJoin(F.broadcast(tot)).select(
        "nation",
        F.round(F.col("r").cast("double") / F.col("t").cast("double"), 9)
        .cast("decimal(12,9)")
        .alias("share"),
    )
    return shares.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_participants"),
        F.round(
            F.sum(F.col("share") * F.col("share")) * 10000, 4
        ).cast("double").alias("hhi"),
        F.round(F.max("share"), 6).cast("double").alias("top_share"),
    )


# ---------------------------------------------------------------------------
# engagement stickiness (DAU / trailing-7-day AU)
# ---------------------------------------------------------------------------

@register(
    "events_stickiness_dau_wau",
    category="timeseries",
    oracle="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
contrib AS (
  SELECT DISTINCT user_id, unnest(generate_series(day, day + 6, INTERVAL 1 DAY))::DATE AS wday
  FROM ud),
wau AS (
  SELECT wday AS day, count(DISTINCT user_id) AS wau7
  FROM contrib, span WHERE wday BETWEEN d0 AND d1 GROUP BY wday),
dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day)
SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau7 AS BIGINT) AS wau7,
       round(CAST(d.dau AS DOUBLE) / w.wau7, 6) AS stickiness
FROM dau d JOIN wau w ON w.day = d.day
""",
)
def events_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness: DAU / trailing-7-day active users per day —
    the product-health ratio. The trailing-window DISTINCT is computed by
    the scalable CONTRIBUTION EXPLODE: each (user, active-day) row serves
    exactly the 7 window-end days it can influence, so the "distinct over
    a sliding window" (non-decomposable as an aggregate) becomes a plain
    distinct-count after a 7x linear fan-out — no day-range self-join of
    the corpus, no re-scan per window.

    All counts are integers; stickiness is one division. Output is
    calendar-sized."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    span = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("wday"),
        )
        .distinct()
    )
    wau = (
        contrib.crossJoin(F.broadcast(span))
        .filter(F.col("wday").between(F.col("d0"), F.col("d1")))
        .groupBy(F.col("wday").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau7"))
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(wau, "day").select(
        "day",
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau7").cast("bigint").alias("wau7"),
        F.round(F.col("dau").cast("double") / F.col("wau7"), 6).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# session depth histogram
# ---------------------------------------------------------------------------

@register(
    "events_session_depth",
    category="timeseries",
    oracle="""
WITH labeled AS (
  SELECT user_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT event_id, user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                     > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM events)),
depth AS (SELECT user_id, session_id, count(*) AS n_events
          FROM labeled GROUP BY 1, 2)
SELECT CAST(n_events AS BIGINT) AS session_depth,
       CAST(count(*) AS BIGINT) AS n_sessions
FROM depth GROUP BY 1
""",
)
def events_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session depth distribution: how many sessions contain exactly N
    events — the engagement-shape histogram (a spike at depth 1 is the
    bounce-rate signal). Reuses the certified sessionizer; two keyed
    aggregates after the one user-partitioned window pass, output bounded
    by the maximum session length."""
    from arc_cassandra_pipeline_plugin_spark.operators import timeseries as TS

    ev = load_table(spark, sf_dir, "events")
    labeled = TS.sessionize(ev, gap_minutes=30)
    depth = labeled.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return depth.groupBy(
        F.col("n_events").cast("bigint").alias("session_depth")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))


# ---------------------------------------------------------------------------
# degree distribution of the candidate graph
# ---------------------------------------------------------------------------

def _degree_dist_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.queries.extensions import _clusters_cte

    return f"""
WITH RECURSIVE {_clusters_cte()},
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY node)
SELECT CAST(d AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY d
"""


@register(
    "graph_degree_distribution",
    category="graph",
    oracle=_degree_dist_oracle(),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-duplicate candidate graph — the
    companion readout to the triangle census (a heavy tail here means a
    few template hubs touch everything; dedup policy and skew planning
    both read this first). Two tiny aggregates over the certified edge
    set."""
    from arc_cassandra_pipeline_plugin_spark.operators import dedup as D
    from arc_cassandra_pipeline_plugin_spark.queries.extensions import (
        _BANDS,
        _NUM_PERM,
        _SHINGLE_K,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signature(docs, num_perm=_NUM_PERM, shingle_k=_SHINGLE_K)
    pairs = D.lsh_candidate_pairs(sigs, num_perm=_NUM_PERM, bands=_BANDS).select(
        "doc_a", "doc_b"
    )
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.groupBy(F.col("d").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# business-key duplicate suspects
# ---------------------------------------------------------------------------

@register(
    "dq_duplicate_suspects",
    category="quality",
    oracle="""
SELECT o_custkey, o_orderdate,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(o_orderkey) AS first_key,
       round(CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS min_amount,
       round(CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS max_amount
FROM orders GROUP BY o_custkey, o_orderdate HAVING count(*) > 1
""",
)
def dq_duplicate_suspects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-key duplicate detection: customers with MULTIPLE orders on
    the same day — the double-submission/replay audit surrogate-key dedup
    misses entirely. Suspects ship with their amount spread (identical
    min/max amounts being the strongest replay signal); amounts compare
    in exact DECIMAL, never float money equality. One grouped aggregate,
    suspects-only output."""
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.groupBy("o_custkey", "o_orderdate")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("first_key"),
            F.round(F.min(p).cast("double"), 2).alias("min_amount"),
            F.round(F.max(p).cast("double"), 2).alias("max_amount"),
        )
        .filter(F.col("n") > 1)
        .select(
            "o_custkey",
            "o_orderdate",
            F.col("n").cast("bigint").alias("n_orders"),
            "first_key",
            "min_amount",
            "max_amount",
        )
    )


# ---------------------------------------------------------------------------
# first-touch attribution (completes the attribution trio)
# ---------------------------------------------------------------------------

@register(
    "attribution_first_touch",
    category="timeseries",
    oracle="""
WITH p AS (SELECT user_id, min(ts) AS first_purchase FROM events
           WHERE event_type = 'purchase' GROUP BY user_id),
candidates AS (
  SELECT e.user_id, e.event_type, e.ts, e.event_id
  FROM events e JOIN p ON p.user_id = e.user_id
  WHERE e.event_type <> 'purchase' AND e.ts < p.first_purchase),
first_touch AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM candidates) WHERE rn = 1)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_conversions
FROM first_touch GROUP BY event_type
""",
)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: the earliest pre-purchase touch per
    converting user gets full credit — completing the attribution trio
    (first / last / linear), which bound each channel's credit from the
    acquisition and conversion ends respectively.

    One user-keyed min, one filtered join, one rank-1 window (compiling
    through the WindowGroupLimit heap) — all linear on the user key."""
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    cand = (
        ev.join(p, "user_id")
        .filter(
            (F.col("event_type") != "purchase")
            & (F.col("ts") < F.col("first_purchase"))
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type")
    )
    return first.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions")
    )


# ---------------------------------------------------------------------------
# consecutive-day streaks (islands on a discrete sequence)
# ---------------------------------------------------------------------------

@register(
    "orders_longest_streaks",
    category="timeseries",
    oracle="""
WITH days AS (SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders),
anch AS (
  SELECT o_custkey, d,
         d - CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY d) AS INT) AS anchor
  FROM days),
streaks AS (
  SELECT o_custkey, anchor, count(*) AS len FROM anch GROUP BY 1, 2)
SELECT o_custkey,
       CAST(max(len) AS BIGINT) AS longest_streak_days,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM streaks GROUP BY o_custkey
HAVING max(len) >= 2
""",
)
def orders_longest_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day ordering streak per customer via the
    date-minus-row-number anchor trick: consecutive days share one anchor
    value, so streaks fall out of a plain GROUP BY — islands on a
    DISCRETE sequence, the counterpart to the interval-union islands of
    events_active_intervals (engagement-streak features, habit metrics).

    One user-partitioned window over distinct order days, two keyed
    aggregates; customers with only singleton days are filtered to keep
    the output signal-bearing."""
    orders = load_table(spark, sf_dir, "orders")
    days = orders.select("o_custkey", F.to_date("o_orderdate").alias("d")).distinct()
    w = Window.partitionBy("o_custkey").orderBy("d")
    anch = days.select(
        "o_custkey",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("anchor"),
    )
    streaks = anch.groupBy("o_custkey", "anchor").agg(F.count(F.lit(1)).alias("len"))
    return (
        streaks.groupBy("o_custkey")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        )
        .filter(F.col("longest_streak_days") >= 2)
    )


# ---------------------------------------------------------------------------
# purchase value by preceding touch depth
# ---------------------------------------------------------------------------

@register(
    "purchase_value_by_touch_depth",
    category="timeseries",
    oracle="""
WITH seqd AS (
  SELECT user_id, event_id, ts, event_type, value,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb,
         coalesce(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS eb
  FROM events),
purch AS (
  SELECT value, least(eb - pb, 10) AS depth
  FROM seqd WHERE event_type = 'purchase')
SELECT CAST(depth AS INT) AS touch_depth,
       CAST(count(*) AS BIGINT) AS n_purchases,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
         AS avg_value
FROM purch GROUP BY depth
""",
)
def purchase_value_by_touch_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does engagement depth buy bigger purchases? Average purchase value
    bucketed by the number of NON-purchase touches preceding each
    purchase (capped at 10+) — the marketing-depth ROI curve, and the
    causal-analysis starting point before any uplift model.

    Depth comes from two running counts in the same user-keyed window
    pass (events-before minus purchases-before); averages are DECIMAL
    sums over one division. Output bounded by the depth cap."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isp = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    seqd = ev.select(
        "event_type",
        "value",
        F.coalesce(F.sum(isp).over(w), F.lit(0)).alias("pb"),
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias("eb"),
    )
    purch = seqd.filter(F.col("event_type") == "purchase").select(
        "value", F.least(F.col("eb") - F.col("pb"), F.lit(10)).alias("depth")
    )
    return purch.groupBy(F.col("depth").cast("int").alias("touch_depth")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint screen on the daily value series
# ---------------------------------------------------------------------------

@register(
    "events_cusum_changepoint",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         sum(CAST(value AS DECIMAL(18,2))) AS s, count(*) AS n
  FROM events GROUP BY 1),
tot AS (SELECT sum(s) AS st, sum(n) AS nt FROM daily),
dev AS (
  SELECT day,
         CAST(round(CAST(s AS DOUBLE) / n - CAST(st AS DOUBLE) / nt, 9)
              AS DECIMAL(20,9)) AS d
  FROM daily CROSS JOIN tot),
cusum AS (
  SELECT day, sum(d) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM dev)
SELECT day, round(CAST(c AS DOUBLE), 6) AS cusum,
       CAST(row_number() OVER (ORDER BY abs(c) DESC, day) = 1 AS BOOLEAN)
         AS is_changepoint_candidate
FROM cusum
""",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen: the running sum of (daily mean − overall
    mean); the |CUSUM| peak marks the most likely mean-shift day — the
    classic sequential drift detector, flagged in-line per day.

    Daily deviations round to 9 dp and accumulate in DECIMAL over the
    CALENDAR-sized daily aggregate (a bounded-domain running sum, same
    class as the sweep-line); the peak flag is a deterministic
    rank-1 under (|c| desc, day). Output: one row per day."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    tot = daily.agg(F.sum("s").alias("st"), F.sum("n").alias("nt"))
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        F.round(
            F.col("s").cast("double") / F.col("n")
            - F.col("st").cast("double") / F.col("nt"),
            9,
        )
        .cast("decimal(20,9)")
        .alias("d"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cusum = dev.select("day", F.sum("d").over(w).alias("c"))
    wr = Window.orderBy(F.abs(F.col("c")).desc(), "day")
    return cusum.select(
        "day",
        F.round(F.col("c").cast("double"), 6).alias("cusum"),
        (F.row_number().over(wr) == 1).alias("is_changepoint_candidate"),
    )


# ---------------------------------------------------------------------------
# customer survival curve (cohort retention by age)
# ---------------------------------------------------------------------------

@register(
    "orders_survival_curve",
    category="timeseries",
    oracle="""
WITH fy AS (SELECT o_custkey, min(CAST(extract(year FROM o_orderdate) AS INT)) AS cohort
            FROM orders GROUP BY 1),
cs AS (SELECT cohort, count(*) AS cohort_n FROM fy GROUP BY cohort),
act AS (
  SELECT fy.cohort,
         CAST(extract(year FROM o.o_orderdate) AS INT) - fy.cohort AS age,
         count(DISTINCT o.o_custkey) AS active_n
  FROM orders o JOIN fy ON fy.o_custkey = o.o_custkey
  GROUP BY 1, 2)
SELECT a.cohort AS cohort_year, CAST(a.age AS INT) AS cohort_age,
       CAST(a.active_n AS BIGINT) AS active_customers,
       CAST(c.cohort_n AS BIGINT) AS cohort_size,
       round(CAST(a.active_n AS DOUBLE) / c.cohort_n, 6) AS survival_rate
FROM act a JOIN cs c ON c.cohort = a.cohort
""",
)
def orders_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer survival curve: the fraction of each first-order-year
    cohort still ordering k years later — the retention denominator the
    LTV triangle needs to separate "cohort shrank" from "survivors spend
    less". Two user-keyed aggregates and a cohort-sized join; the rate is
    one division of exact counts."""
    orders = load_table(spark, sf_dir, "orders")
    fy = orders.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("int").alias("cohort")
    )
    cs = fy.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_n"))
    act = (
        orders.join(fy, "o_custkey")
        .groupBy(
            "cohort",
            (F.year("o_orderdate").cast("int") - F.col("cohort")).alias("age"),
        )
        .agg(F.countDistinct("o_custkey").alias("active_n"))
    )
    return act.join(F.broadcast(cs), "cohort").select(
        F.col("cohort").alias("cohort_year"),
        F.col("age").cast("int").alias("cohort_age"),
        F.col("active_n").cast("bigint").alias("active_customers"),
        F.col("cohort_n").cast("bigint").alias("cohort_size"),
        F.round(F.col("active_n").cast("double") / F.col("cohort_n"), 6).alias(
            "survival_rate"
        ),
    )


# ---------------------------------------------------------------------------
# repurchase cycle (median inter-order interval)
# ---------------------------------------------------------------------------

@register(
    "orders_repurchase_cycle",
    category="timeseries",
    oracle="""
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_d
  FROM orders),
g AS (SELECT o_custkey, CAST(gap_d AS BIGINT) AS gap_d FROM gaps WHERE gap_d IS NOT NULL)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(quantile_disc(gap_d, 0.5) AS BIGINT) AS median_gap_d,
       CAST(min(gap_d) AS BIGINT) AS min_gap_d
FROM g GROUP BY o_custkey HAVING count(*) >= 3
""",
)
def orders_repurchase_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repurchase cycle per customer: the median days between consecutive
    orders (for customers with enough history) — the replenishment-
    cadence feature behind churn prediction ("customer is N× past their
    own median gap"). Gaps are exact integer day diffs from one
    user-keyed window pass; the median is the exact discrete quantile."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).cast("bigint").alias(
            "gap_d"
        ),
    ).filter(F.col("gap_d").isNotNull())
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.expr("approx_percentile(gap_d, 0.5, 10000000)")
            .cast("bigint")
            .alias("median_gap_d"),
            F.min("gap_d").cast("bigint").alias("min_gap_d"),
        )
        .filter(F.col("n_gaps") >= 3)
    )


# ---------------------------------------------------------------------------
# supplier account-balance profile
# ---------------------------------------------------------------------------

@register(
    "dq_supplier_balance_profile",
    category="quality",
    oracle="""
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(CASE WHEN s.s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
       round(CAST(min(s.s_acctbal) AS DOUBLE), 2) AS min_bal,
       round(CAST(max(s.s_acctbal) AS DOUBLE), 2) AS max_bal,
       round(CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
         AS mean_bal
FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY n.n_name
""",
)
def dq_supplier_balance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier account-balance profile per nation: counts, negative-
    balance flags (credit-risk screen), extremes, and the DECIMAL-exact
    mean — the standing financial-health audit over the supplier
    dimension. One broadcast dim join, one nation-sized aggregate."""
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum(F.when(F.col("s_acctbal") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_negative"),
            F.round(F.min("s_acctbal").cast("double"), 2).alias("min_bal"),
            F.round(F.max("s_acctbal").cast("double"), 2).alias("max_bal"),
            F.round(
                F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_bal"),
        )
    )


# ---------------------------------------------------------------------------
# market-segment customer profile
# ---------------------------------------------------------------------------

@register(
    "customer_segment_profile",
    category="mining",
    oracle="""
SELECT c.c_mktsegment,
       CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_revenue,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(o.o_orderkey), 6) AS avg_order_value
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def customer_segment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment profile: customers, orders, DECIMAL-exact revenue
    and average order value per segment — the one-glance segmentation
    table sales planning starts from. One customer-keyed join, one
    segment-sized aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_custkey").cast("bigint").alias("n_customers"),
            F.count("o_orderkey").cast("bigint").alias("n_orders"),
            F.round(F.sum(p).cast("double"), 2).alias("total_revenue"),
            F.round(F.sum(p).cast("double") / F.count("o_orderkey"), 6).alias(
                "avg_order_value"
            ),
        )
    )


# ---------------------------------------------------------------------------
# JSON property distribution
# ---------------------------------------------------------------------------

@register(
    "events_prop_distribution",
    category="scalar",
    oracle="""
WITH k AS (SELECT CAST(json_extract(props, '$.k') AS INT) AS kv FROM events)
SELECT CAST(kv // 10 AS INT) AS k_decade,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(kv) AS INT) AS min_k, CAST(max(kv) AS INT) AS max_k
FROM k WHERE kv IS NOT NULL GROUP BY kv // 10
""",
)
def events_prop_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read property distribution: the JSON payload's `k` field
    extracted and bucketed by decade — the exploratory profile a landing-
    zone pipeline runs before promoting a semi-structured field to a real
    column. JVM JSON path extraction, integer bucket arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    kv = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select(kv.alias("kv"))
        .filter(F.col("kv").isNotNull())
        .groupBy((F.col("kv") / 10).cast("int").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("kv").cast("int").alias("min_k"),
            F.max("kv").cast("int").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# monthly active customers with month-over-month delta
# ---------------------------------------------------------------------------

@register(
    "orders_monthly_active",
    category="timeseries",
    oracle="""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         count(DISTINCT o_custkey) AS mac
  FROM orders GROUP BY 1)
SELECT a.month, CAST(a.mac AS BIGINT) AS active_customers,
       CAST(a.mac - b.mac AS BIGINT) AS mom_change
FROM m a LEFT JOIN m b ON b.month = CAST(a.month - INTERVAL 1 MONTH AS DATE)
""",
)
def orders_monthly_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly active customers with the month-over-month delta — the
    top-line growth series. The previous-month lookup is a self-join of
    the MONTH aggregate on a shifted key (calendar-sized both sides), not
    a window over the fact table; missing prior months yield NULL deltas
    rather than silently zero. Integer counts end-to-end."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.trunc("o_orderdate", "month").alias("month")
    ).agg(F.countDistinct("o_custkey").alias("mac"))
    a = m.select("month", F.col("mac").alias("mac_a"))
    b = m.select(F.add_months(F.col("month"), 1).alias("month"), F.col("mac").alias("mac_b"))
    return a.join(F.broadcast(b), "month", "left").select(
        "month",
        F.col("mac_a").cast("bigint").alias("active_customers"),
        (F.col("mac_a") - F.col("mac_b")).cast("bigint").alias("mom_change"),
    )


# ---------------------------------------------------------------------------
# time-weighted average (TWAP) over irregular samples
# ---------------------------------------------------------------------------


@register(
    "events_twap_per_user",
    category="timeseries",
    oracle="""
WITH o AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS vc,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         lead(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
  FROM events WHERE user_id < 200),
spans AS (
  SELECT user_id, vc, t_next - t AS ds FROM o WHERE t_next IS NOT NULL),
agg AS (
  SELECT user_id, sum(vc * ds) AS num, sum(ds) AS den
  FROM spans GROUP BY user_id)
SELECT user_id,
       CAST(den AS BIGINT) AS span_s,
       round(num / (100.0 * den), 4) AS twap
FROM agg WHERE den > 0
""",
)
def events_twap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user over IRREGULAR samples: each
    observation holds until the next one (step interpolation), so the mean
    weights by holding duration, not sample count — the standard
    TWAP/uptime-average the naive AVG gets wrong on bursty series. Exact
    integer arithmetic throughout: cent values x whole-second spans summed
    as longs, one float division at the end. One partitioned window + one
    groupBy — a single shuffle on user_id."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 200)
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("vc"),
            F.floor(F.unix_timestamp("ts")).cast("bigint").alias("t"),
            "ts",
            "event_id",
        )
        .withColumn(
            "t_next",
            F.lead(F.floor(F.unix_timestamp("ts")).cast("bigint")).over(w),
        )
        .filter(F.col("t_next").isNotNull())
        .withColumn("ds", F.col("t_next") - F.col("t"))
    )
    return (
        o.groupBy("user_id")
        .agg(
            F.sum(F.col("vc") * F.col("ds")).alias("num"),
            F.sum("ds").alias("den"),
        )
        .filter(F.col("den") > 0)
        .select(
            "user_id",
            F.col("den").cast("bigint").alias("span_s"),
            F.round(F.col("num") / (F.lit(100.0) * F.col("den")), 4).alias("twap"),
        )
    )


def _sssp_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import sssp_oracle_sql

    cost_edges = (
        "SELECT src, dst, CAST(floor(1000000.0 / w) AS BIGINT) AS cost "
        f"FROM ({_TRADE_EDGES_SQL})"
    )
    return (
        "SELECT node AS nation, dist AS cost FROM ("
        + sssp_oracle_sql(cost_edges, rounds=4)
        + ")"
    )


@register(
    "graph_sssp_cheapest",
    category="graph",
    oracle=_sssp_oracle(),
    plan_shape="scalar_broadcast",
    plan_reason="broadcast 1-row source-vertex seed row into the relaxation rounds",
)
def graph_sssp_cheapest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest path (operators/graph.sssp_cheapest)
    over the trade graph: Bellman-Ford relaxation rounds finding the
    cheapest route from the lexicographically-first nation, edge cost
    inversely proportional to trade volume (floor(1e6/w) — busy lanes are
    cheap). Four synchronous relaxation passes, exact BIGINT costs,
    certified against the identical rounds unrolled as CTEs — the weighted
    member of the iterative-graph family next to BFS (unweighted hops)."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import sssp_cheapest

    edges = (
        _trade_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .select(
            "src",
            "dst",
            F.expr("CAST(floor(1000000.0 / w) AS BIGINT)").alias("cost"),
        )
    )
    # 25-nation dimension graph — rounds relax on the driver over the
    # collected <=|V|^2 rollup (exact BIGINT min-plus): the fact rollup
    # stays distributed, the iterate pays zero per-round jobs
    d = sssp_cheapest(edges, rounds=4)
    return d.select(F.col("node").alias("nation"), F.col("dist").alias("cost"))


def _lpa_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        label_propagation_oracle_sql,
    )

    return (
        "SELECT node AS nation, label AS community FROM ("
        + label_propagation_oracle_sql(_TRADE_EDGES_SQL, rounds=3)
        + ")"
    )


@register("graph_label_propagation", category="graph", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous weighted label propagation over
    the nation trade graph (operators/graph.label_propagation): 3 rounds,
    each node adopting the neighbor label with the highest total trade
    weight, ties to the lexicographically smallest label — deterministic
    by construction (async LPA is run-order-dependent and uncertifiable),
    certified against the identical rounds unrolled as DuckDB CTEs.

    Scale shape: per round one vertex-keyed join of the O(V) label vector
    onto the symmetrized edge list + one map-side-combinable (node, label)
    vote aggregation + a min_by argmax that is ITSELF map-side combinable
    (r6: replaced the per-node rank window — a reduction combines
    partially on the map side, a window sort cannot) — the same iterate
    family as pagerank/SSSP/BFS; no driver-side graph state."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import label_propagation

    edges = (
        _trade_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # the vertex set is the 25-nation dimension, so the rounds replay on
    # the driver over the collected ≤|V|² rollup (distributed they are ~12
    # local-mode scheduler floors of ~60 ms for 25-node vote rounds)
    out = label_propagation(edges, rounds=3)
    return out.select(F.col("node").alias("nation"), F.col("label").alias("community"))


@register(
    "graph_bipartite_projection",
    category="graph",
    oracle="""
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
pairs AS (
  SELECT a.s AS s_a, b.s AS s_b, CAST(count(*) AS BIGINT) AS shared_parts
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2)
SELECT s_a, s_b, shared_parts
FROM pairs
ORDER BY shared_parts DESC, s_a ASC, s_b ASC
LIMIT 20
""",
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the part–supplier graph onto suppliers:
    co-supplier pairs weighted by shared parts (top-20, total-ordered) —
    the standard graph construction behind co-occurrence networks
    (co-authors, co-purchases, co-suppliers).

    Scale shape: the pair fan-out is a self-equi-join keyed by part, so
    per-part work is degree² with degree = suppliers-per-part (a catalog
    constant, not corpus-scaled); the (s_a, s_b) count is map-side
    combinable and the top-20 compiles to TakeOrderedAndProject. A
    genuinely hot part (degree thousands) is the spatial/LSH hot-key
    problem — salt the part id exactly as operators/spatial.py does; the
    fixture degrees are bounded so the plain join is the right plan."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    a = ps.alias("a")
    b = ps.alias("b")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_parts"))
    )
    return pairs.orderBy(
        F.col("shared_parts").desc(), F.col("s_a").asc(), F.col("s_b").asc()
    ).limit(20)


def _hits_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import hits_oracle_sql

    return (
        "SELECT node AS nation, hub, authority FROM ("
        + hits_oracle_sql(_TRADE_EDGES_SQL, iters=3)
        + ")"
    )


@register(
    "graph_hits_trade",
    category="graph",
    oracle=_hits_oracle(),
    plan_shape="scalar_broadcast",
    plan_reason="broadcast 1-row max normalizer into each HITS round",
)
def graph_hits_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities over the nation trade graph
    (operators/graph.hits): exporter nations score as hubs, importer
    nations as authorities — the second spectral centrality next to
    PageRank, max-normalized per round so the iterate stays exact
    (decimal-summed contributions, 12-dp re-rounding, certified against
    the identical rounds unrolled as DuckDB CTEs)."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import hits

    edges = (
        _trade_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # 25-nation dimension graph — the certified 6-dp decimal HITS algebra
    # replays on the driver
    out = hits(edges, iters=3)
    return out.select(F.col("node").alias("nation"), "hub", "authority")


def _walk_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        hash_random_walk_oracle_sql,
    )

    return (
        "SELECT node AS nation, CAST(count(*) AS BIGINT) AS n_walkers FROM ("
        + hash_random_walk_oracle_sql(_TRADE_EDGES_SQL, steps=4)
        + ") GROUP BY 1"
    )


@register("graph_hash_random_walk", category="graph", oracle=_walk_oracle())
def graph_hash_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible random-walk sampling over the trade graph
    (operators/graph.hash_random_walk): every nation launches a walker,
    four hash-seeded hops, and the landing distribution (how many walkers
    end on each nation) is certified — the corpus-sampling primitive
    behind DeepWalk/node2vec embeddings, made engine-reproducible by
    hashing (cur, step) instead of drawing rand()."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import hash_random_walk

    edges = (
        _trade_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # 25-nation dimension graph, string nodes — hashlib replay of the
    # md5 hop rule on the driver
    walks = hash_random_walk(edges, steps=4)
    return walks.groupBy(F.col("node").alias("nation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_walkers")
    )


@register(
    "graph_degree_assortativity",
    category="graph",
    oracle=f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({_TRADE_EDGES_SQL})),
outd AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
ind AS (SELECT dst AS n, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
pairs AS (
  SELECT o.d AS dx, i.d AS dy
  FROM e JOIN outd o ON o.n = e.src JOIN ind i ON i.n = e.dst),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM pairs)
SELECT m AS n_edges,
       CASE WHEN (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
            THEN round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                              * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                       6) END AS assortativity
FROM s
""",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed degree assortativity of the trade graph: the Pearson
    correlation between source out-degree and destination in-degree over
    the edge set — do high-volume exporters trade with high-volume
    importers (positive) or with the periphery (negative)? The one-number
    topology fingerprint cited in every network-analysis report.

    The correlation assembles from six exact BIGINT edge-level sums (one
    degree aggregation per side, joined back onto the edge list, then one
    map-side-combinable moment pass) into a single fixed-shape double
    expression — no float ever enters an aggregate. Degree tables are
    vertex-sized (broadcastable); the only corpus-scale work is the edge
    scan."""
    e = (
        _trade_edges(spark, sf_dir)
        .distinct()
        .localCheckpoint(eager=True)
    )
    outd = e.groupBy(F.col("src").alias("n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dx")
    )
    ind = e.groupBy(F.col("dst").alias("n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dy")
    )
    pairs = (
        e.join(F.broadcast(outd), e.src == outd.n)
        .join(F.broadcast(ind), e.dst == ind.n)
        .select("dx", "dy")
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
    )
    md = F.col("m").cast("double")
    varx = md * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary = md * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    num = md * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return s.select(
        F.col("m").alias("n_edges"),
        F.when(varx * vary > 0, F.round(num / F.sqrt(varx * vary), 6)).alias(
            "assortativity"
        ),
    )


def _ktruss_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import ktruss_oracle_sql

    return (
        "SELECT a AS nation_a, b AS nation_b, support FROM ("
        + ktruss_oracle_sql(_TRADE_EDGES_SQL, k=8, rounds=2)
        + ")"
    )


@register("graph_ktruss_core", category="graph", oracle=_ktruss_oracle())
def graph_ktruss_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-truss cohesion core of the trade graph (operators/graph.
    ktruss_edges, k=8, two synchronous peel rounds): edges embedded in at
    least 6 triangles after re-peeling — the community-core definition
    stronger than degree (every surviving tie is multiply witnessed).
    k sits inside the observed support range at BOTH fixture scales, so
    peeling bites and survivors remain non-trivial; the
    certified output is the surviving canonical edge list with final
    support, identical rounds unrolled as the DuckDB oracle."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import ktruss_edges

    edges = (
        _trade_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # 25-nation dimension graph — integer peel on the driver
    out = ktruss_edges(edges, k=8, rounds=2)
    return out.select(
        F.col("a").alias("nation_a"), F.col("b").alias("nation_b"), "support"
    )


_KCORE_THRESH_EDGES_SQL = f"""
SELECT e0.src, e0.dst
FROM ({_TRADE_EDGES_SQL}) e0,
     (SELECT sum(w) AS s, count(*) AS c FROM ({_TRADE_EDGES_SQL})) t
WHERE e0.w * t.c * 4 >= t.s * 5
"""


def _kcore_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import kcore_oracle_sql

    return (
        "SELECT a AS nation, degree FROM ("
        + kcore_oracle_sql(_KCORE_THRESH_EDGES_SQL, k=6, rounds=2)
        + ")"
    )


@register(
    "graph_kcore_trade",
    category="graph",
    plan_shape="scalar_broadcast",
    plan_reason="1-row global (sum,count) broadcast sets the relative edge-weight cut",
    oracle=_kcore_oracle(),
)
def graph_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core cohesion of the HEAVY trade graph (operators/graph.
    kcore_vertices, k=6, two peel rounds): nations still connected to at
    least 6 peers after restricting to above-average trade lanes (edge
    weight >= 5/4 of the mean — a RELATIVE cut, so the peel bites at
    every fixture scale; the nation graph is complete under a raw cut).
    The vertex-side complement of graph_ktruss_core: k-core bounds
    degree, k-truss bounds triangle support.

    Scale shape: the mean cut is a 1-row (sum,count) broadcast against
    the edge list (declared scalar_broadcast); each peel round is one
    vertex-keyed degree count plus two survivor equi-joins — never
    quadratic, work shrinks monotonically."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import kcore_vertices

    e0 = (
        _trade_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    tot = e0.agg(F.sum("w").alias("s"), F.count(F.lit(1)).alias("c"))
    edges = (
        e0.crossJoin(F.broadcast(tot))
        .filter(F.col("w") * F.col("c") * 4 >= F.col("s") * 5)
        .select("src", "dst")
    )
    # 25-nation dimension graph — integer peel on the driver
    out = kcore_vertices(edges, k=6, rounds=2)
    return out.select(F.col("a").alias("nation"), "degree")


_PPR_SEEDS_SQL = """
SELECT n_name AS node FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
"""


def _ppr_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        personalized_pagerank_oracle_sql,
    )

    sql = personalized_pagerank_oracle_sql(
        _TRADE_EDGES_SQL, _PPR_SEEDS_SQL, iters=3, damping=0.85
    )
    return f"SELECT node AS nation, round(rank, 8) AS ppr FROM ({sql})"


@register("graph_ppr_asia", category="graph", oracle=_ppr_oracle())
def graph_ppr_asia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the trade graph with the teleport mass
    pinned to the ASIA-region nations (operators/graph.
    personalized_pagerank, 3 rounds, d=0.85): rank is the stationary
    visit probability of a restart-at-ASIA random walk — "how exposed is
    each nation to Asian trade flows", the topic-sensitive variant
    recommendation and influence pipelines run per seed segment.

    Same fixed-point determinism as graph_pagerank_trade (12-dp rounded
    contributions, exact DECIMAL sums, identical rounds unrolled as the
    oracle); the only addition over pagerank's scale shape is a 1-row
    seed-count broadcast and an O(|V|) seed flag."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        personalized_pagerank,
    )

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    edges = (
        _trade_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    seeds = (
        nation.join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "ASIA")
        .select(F.col("n_name").alias("node"))
    )
    # 25-nation dimension graph + region-bounded seeds — replays on the
    # driver
    out = personalized_pagerank(edges, seeds, iters=3, damping=0.85)
    return out.select(
        F.col("node").alias("nation"), F.round("rank", 8).alias("ppr")
    )


@register(
    "graph_harmonic_centrality",
    category="graph",
    plan_shape="scalar_broadcast",
    plan_reason="1-row global (sum,count) broadcast sets the relative edge-weight cut",
    oracle=f"""
WITH e0 AS ({_TRADE_EDGES_SQL}),
tot AS (SELECT sum(w) AS s, count(*) AS c FROM e0),
e AS (SELECT src, dst FROM e0, tot WHERE w * c * 2 >= s * 3),
u AS (SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e) t0
      WHERE a <> b),
d2 AS (
  SELECT DISTINCT x.a, y.b FROM u x JOIN u y ON y.a = x.b
  WHERE x.a <> y.b
    AND NOT EXISTS (SELECT 1 FROM u WHERE u.a = x.a AND u.b = y.b)),
d3 AS (
  SELECT DISTINCT x.a, y.b FROM d2 x JOIN u y ON y.a = x.b
  WHERE x.a <> y.b
    AND NOT EXISTS (SELECT 1 FROM u WHERE u.a = x.a AND u.b = y.b)
    AND NOT EXISTS (SELECT 1 FROM d2 WHERE d2.a = x.a AND d2.b = y.b)),
counts AS (
  SELECT a, CAST(sum(n1) AS BIGINT) AS n1, CAST(sum(n2) AS BIGINT) AS n2,
         CAST(sum(n3) AS BIGINT) AS n3
  FROM (
    SELECT a, 1 AS n1, 0 AS n2, 0 AS n3 FROM u
    UNION ALL SELECT a, 0, 1, 0 FROM d2
    UNION ALL SELECT a, 0, 0, 1 FROM d3) z
  GROUP BY 1)
SELECT a AS nation, n1, n2, n3,
       CAST(n1 * 1000000 + n2 * 500000 + n3 * 333333 AS BIGINT) AS harmonic_micro
FROM counts
""",
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality within a 3-hop horizon on the HEAVY trade
    graph (edges at >= 3/2 of mean weight — the relative cut that keeps
    the peel meaningful at every fixture scale): each nation scores
    sum(1/dist) over its distance-1/2/3 neighborhoods, in exact integer
    micro-units (1e6, 5e5, 333333) — the reachability-weighted influence
    measure that, unlike closeness, handles disconnected graphs natively.

    Distances come from the standard frontier expansion: d2 is one
    self-join of the symmetrized edge set minus d1 (anti-join), d3 one
    more hop minus d1/d2 — each hop a vertex-keyed shuffle plus anti-join
    dedup, the bounded-hop BFS census (never materializing beyond the
    horizon). All counting is exact integers; the scalar edge cut is the
    declared 1-row broadcast."""
    e0 = (
        _trade_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    tot = e0.agg(F.sum("w").alias("s"), F.count(F.lit(1)).alias("c"))
    e = (
        e0.crossJoin(F.broadcast(tot))
        .filter(F.col("w") * F.col("c") * 2 >= F.col("s") * 3)
        .select("src", "dst")
    )
    u = (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # 25-nation dimension graph: the 3-hop census is pure set algebra over
    # the collected heavy-edge set; past the driver bound the distributed
    # hop/anti-join census below runs unchanged (26 jobs of hop joins +
    # anti-joins for a <=600-row edge set)
    from arc_cassandra_pipeline_plugin_spark.functions import driver_rows, small_df

    head = driver_rows(u)
    if head is not None:
        adj: dict = {}
        for r in head:
            adj.setdefault(r["a"], set()).add(r["b"])
        rows = []
        for a in sorted(adj):
            d1s = adj[a]
            d2s = set().union(*(adj[m] for m in d1s)) - d1s - {a} if d1s else set()
            d3s = (
                (set().union(*(adj[m] for m in d2s)) - d1s - d2s - {a})
                if d2s
                else set()
            )
            rows.append(
                (
                    a,
                    len(d1s),
                    len(d2s),
                    len(d3s),
                    len(d1s) * 1000000 + len(d2s) * 500000 + len(d3s) * 333333,
                )
            )
        return small_df(
            spark,
            rows,
            "nation STRING, n1 BIGINT, n2 BIGINT, n3 BIGINT, harmonic_micro BIGINT",
        )
    hop = lambda frontier: (
        frontier.select(F.col("a"), F.col("b").alias("m"))
        .join(u.select(F.col("a").alias("m"), F.col("b")), "m")
        .select("a", "b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    d2 = hop(u).join(u, ["a", "b"], "left_anti").localCheckpoint(eager=True)
    d3 = (
        hop(d2)
        .join(u, ["a", "b"], "left_anti")
        .join(d2, ["a", "b"], "left_anti")
    )
    counts = (
        u.select("a", F.lit(1).alias("n1"), F.lit(0).alias("n2"), F.lit(0).alias("n3"))
        .union(d2.select("a", F.lit(0), F.lit(1), F.lit(0)))
        .union(d3.select("a", F.lit(0), F.lit(0), F.lit(1)))
        .groupBy("a")
        .agg(
            F.sum("n1").cast("bigint").alias("n1"),
            F.sum("n2").cast("bigint").alias("n2"),
            F.sum("n3").cast("bigint").alias("n3"),
        )
    )
    return counts.select(
        F.col("a").alias("nation"),
        "n1",
        "n2",
        "n3",
        (F.col("n1") * 1000000 + F.col("n2") * 500000 + F.col("n3") * 333333)
        .cast("bigint")
        .alias("harmonic_micro"),
    )


@register(
    "graph_negative_samples",
    category="graph",
    plan_shape="scalar_broadcast",
    plan_reason="1-row vertex count broadcast drives the hash-modulo corruption index",
    oracle=f"""
WITH e AS (SELECT src, dst FROM ({_KCORE_THRESH_EDGES_SQL})),
nodes AS (
  SELECT node, row_number() OVER (ORDER BY node) - 1 AS idx
  FROM (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e) n),
nv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM nodes),
cand AS (
  SELECT e.src,
         ('0x' || substr(md5('neg:' || e.src || '|' || e.dst || '|'
                              || CAST(g.i AS VARCHAR)), 1, 8))::BIGINT % nv.v AS j
  FROM e CROSS JOIN nv
  CROSS JOIN (SELECT unnest([0, 1]) AS i) g),
corrupted AS (
  SELECT DISTINCT c.src, n.node AS neg_dst
  FROM cand c JOIN nodes n ON n.idx = c.j
  WHERE n.node <> c.src),
kept AS (
  SELECT c.src, c.neg_dst FROM corrupted c
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = c.src AND e.dst = c.neg_dst))
SELECT src, CAST(count(*) AS BIGINT) AS n_negatives,
       min(neg_dst) AS example_negative
FROM kept GROUP BY 1
""",
)
def graph_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for link-prediction training: each
    positive trade edge generates two hash-corrupted candidates (dst
    replaced by the node at index md5(src,dst,i) mod |V|), self-loops
    dropped and true edges anti-joined away — the corrupt-the-tail recipe
    every graph-embedding trainer (TransE/word2vec-style) uses, made
    reproducible by the repo's md5 convention instead of an RNG.
    Certified: per-source negative counts plus a deterministic example.

    Scale shape: candidate generation is per-EDGE work (2 rows each, no
    vertex² grid anywhere); the index lookup joins a |V|-row node table
    (broadcastable); the anti-join is edge-keyed. The node indexing uses
    one window over the |V|-row distinct-vertex table (dimension-bounded
    here; at web scale swap in the two-phase global rank). The 1-row
    vertex count is the declared scalar broadcast."""
    e = (
        _trade_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    tot = e.agg(F.sum("w").alias("s"), F.count(F.lit(1)).alias("c"))
    e = (
        e.crossJoin(F.broadcast(tot))
        .filter(F.col("w") * F.col("c") * 4 >= F.col("s") * 5)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    w_idx = Window.orderBy("node")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", (F.row_number().over(w_idx) - 1).alias("idx"))
    )
    nv = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    cand = (
        e.crossJoin(F.broadcast(nv))
        .select(
            "src",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("i"),
            "dst",
            "v",
        )
        .select(
            "src",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("neg:"), F.col("src"), F.lit("|"),
                                F.col("dst"), F.lit("|"), F.col("i").cast("string"),
                            )
                        ),
                        1, 8,
                    ),
                    16, 10,
                ).cast("bigint") % F.col("v")
            ).alias("j"),
        )
    )
    corrupted = (
        cand.join(F.broadcast(nodes), F.col("idx") == F.col("j"))
        .filter(F.col("node") != F.col("src"))
        .select("src", F.col("node").alias("neg_dst"))
        .distinct()
    )
    kept = corrupted.join(
        e.select("src", F.col("dst").alias("neg_dst")), ["src", "neg_dst"], "left_anti"
    )
    return kept.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_negatives"),
        F.min("neg_dst").alias("example_negative"),
    )


@register(
    "events_grid_dbscan",
    category="analytics",
    oracle="""
WITH RECURSIVE e AS (
  SELECT CAST(floor(value / 10.0) AS BIGINT) AS vb,
         CAST(extract(hour FROM ts) AS BIGINT) AS hb
  FROM events),
cells AS (SELECT vb, hb, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM e),
core AS (
  SELECT vb * 24 + hb AS cell, vb, hb, cnt
  FROM cells, tot WHERE cnt * 600 > t),
edges AS (
  SELECT a.cell AS ca, b.cell AS cb
  FROM core a JOIN core b
    ON abs(a.vb - b.vb) <= 1 AND abs(a.hb - b.hb) <= 1 AND a.cell <> b.cell),
walk(id, label) AS (
  SELECT cell, cell FROM core
  UNION
  SELECT e2.ca, w.label FROM edges e2 JOIN walk w ON e2.cb = w.id),
comp AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id)
SELECT CAST(comp.cluster_id AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(core.cnt) AS BIGINT) AS n_points
FROM comp JOIN core ON core.cell = comp.id
GROUP BY 1
""",
)
def events_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-based density clustering (the GriDBSCAN family) over the
    (value decade x hour-of-day) event grid: cells denser than 2x the
    uniform share are CORE (cross-multiplied integer threshold, so the
    criterion is scale-relative and SF-robust), 8-neighbor-adjacent core
    cells merge into clusters via the shared min-label connected
    components, and each cluster reports its cell and point mass — the
    hotspot map of a traffic surface. Cell-level convention (clusters =
    components of core cells) documented in place of per-point border
    assignment.

    Scale shape: one map-side-combinable groupBy to |grid| cells, pinned
    by a lazy ``localCheckpoint``; the point data is scanned exactly once,
    by that aggregate. The core cells then come to the driver. Within the
    cap, the one ``limit(cap + 1)`` collect of ``functions.driver_rows``
    brings the whole grid, and the point total and core test run over it.
    Past the cap, one aggregate over the checkpoint gives the total and
    one collect brings the core cells: fewer than 600 of them, since each
    holds more than 1/600 of a total they sum to at most. The tail
    runs on the driver either way: the +-1 value-bucket / +-1 hour
    neighbour pairs, the components (the star CC operator's own replay,
    ``dedup._star_replay``, O(log n) rounds on ANY diameter — plain
    min-label propagation hit max_iter on this grid's path-shaped cell
    graph) and the per-cluster roll-up, returned as one ``small_df``. A
    core cell with a NULL value bucket or hour has a NULL cell id, forms
    no pair, and lands in the one NULL ``cluster_id`` group.

    Determinism: floor(value/10) is an exactly-rounded IEEE op; all
    thresholds and labels are integers."""
    from arc_cassandra_pipeline_plugin_spark.functions import driver_rows, small_df
    from arc_cassandra_pipeline_plugin_spark.operators.dedup import (
        STAR_MAX_ITER,
        _star_replay,
        _warn_star_unconverged,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") / 10.0).cast("bigint").alias("vb"),
        F.hour("ts").cast("bigint").alias("hb"),
    )
    cells = (
        ev.groupBy("vb", "hb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    rows = driver_rows(cells)
    if rows is not None:
        total = sum(cnt for _, _, cnt in rows)
        core = [(vb, hb, cnt) for vb, hb, cnt in rows if cnt * 600 > total]
    else:
        total = cells.agg(F.coalesce(F.sum("cnt"), F.lit(0))).first()[0]
        core = [tuple(r) for r in cells.filter(F.col("cnt") * 600 > F.lit(total)).collect()]
    grid = {(vb, hb) for vb, hb, _ in core if vb is not None and hb is not None}
    pairs = [
        (vb * 24 + hb, vb2 * 24 + hb2)
        for vb, hb in grid
        for vb2 in (vb - 1, vb, vb + 1)
        for hb2 in (hb - 1, hb, hb + 1)
        if (vb2, hb2) in grid and vb * 24 + hb < vb2 * 24 + hb2
    ]
    label, converged = _star_replay(pairs, STAR_MAX_ITER)
    if not converged:
        _warn_star_unconverged(STAR_MAX_ITER)
    clusters: dict = {}
    for vb, hb, cnt in core:
        cell = vb * 24 + hb if (vb, hb) in grid else None
        acc = clusters.setdefault(label.get(cell, cell), [0, 0])
        acc[0] += 1
        acc[1] += cnt
    return small_df(
        spark,
        [(k, n, p) for k, (n, p) in clusters.items()],
        "cluster_id BIGINT, n_cells BIGINT NOT NULL, n_points BIGINT",
    )


_TEMPORAL_EDGES_SQL = """
SELECT n1.n_name AS src, n2.n_name AS dst,
       CAST(extract(year FROM o_orderdate) AS BIGINT) AS et
FROM lineitem
JOIN orders    ON o_orderkey = l_orderkey
JOIN supplier  ON s_suppkey  = l_suppkey
JOIN customer  ON c_custkey  = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name AND l_quantity >= 48
GROUP BY 1, 2, 3
"""


def _temporal_reach_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        temporal_earliest_arrival_oracle_sql,
    )

    sql = temporal_earliest_arrival_oracle_sql(
        _TEMPORAL_EDGES_SQL,
        """SELECT n_name AS node, CAST(1996 AS BIGINT) AS at
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey = 1""",
        rounds=3,
    )
    return f"SELECT node AS nation, CAST(at AS BIGINT) AS arrival_year FROM ({sql})"


def _temporal_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, et) temporal trade edges — the Spark twin of
    ``_TEMPORAL_EDGES_SQL`` shared by the temporal-reachability queries."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 48
    ).select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))), F.col("c_nationkey") == F.col("ck"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", F.year("o_orderdate").cast("bigint").alias("et"))
        .distinct()
    )


def _temporal_seed(spark: SparkSession, sf_dir: str, t0: int) -> DataFrame:
    """Supplier #1's nation seeded at year ``t0`` (data-derived seed so
    every SF has outgoing edges)."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") == 1)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("node"), F.lit(t0).cast("bigint").alias("t0"))
    )


@register("graph_temporal_reachability", category="graph", oracle=_temporal_reach_oracle())
def graph_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival reachability on the TEMPORAL trade graph (edge =
    supplier-nation -> customer-nation active in a given order year):
    from supplier #1's nation @ 1996 (data-derived seed so every SF has
    outgoing edges), the earliest year each nation can be reached by a
    time-RESPECTING path (edge years non-decreasing along the path) — the
    contagion/influence primitive where static reachability would
    overstate what temporal order allows (a 1999 edge cannot feed a 1998
    one).

    Scale shape: the edge build is the same multi-join as the trade
    graph RESTRICTED to rare high-quantity lineitems (sparse edges, so
    multi-hop time-respecting paths actually differ from 1-hop
    reachability), grouped map-side to (src, dst, year) triples; each of the 3
    relax rounds is one node-keyed join + min-aggregation
    (operators/graph.temporal_earliest_arrival — the sssp discipline:
    fixed round count, lineage cut per round, integer arrival times)."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        temporal_earliest_arrival,
    )

    edges = _temporal_trade_edges(spark, sf_dir)
    seeds = _temporal_seed(spark, sf_dir, 1996)
    # 25-nation dimension graph: the relaxation replays on the driver
    arr = temporal_earliest_arrival(edges, seeds, rounds=3)
    return arr.select(F.col("node").alias("nation"), F.col("at").cast("bigint").alias("arrival_year"))


_TEMPORAL_SPLIT_YEAR = 1995  # base = edges with et <= split, delta = the rest


def _temporal_incremental_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        temporal_earliest_arrival_oracle_sql,
    )

    # the oracle is the FULL recompute over all edges, run to fixpoint
    # (rounds=8 >> the trade graph's earliest-arrival hop diameter); the
    # Spark side is the base+delta INCREMENTAL schedule — equality of the
    # two is exactly the incremental-maintenance contract under test
    sql = temporal_earliest_arrival_oracle_sql(
        _TEMPORAL_EDGES_SQL,
        """SELECT n_name AS node, CAST(1992 AS BIGINT) AS at
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey = 1""",
        rounds=8,
    )
    return f"SELECT node AS nation, CAST(at AS BIGINT) AS arrival_year FROM ({sql})"


@register(
    "graph_temporal_reachability_incremental",
    category="graph",
    oracle=_temporal_incremental_oracle(),
)
def graph_temporal_reachability_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of temporal earliest-arrival: edges are
    split at year {split} into a BASE batch (et <= {split}) and a DELTA
    batch (et > {split}); the base fixpoint is computed once, then ONLY
    the delta edges are relaxed, seeded by the base arrivals. This is
    sound because a time-respecting path can never return from a delta
    edge to a base edge (after traversing et >= {split}+1 the arrival
    exceeds every base edge time), so every optimal path is a base prefix
    + delta suffix — the incremental_view_maintenance discipline applied
    to the temporal-graph iterate: arriving data only relaxes FORWARD in
    time, so yesterday's fixpoint is never invalidated.

    The oracle is the FULL recompute over all edges at fixpoint —
    certification proves incremental == full, not merely that both
    engines agree on one schedule. (rounds=8 per phase: optimal
    earliest-arrival paths are simple, and the 25-nation trade graph's
    hop diameter is far below 8 — the equivalence pytest asserts the
    fixpoint is reached.)

    Scale shape: identical to graph_temporal_reachability per round; the
    point of the split is that the 100 TB-scale base batch is touched
    ONCE, and each new day's delta batch costs only its own relaxation
    rounds over the O(V) arrival vector.""".format(split=_TEMPORAL_SPLIT_YEAR)
    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        temporal_earliest_arrival,
    )

    edges = _temporal_trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    seeds = _temporal_seed(spark, sf_dir, 1992)
    base = edges.filter(F.col("et") <= _TEMPORAL_SPLIT_YEAR)
    delta = edges.filter(F.col("et") > _TEMPORAL_SPLIT_YEAR)
    arr_base = temporal_earliest_arrival(base, seeds, rounds=8)
    arr = temporal_earliest_arrival(
        delta, arr_base.select("node", F.col("at").alias("t0")), rounds=8
    )
    return arr.select(
        F.col("node").alias("nation"), F.col("at").cast("bigint").alias("arrival_year")
    )
