"""Statistical / ML-adjacent certified queries (round 4, late wave).

Time-series diagnostics (autocorrelation, rolling median, seasonal
decomposition), text readability, chi-squared keyword selection, decision
stump induction, target encoding — each expressed as exact integer
aggregation followed by a FIXED-SHAPE double expression (every +,-,*,/ and
sqrt on doubles is IEEE correctly-rounded, so identical integer inputs and
an identical expression tree produce bit-identical doubles on Spark and
DuckDB; no accumulation-order drift is possible because floats never enter
an aggregate).

Reference parity: the reference plugin (417-line Scala shell,
``src/main/scala/.../CassandraLoad.scala``) delegates all query semantics
to Spark SQL; these queries certify the delegated-analytics surface a
pipeline user would run through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from arc_cassandra_pipeline_plugin_spark.queries import register
from arc_cassandra_pipeline_plugin_spark.sources import load_table


# --------------------------------------------------------------------------
# autocorrelation of daily activity per event type (lags 1..3)
# --------------------------------------------------------------------------


@register(
    "timeseries_acf",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, y,
         lag(y, 1) OVER w AS y1,
         lag(y, 2) OVER w AS y2,
         lag(y, 3) OVER w AS y3
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
sums AS (
  SELECT event_type,
         count(y1) AS n1, CAST(sum(y1) AS BIGINT) AS sx1,
         CAST(sum(y) FILTER (WHERE y1 IS NOT NULL) AS BIGINT) AS sy1,
         CAST(sum(y * y1) AS BIGINT) AS sxy1,
         CAST(sum(y1 * y1) AS BIGINT) AS sxx1,
         CAST(sum(y * y) FILTER (WHERE y1 IS NOT NULL) AS BIGINT) AS syy1,
         count(y2) AS n2, CAST(sum(y2) AS BIGINT) AS sx2,
         CAST(sum(y) FILTER (WHERE y2 IS NOT NULL) AS BIGINT) AS sy2,
         CAST(sum(y * y2) AS BIGINT) AS sxy2,
         CAST(sum(y2 * y2) AS BIGINT) AS sxx2,
         CAST(sum(y * y) FILTER (WHERE y2 IS NOT NULL) AS BIGINT) AS syy2,
         count(y3) AS n3, CAST(sum(y3) AS BIGINT) AS sx3,
         CAST(sum(y) FILTER (WHERE y3 IS NOT NULL) AS BIGINT) AS sy3,
         CAST(sum(y * y3) AS BIGINT) AS sxy3,
         CAST(sum(y3 * y3) AS BIGINT) AS sxx3,
         CAST(sum(y * y) FILTER (WHERE y3 IS NOT NULL) AS BIGINT) AS syy3
  FROM lagged GROUP BY event_type),
stacked AS (
  SELECT event_type, 1 AS lag, n1 AS n, sx1 AS sx, sy1 AS sy,
         sxy1 AS sxy, sxx1 AS sxx, syy1 AS syy FROM sums
  UNION ALL
  SELECT event_type, 2, n2, sx2, sy2, sxy2, sxx2, syy2 FROM sums
  UNION ALL
  SELECT event_type, 3, n3, sx3, sy3, sxy3, sxx3, syy3 FROM sums)
SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
            THEN round((CAST(n AS DOUBLE) * sxy
                        - CAST(sx AS DOUBLE) * sy)
                       / sqrt((CAST(n AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                              * (CAST(n AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy)), 6) END AS acf
FROM stacked
""",
)
def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily-total series per event type at lags
    1–3 — the stationarity probe run before fitting any forecasting model
    on activity data.

    Daily totals are exact cents (bigint); the Pearson numerator and
    denominator are assembled from exact integer sums (n, Σx, Σy, Σxy,
    Σx², Σy²) computed in ONE pass (lag columns + FILTER aggregates — one
    event_type-keyed shuffle for the window, one for the aggregate, no
    self-join), then combined in a fixed-shape double expression whose
    every operation is IEEE correctly-rounded, so both engines produce
    bit-identical doubles. Lags index the *observed* day sequence (gaps
    collapse), which is the standard treatment for activity series."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 2).over(w).alias("y2"),
        F.lag("y", 3).over(w).alias("y3"),
    )
    aggs = []
    for k in (1, 2, 3):
        yk = F.col(f"y{k}")
        present = yk.isNotNull()
        aggs += [
            F.count(yk).alias(f"n{k}"),
            F.sum(yk).cast("bigint").alias(f"sx{k}"),
            F.sum(F.when(present, F.col("y"))).cast("bigint").alias(f"sy{k}"),
            F.sum(F.col("y") * yk).cast("bigint").alias(f"sxy{k}"),
            F.sum(yk * yk).cast("bigint").alias(f"sxx{k}"),
            F.sum(F.when(present, F.col("y") * F.col("y")))
            .cast("bigint")
            .alias(f"syy{k}"),
        ]
    sums = lagged.groupBy("event_type").agg(*aggs)
    parts = [
        sums.select(
            "event_type",
            F.lit(k).cast("int").alias("lag"),
            F.col(f"n{k}").alias("n"),
            F.col(f"sx{k}").alias("sx"),
            F.col(f"sy{k}").alias("sy"),
            F.col(f"sxy{k}").alias("sxy"),
            F.col(f"sxx{k}").alias("sxx"),
            F.col(f"syy{k}").alias("syy"),
        )
        for k in (1, 2, 3)
    ]
    stacked = parts[0].unionAll(parts[1]).unionAll(parts[2])
    nd = F.col("n").cast("double")
    varx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return stacked.select(
        "event_type",
        "lag",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.when(varx * vary > 0, F.round(num / F.sqrt(varx * vary), 6)).alias("acf"),
    )


# --------------------------------------------------------------------------
# rolling exact median of daily spend per user
# --------------------------------------------------------------------------


@register(
    "timeseries_rolling_median",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2)
SELECT user_id, day,
       CAST(count(*) OVER w AS BIGINT) AS n_days,
       round(median(y) OVER w, 6) AS med_cents,
       CAST(min(y) OVER w AS BIGINT) AS min_cents,
       CAST(max(y) OVER w AS BIGINT) AS max_cents
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def timeseries_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-observation EXACT median of daily spend per user — the
    robust rolling center that a mean-based feature can't give you when a
    single whale day distorts the window.

    The median is the exact interpolated percentile over at most 7 integer
    cent values held in the frame (state bounded by the frame, one
    user-keyed shuffle); integer inputs make the 0.5-interpolation land on
    .0/.5 exactly in both engines. min/max ride the same frame for free."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "user_id",
        "day",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_days"),
        F.round(F.expr("percentile(y, 0.5)").over(w), 6).alias("med_cents"),
        F.min("y").over(w).cast("bigint").alias("min_cents"),
        F.max("y").over(w).cast("bigint").alias("max_cents"),
    )


# --------------------------------------------------------------------------
# additive seasonal decomposition of daily order revenue
# --------------------------------------------------------------------------


@register(
    "timeseries_seasonal_decompose",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
trended AS (
  SELECT day, y,
         CASE WHEN count(*) OVER w = 7
              THEN CAST(sum(y) OVER w AS BIGINT) END AS sum7,
         CAST(isodow(day) AS INT) AS wd
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
seasonal AS (
  SELECT wd,
         CAST(sum(7 * y - sum7) AS BIGINT) AS s_num,
         CAST(7 * count(*) AS BIGINT) AS s_den
  FROM trended WHERE sum7 IS NOT NULL GROUP BY wd)
SELECT t.day, CAST(t.y AS BIGINT) AS y_cents,
       CAST(round(CAST(t.sum7 AS DOUBLE) * 1000 / 7) AS BIGINT) AS trend_mc,
       CAST(round(CAST(s.s_num AS DOUBLE) * 1000 / s.s_den) AS BIGINT)
         AS seasonal_mc,
       CASE WHEN t.sum7 IS NOT NULL
            THEN CAST(round((7 * CAST(s.s_den AS DOUBLE) * t.y
                             - CAST(s.s_den AS DOUBLE) * t.sum7
                             - 7 * CAST(s.s_num AS DOUBLE)) * 1000
                            / (7 * CAST(s.s_den AS DOUBLE))) AS BIGINT)
            END AS residual_mc
FROM trended t JOIN seasonal s ON t.wd = s.wd
""",
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily order revenue into trend
    (centered 7-day moving average), day-of-week seasonal component, and
    residual — the decomposition every revenue-anomaly monitor starts from.

    Everything is assembled from exact integers: daily revenue in cents,
    trend as the UNDIVIDED 7-day sum (only full windows), the seasonal
    component as the rational Σ(7y − sum7) / (7·count) per weekday, and
    the residual collapsed to a SINGLE division with common denominator
    7·s_den — and every emitted component is an exact integer MILLI-CENT
    (``round()`` to an integer is unambiguous across engines, unlike
    fractional-dp rounding of 15-significant-digit doubles, which diverges
    between Spark's exact-expansion HALF_UP and DuckDB's scaled nearbyint
    — measured at sf0.01). The seasonal table is
    7 rows, joined back by broadcast; the detrending window is a single
    unpartitioned pass over ~O(days) rows, bounded by the calendar, not
    the data (the same posture as the other intentional global windows
    under ``test_unpartitioned_windows_sit_above_bounded_inputs``)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "y",
        F.when(F.count(F.lit(1)).over(w) == 7, F.sum("y").over(w).cast("bigint"))
        .alias("sum7"),
        # ISO weekday (Mon=1..Sun=7) matches DuckDB's isodow.
        F.expr("CAST(weekday(day) + 1 AS INT)").alias("wd"),
    )
    seasonal = (
        trended.where(F.col("sum7").isNotNull())
        .groupBy("wd")
        .agg(
            F.sum(7 * F.col("y") - F.col("sum7")).cast("bigint").alias("s_num"),
            (F.lit(7) * F.count(F.lit(1))).cast("bigint").alias("s_den"),
        )
    )
    j = trended.join(F.broadcast(seasonal), "wd")
    s_den_d = F.col("s_den").cast("double")
    return j.select(
        "day",
        F.col("y").cast("bigint").alias("y_cents"),
        F.round(F.col("sum7").cast("double") * 1000 / 7)
        .cast("bigint")
        .alias("trend_mc"),
        F.round(F.col("s_num").cast("double") * 1000 / F.col("s_den"))
        .cast("bigint")
        .alias("seasonal_mc"),
        F.when(
            F.col("sum7").isNotNull(),
            F.round(
                (
                    7 * s_den_d * F.col("y")
                    - s_den_d * F.col("sum7")
                    - 7 * F.col("s_num").cast("double")
                )
                * 1000
                / (7 * s_den_d)
            ).cast("bigint"),
        ).alias("residual_mc"),
    )


# --------------------------------------------------------------------------
# readability scoring (sentence-free FORCAST family)
# --------------------------------------------------------------------------


@register(
    "text_readability",
    category="text",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS token
  FROM documents),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS words,
         CAST(sum(len(regexp_extract_all(token, '[aeiou]+', 0))) AS BIGINT)
           AS syllables,
         CAST(sum(CASE WHEN len(regexp_extract_all(token, '[aeiou]+', 0)) = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS mono,
         CAST(sum(CASE WHEN length(token) >= 7 THEN 1 ELSE 0 END) AS BIGINT)
           AS long_words
  FROM toks GROUP BY doc_id)
SELECT doc_id, words, syllables, mono, long_words,
       CAST(round((20.0 - (CAST(mono AS DOUBLE) * 15.0)
                   / CAST(words AS DOUBLE)) * 1000000.0) AS BIGINT)
         AS forcast_micro,
       CAST(round((CAST(syllables AS DOUBLE)
                   / CAST(words AS DOUBLE)) * 1000000.0) AS BIGINT)
         AS spw_micro,
       CAST(round((CAST(long_words AS DOUBLE) * 100.0
                   / CAST(words AS DOUBLE)) * 1000000.0) AS BIGINT)
         AS longpct_micro
FROM per_doc
""",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-free readability features per document: FORCAST grade
    (20 - 15*monosyllabic/words — the military-manual formula that needs no
    sentence boundaries, which this corpus lacks), syllables-per-word, and
    long-word share (LIX's second term).

    Vowel-group count is the standard syllable proxy; every score is an
    exact integer micro-unit (integer-rounding of a fixed-shape double over
    exact counts — identical on both engines, unlike fractional-dp rounding
    of doubles). One token explode, one map-side-combinable groupBy; regex
    stays JVM-side (identical [a-z]+ / [aeiou]+ semantics in Java regex and
    RE2). Reference parity: delegated-analytics surface
    (src/main/scala/.../SQLTransform semantics)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("token"),
    )
    sy = F.size(F.expr("regexp_extract_all(token, '[aeiou]+', 0)"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("words"),
        F.sum(sy).cast("bigint").alias("syllables"),
        F.sum(F.when(sy == 1, 1).otherwise(0)).cast("bigint").alias("mono"),
        F.sum(F.when(F.length("token") >= 7, 1).otherwise(0))
        .cast("bigint")
        .alias("long_words"),
    )
    # Identical expression text on both engines -> identical double tree.
    return per_doc.select(
        "doc_id",
        "words",
        "syllables",
        "mono",
        "long_words",
        F.expr(
            "CAST(round((20.0 - (CAST(mono AS DOUBLE) * 15.0)"
            " / CAST(words AS DOUBLE)) * 1000000.0) AS BIGINT)"
        ).alias("forcast_micro"),
        F.expr(
            "CAST(round((CAST(syllables AS DOUBLE)"
            " / CAST(words AS DOUBLE)) * 1000000.0) AS BIGINT)"
        ).alias("spw_micro"),
        F.expr(
            "CAST(round((CAST(long_words AS DOUBLE) * 100.0"
            " / CAST(words AS DOUBLE)) * 1000000.0) AS BIGINT)"
        ).alias("longpct_micro"),
    )


# --------------------------------------------------------------------------
# chi-squared keyword selection per language
# --------------------------------------------------------------------------

_CHI2_SQL = (
    "CAST(round((CAST(n_docs AS DOUBLE)"
    " * CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)"
    " / (CAST(df_t AS DOUBLE) * CAST(n_docs - df_t AS DOUBLE)"
    "    * CAST(n_l AS DOUBLE) * CAST(n_docs - n_l AS DOUBLE)))"
    " * 1000000.0) AS BIGINT)"
)


@register(
    "text_chi2_keywords",
    category="text",
    plan_shape="scalar_broadcast",
    plan_reason="broadcast 1-row corpus doc-count total onto the (token,lang) table",
    oracle=f"""
WITH pres AS (
  SELECT DISTINCT doc_id, lang,
         unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS token
  FROM documents),
tl AS (SELECT token, lang, CAST(count(*) AS BIGINT) AS a
       FROM pres GROUP BY 1, 2),
tok AS (SELECT token, CAST(sum(a) AS BIGINT) AS df_t FROM tl GROUP BY 1),
lg AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_l
       FROM pres GROUP BY 1),
tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM pres),
cells AS (
  SELECT tl.token, tl.lang, tl.a, tok.df_t - tl.a AS b, lg.n_l - tl.a AS c,
         tot.n_docs - lg.n_l - (tok.df_t - tl.a) AS d,
         tok.df_t, lg.n_l, tot.n_docs
  FROM tl JOIN tok USING (token) JOIN lg USING (lang) CROSS JOIN tot
  WHERE tok.df_t >= 5 AND tok.df_t < tot.n_docs
        AND tl.a * tot.n_docs > tok.df_t * lg.n_l),
scored AS (SELECT token, lang, a, {_CHI2_SQL} AS chi2_micro FROM cells)
SELECT lang, CAST(rank AS INT) AS rank, token,
       CAST(a AS BIGINT) AS df_in_lang, chi2_micro
FROM (SELECT *, row_number() OVER (PARTITION BY lang
        ORDER BY chi2_micro DESC, token ASC) AS rank FROM scored)
WHERE rank <= 10
""",
)
def text_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 keywords per language by chi-squared association — the
    classic supervised feature-selection statistic over the (token in doc)
    x (doc in class) contingency table, restricted to positively-associated
    tokens (observed > expected).

    With margins a+b=df_t, a+c=n_l the statistic collapses to
    N(ad-bc)^2 / (df_t (N-df_t) n_l (N-n_l)) — all eight inputs exact
    BIGINT counts, the score a fixed-shape double rounded to an integer
    micro-unit (the chi2 expression is the SAME SQL text on both engines).
    Presence table is one explode + DISTINCT; margin tables are
    map-side-combinable aggregates of it, joined back (token/lang margins
    are vocabulary- and label-sized — broadcastable at any corpus scale);
    the top-k window partitions by lang. min-df 5 drops unstable cells."""
    docs = load_table(spark, sf_dir, "documents")
    pres = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("token"),
        )
        .distinct()
        .localCheckpoint()
    )
    tl = pres.groupBy("token", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    tok = tl.groupBy("token").agg(F.sum("a").cast("bigint").alias("df_t"))
    lg = pres.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_l")
    )
    tot = pres.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    cells = (
        tl.join(F.broadcast(tok), "token")
        .join(F.broadcast(lg), "lang")
        .crossJoin(F.broadcast(tot))
        .where(
            (F.col("df_t") >= 5)
            & (F.col("df_t") < F.col("n_docs"))
            & (F.col("a") * F.col("n_docs") > F.col("df_t") * F.col("n_l"))
        )
        .select(
            "token",
            "lang",
            "a",
            (F.col("df_t") - F.col("a")).alias("b"),
            (F.col("n_l") - F.col("a")).alias("c"),
            (
                F.col("n_docs") - F.col("n_l") - (F.col("df_t") - F.col("a"))
            ).alias("d"),
            "df_t",
            "n_l",
            "n_docs",
        )
    )
    scored = cells.select(
        "token", "lang", "a", F.expr(_CHI2_SQL).alias("chi2_micro")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("chi2_micro").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "lang",
            F.col("rank").cast("int").alias("rank"),
            "token",
            F.col("a").cast("bigint").alias("df_in_lang"),
            "chi2_micro",
        )
    )


# --------------------------------------------------------------------------
# decision stump induction (best Gini split per source)
# --------------------------------------------------------------------------

_GAIN_SQL = (
    "CAST(round(("
    "  (1.0 - (CAST(pos AS DOUBLE) * CAST(pos AS DOUBLE)"
    "          + CAST(n - pos AS DOUBLE) * CAST(n - pos AS DOUBLE))"
    "         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    "  - (CAST(n_l AS DOUBLE)"
    "       * (1.0 - (CAST(pos_l AS DOUBLE) * CAST(pos_l AS DOUBLE)"
    "                 + CAST(n_l - pos_l AS DOUBLE)"
    "                   * CAST(n_l - pos_l AS DOUBLE))"
    "                / (CAST(n_l AS DOUBLE) * CAST(n_l AS DOUBLE)))"
    "     + CAST(n - n_l AS DOUBLE)"
    "       * (1.0 - (CAST(pos - pos_l AS DOUBLE)"
    "                   * CAST(pos - pos_l AS DOUBLE)"
    "                 + CAST((n - n_l) - (pos - pos_l) AS DOUBLE)"
    "                   * CAST((n - n_l) - (pos - pos_l) AS DOUBLE))"
    "                / (CAST(n - n_l AS DOUBLE) * CAST(n - n_l AS DOUBLE))))"
    "    / CAST(n AS DOUBLE)"
    ") * 1000000.0) AS BIGINT)"
)

_THR_SQL = "CAST(floor((mn * (16 - k) + mx * k) / 16.0) AS BIGINT)"


@register(
    "ml_decision_stump",
    category="ml",
    oracle=f"""
WITH stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(min(n_chars) AS BIGINT) AS mn,
         CAST(max(n_chars) AS BIGINT) AS mx
  FROM documents GROUP BY source),
grid AS (
  SELECT d.source, d.n_chars, d.lang, s.n, s.pos, g.k,
         {_THR_SQL} AS thr
  FROM documents d
  JOIN stats s USING (source)
  CROSS JOIN (SELECT unnest(generate_series(1, 15)) AS k) g),
counts AS (
  SELECT source, k, thr, n, pos,
         CAST(sum(CASE WHEN n_chars <= thr THEN 1 ELSE 0 END) AS BIGINT)
           AS n_l,
         CAST(sum(CASE WHEN n_chars <= thr AND lang = 'en'
                       THEN 1 ELSE 0 END) AS BIGINT) AS pos_l
  FROM grid GROUP BY 1, 2, 3, 4, 5),
scored AS (
  SELECT source, k, thr, n, pos, n_l, pos_l, {_GAIN_SQL} AS gain_micro
  FROM counts WHERE n_l > 0 AND n_l < n)
SELECT source, thr, n, pos, n_l, pos_l, gain_micro
FROM (SELECT *, row_number() OVER (PARTITION BY source
        ORDER BY gain_micro DESC, thr ASC, k ASC) AS rn FROM scored)
WHERE rn = 1
""",
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump induction per source: the n_chars threshold (from a
    16-point min/max grid) that maximizes Gini impurity reduction for
    predicting lang='en' — the weak learner at the bottom of every boosted
    ensemble, expressed as pure aggregation.

    Candidate thresholds come from per-source min/max (driver sees
    nothing); each doc fans out to the 15 grid points and a single
    map-side-combinable groupBy yields exact BIGINT split counts, so the
    shuffle is O(sources x 15), independent of corpus size. The Gini gain
    is one fixed-shape double expression over six exact integers — the
    SAME SQL text on both engines — rounded to an integer micro-unit;
    ties broken by (threshold, grid index) for a deterministic argmax."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", "lang"
    )
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
        F.min("n_chars").cast("bigint").alias("mn"),
        F.max("n_chars").cast("bigint").alias("mx"),
    )
    grid = (
        docs.join(F.broadcast(stats), "source")
        .select(
            "source",
            "n_chars",
            "lang",
            "n",
            "pos",
            "mn",
            "mx",
            F.explode(F.sequence(F.lit(1), F.lit(15))).alias("k"),
        )
        .withColumn("thr", F.expr(_THR_SQL))
        .drop("mn", "mx")
    )
    counts = grid.groupBy("source", "k", "thr", "n", "pos").agg(
        F.sum(F.when(F.col("n_chars") <= F.col("thr"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_l"),
        F.sum(
            F.when(
                (F.col("n_chars") <= F.col("thr")) & (F.col("lang") == "en"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("pos_l"),
    )
    scored = counts.where(
        (F.col("n_l") > 0) & (F.col("n_l") < F.col("n"))
    ).withColumn("gain_micro", F.expr(_GAIN_SQL))
    w = Window.partitionBy("source").orderBy(
        F.col("gain_micro").desc(), F.col("thr").asc(), F.col("k").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", "thr", "n", "pos", "n_l", "pos_l", "gain_micro")
    )


# --------------------------------------------------------------------------
# leave-one-out + smoothed target encoding
# --------------------------------------------------------------------------

_SMOOTH_SQL = (
    "CAST(round(((CAST(s AS DOUBLE)"
    " + 20.0 * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))"
    " / (CAST(n AS DOUBLE) + 20.0)) * 1000.0) AS BIGINT)"
)

_LOO_SQL = (
    "CASE WHEN n > 1 THEN CAST(round((CAST(s - cents AS DOUBLE) * 1000.0)"
    " / CAST(n - 1 AS DOUBLE)) AS BIGINT) END"
)


@register(
    "ml_target_encoding",
    category="ml",
    plan_shape="scalar_broadcast",
    plan_reason="broadcast 1-row global moments (prior mean) onto every group",
    oracle=f"""
WITH base AS (
  SELECT o.o_orderkey, c.c_nationkey,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
stats AS (
  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s
  FROM base GROUP BY 1),
gtot AS (
  SELECT CAST(count(*) AS BIGINT) AS gn, CAST(sum(cents) AS BIGINT) AS gs
  FROM base)
SELECT b.o_orderkey, b.c_nationkey, stats.n AS n_cat,
       {_SMOOTH_SQL} AS smooth_mc,
       {_LOO_SQL} AS loo_mc
FROM base b JOIN stats USING (c_nationkey) CROSS JOIN gtot
""",
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target encoding of customer nation against order value, emitted
    row-level in the two leakage-aware forms every tabular-ML pipeline
    needs: additive-smoothed category mean (m=20 pseudo-observations of
    the global mean) and the leave-one-out mean that excludes the row's
    own target.

    Targets are exact integer cents; category and global moments are
    map-side-combinable aggregates (category table is nation-sized ->
    broadcast back; global is one row via crossJoin). Encodings are
    fixed-shape double expressions over exact BIGINTs — SAME SQL text on
    both engines — rounded to integer milli-cents. The one data-sized
    shuffle is the orders-customer key join; at warehouse scale the
    customer side prunes to (custkey, nationkey) before it."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    base = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select("o_orderkey", "c_nationkey", "cents").localCheckpoint()
    stats = base.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    glob = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("gn"),
        F.sum("cents").cast("bigint").alias("gs"),
    )
    return (
        base.join(F.broadcast(stats), "c_nationkey")
        .crossJoin(F.broadcast(glob))
        .select(
            "o_orderkey",
            "c_nationkey",
            F.col("n").alias("n_cat"),
            F.expr(_SMOOTH_SQL).alias("smooth_mc"),
            F.expr(_LOO_SQL).alias("loo_mc"),
        )
    )


# --------------------------------------------------------------------------
# batch-perceptron linear classifier training
# --------------------------------------------------------------------------


def _perceptron_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.linalg import (
        perceptron_oracle_sql,
    )

    base = (
        "SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE -1 END AS y, "
        "embedding FROM embeddings"
    )
    return perceptron_oracle_sql(base, rounds=3, dim=64)


@register("ml_perceptron_train", category="ml", oracle=_perceptron_oracle())
def ml_perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-perceptron training (operators/linalg.perceptron_train) on
    the embeddings table: three full-batch rounds learning to separate
    labels 0-4 from 5-9, returning the integer weight vector (bias at
    d=0) and the final misclassified count — distributed linear-classifier
    training as pure integer aggregation, certified against the identical
    rounds unrolled as CTEs."""
    from arc_cassandra_pipeline_plugin_spark.operators.linalg import (
        perceptron_train,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.when(F.col("label") < 5, 1).otherwise(-1).alias("y"),
        "embedding",
    )
    return perceptron_train(emb, rounds=3)


@register(
    "text_repetition_topngram",
    category="text",
    oracle="""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+', 0) AS t
  FROM documents),
big AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)),
                                       i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM toks WHERE len(t) >= 2),
cnt AS (
  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
  FROM big GROUP BY 1, 2),
ranked AS (
  SELECT doc_id, bg, c,
         CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS total,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, bg ASC) AS rn
  FROM cnt)
SELECT doc_id, bg AS top_bigram, c AS top_cnt, total AS total_bigrams,
       round(CAST(c AS DOUBLE) / total, 6) AS top_frac
FROM ranked WHERE rn = 1
""",
)
def text_repetition_topngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/Dolma-style repetition quality signal: per document, the
    most frequent word bigram and the fraction of all bigrams it accounts
    for — boilerplate and spam concentrate probability mass on one n-gram,
    clean prose spreads it out; curation pipelines threshold on top_frac.

    Scale shape: bigrams are built ENGINE-SIDE from the token array
    (transform over an index sequence — no window, no second shuffle for
    adjacency), exploded, and counted with one (doc_id, bigram)-keyed
    map-side-combinable aggregation; the argmax + doc total are one
    doc-partitioned window over doc-bounded groups. The fraction is one
    exact-integer division rounded at 6 dp, identical on both engines."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("t"),
    ).filter(F.size("t") >= 2)
    big = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))")
        ).alias("bg"),
    )
    cnt = big.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w_tot = Window.partitionBy("doc_id")
    w_rn = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("bg").asc())
    return (
        cnt.withColumn("total", F.sum("c").over(w_tot).cast("bigint"))
        .withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("bg").alias("top_bigram"),
            F.col("c").alias("top_cnt"),
            F.col("total").alias("total_bigrams"),
            F.round(F.col("c").cast("double") / F.col("total"), 6).alias("top_frac"),
        )
    )


@register(
    "ml_pr_curve",
    category="ml",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang = 'en' AS pos,
         CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+', 0),
                              t -> t = 'the')) AS BIGINT) * 10000
           // CAST(greatest(len(regexp_extract_all(lower(text), '[a-z]+', 0)),
                            1) AS BIGINT) AS score
  FROM documents),
ranked AS (
  SELECT pos, ntile(10) OVER (ORDER BY score DESC, doc_id ASC) AS decile
  FROM scored),
agg AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM ranked GROUP BY 1),
cum AS (
  SELECT decile,
         CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS n_at_k,
         CAST(sum(tp) OVER (ORDER BY decile) AS BIGINT) AS tp_at_k,
         CAST(sum(tp) OVER () AS BIGINT) AS pos_total
  FROM agg)
SELECT CAST(decile AS INT) AS decile, n_at_k, tp_at_k,
       round(CAST(tp_at_k AS DOUBLE) / n_at_k, 6) AS precision_at_k,
       round(CAST(tp_at_k AS DOUBLE) / pos_total, 6) AS recall_at_k
FROM cum
""",
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve at decile cutoffs for a ranking scorer —
    the evaluation table behind every classifier-threshold decision,
    certified exactly. Scorer: integer 'the'-rate per 10k tokens as an
    English detector; ground truth lang = 'en'.

    Exactness: the score is a pure-integer ratio (no floats rank the
    docs), the ranking has a total order (score DESC, doc_id ASC), decile
    assignment is standard ntile (identical remainder semantics in both
    engines), and precision/recall are single exact-integer divisions
    rounded at 6 dp. Scale shape: one tokenize pass; decile assignment is
    the TWO-PHASE bucketed ntile (operators/ranking.global_ntile — GK
    boundaries + partitioned windows + O(buckets) offsets, no
    single-partition sort); one 10-row cumulative window."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("pos"),
        F.expr(
            "CAST(size(filter(regexp_extract_all(lower(text), '[a-z]+', 0),"
            " t -> t = 'the')) AS BIGINT) * 10000"
            " div CAST(greatest(size(regexp_extract_all(lower(text),"
            " '[a-z]+', 0)), 1) AS BIGINT)"
        ).alias("score"),
    )
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import global_ntile

    # two-phase exact ntile (operators/ranking.py): range-bucket on the
    # (negated) score, partitioned windows only — no single-partition
    # global sort at any scale. Negation turns score DESC into the
    # operator's ascending order; (score, doc_id) is a total order.
    ranked = global_ntile(
        scored.withColumn("neg_score", -F.col("score")),
        "neg_score",
        ["doc_id"],
        10,
        out_col="decile",
    ).select("pos", "decile")
    agg = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("tp"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = agg.select(
        F.col("decile").cast("int").alias("decile"),
        F.sum("n").over(w_cum).cast("bigint").alias("n_at_k"),
        F.sum("tp").over(w_cum).cast("bigint").alias("tp_at_k"),
        F.sum("tp").over(w_all).cast("bigint").alias("pos_total"),
    )
    return cum.select(
        "decile",
        "n_at_k",
        "tp_at_k",
        F.round(F.col("tp_at_k").cast("double") / F.col("n_at_k"), 6).alias("precision_at_k"),
        F.round(F.col("tp_at_k").cast("double") / F.col("pos_total"), 6).alias("recall_at_k"),
    )


@register(
    "ml_ols_two_feature",
    category="ml",
    oracle="""
WITH feat AS (
  SELECT l_orderkey AS k,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x1,
         CAST(count(*) AS BIGINT) AS x2
  FROM lineitem GROUP BY 1),
base AS (
  SELECT f.x1, f.x2,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS y
  FROM feat f JOIN orders o ON o.o_orderkey = f.k),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(x1 * y) AS BIGINT) AS s1y,
         CAST(sum(x2 * y) AS BIGINT) AS s2y
  FROM base)
SELECT n,
       round((CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
              - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)
              + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2y))
             / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
                - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
                + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2)), 6)
         AS beta0,
       round((CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)
              - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
              + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2))
             / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
                - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
                + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2)), 6)
         AS beta1,
       round((CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s12)
              - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2)
              + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2))
             / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
                - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
                + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2)), 6)
         AS beta2
FROM s
""",
)
def ml_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature linear regression (intercept + total quantity + line
    count predicting order value in cents) solved in closed form by
    Cramer's rule on the 3x3 normal equations — the distributed-OLS
    pattern: ONE map-side-combinable aggregation collects the 9 exact
    integer moments (n, Sx1, Sx2, Sy, Sx1x1, Sx1x2, Sx2x2, Sx1y, Sx2y),
    and each coefficient is a fixed-shape double expression over them, so
    both engines produce bit-identical betas from identical integers (the
    bigint->double casts and every +,-,*,/ are IEEE correctly-rounded
    with an identical expression tree). No gradient loop, no float
    aggregation, one shuffle on the order key + one 1-row reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    feat = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("x1"),
        F.count(F.lit(1)).cast("bigint").alias("x2"),
    )
    base = feat.join(orders, feat.k == orders.o_orderkey).select(
        "x1", "x2",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("y"),
    )
    s = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("s2y"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    det = (
        d("n") * (d("s11") * F.col("s22") - d("s12") * F.col("s12"))
        - d("s1") * (d("s1") * F.col("s22") - d("s12") * F.col("s2"))
        + d("s2") * (d("s1") * F.col("s12") - d("s11") * F.col("s2"))
    )
    det0 = (
        d("sy") * (d("s11") * F.col("s22") - d("s12") * F.col("s12"))
        - d("s1") * (d("s1y") * F.col("s22") - d("s12") * F.col("s2y"))
        + d("s2") * (d("s1y") * F.col("s12") - d("s11") * F.col("s2y"))
    )
    det1 = (
        d("n") * (d("s1y") * F.col("s22") - d("s12") * F.col("s2y"))
        - d("sy") * (d("s1") * F.col("s22") - d("s12") * F.col("s2"))
        + d("s2") * (d("s1") * F.col("s2y") - d("s1y") * F.col("s2"))
    )
    det2 = (
        d("n") * (d("s11") * F.col("s2y") - d("s1y") * F.col("s12"))
        - d("s1") * (d("s1") * F.col("s2y") - d("s1y") * F.col("s2"))
        + d("sy") * (d("s1") * F.col("s12") - d("s11") * F.col("s2"))
    )
    return s.select(
        "n",
        F.round(det0 / det, 6).alias("beta0"),
        F.round(det1 / det, 6).alias("beta1"),
        F.round(det2 / det, 6).alias("beta2"),
    )


@register(
    "events_anomaly_iqr",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
fences AS (
  SELECT event_type,
         round(quantile_cont(y, 0.25), 6) AS q1,
         round(quantile_cont(y, 0.75), 6) AS q3
  FROM daily GROUP BY 1)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN d.y > round(f.q3 + 0.75 * (f.q3 - f.q1), 6)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       round(max(f.q3 + 0.75 * (f.q3 - f.q1)), 6) AS upper_fence,
       CAST(max(d.y) AS BIGINT) AS max_y
FROM daily d JOIN fences f ON f.event_type = d.event_type
GROUP BY 1
""",
)
def events_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence anomaly detection on daily activity: days whose exact
    cents total exceeds Q3 + 1.5*IQR of their event type — the robust
    outlier flag ops dashboards run (mean/stddev fences move with the
    outliers they hunt; quartile fences do not).

    Determinism: daily totals are exact BIGINTs; both engines interpolate
    PERCENTILE_CONT identically up to one ulp, absorbed by 6-dp rounding
    BEFORE the comparison — the flag compares an integer against the same
    rounded double on both sides, so no boundary flip is possible (the
    summed flags are then integers). The 0.75 multiplier is the
    mild-outlier fence — synthetic daily totals are near-uniform and the
    classic 1.5 fence trips nothing at test scale, which would certify a
    trivially-empty result. Scale shape: one (type, day) aggregation, one
    label-sized percentile group (state bounded by days-per-type), one
    broadcastable fence join, one label-keyed count."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    fences = daily.groupBy("event_type").agg(
        F.round(F.expr("percentile(y, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(y, 0.75)"), 6).alias("q3"),
    )
    fence = F.round(F.col("q3") + 0.75 * (F.col("q3") - F.col("q1")), 6)
    return (
        daily.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(F.when(F.col("y") > fence, 1).otherwise(0))
            .cast("bigint")
            .alias("n_anomalies"),
            F.round(F.max(F.col("q3") + 0.75 * (F.col("q3") - F.col("q1"))), 6)
            .alias("upper_fence"),
            F.max("y").cast("bigint").alias("max_y"),
        )
    )


@register(
    "ml_kfold_assign",
    category="ml",
    oracle="""
WITH assign AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5
           AS fold
  FROM documents)
SELECT CAST(fold AS INT) AS fold, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM assign GROUP BY 1, 2
""",
)
def ml_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment by content hash —
    the split that is reproducible across runs, engines, and data layouts
    (random() splits are none of those), audited per (fold, language) so
    stratification drift is visible before any training job runs.

    Assignment is a pure projection (md5-prefix mod k — the repo's
    content-hash convention, no shuffle, no state); the audit is one
    map-side-combinable aggregate over fold x label (a constant-size
    output at any corpus scale)."""
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") % 5
    )
    return (
        docs.select(fold.cast("int").alias("fold"), "lang", "doc_id")
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
    )


@register(
    "text_burstiness",
    category="text",
    plan_shape="scalar_broadcast",
    plan_reason="broadcast 1-row corpus doc count onto the vocabulary table",
    oracle="""
WITH counts AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS token
  FROM documents),
per_doc AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM counts GROUP BY 1, 2),
df_t AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(c) AS BIGINT) AS tf,
         CAST(sum(c * c) AS BIGINT) AS tf2
  FROM per_doc GROUP BY 1),
tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM counts)
SELECT token, n_docs, tf,
       round((CAST(tf2 AS DOUBLE) / nd
              - (CAST(tf AS DOUBLE) / nd) * (CAST(tf AS DOUBLE) / nd))
             / (CAST(tf AS DOUBLE) / nd), 6) AS burstiness
FROM df_t CROSS JOIN tot
WHERE tf >= 500
""",
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (variance-to-mean ratio of per-document counts,
    zeros included): bursty terms cluster in few documents (topical
    signal), Poisson-like terms spread evenly (function words) — the
    statistic behind stopword induction and topical-term mining without
    any language resource.

    Var/mean over ALL docs derives from three exact BIGINT sums (Σc, Σc²
    over occurring docs; absent docs contribute zero to both, so no dense
    join is needed — the formula only divides by the corpus doc count N)
    in one token-keyed map-side-combinable pass; the final expression is
    fixed-shape double. Restricted to tf >= 500 so the table is the
    high-volume vocabulary head."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias("token"),
    )
    per_doc = counts.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    df_t = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("c").cast("bigint").alias("tf"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("tf2"),
    )
    tot = counts.agg(F.countDistinct("doc_id").cast("bigint").alias("nd"))
    mean = F.col("tf").cast("double") / F.col("nd")
    return (
        df_t.crossJoin(F.broadcast(tot))
        .filter(F.col("tf") >= 500)
        .select(
            "token",
            "n_docs",
            "tf",
            F.round(
                (F.col("tf2").cast("double") / F.col("nd") - mean * mean) / mean, 6
            ).alias("burstiness"),
        )
    )


@register(
    "ml_feature_hashing",
    category="ml",
    oracle="""
WITH crossed AS (
  SELECT ('0x' || substr(md5('fx:' || CAST(user_id AS VARCHAR) || '|' ||
                         event_type || '|' ||
                         CAST(hour(ts) // 6 AS VARCHAR)), 1, 8))::BIGINT % 256
           AS bucket,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM crossed GROUP BY 1
""",
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick for feature crosses: (user x event type x
    6-hour daypart) crosses hash into 256 buckets — the fixed-width,
    vocabulary-free featurization that keeps training pipelines immune to
    unbounded categorical cardinality. Certified: per-bucket row counts
    and exact-cents mass (a collision audit — bucket skew here is exactly
    what a model would silently absorb).

    Hashing is a pure projection (md5-prefix convention, no vocabulary
    state, no shuffle); the audit is one map-side-combinable aggregate
    over a constant 256-row output at any scale."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("fx:"), F.col("user_id").cast("string"), F.lit("|"),
                        F.col("event_type"), F.lit("|"),
                        F.expr("CAST(hour(ts) div 6 AS STRING)"),
                    )
                ), 1, 8),
            16, 10,
        ).cast("bigint") % 256
    )
    return (
        ev.select(
            bucket.cast("int").alias("bucket"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )


_RAKE_STOPWORDS = ("the", "a", "big", "small", "fast", "slow")
_RAKE_MAX_PHRASE = 4
_RAKE_TOP = 25


@register(
    "text_rake_keywords",
    category="text",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token,
         generate_subscripts(regexp_extract_all(lower(text), '[a-z]+'), 1) AS pos
  FROM documents),
content AS (
  SELECT doc_id, pos, token,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM toks
  WHERE token NOT IN {_RAKE_STOPWORDS!r}),
phrases AS (
  SELECT doc_id, island, string_agg(token, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM content GROUP BY 1, 2
  HAVING count(*) <= {_RAKE_MAX_PHRASE}),
members AS (
  SELECT c.doc_id, c.island, c.token, p.plen
  FROM content c JOIN phrases p ON p.doc_id = c.doc_id AND p.island = c.island),
wscore AS (
  SELECT token,
         CAST(round(sum(plen) * 1000000.0 / count(*), 0) AS BIGINT) AS score_micro
  FROM members GROUP BY token),
pscore AS (
  SELECT m.doc_id, m.island, CAST(sum(w.score_micro) AS BIGINT) AS phrase_score
  FROM members m JOIN wscore w ON w.token = m.token GROUP BY 1, 2),
agg AS (
  SELECT p.phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(max(s.phrase_score) AS BIGINT) AS score_micro
  FROM phrases p JOIN pscore s ON s.doc_id = p.doc_id AND s.island = p.island
  GROUP BY 1)
SELECT phrase, n_occurrences, score_micro
FROM agg ORDER BY score_micro DESC, phrase LIMIT {_RAKE_TOP}
""",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al.): candidate phrases are
    maximal stopword-free token runs (gaps-and-islands on the token
    stream — island id = pos minus per-doc content row_number), capped at
    4 words; each word scores degree/frequency (degree = summed
    length of phrases containing it), each phrase the sum of its member
    word scores. Word scores land as exact micro-units
    (round(degree*1e6/freq) — ONE IEEE division, identically rounded on
    both engines) so phrase scores are exact BIGINT sums, order-free.
    The stopword lexicon extends the function words with the corpus's
    generic modifiers, the standard domain-lexicon adaptation.

    Scale shape: tokenize is one doc-keyed explode; islands use a
    PARTITIONED (per-doc) window; word stats shuffle by token
    (vocabulary-bounded output); the word-score table re-joins phrase
    members token-keyed (broadcastable at vocabulary scale); the top-25
    is TakeOrderedAndProject. No unpartitioned window, nothing
    quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    content = toks.filter(~F.col("token").isin(*_RAKE_STOPWORDS)).select(
        "doc_id",
        "pos",
        "token",
        (F.col("pos") - F.row_number().over(w_doc)).alias("island"),
    )
    phrases = (
        content.groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "token"))),
                    lambda x: x["token"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_PHRASE)
    )
    members = content.join(
        phrases.select("doc_id", "island", "plen"), ["doc_id", "island"]
    ).select("doc_id", "island", "token", "plen")
    wscore = members.groupBy("token").agg(
        F.round(F.sum("plen") * 1000000.0 / F.count(F.lit(1)), 0)
        .cast("bigint")
        .alias("score_micro")
    )
    pscore = (
        members.join(F.broadcast(wscore), "token")
        .groupBy("doc_id", "island")
        .agg(F.sum("score_micro").cast("bigint").alias("phrase_score"))
    )
    agg = (
        phrases.join(pscore, ["doc_id", "island"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.max("phrase_score").cast("bigint").alias("score_micro"),
        )
    )
    return agg.orderBy(F.col("score_micro").desc(), "phrase").limit(_RAKE_TOP)


@register(
    "ml_decision_stump_price",
    category="ml",
    oracle="""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) // 1000000 AS band,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders),
bands AS (
  SELECT band, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS pos
  FROM o GROUP BY 1),
cum AS (
  SELECT band,
         CAST(sum(n) OVER w AS BIGINT) AS nl,
         CAST(sum(pos) OVER w AS BIGINT) AS pl,
         CAST(sum(n) OVER () AS BIGINT) AS nt,
         CAST(sum(pos) OVER () AS BIGINT) AS pt
  FROM bands WINDOW w AS (ORDER BY band)),
splits AS (
  SELECT band AS threshold_band, nl, pl, nt - nl AS nr, pt - pl AS pr
  FROM cum WHERE nl > 0 AND nt - nl > 0),
gini AS (
  SELECT threshold_band, nl, nr,
         round(
           (nl - (CAST(pl AS DOUBLE) * pl + CAST(nl - pl AS DOUBLE) * (nl - pl)) / nl)
           + (nr - (CAST(pr AS DOUBLE) * pr + CAST(nr - pr AS DOUBLE) * (nr - pr)) / nr),
           9) AS wgini
  FROM splits)
SELECT threshold_band, nl, nr, wgini
FROM gini ORDER BY wgini, threshold_band LIMIT 5
""",
)
def ml_decision_stump_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decision-stump training: the best $10k-band threshold on
    order value for predicting 1-URGENT priority, by minimum
    Gini-impurity-weighted split — one boosting round / feature-ranking
    primitive, trained with the classic distributed recipe (per-band
    class histograms once, cumulative prefix sums give every candidate
    split's left/right class counts without rescanning). Output is the
    top-5 split table (threshold, side sizes, weighted Gini) a modeler
    reads as the feature's split quality profile.

    Exactness: class counts are integers; weighted Gini is ONE
    fixed-shape double expression over them (IEEE-identical both
    engines) rounded at 9 dp, ranked under a (wgini, band) total order.
    Scale shape: one map-side-combinable histogram aggregate (bands x
    classes); the cumulative window runs over the ~60-row BAND table
    (dimension-bounded — price bands, not rows), and the top-5 is
    TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT) div 1000000").alias(
            "band"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    )
    bands = o.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    w = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = bands.select(
        "band",
        F.sum("n").over(w).cast("bigint").alias("nl"),
        F.sum("pos").over(w).cast("bigint").alias("pl"),
        F.sum("n").over(w_all).cast("bigint").alias("nt"),
        F.sum("pos").over(w_all).cast("bigint").alias("pt"),
    )
    splits = cum.filter(
        (F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0)
    ).select(
        F.col("band").alias("threshold_band"),
        "nl",
        "pl",
        (F.col("nt") - F.col("nl")).alias("nr"),
        (F.col("pt") - F.col("pl")).alias("pr"),
    )
    pld, nld = F.col("pl").cast("double"), (F.col("nl") - F.col("pl")).cast("double")
    prd, nrd = F.col("pr").cast("double"), (F.col("nr") - F.col("pr")).cast("double")
    wgini = F.round(
        (F.col("nl") - (pld * F.col("pl") + nld * (F.col("nl") - F.col("pl"))) / F.col("nl"))
        + (F.col("nr") - (prd * F.col("pr") + nrd * (F.col("nr") - F.col("pr"))) / F.col("nr")),
        9,
    )
    gini = splits.select("threshold_band", "nl", "nr", wgini.alias("wgini"))
    return gini.orderBy("wgini", "threshold_band").limit(5)


@register(
    "sql_group_by_all",
    category="sql",
    oracle="""
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY ALL
""",
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern ``GROUP BY ALL`` resolution (every non-aggregate select
    item becomes a key — the same SQL text runs on Spark 4 and DuckDB):
    the ergonomic surface analysts reach for first, certified so the
    dialect-compat claim is tested, not assumed. Exact-cents sum;
    map-side-combinable aggregate keyed by the two label columns."""
    from arc_cassandra_pipeline_plugin_spark.sources import register_tables

    register_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders GROUP BY ALL
        """
    )


@register(
    "dq_k_anonymity",
    category="dq",
    oracle="""
WITH qi AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) // 200000 AS bal_band,
         c_custkey
  FROM customer),
groups AS (
  SELECT nation, segment, bal_band, CAST(count(*) AS BIGINT) AS k,
         CAST(count(DISTINCT c_custkey % 7) AS BIGINT) AS l_sensitive
  FROM qi GROUP BY 1, 2, 3)
SELECT CASE WHEN k = 1 THEN '1'
            WHEN k <= 4 THEN '2-4'
            WHEN k <= 9 THEN '5-9' ELSE '10+' END AS k_bucket,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(min(l_sensitive) AS BIGINT) AS min_l
FROM groups GROUP BY 1
""",
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity / l-diversity audit over the quasi-identifier triple
    (nation, market segment, $2000 balance band): the group-size (k)
    distribution is the re-identification risk profile a privacy review
    reads before releasing a dataset — every row in a k=1 group is
    uniquely re-identifiable from the QI columns alone; min_l is the
    worst-case diversity of the (synthetic stand-in) sensitive attribute
    within each bucket's groups, the l-diversity complement that catches
    homogeneous groups k-anonymity misses.

    All integers end to end (band shift keeps the division in positive
    trunc==floor range). Scale shape: one QI-keyed aggregate (map-side
    combinable) then a 4-row bucket rollup — the audit never scales past
    the group count."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(
            "(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) div 200000"
        ).alias("bal_band"),
        "c_custkey",
    )
    groups = qi.groupBy("nation", "segment", "bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.countDistinct(F.col("c_custkey") % 7).cast("bigint").alias("l_sensitive"),
    )
    bucket = (
        F.when(F.col("k") == 1, "1")
        .when(F.col("k") <= 4, "2-4")
        .when(F.col("k") <= 9, "5-9")
        .otherwise("10+")
    )
    return groups.select(bucket.alias("k_bucket"), "k", "l_sensitive").groupBy(
        "k_bucket"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("min_k"),
        F.min("l_sensitive").cast("bigint").alias("min_l"),
    )


# ---------------------------------------------------------------------------
# TextRank keyword scoring — the graph-based companion to RAKE
# ---------------------------------------------------------------------------

_TEXTRANK_EDGES_SQL = """
WITH docs_t AS (
  SELECT regexp_extract_all(lower(text), '[a-z]+', 0) AS ts FROM documents),
wcnt AS (SELECT unnest(ts) AS vw FROM docs_t),
wc AS (SELECT vw, CAST(count(*) AS BIGINT) AS cnt FROM wcnt GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM wcnt),
vocab AS (SELECT vw FROM wc, tot WHERE cnt * 2000 >= t),
adj0 AS (SELECT ts, unnest(range(1, len(ts))) AS i FROM docs_t),
adj AS (SELECT ts[i] AS a, ts[i + 1] AS b FROM adj0 WHERE ts[i] <> ts[i + 1]),
und AS (SELECT a, b FROM adj UNION ALL SELECT b AS a, a AS b FROM adj)
SELECT u.a AS src, u.b AS dst, CAST(count(*) AS BIGINT) AS w
FROM und u
JOIN vocab va ON va.vw = u.a
JOIN vocab vb ON vb.vw = u.b
GROUP BY 1, 2
"""


def _textrank_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.graph import pagerank_oracle_sql

    sql = pagerank_oracle_sql(_TEXTRANK_EDGES_SQL, iters=3, damping=0.85)
    return f"SELECT node AS word, round(rank, 8) AS textrank FROM ({sql})"


@register(
    "text_textrank_words",
    category="text",
    oracle=_textrank_oracle(),
    plan_shape="scalar_broadcast",
    plan_reason="vocabulary gate compares word counts to the 1-row corpus "
    "token total (broadcast scalar)",
)
def text_textrank_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau): PageRank over the word
    co-occurrence graph — nodes are frequent words (count >= 1/2000 of all
    tokens, a cross-multiplied integer gate), edges are ADJACENT word
    pairs symmetrized with occurrence-count weights — the graph-centrality
    companion to RAKE for keyword extraction, and the FOURTH certified use
    of the one fixed-point pagerank engine (trade rank / personalized /
    Markov-stationary / TextRank).

    Scale shape: tokenization is one projection; adjacency explode is
    linear in tokens; both vocabulary joins broadcast (the vocab is
    frequency-bounded); the rolled-up edge list is vocab² at worst and the
    three synchronous rounds iterate over it exactly like the trade
    query. The vocabulary gate is a broadcast 1-row scalar
    (plan_shape=scalar_broadcast)."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("ts")
    )
    words = toks.select(F.explode("ts").alias("vw")).groupBy("vw").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = toks.select(F.explode("ts").alias("vw")).agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    vocab = (
        words.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 2000 >= F.col("t"))
        .select("vw")
    )
    pairs = (
        toks.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> struct(ts[i - 1] AS a, ts[i] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
    )
    und = pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    va = vocab.select(F.col("vw").alias("a"))
    vb = vocab.select(F.col("vw").alias("b"))
    edges = (
        und.join(F.broadcast(va), "a")
        .join(F.broadcast(vb), "b")
        .groupBy(F.col("a").alias("src"), F.col("b").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        # snapshot the vocab-bounded edge list before the iterate (the
        # trade-rank convention): each round re-references edges
        .localCheckpoint(eager=True)
    )
    # the vocab gate bounds the graph (<= 2000 frequent words), so the
    # rounds replay on the driver over the collected rollup; a rollup past
    # the driver bound runs the distributed iterate unchanged
    ranks = pagerank(edges, iters=3, damping=0.85)
    return ranks.select(
        F.col("node").alias("word"), F.round("rank", 8).alias("textrank")
    )
