"""Model- and retrieval-evaluation metrics + concentration diagnostics
(round 6).

The metrics every training-data pipeline reports on its retrieval and
classifier legs — AUC, NDCG@k, MRR, precision/recall@k — plus the
concentration statistics (Gini, Herfindahl) that audit corpus/vendor
skew, each Spark-first with an exact DuckDB oracle.

Determinism: rank metrics are computed from exact integer rank sums and
micro-unit LUT discounts embedded identically in both engines (the
registry's char-entropy-LUT rule — no runtime transcendental crosses the
engine boundary); concentration statistics keep every sum in BIGINT /
DECIMAL(38,0) and perform ONE double division of identical literal shape
at the end. Reference parity: the reference plugin delegates all query
semantics to Spark SQL (``CassandraLoad.scala``); these certify the
evaluation surface a pipeline user runs through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from arc_cassandra_pipeline_plugin_spark.functions import small_df

from arc_cassandra_pipeline_plugin_spark.queries import register
from arc_cassandra_pipeline_plugin_spark.sources import load_table

#: NDCG position discounts as micro-units: round(1e6 / log2(i + 1)) for
#: ranks 1..10 — Python-computed once, embedded as identical literals in
#: both engines (no runtime log2 anywhere)
def _ndcg_discounts(k: int = 10) -> list[int]:
    import math

    return [round(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


_DISC = _ndcg_discounts(10)


@register(
    "ml_auc_rank_sum",
    category="analytics",
    oracle="""
WITH per AS (
  SELECT n_chars AS score,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS neg
  FROM documents GROUP BY 1),
c AS (
  SELECT pos, neg,
         CAST(coalesce(sum(neg) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cumneg
  FROM per)
SELECT CAST(sum(pos * (2 * cumneg + neg)) AS BIGINT) AS u2,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(neg) AS BIGINT) AS n_neg,
       round(CAST(sum(pos * (2 * cumneg + neg)) AS DOUBLE)
             / (2.0 * CAST(sum(pos) AS DOUBLE) * CAST(sum(neg) AS DOUBLE)), 6)
         AS auc
FROM c
""",
)
def ml_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a scalar predictor (document length predicting
    lang = 'en') via the Mann-Whitney rank-sum identity: AUC = P(score_pos
    > score_neg) + 0.5·P(=), computed WITHOUT materializing pairs — group
    by distinct score, take the exclusive prefix sum of negative counts
    over the score order, and fold pos·(2·cum_neg + neg) (the doubled-U
    trick keeps midrank halves in integers). This is the classifier-eval
    primitive of every filtering-model loop.

    Scale shape: one groupBy(score) aggregation (map-side combinable to
    |score domain| rows), then the two-phase bucketed global prefix sum
    (operators/ranking.py — no single-partition window), then a 1-row
    fold. The only float op is the final division, identical literal
    shape in both engines."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        global_prefix_sum,
    )

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("pos"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("neg"),
    )
    ps = global_prefix_sum(per, "score", "neg", out_col="cumneg")
    return ps.agg(
        F.sum(F.col("pos") * (2 * F.col("cumneg") + F.col("neg")))
        .cast("bigint")
        .alias("u2"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.round(
            F.sum(F.col("pos") * (2 * F.col("cumneg") + F.col("neg"))).cast("double")
            / (
                2.0
                * F.sum("pos").cast("double")
                * F.sum("neg").cast("double")
            ),
            6,
        ).alias("auc"),
    )


def _posting_cte() -> str:
    """Shared oracle CTE: per (query term, doc) term frequency over the
    3-term query set, ranked by (tf DESC, doc_id ASC)."""
    return """
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS token
  FROM documents),
q AS (SELECT unnest(['spark', 'join', 'window']) AS term),
tf AS (
  SELECT t.token AS term, t.doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM toks t JOIN q ON q.term = t.token
  GROUP BY 1, 2),
ranked AS (
  SELECT term, doc_id, tf,
         CASE WHEN tf >= 3 THEN 3 WHEN tf = 2 THEN 2 ELSE 1 END AS rel,
         row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rn
  FROM tf)"""


def _ranked_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_posting_cte` — posting lists for the 3-term
    query with graded relevance and a per-term deterministic rank. The
    window partitions by TERM (posting-list-bounded, the RRF convention);
    the posting build is one explode + one (term, doc) aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).alias(
            "token"
        ),
    )
    q = small_df(spark, [("spark",), ("join",), ("window",)], "term string")
    tf = (
        toks.join(F.broadcast(q), F.col("token") == F.col("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    rel = (
        F.when(F.col("tf") >= 3, 3).when(F.col("tf") == 2, 2).otherwise(1)
    )
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col("doc_id").asc())
    return tf.select(
        "term", "doc_id", "tf", rel.alias("rel"), F.row_number().over(w).alias("rn")
    )


def _disc_case_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} = {i + 1} THEN {d}" for i, d in enumerate(_DISC)
    )
    return f"CASE {whens} ELSE 0 END"


@register(
    "ml_ndcg_at_10",
    category="analytics",
    oracle=f"""
WITH {_posting_cte()},
dcg AS (
  SELECT term,
         CAST(sum(CASE WHEN rn <= 10
                       THEN rel * ({_disc_case_sql("rn")}) ELSE 0 END) AS BIGINT)
           AS dcg_micro
  FROM ranked GROUP BY 1),
ideal AS (
  SELECT term, rel,
         row_number() OVER (PARTITION BY term ORDER BY rel DESC, doc_id ASC) AS irn
  FROM ranked),
idcg AS (
  SELECT term,
         CAST(sum(CASE WHEN irn <= 10
                       THEN rel * ({_disc_case_sql("irn")}) ELSE 0 END) AS BIGINT)
           AS idcg_micro
  FROM ideal GROUP BY 1)
SELECT d.term, d.dcg_micro, i.idcg_micro,
       round(CAST(d.dcg_micro AS DOUBLE) / CAST(i.idcg_micro AS DOUBLE), 6)
         AS ndcg
FROM dcg d JOIN idcg i ON i.term = d.term
""",
)
def ml_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query term over the term-frequency retrieval leg:
    graded relevance (tf capped at 3), micro-unit integer position
    discounts round(1e6/log2(rank+1)) embedded as identical literals in
    both engines, ideal ordering by (rel DESC, doc_id) — the ranking-eval
    metric every retrieval stack reports. DCG/IDCG stay exact BIGINTs;
    the single float op is the final division.

    Scale shape: posting build = one explode + (term, doc) agg; both
    rank windows partition by term (posting-list-bounded)."""
    ranked = _ranked_postings(spark, sf_dir)
    disc = F.lit(0)
    for i, d in enumerate(_DISC):
        disc = F.when(F.col("rn") == i + 1, d).otherwise(disc)
    dcg = ranked.groupBy("term").agg(
        F.sum(F.when(F.col("rn") <= 10, F.col("rel") * disc).otherwise(0))
        .cast("bigint")
        .alias("dcg_micro")
    )
    wi = Window.partitionBy("term").orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    ideal = ranked.select("term", "rel", F.row_number().over(wi).alias("rn"))
    idcg = ideal.groupBy("term").agg(
        F.sum(F.when(F.col("rn") <= 10, F.col("rel") * disc).otherwise(0))
        .cast("bigint")
        .alias("idcg_micro")
    )
    return dcg.join(idcg, "term").select(
        "term",
        "dcg_micro",
        "idcg_micro",
        F.round(
            F.col("dcg_micro").cast("double") / F.col("idcg_micro").cast("double"), 6
        ).alias("ndcg"),
    )


@register(
    "ml_mrr_first_relevant",
    category="analytics",
    oracle=f"""
WITH {_posting_cte()}
SELECT term,
       CAST(min(rn) AS BIGINT) AS first_rel_rank,
       CAST(1000000 // min(rn) AS BIGINT) AS rr_micro
FROM ranked WHERE rel >= 2 GROUP BY term
""",
)
def ml_mrr_first_relevant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the first STRONGLY relevant document (tf >= 2)
    per query term — the MRR leg of retrieval eval, in exact micro-units
    via integer floor division (1e6 // rank, identical truncation
    semantics in both engines; no float ever). Terms without a strong hit
    are absent on both sides by construction."""
    ranked = _ranked_postings(spark, sf_dir)
    return (
        ranked.filter(F.col("rel") >= 2)
        .groupBy("term")
        .agg(F.min("rn").cast("bigint").alias("first_rel_rank"))
        .select(
            "term",
            "first_rel_rank",
            F.expr("1000000 div first_rel_rank").cast("bigint").alias("rr_micro"),
        )
    )


@register(
    "ml_precision_recall_at_10",
    category="analytics",
    oracle=f"""
WITH {_posting_cte()}
SELECT term,
       CAST(sum(CASE WHEN rn <= 10 AND rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS hits_at_10,
       CAST(sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant,
       CAST(sum(CASE WHEN rn <= 10 AND rel >= 2 THEN 1 ELSE 0 END) * 1000000 // 10
            AS BIGINT) AS p10_micro,
       CAST(sum(CASE WHEN rn <= 10 AND rel >= 2 THEN 1 ELSE 0 END) * 1000000
            // sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS r10_micro
FROM ranked GROUP BY term
""",
)
def ml_precision_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@10 / Recall@10 per query term against the strong-hit
    (tf >= 2) relevance set — pure integer micro-units via floor
    division; the cutoff-eval twin of :func:`ml_ndcg_at_10`."""
    ranked = _ranked_postings(spark, sf_dir)
    hit = F.when((F.col("rn") <= 10) & (F.col("rel") >= 2), 1).otherwise(0)
    rel = F.when(F.col("rel") >= 2, 1).otherwise(0)
    return ranked.groupBy("term").agg(
        F.sum(hit).cast("bigint").alias("hits_at_10"),
        F.sum(rel).cast("bigint").alias("n_relevant"),
        F.expr(
            "cast(sum(case when rn <= 10 and rel >= 2 then 1 else 0 end) * 1000000"
            " div 10 as bigint)"
        ).alias("p10_micro"),
        F.expr(
            "cast(sum(case when rn <= 10 and rel >= 2 then 1 else 0 end) * 1000000"
            " div sum(case when rel >= 2 then 1 else 0 end) as bigint)"
        ).alias("r10_micro"),
    )


@register(
    "dq_gini_concentration",
    category="analytics",
    oracle="""
WITH spend AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
r AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents ASC, cust ASC) AS i
  FROM spend),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS DECIMAL(38,0)) AS total,
         CAST(sum(CAST(i AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS s1
  FROM r)
SELECT n, CAST(total AS BIGINT) AS total_cents,
       round((2.0 * CAST(s1 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0)
              * CAST(total AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS gini
FROM s
""",
)
def dq_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality audit a corpus
    curator runs on source/vendor contribution (a Gini near 1 means a few
    entities dominate the data): G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)
    over ascending-sorted spend, with the global sort rank computed by the
    two-phase bucketed rank (no single-partition window) and every sum an
    exact DECIMAL(38,0) of integer cents. One double expression at the
    end, identical literal shape both engines."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        global_row_number,
    )

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ranked = global_row_number(spend, "cents", ["cust"], out_col="i")
    dec = "decimal(38,0)"
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("cents").cast(dec)).cast(dec).alias("total"),
        F.sum(F.col("i").cast(dec) * F.col("cents")).cast(dec).alias("s1"),
    )
    return s.select(
        "n",
        F.col("total").cast("bigint").alias("total_cents"),
        F.round(
            (
                2.0 * F.col("s1").cast("double")
                - (F.col("n").cast("double") + 1.0) * F.col("total").cast("double")
            )
            / (F.col("n").cast("double") * F.col("total").cast("double")),
            6,
        ).alias("gini"),
    )


@register(
    "dq_herfindahl_concentration",
    category="analytics",
    oracle="""
WITH rev AS (
  SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
         CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2),
agg AS (
  SELECT nk,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(cents) AS DECIMAL(38,0)) AS total,
         CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS s2
  FROM rev GROUP BY 1)
SELECT CAST(nk AS INT) AS nationkey, n_suppliers,
       CAST(total AS BIGINT) AS total_cents,
       round(1000000.0 * CAST(s2 AS DOUBLE)
             / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 2) AS hhi_micro
FROM agg
""",
)
def dq_herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue within
    each nation (micro-units: 1e6·Σ share² — 1e6 = monopoly): the
    market-skew audit that, applied to corpus sources, tells a curator
    when one vendor dominates a slice. Revenue sums and the Σ rev² moment
    stay exact DECIMAL(38,0); one double expression at the end.

    Scale shape: one (nation, supplier) aggregation (map-side combinable),
    one nation-keyed moment aggregation — no joins after the dimension
    lookup, nothing driver-side."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), F.col("s_nationkey").alias("nk")
    )
    rev = (
        li.join(F.broadcast(supp), "l_suppkey")
        .groupBy("nk", "l_suppkey")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    dec = "decimal(38,0)"
    agg = rev.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum(F.col("cents").cast(dec)).cast(dec).alias("total"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).cast(dec).alias("s2"),
    )
    return agg.select(
        F.col("nk").cast("int").alias("nationkey"),
        "n_suppliers",
        F.col("total").cast("bigint").alias("total_cents"),
        F.round(
            1000000.0
            * F.col("s2").cast("double")
            / (F.col("total").cast("double") * F.col("total").cast("double")),
            2,
        ).alias("hhi_micro"),
    )


@register(
    "events_autocorrelation_lag1",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
pairs AS (
  SELECT a.c AS x, b.c AS y
  FROM daily a JOIN daily b ON b.d = a.d + INTERVAL 1 DAY),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs)
SELECT n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS autocorr_lag1
FROM m
""",
)
def events_autocorrelation_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series — the
    burstiness/trend diagnostic of ingestion monitoring (near 0 = stable
    arrivals, near 1 = strong day-over-day drift). Cross-moments of the
    (x_t, x_{t+1}) pairs are exact BIGINTs (counts are integers); the
    Pearson formula runs once in doubles with sqrt (exactly IEEE-defined,
    safe cross-engine) and identical literal shape.

    Scale shape: one date aggregation (map-side combinable to O(days)
    rows), one day-keyed self-join bounded by the date dimension, one
    1-row moment fold."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("c").alias("y"))
    pairs = a.join(b, F.col("db") == F.date_add(F.col("da"), 1))
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    den = F.sqrt(
        (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return m.select("n", F.round(num / den, 6).alias("autocorr_lag1"))


@register(
    "multimodal_bmp_edge_energy",
    category="multimodal",
    oracle="""
WITH d AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents),
px AS (
  SELECT asset_id, w, h, unnest(range(0, w * h)) AS p FROM d),
g AS (
  SELECT asset_id, w, h, p,
         299 * ((asset_id + 13 * p) % 256)
         + 587 * ((2 * asset_id + 7 * p) % 256)
         + 114 * ((3 * asset_id + 11 * p) % 256) AS gv
  FROM px),
hpair AS (
  SELECT a.asset_id, CAST(sum(abs(b.gv - a.gv)) AS BIGINT) AS he
  FROM g a JOIN g b ON b.asset_id = a.asset_id AND b.p = a.p + 1
  WHERE (a.p % a.w) < a.w - 1 GROUP BY 1),
vpair AS (
  SELECT a.asset_id, CAST(sum(abs(b.gv - a.gv)) AS BIGINT) AS ve
  FROM g a JOIN g b ON b.asset_id = a.asset_id AND b.p = a.p + a.w
  WHERE (a.p // a.w) < a.h - 1 GROUP BY 1)
SELECT d.asset_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
       hpair.he AS h_energy, vpair.ve AS v_energy,
       CAST((d.w - 1) * d.h AS BIGINT) AS n_h_pairs,
       CAST(d.w * (d.h - 1) AS BIGINT) AS n_v_pairs
FROM d JOIN hpair ON hpair.asset_id = d.asset_id
       JOIN vpair ON vpair.asset_id = d.asset_id
""",
)
def multimodal_bmp_edge_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer gradient energy (sum of |Δluma| over horizontally and
    vertically adjacent pixels) through the REAL BMP codec round-trip —
    the blur/complexity screen of an image curation pipeline, certified
    against the oracle's direct re-derivation of the synthetic pixel
    formula. Pure BIGINT arithmetic end to end; one shuffle-free
    Arrow-batched kernel pass (operators/multimodal.bmp_edge_energy)."""
    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.bmp_edge_energy(M.synthesize_bmp_assets(docs))


@register(
    "ml_calibration_bins",
    category="analytics",
    oracle="""
WITH r AS (
  SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         ntile(10) OVER (ORDER BY n_chars ASC, doc_id ASC) AS bin
  FROM documents)
SELECT CAST(bin AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS pos_rate_micro,
       CAST(min(n_chars) AS BIGINT) AS score_lo,
       CAST(max(n_chars) AS BIGINT) AS score_hi
FROM r GROUP BY 1
""",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a scalar predictor (document length
    vs lang = 'en'): decile-bucket the score with the EXACT two-phase
    global ntile (operators/ranking.py — SQL ntile semantics, no
    single-partition window), then report each bin's empirical positive
    rate in integer micro-units — the calibration table every
    quality-filter model audit plots. Pure integers end to end."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import global_ntile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
    )
    tiled = global_ntile(docs, "n_chars", ["doc_id"], n=10, out_col="bin")
    return tiled.groupBy(F.col("bin").cast("int").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.expr("cast(sum(y) * 1000000 div count(*) as bigint)").alias(
            "pos_rate_micro"
        ),
        F.min("n_chars").cast("bigint").alias("score_lo"),
        F.max("n_chars").cast("bigint").alias("score_hi"),
    )


@register(
    "sample_weighted_hash",
    category="sampling",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         ('0x' || substr(md5('wsamp|' || CAST(o_orderkey AS VARCHAR)), 1, 6))::BIGINT
           AS h
  FROM orders),
mx AS (SELECT CAST(max(cents) AS BIGINT) AS mc FROM o),
k AS (
  SELECT o.o_orderpriority, o.cents,
         CASE WHEN o.h * mx.mc < o.cents * 16777216 THEN 1 ELSE 0 END AS kept
  FROM o, mx)
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN kept = 1 THEN cents ELSE 0 END) AS BIGINT)
         AS kept_cents
FROM k GROUP BY 1
""",
    plan_shape="scalar_broadcast",
    plan_reason="acceptance test compares each row's hash to the 1-row "
    "corpus max weight (broadcast scalar)",
)
def sample_weighted_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sampling — importance sampling
    with content-hash randomness (the sampling module's md5 convention):
    an order is kept with probability totalprice/max(totalprice), decided
    by CROSS-MULTIPLIED integers (hash24 · max_cents < cents · 2²⁴ — no
    division, no float, replayable by any engine). The curation use is
    quality-weighted corpus downsampling where re-runs must pick the SAME
    examples.

    Scale shape: one scan computing (hash, cents), a 1-row max broadcast
    back, one map-side-combinable priority aggregation."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.conv(
            F.substring(F.md5(F.concat(F.lit("wsamp|"), F.col("o_orderkey"))), 1, 6),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    mx = o.agg(F.max("cents").cast("bigint").alias("mc"))
    k = o.crossJoin(F.broadcast(mx)).select(
        "o_orderpriority",
        "cents",
        F.when(F.col("h") * F.col("mc") < F.col("cents") * 16777216, 1)
        .otherwise(0)
        .alias("kept"),
    )
    return k.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("kept_cents"),
    )


@register(
    "func_levenshtein_adjacent",
    category="functions",
    oracle="""
WITH c AS (SELECT c_custkey AS k, c_name AS name FROM customer),
p AS (
  SELECT a.name AS na, b.name AS nb, levenshtein(a.name, b.name) AS d
  FROM c a JOIN c b ON b.k = a.k + 1)
SELECT CAST(d AS BIGINT) AS edit_distance,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM p GROUP BY 1
""",
)
def func_levenshtein_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in Levenshtein function surface, certified against DuckDB's
    implementation of the same classic DP: edit-distance histogram over
    consecutive customer-name pairs (key k joined to k+1 — a unique-key
    equi-join, no pair explosion). TPC-H names differ only in their digit
    tail, so the histogram concentrates on small distances — a cheap
    structural check that both engines' DP semantics (unit costs,
    no transpositions) agree."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("name")
    )
    a = c.select(F.col("k").alias("ka"), F.col("name").alias("na"))
    b = c.select((F.col("k") - 1).alias("ka"), F.col("name").alias("nb"))
    return (
        a.join(b, "ka")
        .select(F.levenshtein("na", "nb").cast("bigint").alias("edit_distance"))
        .groupBy("edit_distance")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


@register(
    "xml_stage_roundtrip",
    category="pipeline",
    oracle="""
SELECT n_regionkey AS region,
       CAST(count(*) AS BIGINT) AS n_nations,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
       min(n_name) AS first_name
FROM nation GROUP BY 1
""",
)
def xml_stage_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's NATIVE XML data source as first-class pipeline stages
    under the oracle gate: nation flows through XMLLoad (rowTag elements
    under a rootTag document), back out through XMLExtract with schema
    inference, and a downstream aggregate must equal the plain SQL truth —
    certifying the XML write path, read path, and type fidelity across
    the sink/source boundary in one query."""
    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
    from arc_cassandra_pipeline_plugin_spark.queries import scratch_dir
    from arc_cassandra_pipeline_plugin_spark.stages import XMLExtract, XMLLoad

    root = scratch_dir("xml_roundtrip")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.createOrReplaceTempView("xml_rt_src")
    ctx = PipelineContext()
    XMLLoad(
        name="xml write",
        input_view="xml_rt_src",
        output_uri=f"{root}/nation_xml",
        row_tag="nation",
        root_tag="nations",
        save_mode="Overwrite",
    ).execute(spark, ctx)
    back = XMLExtract(
        name="xml read",
        input_uri=f"{root}/nation_xml",
        output_view="xml_rt_back",
        row_tag="nation",
    ).execute(spark, ctx)
    return back.groupBy(F.col("n_regionkey").alias("region")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.min("n_name").alias("first_name"),
    )


@register(
    "ml_confusion_f1",
    category="analytics",
    oracle="""
WITH p AS (
  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS pred,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
m AS (
  SELECT CAST(sum(pred * y) AS BIGINT) AS tp,
         CAST(sum(pred * (1 - y)) AS BIGINT) AS fp,
         CAST(sum((1 - pred) * y) AS BIGINT) AS fn,
         CAST(sum((1 - pred) * (1 - y)) AS BIGINT) AS tn
  FROM p)
SELECT tp, fp, fn, tn,
       CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_micro,
       CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS recall_micro,
       CAST(2 * tp * 1000000 // (2 * tp + fp + fn) AS BIGINT) AS f1_micro,
       CAST((tp + tn) * 1000000 // (tp + fp + fn + tn) AS BIGINT)
         AS accuracy_micro
FROM m
""",
)
def ml_confusion_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier confusion matrix with precision / recall / F1 /
    accuracy in exact integer micro-units (floor division — identical
    truncation both engines, no float ever): the fixed-threshold companion
    to ``ml_auc_rank_sum`` (threshold n_chars >= 300 predicting
    lang = 'en'). One scan, one 1-row fold — the canonical map-only
    eval job."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("pred"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    m = p.agg(
        F.sum(F.col("pred") * F.col("y")).cast("bigint").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("y"))).cast("bigint").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("y")).cast("bigint").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("y"))).cast("bigint").alias("tn"),
    )
    return m.select(
        "tp", "fp", "fn", "tn",
        F.expr("cast(tp * 1000000 div (tp + fp) as bigint)").alias(
            "precision_micro"
        ),
        F.expr("cast(tp * 1000000 div (tp + fn) as bigint)").alias("recall_micro"),
        F.expr("cast(2 * tp * 1000000 div (2 * tp + fp + fn) as bigint)").alias(
            "f1_micro"
        ),
        F.expr(
            "cast((tp + tn) * 1000000 div (tp + fp + fn + tn) as bigint)"
        ).alias("accuracy_micro"),
    )


@register(
    "ml_mcnemar_paired",
    category="analytics",
    oracle="""
WITH p AS (
  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS b,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
d AS (
  SELECT CAST(sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS BIGINT)
           AS only_a_right,
         CAST(sum(CASE WHEN b = y AND a <> y THEN 1 ELSE 0 END) AS BIGINT)
           AS only_b_right,
         CAST(sum(CASE WHEN a = y AND b = y THEN 1 ELSE 0 END) AS BIGINT)
           AS both_right,
         CAST(sum(CASE WHEN a <> y AND b <> y THEN 1 ELSE 0 END) AS BIGINT)
           AS both_wrong
  FROM p)
SELECT only_a_right, only_b_right, both_right, both_wrong,
       CAST((only_a_right - only_b_right) * (only_a_right - only_b_right)
            * 1000000 // (only_a_right + only_b_right) AS BIGINT)
         AS mcnemar_chi2_micro
FROM d
""",
)
def ml_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired-classifier test — the A/B significance check for
    two models scored on the SAME examples (length-threshold vs a parity
    baseline, both predicting lang = 'en'): the discordant-pair counts and
    the chi-square statistic (b-c)²/(b+c) in exact integer micro-units.
    One scan, one 1-row fold."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("a"),
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0).alias("b"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    d = p.agg(
        F.sum(F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1)
              .otherwise(0)).cast("bigint").alias("only_a_right"),
        F.sum(F.when((F.col("b") == F.col("y")) & (F.col("a") != F.col("y")), 1)
              .otherwise(0)).cast("bigint").alias("only_b_right"),
        F.sum(F.when((F.col("a") == F.col("y")) & (F.col("b") == F.col("y")), 1)
              .otherwise(0)).cast("bigint").alias("both_right"),
        F.sum(F.when((F.col("a") != F.col("y")) & (F.col("b") != F.col("y")), 1)
              .otherwise(0)).cast("bigint").alias("both_wrong"),
    )
    return d.select(
        "only_a_right", "only_b_right", "both_right", "both_wrong",
        F.expr(
            "cast((only_a_right - only_b_right) * (only_a_right - only_b_right)"
            " * 1000000 div (only_a_right + only_b_right) as bigint)"
        ).alias("mcnemar_chi2_micro"),
    )


#: shared power-of-2 bucket ladder for interarrival gaps (seconds) —
#: generated once, embedded as the identical CASE expression in both
#: engines (integer comparisons only; no log anywhere)
_GAP_BUCKET_CASE = "CASE WHEN gap <= 0 THEN 0 WHEN gap < 2 THEN 1 WHEN gap < 4 THEN 2 WHEN gap < 8 THEN 3 WHEN gap < 16 THEN 4 WHEN gap < 32 THEN 5 WHEN gap < 64 THEN 6 WHEN gap < 128 THEN 7 WHEN gap < 256 THEN 8 WHEN gap < 512 THEN 9 WHEN gap < 1024 THEN 10 WHEN gap < 2048 THEN 11 WHEN gap < 4096 THEN 12 WHEN gap < 8192 THEN 13 WHEN gap < 16384 THEN 14 WHEN gap < 32768 THEN 15 WHEN gap < 65536 THEN 16 WHEN gap < 131072 THEN 17 WHEN gap < 262144 THEN 18 WHEN gap < 524288 THEN 19 WHEN gap < 1048576 THEN 20 WHEN gap < 2097152 THEN 21 WHEN gap < 4194304 THEN 22 WHEN gap < 8388608 THEN 23 WHEN gap < 16777216 THEN 24 ELSE 25 END"


@register(
    "events_interarrival_log2",
    category="timeseries",
    oracle=f"""
WITH e AS (
  -- epoch_us // 1e6 floors like Spark's unix_timestamp; epoch()::BIGINT
  -- would ROUND the fractional second and disagree on ~half the rows
  SELECT user_id, epoch_us(ts) // 1000000 AS s FROM events),
g AS (
  SELECT user_id,
         s - lag(s) OVER (PARTITION BY user_id ORDER BY s) AS gap
  FROM e),
b AS (SELECT {_GAP_BUCKET_CASE} AS bucket FROM g WHERE gap IS NOT NULL)
SELECT CAST(bucket AS INT) AS gap_bucket_log2,
       CAST(count(*) AS BIGINT) AS n_gaps
FROM b GROUP BY 1
""",
)
def events_interarrival_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interarrival-time histogram on a power-of-2 (log2) scale — the
    burstiness fingerprint of an event stream (bots cluster in the
    low buckets, humans spread across minutes/hours): per-user consecutive
    gaps in epoch seconds, bucketed by a generated integer CASE ladder
    (bucket k holds gaps in [2^(k-1), 2^k)) so no logarithm is ever
    evaluated. The lag window partitions by user (activity-bounded);
    the histogram aggregation is map-side combinable."""
    from pyspark.sql.window import Window as _W

    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").cast("bigint").alias("s")
    )
    w = _W.partitionBy("user_id").orderBy("s")
    g = e.select((F.col("s") - F.lag("s").over(w)).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    return (
        g.select(F.expr(_GAP_BUCKET_CASE).alias("bucket"))
        .groupBy(F.col("bucket").cast("int").alias("gap_bucket_log2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_gaps"))
    )


_TRADE_UND_SQL = """
  SELECT DISTINCT a, b FROM (
    SELECT n1.n_name AS a, n2.n_name AS b
    FROM lineitem
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN supplier  ON s_suppkey  = l_suppkey
    JOIN customer  ON c_custkey  = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    UNION ALL
    SELECT n2.n_name, n1.n_name
    FROM lineitem
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN supplier  ON s_suppkey  = l_suppkey
    JOIN customer  ON c_custkey  = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
  ) WHERE a <> b
"""


@register(
    "graph_clustering_coefficient",
    category="graph",
    oracle=f"""
WITH und AS ({_TRADE_UND_SQL}),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS closed_wedges
  FROM und e
  JOIN und n1 ON n1.a = e.a
  JOIN und n2 ON n2.a = e.b AND n2.b = n1.b
  WHERE e.a < e.b),
deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
SELECT CAST(tri.closed_wedges // 3 AS BIGINT) AS n_triangles,
       w.n_wedges,
       CAST(tri.closed_wedges * 1000000 // w.n_wedges AS BIGINT)
         AS global_cc_micro
FROM tri, w
""",
    plan_shape="scalar_broadcast",
    plan_reason="final assembly joins the 1-row triangle census to the "
    "1-row wedge census (two broadcast scalars)",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the undirected
    nation trade graph: 3 x triangles / wedges, all in exact integers
    (micro-units via floor division) — the cohesion summary of any
    graph-quality report. Triangle counting is the one distributed
    adjacency self-join keyed by the shared neighbor (the k-truss support
    join); wedges come from one degree aggregation.

    Scale shape: the fact rollup broadcasts the dimensions; the triangle
    join shuffles on vertex ids; both censuses reduce to 1 row and
    cross-join as broadcast scalars (declared scalar_broadcast)."""
    from arc_cassandra_pipeline_plugin_spark.queries.analytics import _trade_edges

    directed = _trade_edges(spark, sf_dir).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    und = (
        directed.union(directed.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e1 = und.select(F.col("a").alias("ea"), F.col("b").alias("c"))
    e2 = und.select(F.col("a").alias("eb"), F.col("b").alias("c2"))
    tri = (
        und.filter(F.col("a") < F.col("b"))
        .join(e1, F.col("ea") == F.col("a"))
        .join(e2, (F.col("eb") == F.col("b")) & (F.col("c2") == F.col("c")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("closed_wedges"))
    )
    wedges = (
        und.groupBy("a")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .agg(
            F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges")
        )
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        F.expr("cast(closed_wedges div 3 as bigint)").alias("n_triangles"),
        "n_wedges",
        F.expr("cast(closed_wedges * 1000000 div n_wedges as bigint)").alias(
            "global_cc_micro"
        ),
    )


@register(
    "events_max_drawdown",
    category="timeseries",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1),
cum AS (
  SELECT a.d, CAST(sum(b.v) AS BIGINT) AS c
  FROM daily a JOIN daily b ON b.d <= a.d
  GROUP BY 1),
peak AS (
  SELECT a.d, a.c, CAST(max(b.c) AS BIGINT) AS pk
  FROM cum a JOIN cum b ON b.d <= a.d
  GROUP BY 1, 2)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(pk - c) AS BIGINT) AS max_drawdown_cents,
       CAST(min(CASE WHEN pk - c = (SELECT max(pk - c) FROM peak)
                     THEN d END) AS DATE) AS trough_day
FROM peak
""",
    plan_shape="dimension_bounded",
    plan_reason="running sum and running peak are day x day self-joins, "
    "both sides bounded by the calendar dimension",
)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily event-value series — the
    worst peak-to-trough decline, the canonical health metric for any
    cumulative KPI (revenue, net token budget): max over days of
    (running peak − running total), plus the first trough day. All sums
    are exact integer cents; the running total and running peak are
    day x day self-joins (both sides bounded by the calendar dimension —
    the repo's users_cumulative_distinct pattern; no single-partition
    window)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("v")
        )
        .localCheckpoint(eager=True)
    )
    a = daily.select(F.col("d").alias("da"))
    b = daily.select(F.col("d").alias("db"), "v")
    cum = (
        a.join(b, F.col("db") <= F.col("da"))
        .groupBy(F.col("da").alias("d"))
        .agg(F.sum("v").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    ca = cum.select(F.col("d").alias("da"), F.col("c").alias("ca"))
    cb = cum.select(F.col("d").alias("db"), F.col("c").alias("cb"))
    peak = (
        ca.join(cb, F.col("db") <= F.col("da"))
        .groupBy(F.col("da").alias("d"), F.col("ca").alias("c"))
        .agg(F.max("cb").cast("bigint").alias("pk"))
    )
    dd = peak.select("d", (F.col("pk") - F.col("c")).alias("dd"))
    mx = dd.agg(F.max("dd").cast("bigint").alias("mdd"))
    return (
        dd.crossJoin(F.broadcast(mx))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.max("mdd").cast("bigint").alias("max_drawdown_cents"),
            F.min(F.when(F.col("dd") == F.col("mdd"), F.col("d"))).alias(
                "trough_day"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PR-AUC (average precision) + Brier decomposition (round 7)
# ---------------------------------------------------------------------------

@register(
    "ml_pr_auc_average_precision",
    category="analytics",
    oracle="""
WITH r AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS k
  FROM documents),
p AS (SELECT k, row_number() OVER (ORDER BY k ASC) AS j FROM r WHERE y = 1)
SELECT CAST(count(*) AS BIGINT) AS n_pos,
       CAST(sum(j * 1000000 // k) AS BIGINT) AS sum_prec_micro,
       CAST(sum(j * 1000000 // k) // count(*) AS BIGINT) AS ap_micro
FROM p
""",
)
def ml_pr_auc_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PR-AUC as average precision: AP = (1/P) * sum over positives
    of precision@rank-of-positive, under the deterministic predicted order
    (score DESC, doc_id ASC). precision@k for the j-th positive at global
    rank k is j/k, kept exact as integer micro-units (j*1e6 div k) so no
    float mean-of-ratios crosses the engine boundary — the retrieval-eval
    companion to ml_auc_rank_sum (r6 verdict item 8).

    Scale shape: both ranks come from the two-phase bucketed global
    row_number (operators/ranking.py — partitioned windows only, never a
    single-partition ORDER BY): the full corpus ranked once on the negated
    score, the positive subset ranked once on the resulting rank. The
    final fold is one map-side-combinable aggregation; no pair or
    prefix materialization anywhere."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (-F.col("n_chars")).cast("bigint").alias("neg_score"),
    )
    ranked = global_row_number(docs, "neg_score", ["doc_id"], out_col="k")
    pos = ranked.filter(F.col("y") == 1).select("k")
    pranked = global_row_number(pos, "k", [], out_col="j")
    prec = F.expr("j * CAST(1000000 AS BIGINT) div k")
    return pranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pos"),
        F.sum(prec).cast("bigint").alias("sum_prec_micro"),
        F.expr(
            "CAST(sum(j * CAST(1000000 AS BIGINT) div k) div count(*) AS BIGINT)"
        ).alias("ap_micro"),
    )


def _brier_lut() -> tuple[list[int], list[int]]:
    """-ln(mid) and -ln(1-mid) in integer micro-units for the 10 fixed
    forecast-bin midpoints (0.05 .. 0.95). Python-computed once, embedded
    as identical literals in both engines — the char-entropy-LUT rule: no
    runtime transcendental ever crosses the engine boundary."""
    import math

    lp, lq = [], []
    for b in range(10):
        mid = (b * 100000 + 50000) / 1000000.0
        lp.append(round(-math.log(mid) * 1000000))
        lq.append(round(-math.log(1.0 - mid) * 1000000))
    return lp, lq


_BRIER_LP, _BRIER_LQ = _brier_lut()


def _lut_case_sql(col: str, vals: list[int]) -> str:
    """CASE ladder mapping bin index -> literal, shared verbatim by both
    engines (Spark F.expr and the DuckDB oracle parse the same string)."""
    arms = " ".join(f"WHEN {col} = {i} THEN {v}" for i, v in enumerate(vals))
    return f"CASE {arms} ELSE 0 END"


@register(
    "ml_brier_decomposition",
    category="analytics",
    oracle=f"""
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         least(n_chars, 1000) * 1000 AS f_micro
  FROM documents),
b AS (
  SELECT least(f_micro // 100000, 9) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(f_micro - 1000000 * y AS HUGEINT)
             * CAST(f_micro - 1000000 * y AS HUGEINT)) AS sq
  FROM d GROUP BY 1),
m AS (
  SELECT bin, n, sy, sq,
         n * (bin * 100000 + 50000) - 1000000 * sy AS gap,
         {_lut_case_sql("bin", _BRIER_LP)} AS lp,
         {_lut_case_sql("bin", _BRIER_LQ)} AS lq
  FROM b),
t AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(sy) AS BIGINT) AS ssy,
         sum(sq) AS brier_num,
         CAST(sum(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)
                  // CAST(n * 1000000 AS HUGEINT)) AS BIGINT) AS rel_num,
         CAST(sum(sy * lp + (n - sy) * lq) AS BIGINT) AS ll_num
  FROM m)
SELECT CAST(nn AS BIGINT) AS n, CAST(ssy AS BIGINT) AS n_pos,
       CAST(brier_num // (CAST(nn AS HUGEINT) * 1000000) AS BIGINT) AS brier_micro,
       CAST(rel_num // nn AS BIGINT) AS reliability_micro,
       CAST(CAST(ssy AS HUGEINT) * (nn - ssy) * 1000000
            // (CAST(nn AS HUGEINT) * nn) AS BIGINT) AS uncertainty_micro,
       CAST(rel_num // nn
            + CAST(ssy AS HUGEINT) * (nn - ssy) * 1000000 // (CAST(nn AS HUGEINT) * nn)
            - brier_num // (CAST(nn AS HUGEINT) * 1000000) AS BIGINT) AS resolution_micro,
       CAST(ll_num // nn AS BIGINT) AS logloss_micro
FROM t
""",
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score + binned log-loss for a
    probability forecast (f = min(n_chars,1000)/1000 predicting
    lang = 'en'), over 10 fixed-width forecast bins (r6 verdict item 8,
    completing the r6 calibration machinery): Brier = reliability -
    resolution + uncertainty. Reliability uses the bin MIDPOINT as the
    diagram forecast (fixed-width reliability convention); log-loss prices
    each doc at its bin midpoint through a 10-entry -ln LUT embedded as
    identical micro-unit literals in both engines.

    Every statistic is exact integer arithmetic end to end — the Brier
    numerator sums per-doc squares in int128 (DECIMAL(38,0) / HUGEINT),
    per-bin reliability contributions and the final normalizations use
    truncating integer division (identical div semantics both engines,
    all operands positive), and resolution is DEFINED as reliability +
    uncertainty - brier in micro-units so the published identity holds
    exactly in integers. No float op exists in either engine's plan.

    Scale shape: one map-side-combinable groupBy to <= 10 bin rows (the
    per-doc square folds inside the same pass), then a 10-row fold. At
    100 TB this is a single scan + one tiny shuffle; int128 keeps the
    square sums exact past 10^12 documents."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (F.least(F.col("n_chars"), F.lit(1000)) * 1000)
        .cast("bigint")
        .alias("f_micro"),
    )
    dev = F.col("f_micro") - 1000000 * F.col("y")
    per_bin = (
        docs.groupBy(
            F.least(F.expr("f_micro div 100000"), F.lit(9)).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(
                (dev.cast("decimal(19,0)") * dev.cast("decimal(19,0)")).cast(
                    "decimal(38,0)"
                )
            ).alias("sq"),
        )
        .withColumn(
            "gap",
            F.col("n") * (F.col("bin") * 100000 + 50000) - 1000000 * F.col("sy"),
        )
        .withColumn("lp", F.expr(_lut_case_sql("bin", _BRIER_LP)))
        .withColumn("lq", F.expr(_lut_case_sql("bin", _BRIER_LQ)))
    )
    tot = per_bin.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("sy").cast("bigint").alias("ssy"),
        F.sum("sq").cast("decimal(38,0)").alias("brier_num"),
        F.sum(
            F.expr(
                "cast(gap as decimal(19,0)) * cast(gap as decimal(19,0)) "
                "div cast(n * 1000000 as decimal(38,0))"
            )
        )
        .cast("bigint")
        .alias("rel_num"),
        F.sum(F.col("sy") * F.col("lp") + (F.col("n") - F.col("sy")) * F.col("lq"))
        .cast("bigint")
        .alias("ll_num"),
    )
    brier = F.expr("brier_num div (cast(nn as decimal(38,0)) * 1000000)").cast(
        "bigint"
    )
    rel = F.expr("rel_num div nn").cast("bigint")
    unc = F.expr(
        "cast(ssy as decimal(38,0)) * (nn - ssy) * 1000000 "
        "div (cast(nn as decimal(38,0)) * nn)"
    ).cast("bigint")
    return tot.select(
        F.col("nn").alias("n"),
        F.col("ssy").alias("n_pos"),
        brier.alias("brier_micro"),
        rel.alias("reliability_micro"),
        unc.alias("uncertainty_micro"),
        (rel + unc - brier).cast("bigint").alias("resolution_micro"),
        F.expr("ll_num div nn").cast("bigint").alias("logloss_micro"),
    )


@register(
    "ml_kappa_mcc",
    category="analytics",
    oracle="""
WITH p AS (
  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS pred,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
m AS (
  SELECT CAST(sum(pred * y) AS BIGINT) AS tp,
         CAST(sum(pred * (1 - y)) AS BIGINT) AS fp,
         CAST(sum((1 - pred) * y) AS BIGINT) AS fn,
         CAST(sum((1 - pred) * (1 - y)) AS BIGINT) AS tn
  FROM p),
d AS (
  SELECT tp, fp, fn, tn, tp + fp + fn + tn AS n,
         CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS mnum,
         CAST(floor(sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
                              * (tn + fp) * (tn + fn) AS DOUBLE))) AS HUGEINT)
           AS msqrt,
         CAST(tp + fp AS HUGEINT) * (tp + fn)
           + CAST(fn + tn AS HUGEINT) * (fp + tn) AS pe_num
  FROM m)
SELECT tp, fp, fn, tn,
       CAST(CASE WHEN mnum < 0 THEN -1 ELSE 1 END
            * (abs(mnum) * 1000000 // msqrt) AS BIGINT) AS mcc_micro,
       CAST(CASE WHEN CAST(n AS HUGEINT) * (tp + tn) - pe_num < 0 THEN -1 ELSE 1 END
            * (abs(CAST(n AS HUGEINT) * (tp + tn) - pe_num) * 1000000
               // (CAST(n AS HUGEINT) * n - pe_num)) AS BIGINT) AS kappa_micro,
       CAST((CAST(tp AS HUGEINT) * (tn + fp) + CAST(tn AS HUGEINT) * (tp + fn))
            * 500000 // (CAST(tp + fn AS HUGEINT) * (tn + fp)) AS BIGINT)
         AS balanced_accuracy_micro
FROM d
""",
)
def ml_kappa_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa, Matthews correlation, and balanced accuracy for the
    fixed-threshold classifier of ``ml_confusion_f1`` (n_chars >= 300
    predicting lang = 'en') — the chance-corrected agreement metrics a
    filter-model audit reports alongside F1.

    Determinism: kappa = (N(TP+TN) - pe_num)/(N^2 - pe_num) and balanced
    accuracy are exact integer rationals in micro-units (truncation toward
    zero matches both engines — verified on negatives); MCC's denominator
    sqrt goes through IEEE-exact ops only (int -> double conversion and
    sqrt are both correctly rounded, floor exact), after which the
    division is integer again. Sign is applied explicitly so truncation
    semantics never touch a negative numerator.

    Scale shape: identical to ml_confusion_f1 — one scan folding to four
    bigint counts map-side, then O(1) arithmetic. int128 keeps N^2 and
    the four-way product exact far past 10^9 rows."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("pred"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    m = p.agg(
        F.sum(F.col("pred") * F.col("y")).cast("bigint").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("y"))).cast("bigint").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("y")).cast("bigint").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("y"))).cast("bigint").alias("tn"),
    )
    d = m.selectExpr(
        "tp", "fp", "fn", "tn",
        "tp + fp + fn + tn AS n",
        "cast(tp as decimal(38,0)) * tn - cast(fp as decimal(38,0)) * fn AS mnum",
        "cast(floor(sqrt(cast(cast(tp + fp as decimal(38,0)) * (tp + fn) "
        "* (tn + fp) * (tn + fn) as double))) as decimal(38,0)) AS msqrt",
        "cast(tp + fp as decimal(38,0)) * (tp + fn) "
        "+ cast(fn + tn as decimal(38,0)) * (fp + tn) AS pe_num",
    )
    return d.selectExpr(
        "tp", "fp", "fn", "tn",
        "cast((CASE WHEN mnum < 0 THEN -1 ELSE 1 END) "
        "* (abs(mnum) * 1000000 div msqrt) as bigint) AS mcc_micro",
        "cast((CASE WHEN cast(n as decimal(38,0)) * (tp + tn) - pe_num < 0 "
        "THEN -1 ELSE 1 END) "
        "* (abs(cast(n as decimal(38,0)) * (tp + tn) - pe_num) * 1000000 "
        "div (cast(n as decimal(38,0)) * n - pe_num)) as bigint) AS kappa_micro",
        "cast((cast(tp as decimal(38,0)) * (tn + fp) "
        "+ cast(tn as decimal(38,0)) * (tp + fn)) * 500000 "
        "div (cast(tp + fn as decimal(38,0)) * (tn + fp)) as bigint) "
        "AS balanced_accuracy_micro",
    )


@register(
    "ml_spearman_rank_corr",
    category="analytics",
    oracle="""
WITH v AS (
  SELECT doc_id, n_chars,
         CAST(len(text) - len(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok
  FROM documents),
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) AS rx,
         row_number() OVER (ORDER BY n_tok ASC, doc_id ASC) AS ry
  FROM v),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(rx - ry AS HUGEINT) * CAST(rx - ry AS HUGEINT)) AS d2
  FROM r)
SELECT n, CAST(d2 AS BIGINT) AS sum_d2,
       CAST(1000000 - CAST(d2 AS HUGEINT) * 6000000
            // (CAST(n AS HUGEINT) * n * n - n) AS BIGINT) AS rho_micro
FROM s
""",
)
def ml_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between document length (n_chars) and
    whitespace token count, via the classic 1 - 6*sum(d^2)/(n(n^2-1))
    identity on PERMUTATION ranks (ties broken by doc_id on both sides —
    the repo's total-order contract, documented in place of the
    average-rank tie correction).

    Determinism: ranks are exact integers from the two-phase bucketed
    global row_number; sum(d^2) accumulates in int128; rho lands as one
    truncating integer division in micro-units — no float anywhere.

    Scale shape: two global-rank passes (each a bucket-histogram + one
    partitioned window — no single-partition ORDER BY) joined on doc_id,
    then a map-side fold. n^3 stays exact in int128 to ~10^12 rows."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (
            F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
        ).cast("bigint").alias("n_tok"),
    )
    rx = global_row_number(
        docs.select("doc_id", "n_chars"), "n_chars", ["doc_id"], out_col="rx"
    ).select("doc_id", "rx")
    ry = global_row_number(
        docs.select("doc_id", "n_tok"), "n_tok", ["doc_id"], out_col="ry"
    ).select("doc_id", "ry")
    r = rx.join(ry, "doc_id")
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "cast(rx - ry as decimal(19,0)) * cast(rx - ry as decimal(19,0))"
            )
        ).cast("decimal(38,0)").alias("d2"),
    )
    return s.selectExpr(
        "n",
        "cast(d2 as bigint) AS sum_d2",
        "cast(1000000 - d2 * 6000000 "
        "div (cast(n as decimal(38,0)) * n * n - n) as bigint) AS rho_micro",
    )


@register(
    "ml_kendall_tau",
    category="analytics",
    oracle="""
WITH v AS (
  SELECT doc_id, n_chars,
         CAST(len(text) - len(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok
  FROM documents WHERE doc_id % 20 = 0),
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) AS rx,
         row_number() OVER (ORDER BY n_tok ASC, doc_id ASC) AS ry
  FROM v),
inv AS (
  SELECT CAST(count(*) AS BIGINT) AS n_inv
  FROM r a JOIN r b ON a.rx < b.rx AND a.ry > b.ry),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r)
SELECT n.n, inv.n_inv,
       CAST(1000000 - CAST(n_inv AS HUGEINT) * 4000000
            // (CAST(n.n AS HUGEINT) * (n.n - 1)) AS BIGINT) AS tau_micro
FROM n, inv
""",
)
def ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-a between document length and whitespace token count
    on PERMUTATION ranks (ties broken by doc_id, as in
    ``ml_spearman_rank_corr``): tau = 1 - 4*inversions/(n(n-1)), with the
    inversion count from the grid-decomposed exact counter
    (operators/ranking.count_inversions — coarse 2D-histogram driver math
    + per-bucket and per-band merge-sort kernels; never materializes a
    pair). The 1-in-20 doc_id subsample keeps the oracle's O(n^2) pair
    join feasible at sweep scale; the Spark side runs the same scalable
    algorithm it would run on the full corpus.

    Determinism: ranks and the inversion count are exact integers
    (hypothesis-tested against brute force over bucket granularities);
    tau lands as one truncating integer division in micro-units.

    Scale shape: two bucketed global ranks, one O(B^2) cell histogram,
    two grouped Arrow kernels of ~n/B rows each — O(n log n) work,
    O(B^2) driver state. The oracle's pair join is the one thing this
    operator exists to avoid."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        count_inversions,
        global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    ).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (
            F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
        ).cast("bigint").alias("n_tok"),
    )
    rx = global_row_number(
        docs.select("doc_id", "n_chars"), "n_chars", ["doc_id"], out_col="rx"
    ).select("doc_id", "rx")
    ry = global_row_number(
        docs.select("doc_id", "n_tok"), "n_tok", ["doc_id"], out_col="ry"
    ).select("doc_id", "ry")
    r = rx.join(ry, "doc_id")
    n = docs.count()
    inv = count_inversions(r, "rx", "ry")
    return small_df(spark, 
        [(n, inv)], "n bigint, n_inv bigint"
    ).selectExpr(
        "n", "n_inv",
        "cast(1000000 - cast(n_inv as decimal(38,0)) * 4000000 "
        "div (cast(n as decimal(38,0)) * (n - 1)) as bigint) AS tau_micro",
    )


@register(
    "window_rank_ties_global",
    category="window",
    oracle="""
WITH g AS (
  SELECT CAST(l_quantity AS BIGINT) AS q, CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY 1),
t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n FROM g)
SELECT q, n_rows,
       CAST(1 + coalesce(sum(n_rows) OVER (ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS rank,
       CAST(row_number() OVER (ORDER BY q) AS BIGINT) AS dense_rank,
       CAST(sum(n_rows) OVER (ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
            // (SELECT n FROM t) AS BIGINT) AS cume_micro
FROM g
""",
)
def window_rank_ties_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global rank() / dense_rank() / cume_dist() over lineitem quantity —
    the ties-respecting window family, computed scalably per distinct key
    (operators/ranking.global_rank_ties): ties make these pure functions
    of the key histogram, so the corpus collapses map-side to its key
    domain and the rank arithmetic runs on the tiny distinct-key frame via
    the two-phase prefix machinery. The row_number variant is
    ``window_rank_global_scalable``; this completes the family.

    Scale shape: ONE scan + one map-side-combinable groupBy to |domain|
    rows; everything after is O(|domain|). A naive
    ``rank() OVER (ORDER BY q)`` on the raw rows moves the entire corpus
    to one partition. cume_dist in truncated integer micro-units."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        global_rank_ties,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q")
    )
    return global_rank_ties(li, "q").orderBy("q")


def pava_isotonic_micro(bins: list[tuple[int, int, int]]) -> dict[int, int]:
    """Weighted isotonic (non-decreasing) fit of per-bin positive rates by
    pool-adjacent-violators on EXACT integers: bins = [(bin, n, sum_y)]
    in bin order; returns {bin: fitted_micro} where fitted_micro =
    floor(pooled_mean * 1e6). All comparisons are cross-multiplied Python
    ints (arbitrary precision — no float, no overflow at any N). Merging
    on equality is harmless (identical pooled mean).

    Equivalence used by the oracle: the PAVA solution at bin i equals
    max_{j<=i} min_{k>=i} avg(j..k) (the minimax characterization), and
    floor is monotone, so max/min commute with truncation — the SQL
    minimax over pico-truncated averages reproduces these exact values."""
    blocks: list[list] = []  # [sum_y, n, [bins...]]
    for b, n, sy in sorted(bins):
        blocks.append([sy, n, [b]])
        while (
            len(blocks) >= 2
            and blocks[-2][0] * blocks[-1][1] >= blocks[-1][0] * blocks[-2][1]
        ):
            sy2, n2, bs2 = blocks.pop()
            blocks[-1][0] += sy2
            blocks[-1][1] += n2
            blocks[-1][2].extend(bs2)
    out: dict[int, int] = {}
    for sy, n, bs in blocks:
        v = sy * 1000000 // n
        for b in bs:
            out[b] = v
    return out


@register(
    "ml_isotonic_calibration",
    category="analytics",
    oracle="""
WITH r AS (
  SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         ntile(10) OVER (ORDER BY n_chars ASC, doc_id ASC) AS bin
  FROM documents),
b AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
  FROM r GROUP BY 1),
cum AS (
  SELECT bin, sum(n) OVER (ORDER BY bin) AS cn, sum(sy) OVER (ORDER BY bin) AS cs
  FROM b),
vals AS (
  SELECT t.i, t.j, t.k,
         CAST(ck.cs - coalesce(cj.cs, 0) AS HUGEINT) * 1000000000000
           // CAST(ck.cn - coalesce(cj.cn, 0) AS HUGEINT) AS apico
  FROM (SELECT b1.bin AS i, b2.bin AS j, b3.bin AS k
        FROM b b1, b b2, b b3
        WHERE b2.bin <= b1.bin AND b3.bin >= b1.bin) t
  JOIN cum ck ON ck.bin = t.k
  LEFT JOIN cum cj ON cj.bin = t.j - 1),
mins AS (SELECT i, j, min(apico) AS m FROM vals GROUP BY 1, 2),
fit AS (SELECT i AS bin, max(m) AS fitted_pico FROM mins GROUP BY 1)
SELECT CAST(b.bin AS INT) AS bin, b.n, b.sy AS n_pos,
       CAST(b.sy * 1000000 // b.n AS BIGINT) AS raw_rate_micro,
       CAST(fit.fitted_pico // 1000000 AS BIGINT) AS fitted_micro
FROM b JOIN fit ON fit.bin = b.bin
""",
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the score-decile
    positive rates from ``ml_calibration_bins`` — the non-parametric
    calibrator (pool-adjacent-violators) every probability-output model
    audit fits after the reliability diagram. Per decile: raw empirical
    rate and the PAVA-fitted rate, both integer micro-units.

    Determinism + oracle strategy: Spark folds the corpus to <=10 exact
    (n, sum_y) bins (the same two-phase global ntile as the calibration
    query) and runs integer PAVA on the driver (O(bins) state — the
    k-means-centroid convention; Python ints, cross-multiplied
    comparisons, no float). The oracle instead evaluates the minimax
    characterization fitted(i) = max_{j<=i} min_{k>=i} avg(j..k) as a
    triple join over the 10 bins in int128, exploiting that floor is
    monotone so truncation commutes with max/min — two completely
    different algorithms certified to agree exactly (hypothesis-tested
    on random histograms too).

    Scale shape: all corpus-sized work is one scan + the bucketed ntile +
    a <=10-row fold; PAVA cost is independent of data size."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import global_ntile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    tiled = global_ntile(docs, "n_chars", ["doc_id"], n=10, out_col="bin")
    rows = (
        tiled.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("sy"),
        )
        .collect()  # <=10 bins — calibration state, never data
    )
    bins = [(int(r["bin"]), int(r["n"]), int(r["sy"])) for r in rows]
    fitted = pava_isotonic_micro([(b, n, sy) for b, n, sy in bins])
    out = [
        (b, n, sy, sy * 1000000 // n, fitted[b])
        for b, n, sy in sorted(bins)
    ]
    return small_df(spark, 
        out,
        "bin int, n bigint, n_pos bigint, raw_rate_micro bigint, fitted_micro bigint",
    )


@register(
    "ml_expected_calibration_error",
    category="analytics",
    oracle="""
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         least(n_chars, 1000) * 1000 AS f_micro
  FROM documents),
b AS (
  SELECT least(f_micro // 100000, 9) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy
  FROM d GROUP BY 1),
g AS (
  SELECT bin, n, sy,
         abs(n * (bin * 100000 + 50000) - 1000000 * sy) AS agap
  FROM b)
SELECT CAST(sum(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_bins_occupied,
       CAST(sum(agap) // sum(n) AS BIGINT) AS ece_micro,
       CAST(max(agap // n) AS BIGINT) AS mce_micro
FROM g
""",
)
def ml_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / maximum calibration error over the same 10 fixed-width
    forecast bins as ``ml_brier_decomposition`` (midpoint forecast
    convention): ECE = count-weighted mean |forecast - observed rate|,
    MCE = the worst bin — the two headline numbers of a reliability
    audit. Pure integers: the per-bin gap |n*mid - 1e6*sy| needs no
    per-bin division for ECE (weights cancel), one truncating div per
    bin for MCE.

    Scale shape: one map-side-combinable groupBy to <=10 bins + a 1-row
    fold — the canonical map-only eval job."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        (F.least(F.col("n_chars"), F.lit(1000)) * 1000)
        .cast("bigint")
        .alias("f_micro"),
    )
    b = docs.groupBy(
        F.least(F.expr("f_micro div 100000"), F.lit(9)).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    g = b.withColumn(
        "agap",
        F.abs(F.col("n") * (F.col("bin") * 100000 + 50000) - 1000000 * F.col("sy")),
    )
    return g.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins_occupied"),
        F.expr("cast(sum(agap) div sum(n) as bigint)").alias("ece_micro"),
        F.expr("cast(max(agap div n) as bigint)").alias("mce_micro"),
    )


@register(
    "dq_wilson_bounds",
    category="dq",
    oracle="""
WITH c AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM documents GROUP BY 1),
w AS (
  SELECT source, n, s,
         (CAST(s AS DOUBLE) / n) AS ph,
         (1.0 + CAST(3.8416 AS DOUBLE) / n) AS d
  FROM c),
b AS (
  SELECT source, n, s,
         ((ph + CAST(3.8416 AS DOUBLE) / (2.0 * n)) / d) AS center,
         ((CAST(1.96 AS DOUBLE) * sqrt(((ph * (1.0 - ph)) / n)
            + (CAST(3.8416 AS DOUBLE) / ((4.0 * n) * n)))) / d) AS half
  FROM w)
SELECT source, n, s AS n_pos,
       CAST(floor((center - half) * 1000000.0 + 0.5) AS BIGINT) AS lower_micro,
       CAST(floor((center + half) * 1000000.0 + 0.5) AS BIGINT) AS upper_micro
FROM b
""",
)
def dq_wilson_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score 95%% confidence interval for each source's positive
    (lang = 'en') rate — the binomial CI a data-quality review quotes when
    comparing vendor rates at very different sample sizes (unlike the
    normal approximation it never escapes [0,1] and behaves at small n).

    Determinism: after the exact integer (n, s) fold, every op in the
    interval formula is exactly-rounded IEEE (+, -, *, /, sqrt) with the
    SAME expression shape and literal forms in both engines (z = 1.96 and
    z^2 = 3.8416 as literals parse to the identical nearest double), so
    the bounds are bit-identical before the floor-form micro rounding.

    Scale shape: one map-side-combinable groupBy to |sources| rows; the
    interval arithmetic is a projection."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("s"),
    )
    ph = F.col("s").cast("double") / F.col("n")
    d = F.lit(1.0) + F.lit(3.8416) / F.col("n")
    center = (ph + F.lit(3.8416) / (F.lit(2.0) * F.col("n"))) / d
    half = (
        F.lit(1.96)
        * F.sqrt(
            ((ph * (F.lit(1.0) - ph)) / F.col("n"))
            + (F.lit(3.8416) / ((F.lit(4.0) * F.col("n")) * F.col("n")))
        )
    ) / d
    def _micro(col):
        return F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    return c.select(
        "source", "n", F.col("s").alias("n_pos"),
        _micro(center - half).alias("lower_micro"),
        _micro(center + half).alias("upper_micro"),
    )
