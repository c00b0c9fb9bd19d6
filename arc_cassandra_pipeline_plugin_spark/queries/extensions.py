"""Certified queries for the north-star extension operators: text analysis,
deduplication (exact / MinHash+LSH / SimHash / n-gram Jaccard / embedding
near-dup), similarity search, time-series (as-of join, sessionization,
event-time windows), and multimodal binary columns.

Where the operator is hash-based, the oracle SQL is *generated from the same
Python constants* (permutation counts, band layout, marker words) so the two
sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from arc_cassandra_pipeline_plugin_spark.functions import small_df

from arc_cassandra_pipeline_plugin_spark.operators import dedup as D
from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M
from arc_cassandra_pipeline_plugin_spark.operators import similarity as S
from arc_cassandra_pipeline_plugin_spark.operators import text as TX
from arc_cassandra_pipeline_plugin_spark.operators import timeseries as TS
from arc_cassandra_pipeline_plugin_spark.queries import register, scratch_dir
from arc_cassandra_pipeline_plugin_spark.sources import load_table, table_path

_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@register(
    "text_token_stats",
    category="text",
    oracle=r"""
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_tokens,
       CAST(length(text) AS INT) AS n_chars_measured,
       round(CASE WHEN length(trim(text)) = 0 THEN 0.0
                  ELSE length(regexp_replace(trim(text), '\s+', '', 'g'))
                       / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) END, 6)
         AS avg_token_len,
       round(CASE WHEN length(text) = 0 THEN 0.0
                  ELSE length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                       / CAST(length(lower(text)) AS DOUBLE) END, 6) AS non_alnum_ratio
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char statistics — single codegen'd projection, no shuffle."""
    d = TX.with_token_stats(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        "n_tokens",
        "n_chars_measured",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("non_alnum_ratio", 6).alias("non_alnum_ratio"),
    )


@register(
    "text_quality_score",
    category="text",
    oracle=r"""
SELECT doc_id,
       round(0.5 * least(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) / 100.0, 1.0)
           + 0.5 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
                  ELSE length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                       / CAST(length(lower(text)) AS DOUBLE) END) * 2.0, 1.0)), 6) AS quality_score
FROM documents
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score in [0,1] per document."""
    return TX.quality_score(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "quality_score"
    )


def _lang_id_oracle() -> str:
    score_exprs = []
    for lang in sorted(TX.LANG_MARKERS):
        terms = []
        for w in TX.LANG_MARKERS[lang]:
            needle = f" {w} "
            terms.append(
                f"(length(t) - length(replace(t, '{needle}', ''))) / {len(needle)}"
            )
        score_exprs.append(f"({' + '.join(terms)}) AS score_{lang}")
    langs = sorted(TX.LANG_MARKERS)
    best = f"greatest({', '.join('score_' + lang for lang in langs)})"
    whens = " ".join(
        f"WHEN score_{lang} = best THEN '{lang}'" for lang in langs
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang, {', '.join(score_exprs)}
  FROM (SELECT doc_id, lang, concat(' ', lower(text), ' ') AS t FROM documents)
), best_of AS (
  SELECT *, {best} AS best FROM scored
)
SELECT doc_id, lang,
       CASE WHEN best <= 0 THEN 'und' {whens} ELSE 'und' END AS lang_pred
FROM best_of
"""


@register("text_lang_id", category="text", oracle=_lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification (engine-portable heuristic)."""
    return TX.lang_id(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "lang_pred"
    )


@register(
    "text_fingerprint",
    category="text",
    oracle=rf"SELECT doc_id, substr(md5({_NORM}), 1, 16) AS fingerprint FROM documents",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-prefix document fingerprint over normalized text."""
    return TX.fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    category="dedup",
    oracle=rf"""
SELECT substr(md5({_NORM}), 1, 32) AS content_hash,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content hash (hash-shuffle, never text)."""
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


_NUM_PERM = 16
_BANDS = 4
_SHINGLE_K = 5


def _shingle_cte(k: int) -> str:
    # sh is MATERIALIZED: several audit oracles reference it 2-3× (sizes +
    # both sides of the intersection join) and DuckDB inlines per
    # reference, re-running the shingle explosion each time (the r10 sf1
    # oracle-cost exclusions). Single-reference users pay one buffered
    # materialization — noise at every certified SF.
    return (
        f"WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),\n"
        f"sh AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform("
        f"generate_series(1, greatest(length(t) - {k - 1}, 1)), i -> substr(t, i, {k})"
        f"))) AS shingle FROM norm)"
    )


def _minhash_select() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
    )

    cols = []
    for p in range(_NUM_PERM):
        a, b = minhash_coeffs(p)
        cols.append(f"min((h * {a} + {b}) % {MINHASH_P}) AS mh_{p}")
    return (
        "SELECT doc_id,\n       "
        + ",\n       ".join(cols)
        + "\nFROM (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh)"
        + "\nGROUP BY doc_id"
    )


@register(
    "dedup_minhash_signature",
    category="dedup",
    oracle=f"{_shingle_cte(_SHINGLE_K)}\n{_minhash_select()}",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 perms over 5-char shingles) — one explode +
    one groupBy(doc_id) shuffle."""
    return D.minhash_signature(
        load_table(spark, sf_dir, "documents"), num_perm=_NUM_PERM, shingle_k=_SHINGLE_K
    )


def _lsh_oracle() -> str:
    rows = _NUM_PERM // _BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(concat_ws('|', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")) AS band_hash FROM sig"
        for b in range(_BANDS)
    )
    return f"""
{_shingle_cte(_SHINGLE_K)},
sig AS ({_minhash_select()}),
banded AS ({band_selects})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh", category="dedup", oracle=_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs from banded MinHash signatures (4 bands × 4 rows):
    the self-join keys on (band, band_hash), sharding the pair space."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signature(docs, num_perm=_NUM_PERM, shingle_k=_SHINGLE_K)
    return D.lsh_candidate_pairs(sigs, num_perm=_NUM_PERM, bands=_BANDS)


_JACCARD_K = 3
_JACCARD_MAX_DOC = 100
_JACCARD_THRESHOLD = 0.35


@register(
    "dedup_ngram_jaccard",
    category="dedup",
    oracle=f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents WHERE doc_id < {_JACCARD_MAX_DOC}),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         generate_series(1, greatest(length(t) - {_JACCARD_K - 1}, 1)),
         i -> substr(t, i, {_JACCARD_K})))) AS shingle FROM norm),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
         round(n_inter / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
) WHERE jaccard >= {_JACCARD_THRESHOLD}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-3-gram Jaccard similarity (bounded doc subset — at
    scale this runs only on LSH candidates, never all pairs)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < _JACCARD_MAX_DOC)
    return D.ngram_jaccard_pairs(
        docs, shingle_k=_JACCARD_K, threshold=_JACCARD_THRESHOLD
    )


def _simhash_oracle() -> str:
    bit_sums = ",\n       ".join(
        f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS bit_{b}"
        for b in range(60)
    )
    code = " + ".join(f"CASE WHEN bit_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(60))
    return f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm),
hashed AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th
           FROM toks WHERE length(tok) > 0),
bits AS (SELECT doc_id,
       {bit_sums}
FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({code} AS BIGINT) AS simhash FROM bits
"""


@register("dedup_simhash", category="dedup", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash codes per document (pure projection + one shuffle)."""
    return D.simhash64(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_embedding_neardup",
    category="dedup",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_a, vec_b, cosine FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.3
""",
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs path at test
    scale; the blocked SRP variant is the scale path — see
    similarity_ann_lsh)."""
    return S.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.3, blocked=False
    )


@register(
    "dedup_semantic_clusters",
    category="dedup",
    oracle="""
WITH RECURSIVE
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
prs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4),
edges AS (SELECT va AS a, vb AS b FROM prs UNION SELECT vb, va FROM prs),
walk(id, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e2.a, w.label FROM edges e2 JOIN walk w ON e2.b = w.id),
comp AS (SELECT id AS vec_id, min(label) AS cluster_id FROM walk GROUP BY id)
SELECT cluster_id, count(*) AS n_members
FROM comp GROUP BY cluster_id
""",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs →
    connected components → cluster size profile. The transitive closure is
    what turns pairwise similarity into dedup groups ("A≈B, B≈C ⇒ one
    cluster"), and the cluster-size histogram is the triage view (a giant
    semantic cluster = boilerplate/template content). Exact all-pairs path
    at test scale; the SRP-blocked pair generator and the
    large-star/small-star components are the 100 TB path (same output
    contract). Certified against the closure as a recursive CTE."""
    pairs = S.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, blocked=False
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    comps = D.connected_components(pairs)
    return comps.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@register(
    "similarity_topk_bruteforce",
    category="similarity",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
     c AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, match_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
  FROM q CROSS JOIN c WHERE match_id <> query_id)
SELECT query_id, match_id, cosine, rn AS "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 3 query vectors: broadcast queries × one
    corpus scan, rank by rounded score with id tiebreak."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)


@register(
    "similarity_knn_graph",
    category="similarity",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS match_id,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
  FROM e a CROSS JOIN e b WHERE a.vec_id <> b.vec_id)
SELECT query_id, match_id, cosine, rn AS "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rn
  FROM scored
) WHERE rn <= 3
""",
)
def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN GRAPH construction: every vector's exact top-3 neighbors (the
    substrate for graph-ANN indexes, UMAP-style manifold methods, and
    kNN-classifier joins). Exact all-pairs path at test scale — the
    corpus broadcasts against its own scan; at 100 TB the same output
    contract comes from the SRP-bucketed candidate join
    (similarity_ann_lsh) or IVF cells, trading exactness for a bounded
    candidate set."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb, k=3)


@register(
    "similarity_mutual_knn_pairs",
    category="similarity",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS match_id,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
  FROM e a CROSS JOIN e b WHERE a.vec_id <> b.vec_id),
knn AS (
  SELECT query_id, match_id, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rn
    FROM scored) WHERE rn <= 3)
SELECT a.query_id AS vec_a, a.match_id AS vec_b, a.cosine
FROM knn a JOIN knn b ON a.query_id = b.match_id AND a.match_id = b.query_id
WHERE a.query_id < a.match_id
""",
)
def similarity_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN pairs: vectors that appear in EACH OTHER'S top-3 — the
    high-precision near-duplicate criterion (one-sided kNN membership is
    asymmetric in dense regions; mutuality filters hub effects). One
    self-join of the kNN graph on the swapped key pair; canonical a<b
    ordering emits each pair once."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = S.brute_force_topk(emb, emb, k=3).select("query_id", "match_id", "cosine")
    rev = knn.select(
        F.col("match_id").alias("query_id"), F.col("query_id").alias("match_id")
    )
    return (
        knn.join(rev, ["query_id", "match_id"])
        .filter(F.col("query_id") < F.col("match_id"))
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("match_id").alias("vec_b"),
            "cosine",
        )
    )


@register(
    "similarity_range_search",
    category="similarity",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
     c AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS cv FROM embeddings)
SELECT query_id, match_id, cosine FROM (
  SELECT query_id, match_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
  FROM q CROSS JOIN c WHERE match_id <> query_id
) WHERE cosine >= 0.2
""",
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius query: every corpus vector with cosine ≥ 0.2 of each of 3
    query vectors — the bounded-similarity twin of top-k retrieval
    (deduplication and contamination screens want "everything this close",
    not "the k closest"). Broadcast queries over one corpus scan; the
    threshold tests the 6-dp-rounded score so the boundary set is engine-
    deterministic."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.range_search(emb, emb.filter(F.col("vec_id") < 3), threshold=0.2)


_ANN_DIM = 64
_ANN_PLANES = 8
_ANN_K = 5


def _srp_code_sql(vcol: str = "v") -> str:
    """SRP code as SQL, generated from the *same* hyperplanes the Spark
    operator uses (md5-seeded, no RNG). The per-plane dot product is an
    explicit left-associative sum, bit-identical to Spark's sequential
    ``aggregate`` fold, so the sign bits cannot drift between engines."""
    terms = []
    for p, plane in enumerate(S._hyperplanes(_ANN_DIM, _ANN_PLANES, seed=42)):
        dot = " + ".join(f"{vcol}[{i + 1}] * {x!r}" for i, x in enumerate(plane))
        terms.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(terms)


def _ann_lsh_oracle() -> str:
    probe_list = ", ".join(
        ["code"] + [f"xor(code, {1 << p})" for p in range(_ANN_PLANES)]
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
coded AS (SELECT vec_id, v, ({_srp_code_sql()}) AS code FROM e),
probes AS (SELECT vec_id AS query_id, v AS qv,
                  unnest([{probe_list}]) AS pcode
           FROM coded WHERE vec_id < 3),
scored AS (SELECT query_id, c.vec_id AS match_id,
                  round(list_dot_product(qv, c.v)
                        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v))), 6)
                    AS cosine
           FROM probes JOIN coded c ON c.code = probes.pcode
           WHERE c.vec_id <> probes.query_id)
SELECT query_id, match_id, cosine, rn AS "rank"
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rn
      FROM scored)
WHERE rn <= {_ANN_K}
"""


@register("similarity_ann_lsh", category="similarity", oracle=_ann_lsh_oracle())
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH ANN with Hamming-1 multi-probe — the
    bucket-pruned scale path. Deterministic (md5-seeded hyperplanes), so the
    oracle re-derives the same codes/probes/top-k in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=_ANN_K, dim=_ANN_DIM, n_planes=_ANN_PLANES
    )


# ---------------------------------------------------------------------------
# time-series: as-of join, sessionization, event-time windows
# ---------------------------------------------------------------------------

@register(
    "asof_join_events_orders",
    category="timeseries",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderdate, min(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate
FROM events e
ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""",
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent order at or
    before the event time. Single-shuffle union+window formulation,
    certified against DuckDB's native ASOF JOIN. The right side is
    pre-deduped to one order per (custkey, day) so the match is total-order
    deterministic."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.min("o_orderkey").alias("o_orderkey"))
    )
    joined = TS.asof_join(
        events, orders, on="user_id", left_ts="ts", right_ts="o_orderdate"
    )
    return joined.select("event_id", "user_id", "o_orderkey", "o_orderdate")


@register(
    "sessionize_events",
    category="timeseries",
    oracle="""
SELECT event_id, user_id,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                   > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events)
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag → boundary → running sum."""
    out = TS.sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)
    return out.select("event_id", "user_id", "session_id")


@register(
    "events_windowed_agg",
    category="timeseries",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events GROUP BY 1, 2
""",
)
def events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows via F.window (epoch-aligned, so
    window.start ≡ date_trunc('hour')). Streaming twin in
    streaming/ runs the same plan incrementally with a watermark."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # integer-CENTS sum: value is a 2-dp grid, so round(value*100) is the
            # exact integer on both engines; the long sum stays on the vectorized
            # codegen fast path (a decimal sum costs ~2x here) and cannot
            # overflow per bounded time-window group at any corpus scale
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@register(
    "events_session_window",
    category="timeseries",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800.0
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sessions AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sessions GROUP BY user_id, sid
""",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native session windows (F.session_window, 30 min gap) —
    oracle replicates the merge rule (new session when gap >= 30 min)
    via lag + running sum. Event times are unique per user at test scale,
    so ordering is total."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )


# ---------------------------------------------------------------------------
# multimodal binary columns
# ---------------------------------------------------------------------------

@register(
    "multimodal_checksums",
    category="multimodal",
    oracle="""
SELECT doc_id AS asset_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS checksum
FROM documents
""",
)
def multimodal_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text → utf-8 payload → byte length +
    sha-256, both Spark builtins (``length``, ``sha2``), so no Python
    worker runs. Certifies the binary plumbing end-to-end against the
    oracle."""
    assets = M.documents_as_assets(load_table(spark, sf_dir, "documents"))
    return M.payload_checksums(assets).select("asset_id", "n_bytes", "checksum")


def _features_oracle(dim: int = 8) -> str:
    """Replicates :func:`multimodal._fake_feature` (byte-stripe means over
    the utf-8 payload) in SQL. The documents fixture is pure ASCII, so
    byte values ≡ ``ascii()`` of the characters; stripe layout and the
    last-stripe fallback mirror the Python slicing exactly."""
    stripe_exprs = []
    for d in range(dim):
        chunk_len = f"least(stripe, n - {d} * stripe)"
        chunk_sum = (
            f"list_sum(list_transform(range(1, {chunk_len} + 1), "
            f"i -> ascii(substr(t, {d} * stripe + i, 1))))"
        )
        fb_len = "least(stripe, n)"
        fb_sum = (
            f"list_sum(list_transform(range(1, {fb_len} + 1), "
            f"i -> ascii(substr(t, n - {fb_len} + i, 1))))"
        )
        stripe_exprs.append(
            f"CASE WHEN n = 0 THEN 0.0 "
            f"WHEN {d} * stripe < n THEN round({chunk_sum} / ({chunk_len} * 255.0), 6) "
            f"ELSE round({fb_sum} / ({fb_len} * 255.0), 6) END"
        )
    features = ",\n         ".join(stripe_exprs)
    return f"""
WITH b AS (SELECT doc_id AS asset_id, text AS t, length(text) AS n,
                  greatest(length(text) // {dim}, 1) AS stripe
           FROM documents)
SELECT asset_id, 'text/plain' AS media_type,
       to_json([{features}]::DOUBLE[]) AS feature_json
FROM b
"""


@register("multimodal_features", category="multimodal", oracle=_features_oracle())
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake feature vectors over binary payloads (the decode
    step is stubbed — no codec libs in this environment; the Spark-side
    schema/batching/partitioning is real). The vector is certified through
    its ``to_json`` serialization against a SQL re-derivation of the same
    byte-stripe means."""
    assets = M.documents_as_assets(load_table(spark, sf_dir, "documents"))
    return M.extract_features(assets).select(
        "asset_id", "media_type", F.to_json("feature").alias("feature_json")
    )


@register(
    "multimodal_wav_roundtrip",
    category="multimodal",
    oracle="""
WITH d AS (SELECT doc_id AS asset_id, 100 + doc_id % 50 AS n FROM documents),
s AS (SELECT asset_id, n, unnest(range(0, n)) AS j FROM d),
v AS (SELECT asset_id, n, ((asset_id * 31 + j * 17) % 2048) - 1024 AS smp FROM s),
agg AS (
  SELECT asset_id, max(n) AS n, max(abs(smp)) AS peak_abs, sum(smp * smp) AS ss
  FROM v GROUP BY asset_id)
SELECT asset_id,
       8000 AS sample_rate,
       CAST(n AS INT) AS n_samples,
       CAST(n * 1000 // 8000 AS INT) AS duration_ms,
       CAST(peak_abs AS INT) AS peak_abs,
       round(sqrt(ss * 1.0 / n), 6) AS rms
FROM agg
""",
)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (no codec library needed for uncompressed media):
    a deterministic PCM16 corpus is serialized through the RIFF/WAVE
    encoder and parsed back by the genuine chunk-walking decoder
    (operators/multimodal.py decode_wav_pcm16 — magic validation, fmt
    gating, frame unpacking), with per-asset duration/peak/RMS certified
    against the oracle's direct re-derivation of the sample formula. A
    header or offset bug anywhere in the codec path breaks the value hash.
    Compressed formats (JPEG/MP3) remain gated on codec libs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assets = M.synthesize_wav_assets(docs)
    return M.wav_features(assets)


@register(
    "multimodal_wav_frames",
    category="multimodal",
    oracle="""
WITH d AS (SELECT doc_id AS asset_id, 100 + doc_id % 50 AS n FROM documents),
s AS (SELECT asset_id, n, unnest(range(0, n)) AS j FROM d),
v AS (SELECT asset_id, j // 32 AS frame_idx,
             ((asset_id * 31 + j * 17) % 2048) - 1024 AS smp
      FROM s)
SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(count(*) AS INT) AS n_samples,
       CAST(max(abs(smp)) AS INT) AS peak_abs,
       round(sqrt(sum(smp * smp) * 1.0 / count(*)), 6) AS rms
FROM v GROUP BY asset_id, frame_idx
""",
)
def multimodal_wav_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-granular audio features through the REAL decoder: each WAV's
    PCM stream splits into 32-sample windows (last window ragged) with
    per-frame peak/RMS — one asset fans out to its frames inside a single
    Arrow batch, producing the distributed (asset_id, frame_idx) feature
    table a speech pipeline consumes. The oracle re-derives every window
    from the sample formula."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.wav_frame_features(M.synthesize_wav_assets(docs), frame_len=32)


def _wav_spectrum_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.multimodal import (
        _COSQ,
        _SINQ,
        SPECTRUM_N,
    )

    cosq = ", ".join(str(v) for v in _COSQ)
    sinq = ", ".join(str(v) for v in _SINQ)
    return f"""
WITH d AS (SELECT doc_id AS asset_id FROM documents),
s AS (SELECT asset_id, unnest(range(0, {SPECTRUM_N})) AS j FROM d),
v AS (SELECT asset_id, j, ((asset_id * 31 + j * 17) % 2048) - 1024 AS smp FROM s),
b AS (SELECT unnest([1, 2, 4, 8]) AS k),
lut AS (SELECT [{cosq}] AS cq, [{sinq}] AS sq),
t AS (
  SELECT asset_id, k,
         CAST(sum(smp * cq[(k * j) % {SPECTRUM_N} + 1]) AS BIGINT) AS cqs,
         CAST(sum(smp * sq[(k * j) % {SPECTRUM_N} + 1]) AS BIGINT) AS sqs
  FROM v CROSS JOIN b CROSS JOIN lut GROUP BY 1, 2)
SELECT asset_id, CAST(k AS INT) AS bin_k,
       CAST(cqs AS DOUBLE) / 1e9 AS c_k,
       CAST(sqs AS DOUBLE) / 1e9 AS s_k,
       (CAST(cqs AS DOUBLE) * CAST(cqs AS DOUBLE)
        + CAST(sqs AS DOUBLE) * CAST(sqs AS DOUBLE)) / 1e18 AS power_k
FROM t
"""


@register(
    "multimodal_wav_spectrum", category="multimodal", oracle=_wav_spectrum_oracle()
)
def multimodal_wav_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-bin DFT spectral fingerprints (Goertzel sums at bins
    1/2/4/8 over the first 64 samples) through the REAL RIFF/WAVE decoder
    — the audio-curation screen for silence/hum/clipping. The cos/sin
    coefficients are 1e9-quantized integer tables shared verbatim with the
    oracle, so every spectral sum is exact integer arithmetic in both
    engines and the output needs NO rounding (no transcendental is ever
    evaluated at query time)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.wav_spectrum_features(M.synthesize_wav_assets(docs))


@register(
    "multimodal_bmp_roundtrip",
    category="multimodal",
    oracle="""
WITH d AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents),
px AS (
  SELECT asset_id, w, h, unnest(range(0, w * h)) AS p FROM d),
v AS (
  SELECT asset_id, w, h,
         (asset_id + 13 * p) % 256 AS r,
         (2 * asset_id + 7 * p) % 256 AS g,
         (3 * asset_id + 11 * p) % 256 AS b
  FROM px),
agg AS (
  SELECT asset_id, max(w) AS w, max(h) AS h,
         sum(r) AS sr, sum(g) AS sg, sum(b) AS sb, count(*) AS n
  FROM v GROUP BY asset_id)
SELECT asset_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(n AS INT) AS n_pixels,
       round(sr * 1.0 / n, 6) AS mean_r,
       round(sg * 1.0 / n, 6) AS mean_g,
       round(sb * 1.0 / n, 6) AS mean_b
FROM agg
""",
)
def multimodal_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode for the uncompressed family: a deterministic RGB
    corpus is serialized through the 24-bit BMP encoder (bottom-up rows,
    4-byte padding, BGR) and parsed back by the genuine decoder
    (operators/multimodal.py decode_bmp24 — magic/offset/format gating,
    row un-padding and re-ordering), with per-asset dimensions and channel
    means certified against the oracle's direct re-derivation of the pixel
    formula. PNG has its own real decoder (multimodal_png_roundtrip);
    JPEG remains gated on codec libs. Both the encode and the decode run
    as Python kernels through ``functions.per_row``, so this query also
    certifies the Arrow Python path: rows in, typed Arrow batches out."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assets = M.synthesize_bmp_assets(docs)
    return M.bmp_features(assets)


@register(
    "multimodal_bmp_resize",
    category="multimodal",
    oracle="""
WITH d AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents),
grid AS (
  SELECT asset_id, w, h, xo, yo
  FROM d CROSS JOIN range(0, 3) tx(xo) CROSS JOIN range(0, 2) ty(yo)),
src AS (
  SELECT asset_id,
         ((yo * h // 2) * w + (xo * w // 3)) AS p
  FROM grid),
v AS (
  SELECT asset_id,
         (asset_id + 13 * p) % 256 AS r,
         (2 * asset_id + 7 * p) % 256 AS g,
         (3 * asset_id + 11 * p) % 256 AS b
  FROM src)
SELECT asset_id, 3 AS width, 2 AS height, 6 AS n_pixels,
       round(sum(r) * 1.0 / 6, 6) AS mean_r,
       round(sum(g) * 1.0 / 6, 6) AS mean_g,
       round(sum(b) * 1.0 / 6, 6) AS mean_b
FROM v GROUP BY asset_id
""",
)
def multimodal_bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: every synthesized BMP decodes, nearest-neighbor
    resamples to 3×2 (source pixel (x·W div 3, y·H div 2) — exact integer
    grid), re-encodes through the real writer, and decodes AGAIN for
    features — the codec runs twice per asset and the oracle re-derives the
    sampled pixels directly from the formula. Replaces the former
    pass-through resize stub for the uncompressed image family."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    resized = M.resize_bmp(M.synthesize_bmp_assets(docs), out_w=3, out_h=2)
    return M.bmp_features(resized)


@register(
    "multimodal_wav_resample",
    category="multimodal",
    oracle="""
WITH d AS (SELECT doc_id AS asset_id, 100 + doc_id % 50 AS n FROM documents),
o AS (SELECT asset_id, n, n * 3000 // 8000 AS n_out FROM d),
s AS (SELECT asset_id, n_out, unnest(range(0, n_out)) AS j FROM o),
v AS (
  SELECT asset_id, n_out,
         ((asset_id * 31 + (j * 8000 // 3000) * 17) % 2048) - 1024 AS smp
  FROM s),
agg AS (
  SELECT asset_id, max(n_out) AS n_out, max(abs(smp)) AS peak_abs,
         sum(smp * smp) AS ss, count(*) AS cnt
  FROM v GROUP BY asset_id)
SELECT asset_id,
       3000 AS sample_rate,
       CAST(n_out AS INT) AS n_samples,
       CAST(n_out * 1000 // 3000 AS INT) AS duration_ms,
       CAST(peak_abs AS INT) AS peak_abs,
       round(sqrt(ss * 1.0 / cnt), 6) AS rms
FROM agg
""",
)
def multimodal_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resample through the codec (operators/multimodal.py
    resample_wav): every synthesized 8 kHz WAV decodes, nearest-sample
    resamples to 3 kHz (output j takes input j*8000 div 3000 — exact
    integer grid, non-divisor ratio so the grid actually skips), re-encodes
    through the RIFF writer, and decodes AGAIN for features — the container
    is parsed and rebuilt per asset and the oracle re-derives every output
    sample from the input formula."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    resampled = M.resample_wav(M.synthesize_wav_assets(docs), out_rate=3000)
    return M.wav_features(resampled)


@register(
    "multimodal_png_roundtrip",
    category="multimodal",
    oracle="""
WITH d AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 6 AS w, 3 + doc_id % 5 AS h
  FROM documents),
px AS (
  SELECT asset_id, w, h, unnest(range(0, w * h)) AS p FROM d),
v AS (
  SELECT asset_id, w, h,
         (5 * asset_id + 19 * p) % 256 AS r,
         (7 * asset_id + 23 * p) % 256 AS g,
         (11 * asset_id + 29 * p) % 256 AS b
  FROM px),
agg AS (
  SELECT asset_id, max(w) AS w, max(h) AS h,
         sum(r) AS sr, sum(g) AS sg, sum(b) AS sb, count(*) AS n
  FROM v GROUP BY asset_id)
SELECT asset_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(n AS INT) AS n_pixels,
       round(sr * 1.0 / n, 6) AS mean_r,
       round(sg * 1.0 / n, 6) AS mean_g,
       round(sb * 1.0 / n, 6) AS mean_b
FROM agg
""",
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode of a COMPRESSED image format on the standard library
    alone: a deterministic RGB corpus is serialized through the PNG encoder
    (predictive scanline filters cycling Sub/Paeth/Up/None/Average, then
    DEFLATE) and parsed back by the genuine decoder
    (operators/multimodal.py decode_png — signature + per-chunk CRC
    validation, IHDR gating, zlib inflate, filter reversal incl. the Paeth
    predictor), with per-asset dimensions and channel means certified
    against the oracle's direct re-derivation of the pixel formula. Any
    bug in the filter math, row stride, or chunk walk breaks the value
    hash. JPEG stays gated on codec libs; PNG needs none."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    feats = M.png_features(M.synthesize_png_assets(docs))
    return feats.select(
        "asset_id", "width", "height", "n_pixels", "mean_r", "mean_g", "mean_b"
    )


@register(
    "multimodal_jpeg_roundtrip",
    category="multimodal",
    oracle="""
WITH d AS (
  SELECT doc_id AS asset_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
  FROM documents),
px AS (
  SELECT asset_id, w, h, unnest(range(0, w * h)) AS p FROM d),
v AS (
  SELECT asset_id, w, h,
         (3 * asset_id + 7 * ((p % w) // 8) + 11 * ((p // w) // 8)) % 256 AS g
  FROM px),
agg AS (
  SELECT asset_id, max(w) AS w, max(h) AS h, sum(g) AS sg, count(*) AS n
  FROM v GROUP BY asset_id)
SELECT asset_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(n AS INT) AS n_pixels,
       round(sg * 1.0 / n, 6) AS mean_gray
FROM agg
""",
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode of the lossy-DCT format with no codec library: a
    deterministic block-constant grayscale corpus is serialized through
    the baseline-sequential T.81 JPEG encoder (float FDCT, quantization,
    zigzag run-length AC + differential DC coding through the Annex K
    Huffman tables, byte stuffing) and parsed back by the genuine decoder
    (operators/multimodal.py decode_jpeg_gray — marker walk, canonical
    Huffman rebuild from BITS/HUFFVAL, entropy decode with un-stuffing,
    dequant, float IDCT, crop). The corpus is chosen where the transform
    is EXACT (DC-only blocks, DC quantizer step 8), so the oracle
    re-derives every decoded pixel from the integer formula — any bug in
    the Huffman chain, zigzag order, dequant, or IDCT scaling breaks the
    value hash. Color/progressive JPEG stays gated on codec libs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    feats = M.jpeg_features(M.synthesize_jpeg_assets(docs))
    return feats.select("asset_id", "width", "height", "n_pixels", "mean_gray")


def _jpeg_color_lut_sql() -> str:
    """The oracle's literal LUT of DECODED palette colors, computed by the
    exact-fraction model (operators/multimodal.py _jpeg_color_decode_exact
    — independent of the float codec): three DuckDB list literals."""
    rl = ", ".join(str(c[0]) for c in M._JPEG_COLOR_DEC)
    gl = ", ".join(str(c[1]) for c in M._JPEG_COLOR_DEC)
    bl = ", ".join(str(c[2]) for c in M._JPEG_COLOR_DEC)
    return f"SELECT [{rl}] AS rl, [{gl}] AS gl, [{bl}] AS bl"


@register(
    "multimodal_jpeg_color_roundtrip",
    category="multimodal",
    oracle=f"""
WITH lut AS ({{LUT}}),
d AS (
  SELECT doc_id AS asset_id, 16 + doc_id % 17 AS w, 16 + doc_id % 9 AS h
  FROM documents),
grid AS (
  SELECT asset_id, w, h, bx, by
  FROM d CROSS JOIN range(0, 2) tx(bx) CROSS JOIN range(0, 2) ty(by)
  WHERE bx < (w + 15) // 16 AND by < (h + 15) // 16),
cell AS (
  SELECT asset_id, w, h,
         (3 * asset_id + 5 * bx + 7 * by) % 64 AS ci,
         16 * bx AS x0, LEAST(w, 16 * bx + 16) AS x1,
         16 * by AS y0, LEAST(h, 16 * by + 16) AS y1
  FROM grid),
v AS (
  SELECT asset_id, w, h,
         rl[ci + 1] AS r, gl[ci + 1] AS g, bl[ci + 1] AS b,
         (x1 - x0) AS nc, (y1 - y0) AS nr,
         (x0 + x1 - 1) * (x1 - x0) // 2 AS sx,
         (y0 + y1 - 1) * (y1 - y0) // 2 AS sy
  FROM cell CROSS JOIN lut),
agg AS (
  SELECT asset_id, max(w) AS w, max(h) AS h,
         sum(nr * nc * r) AS sr, sum(nr * nc * g) AS sg, sum(nr * nc * b) AS sb,
         sum((w * nc * sy + nr * sx + nr * nc) * (r + 256 * g + 65536 * b)) AS sig
  FROM v GROUP BY asset_id)
SELECT asset_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(w * h AS INT) AS n_pixels,
       CAST(sr AS BIGINT) AS sum_r, CAST(sg AS BIGINT) AS sum_g,
       CAST(sb AS BIGINT) AS sum_b, CAST(sig AS BIGINT) AS sig
FROM agg
""".replace("{LUT}", _jpeg_color_lut_sql()),
)
def multimodal_jpeg_color_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode of COLOR JPEG with no codec library: a deterministic
    MCU-constant RGB corpus is serialized through the baseline T.81 color
    encoder (JFIF YCbCr in exact-form constants, 2×2-mean 4:2:0 chroma
    subsampling, interleaved 16×16 MCUs, per-component DC prediction
    through the Annex K luminance AND chrominance Huffman tables) and
    parsed back by the genuine decoder (operators/multimodal.py
    decode_jpeg_color — shared marker walk, canonical Huffman rebuild,
    MCU entropy decode, dequant + float IDCT, nearest-neighbour chroma
    upsampling, exact-form YCbCr→RGB inverse).

    The corpus is MCU-constant so every block is DC-only and the decode
    of each palette color is closed-form; the oracle's LUT of decoded
    colors is derived INDEPENDENTLY with exact-fraction arithmetic
    (_jpeg_color_decode_exact), and palette screening keeps every
    rounding site ≥1e-3 from a half-integer so the lossy decode is
    bit-deterministic. Outputs are exact integer channel sums plus a
    position-weighted signature — a swapped MCU, zigzag slip, chroma
    offset, or Huffman-table mixup moves the hash. Progressive JPEG /
    MP3 / H.264 stay honestly gated on codec libs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    feats = M.jpeg_color_features(M.synthesize_jpeg_color_assets(docs))
    return feats.select(
        "asset_id", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b", "sig",
    )


@register(
    "multimodal_png_resize",
    category="multimodal",
    oracle="""
WITH d AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 6 AS w, 3 + doc_id % 5 AS h
  FROM documents),
grid AS (
  SELECT asset_id, w, h, xo, yo
  FROM d CROSS JOIN range(0, 3) tx(xo) CROSS JOIN range(0, 2) ty(yo)),
src AS (
  SELECT asset_id,
         ((yo * h // 2) * w + (xo * w // 3)) AS p
  FROM grid),
v AS (
  SELECT asset_id,
         (5 * asset_id + 19 * p) % 256 AS r,
         (7 * asset_id + 23 * p) % 256 AS g,
         (11 * asset_id + 29 * p) % 256 AS b
  FROM src)
SELECT asset_id, 3 AS width, 2 AS height, 6 AS n_pixels,
       round(sum(r) * 1.0 / 6, 6) AS mean_r,
       round(sum(g) * 1.0 / 6, 6) AS mean_g,
       round(sum(b) * 1.0 / 6, 6) AS mean_b
FROM v GROUP BY asset_id
""",
)
def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize through the compressed image path: every synthesized PNG
    decodes (inflate + unfilter), nearest-neighbor resamples to 3×2 on the
    same integer grid as the BMP twin, re-encodes (filter + deflate), and
    decodes AGAIN for features — the full compression cycle runs twice per
    asset and the oracle re-derives the sampled pixels from the formula."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    resized = M.resize_png(M.synthesize_png_assets(docs), out_w=3, out_h=2)
    return M.png_features(resized).select(
        "asset_id", "width", "height", "n_pixels", "mean_r", "mean_g", "mean_b"
    )


@register(
    "cassandra_stage_roundtrip",
    category="pipeline",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderkey < 2000 AND o_custkey > 10
GROUP BY o_orderstatus
""",
)
def cassandra_stage_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core data path under the oracle gate: orders flow
    through CassandraLoad into the connector format (the in-process DSv2
    double registered under the EXACT connector format string — no cluster
    in this environment), back out through CassandraExtract, and a
    downstream aggregate with a connector-pushable predicate
    (o_custkey > 10 lands in pushFilters, applied source-side) must equal
    the plain SQL truth. Certifies the stage write path, the stage read
    path, filter pushdown through the stage, and type fidelity across the
    sink/source boundary in one query
    (CassandraExtract.scala:95-98, CassandraLoad.scala:110-153)."""
    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext
    from arc_cassandra_pipeline_plugin_spark.sources.cassandra_fake import (
        register_fake_cassandra,
    )
    from arc_cassandra_pipeline_plugin_spark.stages import (
        CassandraExtract,
        CassandraLoad,
    )

    register_fake_cassandra(spark)
    root = scratch_dir("cass_cluster")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.createOrReplaceTempView("cass_q_src")
    ctx = PipelineContext()
    params = {
        "spark.cassandra.connection.host": root,
        "confirm.truncate": "true",
    }
    CassandraLoad(
        name="load orders",
        input_view="cass_q_src",
        keyspace="certks",
        table="orders_rt",
        save_mode="Overwrite",
        params=params,
    ).execute(spark, ctx)
    out = CassandraExtract(
        name="extract orders",
        output_view="cass_q_out",
        keyspace="certks",
        table="orders_rt",
        params={"spark.cassandra.connection.host": root},
    ).execute(spark, ctx)
    return (
        out.filter(F.col("o_custkey") > 10)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# declarative pipeline end-to-end (the reference's own composition pattern)
# ---------------------------------------------------------------------------

@register(
    "pipeline_declarative",
    category="pipeline",
    oracle="""
SELECT o_orderpriority, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def pipeline_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical composition (arc.json pattern): declarative
    JSON config → parse (error-accumulating) → Extract stage → SQLTransform
    stage → result view. Certifies the whole shell, not just the query."""
    from arc_cassandra_pipeline_plugin_spark.config import parse_config
    from arc_cassandra_pipeline_plugin_spark.context import PipelineContext

    config = {
        "stages": [
            {
                "type": "ParquetExtract",
                "name": "extract orders",
                "environments": ["production", "test"],
                "inputURI": f"{sf_dir}/orders.parquet",
                "outputView": "orders_v",
            },
            {
                "type": "SQLTransform",
                "name": "aggregate by priority",
                "environments": ["production", "test"],
                "sql": (
                    "SELECT o_orderpriority, count(*) AS n_orders, "
                    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
                    "FROM orders_v WHERE o_orderstatus = 'F' GROUP BY o_orderpriority"
                ),
                "outputView": "priority_summary",
            },
        ]
    }
    ctx = PipelineContext(environment="test")
    pipeline = parse_config(config, ctx)
    result = pipeline.run(spark, ctx)
    assert result is not None
    return result


def _clusters_cte() -> str:
    """The MinHash → LSH bands → recursive-closure CTE chain (everything
    after ``WITH RECURSIVE``), ending in a ``comp(doc_id, cluster_id)``
    relation. Shared by the cluster queries and the leakage-safe split
    oracle (queries/curation.py) so the band layout cannot drift.

    ``sh``/``sig``/``pairs`` are MATERIALIZED: DuckDB inlines a CTE per
    reference, and the audit-style oracles reference ``sh`` up to 3× and
    ``pairs`` 2× — inlined, each reference re-derives the ENTIRE
    shingle→minhash chain (~1h per extra copy at sf1; the r10 sf1
    exclusions were exactly this). Materializing pins each stage once —
    the same remedy as the HITS edge CTE (commit 0479d61)."""
    rows = _NUM_PERM // _BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(concat_ws('|', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")) AS band_hash FROM sig"
        for b in range(_BANDS)
    )
    return f"""
norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
sh AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform(
         generate_series(1, greatest(length(t) - {_SHINGLE_K - 1}, 1)),
         i -> substr(t, i, {_SHINGLE_K})))) AS shingle FROM norm),
sig AS MATERIALIZED ({_minhash_select()}),
banded AS ({band_selects}),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
walk(id, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.id
),
comp AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id)"""


def _clusters_oracle() -> str:
    """MinHash → LSH bands → recursive-CTE connected components, generated
    from the same constants as the Spark pipeline."""
    return f"""
WITH RECURSIVE {_clusters_cte()}
SELECT doc_id, cluster_id FROM comp
"""


@register("dedup_clusters", category="dedup", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline endpoint: MinHash signatures → LSH candidate
    pairs → connected components → (doc_id, cluster_id) groups with the
    min-id canonical representative. The iterative min-label propagation on
    Spark is certified against a recursive-CTE closure in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signature(docs, num_perm=_NUM_PERM, shingle_k=_SHINGLE_K)
    pairs = D.lsh_candidate_pairs(sigs, num_perm=_NUM_PERM, bands=_BANDS)
    return D.connected_components(pairs)


@register(
    "text_regex_tokens",
    category="text",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT)    AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]+')) AS INT)     AS n_punct_runs,
       CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS INT) AS n_unique_words
FROM documents
""",
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization counts: word-token runs, punctuation
    runs, unique-word vocabulary size — all via regexp_extract_all (one
    codegen'd projection, no shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    puncts = F.regexp_extract_all(F.col("text"), F.lit(r"[^a-zA-Z0-9\s]+"), 0)
    return d.select(
        "doc_id",
        F.size(words).alias("n_word_tokens"),
        F.size(puncts).alias("n_punct_runs"),
        F.size(F.array_distinct(words)).alias("n_unique_words"),
    )


@register(
    "udtf_char_trigrams",
    category="udf",
    oracle=f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents WHERE doc_id < 10)
SELECT doc_id,
       unnest(list_transform(generate_series(1, greatest(length(t) - 2, 1)),
                             i -> substr(t, i, 3))) AS trigram
FROM norm
""",
)
def udtf_char_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 @udtf): a table function emitting char
    trigrams per document, certified against the SQL list-comprehension
    formulation. (UDTFs are the slow path at scale — this exists to cover
    the surface; the hot-path equivalent is shingle_rows.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="trigram: string")
    class Trigrams:
        def eval(self, t: str):  # noqa: ANN001
            n = max(len(t) - 2, 1)
            for i in range(n):
                yield (t[i : i + 3],)

    spark.udtf.register("char_trigrams", Trigrams)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    docs.select("doc_id", D.normalize_text(F.col("text")).alias("t")).createOrReplaceTempView(
        "trigram_in"
    )
    return spark.sql(
        "SELECT i.doc_id, t.trigram FROM trigram_in i, LATERAL char_trigrams(i.t) t"
    )


@register(
    "udtf_table_argument_stats",
    category="udf",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       min(value) AS min_val, max(value) AS max_val
FROM events GROUP BY event_type
""",
)
def udtf_table_argument_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 UDTF with a TABLE argument and PARTITION BY: the engine
    routes each partition's rows through one stateful instance (eval
    accumulates, terminate emits) — the SQL-surface form of per-group
    stateful Python, complementing the lateral-join UDTF
    (udtf_char_trigrams) and applyInPandas. min/max/count only — pure
    comparisons and integer adds, so no float-summation order dependence
    exists and the oracle is the plain GROUP BY."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="event_type: string, n: bigint, min_val: double, max_val: double")
    class TypeStats:
        def __init__(self):
            self.key = None
            self.n = 0
            self.mn = None
            self.mx = None

        def eval(self, row):  # noqa: ANN001
            self.key = row["event_type"]
            self.n += 1
            v = row["value"]
            self.mn = v if self.mn is None else min(self.mn, v)
            self.mx = v if self.mx is None else max(self.mx, v)

        def terminate(self):
            if self.key is not None:
                yield (self.key, self.n, self.mn, self.mx)

    spark.udtf.register("acpps_type_stats", TypeStats)
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ev.createOrReplaceTempView("udtf_stats_in")
    return spark.sql(
        "SELECT * FROM acpps_type_stats(TABLE(udtf_stats_in) PARTITION BY event_type)"
    )


#: the winnowing scheme (k=5, w=4) as a reusable CTE chain ending in
#: ``fps(doc_id, fingerprint_hash)`` — shared by the fingerprint query and
#: the shared-passage pair query so the scheme cannot drift between them
_WINNOW_CTE = f"""norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
pos AS (
  SELECT doc_id,
         greatest(length(t) - 4, 1) AS n_shingles,
         unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i,
         t
  FROM norm),
hashed AS (
  SELECT doc_id, i, n_shingles,
         ('0x' || substr(md5(substr(t, i, 5)), 1, 8))::BIGINT AS h
  FROM pos),
wins AS (
  SELECT doc_id, i, n_shingles,
         min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN 0 FOLLOWING AND 3 FOLLOWING) AS win_min
  FROM hashed),
fps AS (
  SELECT DISTINCT doc_id, win_min AS fingerprint_hash
  FROM wins WHERE i <= n_shingles - 3 OR i = 1)"""


@register(
    "text_winnow_fingerprints",
    category="text",
    oracle=f"""
WITH {_WINNOW_CTE}
SELECT doc_id, fingerprint_hash FROM fps
""",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash MOSS fingerprints, k=5 w=4): min k-gram hash
    per sliding window, distinct survivors per doc. Shared substrings of
    length >= w+k-1 guarantee a shared fingerprint."""
    return TX.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=5, window=4
    )


_IVF_CLUSTERS = 8
_IVF_PROBE = 3


def _ivf_oracle(dim: int = 64) -> str:
    """Unrolls the deterministic IVF quantizer (lowest-id seeds + 2 Lloyd
    rounds, centroids and scores rounded to 6 dp — see
    ``similarity._centroids_kmeans``) into SQL CTEs. Rounding at every
    iteration boundary is what makes the two engines' float summation
    orders converge to identical assignments."""

    def assign(cents: str, tie: str = "ASC") -> str:
        # argmax of round(dot(v,c) - ||c||²/2, 6); ties → cluster {tie}
        return (
            "SELECT vec_id, v, cluster FROM ("
            "SELECT e.vec_id, e.v, c.cluster, "
            "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
            "round(list_dot_product(e.v, c.cv) - list_dot_product(c.cv, c.cv) / 2, 6) DESC, "
            f"c.cluster {tie}) AS rn "
            f"FROM e CROSS JOIN {cents} c"
            ") WHERE rn = 1"
        )

    def means(assigned: str) -> str:
        return (
            "SELECT cluster, list(m ORDER BY i) AS cv FROM ("
            f"SELECT cluster, i, round(avg(v[i]), 6) AS m FROM {assigned} "
            f"CROSS JOIN range(1, {dim + 1}) AS t(i) GROUP BY cluster, i"
            ") GROUP BY cluster"
        )

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS cv
       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_CLUSTERS})),
a1 AS ({assign('c0')}),
c1 AS ({means('a1')}),
a2 AS ({assign('c1')}),
c2 AS ({means('a2')}),
ca AS ({assign('c2')}),
qp AS (SELECT query_id, qv, cluster FROM (
         SELECT e.vec_id AS query_id, e.v AS qv, c.cluster,
                row_number() OVER (PARTITION BY e.vec_id ORDER BY
                  round(list_dot_product(e.v, c.cv) - list_dot_product(c.cv, c.cv) / 2, 6) DESC,
                  c.cluster DESC) AS rn
         FROM e CROSS JOIN c2 c WHERE e.vec_id < 3)
       WHERE rn <= {_IVF_PROBE}),
scored AS (SELECT query_id, ca.vec_id AS match_id,
                  round(list_dot_product(qp.qv, ca.v)
                        / (sqrt(list_dot_product(qp.qv, qp.qv)) * sqrt(list_dot_product(ca.v, ca.v))), 6)
                    AS cosine
           FROM qp JOIN ca USING (cluster)
           WHERE ca.vec_id <> qp.query_id)
SELECT query_id, match_id, cosine, rn AS "rank"
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) AS rn
      FROM scored)
WHERE rn <= {_ANN_K}
"""


@register("similarity_ann_ivf", category="similarity", oracle=_ivf_oracle())
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: deterministic k-means coarse quantizer
    (lowest-id seeds, 2 Lloyd rounds, 6-dp-rounded centroids/scores), probe
    the 3 nearest of 8 cells per query (~40% of the corpus scanned).
    Deterministic ⇒ the oracle unrolls the same quantizer into SQL CTEs;
    recall vs brute force is additionally asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=_ANN_K,
        n_clusters=_IVF_CLUSTERS, n_probe=_IVF_PROBE,
    )


_PQ_SUB = 4
_PQ_CODES = 8
_PQ_RERANK = 16


def _pq_oracle(dim: int = 64) -> str:
    """Unrolls the product quantizer (per-subspace deterministic k-means:
    lowest-id seeds + 2 Lloyd rounds, 6-dp rounding at every boundary — see
    ``similarity.pq_codebooks``) and the ADC scoring into SQL CTEs. Each
    subspace gets its own seed/assign/mean chain over the sliced
    subvectors; the final score is the left-assoc sum of the four
    6-dp-rounded subspace inner products, mirroring the Spark expression
    order exactly."""
    d_sub = dim // _PQ_SUB

    def assign(sub: int, cents: str) -> str:
        # argmax of round(dot(sub_v, c) - ||c||²/2, 6); ties → lowest
        # cluster id (Spark's array_position takes the FIRST max)
        return (
            "SELECT vec_id, sv, cluster FROM ("
            "SELECT e.vec_id, e.sv, c.cluster, "
            "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
            "round(list_dot_product(e.sv, c.cv) - list_dot_product(c.cv, c.cv) / 2, 6) DESC, "
            "c.cluster ASC) AS rn "
            f"FROM s{sub}_e e CROSS JOIN {cents} c"
            ") WHERE rn = 1"
        )

    def means(assigned: str) -> str:
        return (
            "SELECT cluster, list(m ORDER BY i) AS cv FROM ("
            f"SELECT cluster, i, round(avg(sv[i]), 6) AS m FROM {assigned} "
            f"CROSS JOIN range(1, {d_sub + 1}) AS t(i) GROUP BY cluster, i"
            ") GROUP BY cluster"
        )

    chains = []
    for s in range(_PQ_SUB):
        lo, hi = s * d_sub + 1, (s + 1) * d_sub
        chains.append(
            f"s{s}_e AS (SELECT vec_id, v[{lo}:{hi}] AS sv FROM e),\n"
            f"s{s}_c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, sv AS cv\n"
            f"  FROM (SELECT vec_id, sv FROM s{s}_e ORDER BY vec_id LIMIT {_PQ_CODES})),\n"
            f"s{s}_a1 AS ({assign(s, f's{s}_c0')}),\n"
            f"s{s}_c1 AS ({means(f's{s}_a1')}),\n"
            f"s{s}_a2 AS ({assign(s, f's{s}_c1')}),\n"
            f"s{s}_c2 AS ({means(f's{s}_a2')}),\n"
            f"s{s}_enc AS ({assign(s, f's{s}_c2')})"
        )
    enc_joins = " ".join(f"JOIN s{s}_enc USING (vec_id)" for s in range(1, _PQ_SUB))
    enc_cols = ", ".join(f"s{s}_enc.cluster AS code{s}" for s in range(_PQ_SUB))
    terms = " + ".join(
        f"round(list_dot_product(q.v[{s * d_sub + 1}:{(s + 1) * d_sub}], b{s}.cv), 6)"
        for s in range(_PQ_SUB)
    )
    book_joins = " ".join(
        f"JOIN s{s}_c2 b{s} ON enc.code{s} = b{s}.cluster" for s in range(_PQ_SUB)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{",".join(chains)},
enc AS (SELECT s0_enc.vec_id, {enc_cols} FROM s0_enc {enc_joins}),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 3),
scored AS (SELECT q.query_id, enc.vec_id AS match_id, round({terms}, 6) AS approx_ip
           FROM enc {book_joins} CROSS JOIN q
           WHERE enc.vec_id <> q.query_id),
short AS (SELECT query_id, match_id
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_ip DESC, match_id) AS rn0
                FROM scored)
          WHERE rn0 <= {_PQ_RERANK}),
rer AS (SELECT s.query_id, s.match_id, round(list_dot_product(q.v, e.v), 6) AS ip
        FROM short s JOIN e ON e.vec_id = s.match_id JOIN q ON q.query_id = s.query_id)
SELECT query_id, match_id, ip, rn AS "rank"
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, match_id) AS rn
      FROM rer)
WHERE rn <= {_ANN_K}
"""


@register("similarity_ann_pq", category="similarity", oracle=_pq_oracle())
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (asymmetric distance computation): 4
    subspaces × 8 codes compress each 64-float vector to 4 ints (64×),
    queries broadcast with per-subspace lookup tables, pair scoring is 4
    table lookups instead of a 64-wide dot product. The compressed-corpus
    scan is the RAM-resident scale path a 100 TB ANN deployment uses.
    Same-cell candidates tie under ADC (within-cell order is not in the
    codes), so the top-16 shortlist is re-ranked by exact inner product —
    the textbook two-stage PQ pipeline; the exact fetch touches only 16
    rows per query. Deterministic quantizer ⇒ exact SQL oracle (unrolled
    per-subspace Lloyd rounds + shortlist re-rank); recall vs exact search
    asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pq_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=_ANN_K,
        n_sub=_PQ_SUB, n_codes=_PQ_CODES, rerank=_PQ_RERANK,
    )


@register(
    "sample_deterministic",
    category="sampling",
    oracle="""
SELECT doc_id, lang
FROM documents
WHERE ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
      < 200000
""",
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-deterministic 20% sample: membership depends only on the
    key hash — identical on any cluster layout / partitioning, certified
    exactly (unlike seed-based df.sample)."""
    from arc_cassandra_pipeline_plugin_spark.operators.sampling import deterministic_sample

    docs = load_table(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 0.2).select("doc_id", "lang")


@register(
    "sample_train_val_test",
    category="sampling",
    oracle="""
SELECT split, count(*) AS n_docs
FROM (
  SELECT CASE
           WHEN b < 100000 THEN 'val'
           WHEN b < 200000 THEN 'test'
           ELSE 'train'
         END AS split
  FROM (SELECT ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS b
        FROM documents))
GROUP BY split
""",
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test split (80/10/10) — disjoint, exhaustive,
    and consistent across tables sharing the key."""
    from arc_cassandra_pipeline_plugin_spark.operators.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        train_val_test_split(docs, "doc_id", 0.1, 0.1)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "sample_stratified",
    category="sampling",
    oracle="""
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5('stratified:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS b
  FROM documents)
WHERE b < CASE WHEN lang = 'en' THEN 100000
               WHEN lang = 'zh' THEN 800000
               ELSE 400000 END
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sampling: downsample dominant 'en' to 10%,
    keep 80% of 'zh', 40% elsewhere — the language-balancing step of an
    LLM data pipeline, as a pure deterministic filter."""
    from arc_cassandra_pipeline_plugin_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", {"en": 0.1, "zh": 0.8}, default_fraction=0.4
    ).select("doc_id", "lang")


@register(
    "dq_fk_violations",
    category="quality",
    oracle="""
SELECT 'orders->customer' AS fk, count(*) AS n_violations
FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
UNION ALL
SELECT 'lineitem->orders' AS fk, count(*) AS n_violations
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
""",
)
def dq_fk_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema (anti-join counts;
    0 everywhere on the clean fixtures — the point is the certified shape)."""
    from arc_cassandra_pipeline_plugin_spark.operators.quality import fk_violations

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    a = fk_violations(orders, cust, "o_custkey", "c_custkey").agg(
        F.count(F.lit(1)).alias("n_violations")
    ).select(F.lit("orders->customer").alias("fk"), "n_violations")
    b = fk_violations(li, orders, "l_orderkey", "o_orderkey").agg(
        F.count(F.lit(1)).alias("n_violations")
    ).select(F.lit("lineitem->orders").alias("fk"), "n_violations")
    return a.unionByName(b)


@register(
    "dq_null_profile",
    category="quality",
    oracle="""
SELECT 'c_custkey' AS column_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       round(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS null_fraction
FROM customer
UNION ALL
SELECT 'c_acctbal', count(*),
       CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       round(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
FROM customer
UNION ALL
SELECT 'c_mktsegment', count(*),
       CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       round(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
FROM customer
""",
)
def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null profile (unpivoted per-column stats in one pass)."""
    from arc_cassandra_pipeline_plugin_spark.operators.quality import null_profile

    return null_profile(
        load_table(spark, sf_dir, "customer"), "c_custkey", "c_acctbal", "c_mktsegment"
    )


@register(
    "interval_join_events",
    category="timeseries",
    oracle="""
SELECT e.event_id AS error_id, c.event_id AS click_id, e.user_id
FROM events e
JOIN events c
  ON e.user_id = c.user_id
 AND c.event_type = 'click'
 AND c.ts > e.ts
 AND c.ts <= e.ts + INTERVAL 24 HOUR
WHERE e.event_type = 'error'
""",
)
def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks within 24 hours AFTER an error by the same
    user. The user_id equi-key keeps it a hash join with the time window
    as a residual filter — the batch shape of a stream-stream time-bounded
    join (never a per-row range scan)."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("user_id"), F.col("ts").alias("err_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    return (
        errors.join(
            clicks,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("click_ts") > F.col("err_ts"))
            & (F.col("click_ts") <= F.col("err_ts") + F.expr("INTERVAL 24 HOURS")),
        )
        .select("error_id", "click_id", "user_id")
    )


@register(
    "streaming_stateful_counts",
    category="streaming",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       CAST(max(event_id) AS BIGINT) AS last_event
FROM events GROUP BY user_id
""",
)
def streaming_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator via applyInPandasWithState: an
    arbitrary Python per-key state machine (here: running count + max
    event id) updated per micro-batch under the streaming engine's state
    store — the escape hatch when built-in stateful operators can't
    express the semantics. Arrow-batched (pandas per group), update
    output mode; the availableNow drain leaves exactly the final per-key
    state, certified against the batch GROUP BY. (transformWithState, the
    successor API, stays import-gated: its state serialization needs
    protobuf, absent from this environment.)"""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    def track(key, pdfs, state: GroupState):
        n, last = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                last = max(last, int(pdf["event_id"].max()))
        state.update((n, last))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "last_event": [last]})

    ev = ST.table_stream(spark, sf_dir, "events").select("user_id", "event_id")
    out = ev.groupBy("user_id").applyInPandasWithState(
        track,
        "user_id bigint, n bigint, last_event bigint",
        "n bigint, last_event bigint",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    res = ST.run_stream_to_memory(out, "stateful_counts_result", output_mode="update")
    # update mode re-emits a key on every batch that touches it; the final
    # state per key is the row with the largest running count
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("last_event").desc())
    return (
        res.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _bpe_oracle() -> str:
    return TX.bpe_oracle_sql(rounds=8)


@register("text_bpe_train", category="text", oracle=_bpe_oracle())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer merge training (operators/text.bpe_train): the top-8
    merge rules learned over the corpus word-frequency table — adjacent
    pair counting, deterministic argmax, greedy merge — pair counting a
    distributed explode+groupBy whose cost scales with DISTINCT words, and
    merges applied in provably-order-equivalent BATCHES (~2.7x fewer
    driver round-trips than one-job-per-merge; see bpe_train docstring).
    Certified bit-identical against the one-merge-per-CTE unrolled oracle
    generated from the same constants — the batching must reproduce the
    strict greedy sequence exactly or the value hash breaks."""
    return TX.bpe_train(load_table(spark, sf_dir, "documents"), rounds=8)


def _bpe_encode_oracle() -> str:
    return TX.bpe_encode_oracle_sql(rounds=8)


@register("text_bpe_encode", category="text", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode / tokenizer fertility (operators/text.bpe_token_counts):
    apply the 8 learned merges back to the corpus and report per-document
    word and BPE-token counts. Encoding is a word-map equi-join (distinct
    words only) + one per-doc aggregate — no per-document re-walk.
    Certified against the training CTEs extended with the same join."""
    return TX.bpe_token_counts(load_table(spark, sf_dir, "documents"), rounds=8)


@register(
    "streaming_upsert_latest",
    category="streaming",
    oracle="""
SELECT user_id, ts AS last_ts, event_id AS last_event_id, value AS last_value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1
""",
)
def streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert via foreachBatch: each micro-batch is reduced
    to its latest row per key and MERGED into a keyed state table (keep the
    later (ts, event_id) per user) — the 'stream into a mutable store'
    pattern, as opposed to StreamingLoad's append-per-batch. The merge is
    associative and commutative on (ts, event_id), so the final state is
    independent of micro-batch boundaries — which is exactly what makes it
    certifiable against the batch latest-row-per-key oracle."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    ev = ST.table_stream(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    final = ST.run_stream_upsert(ev, key_cols=("user_id",), order_cols=("ts", "event_id"))
    return final.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


@register(
    "events_lateness_profile",
    category="streaming",
    oracle="""
WITH arr AS (
  SELECT user_id, ts,
         max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS UNBOUNDED PRECEDING) AS high
  FROM events),
late AS (
  SELECT (epoch(high) - epoch(ts)) / 60.0 AS late_min
  FROM arr WHERE ts < high)
SELECT CAST(floor(late_min / 30) AS INT) AS bucket_30min,
       CAST(count(*) AS BIGINT) AS n_late
FROM late GROUP BY 1
""",
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing from data: treating event_id as arrival order,
    how far behind each key's event-time high-water mark do events
    actually arrive? The lateness histogram (30-minute buckets) is what
    picks withWatermark's delay — too small drops these rows, too large
    holds state hostage. Per-key partitioned running max (scale-safe);
    epoch arithmetic is the boundary-exact double convention."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    arr = ev.withColumn("high", F.max("ts").over(w))
    late = arr.filter(F.col("ts") < F.col("high")).select(
        ((F.col("high").cast("double") - F.col("ts").cast("double")) / 60.0).alias(
            "late_min"
        )
    )
    return late.groupBy(
        F.floor(F.col("late_min") / 30).cast("int").alias("bucket_30min")
    ).agg(F.count(F.lit(1)).alias("n_late"))


@register(
    "dq_expectations_summary",
    category="quality",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) AS null_keys,
       CAST(count(*) FILTER (WHERE l_quantity <= 0 OR l_quantity > 50) AS BIGINT)
         AS qty_out_of_range,
       CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT)
         AS discount_out_of_range,
       CAST(count(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT) AS nonpos_price,
       CAST(count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')) AS BIGINT)
         AS bad_returnflag,
       CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '1992-01-01'
                                OR l_shipdate > TIMESTAMP '1999-01-01') AS BIGINT)
         AS shipdate_out_of_window
FROM lineitem
""",
)
def dq_expectations_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level expectation suite in ONE scan (the dbt-test / Great
    Expectations shape, Spark-first): every invariant is a FILTERed count
    over the same pass, so adding expectations costs expression slots, not
    table scans — the only formulation that survives a 100 TB fact table.
    All-green on the fixtures by construction; the certified object is the
    counting contract itself."""
    li = load_table(spark, sf_dir, "lineitem")

    def n_where(cond):
        return F.count_if(cond).cast("bigint")

    return li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        n_where(F.col("l_orderkey").isNull()).alias("null_keys"),
        n_where((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)).alias(
            "qty_out_of_range"
        ),
        n_where((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias(
            "discount_out_of_range"
        ),
        n_where(F.col("l_extendedprice") <= 0).alias("nonpos_price"),
        n_where(~F.col("l_returnflag").isin("A", "N", "R")).alias("bad_returnflag"),
        n_where(
            (F.col("l_shipdate") < F.lit("1992-01-01").cast("timestamp"))
            | (F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp"))
        ).alias("shipdate_out_of_window"),
    )


@register(
    "dedup_rate_by_source",
    category="dedup",
    oracle=f"""
WITH fp AS (
  SELECT source, substr(md5({_NORM}), 1, 16) AS f FROM documents),
c AS (SELECT f, count(*) AS cnt FROM fp GROUP BY f)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE c.cnt > 1) AS BIGINT) AS n_in_dup_groups,
       round(count(*) FILTER (WHERE c.cnt > 1) / CAST(count(*) AS DOUBLE), 6)
         AS dup_rate
FROM fp JOIN c USING (f)
GROUP BY source
""",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rate: the fraction of each source's
    documents whose content fingerprint appears more than once corpus-wide
    — THE summary number a curation report leads with (a source above
    ~30% duplication is mostly syndication/mirroring and gets
    down-weighted before training). Fingerprint groupBy + count-rejoin:
    two hash-keyed shuffles, never text."""
    docs = load_table(spark, sf_dir, "documents")
    fp = TX.fingerprint(docs).select("source", F.col("fingerprint").alias("f"))
    counts = fp.groupBy("f").agg(F.count(F.lit(1)).alias("cnt"))
    joined = fp.join(counts, "f")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("cnt") > 1).alias("n_in_dup_groups"),
        F.round(
            F.count_if(F.col("cnt") > 1) / F.count(F.lit(1)).cast("double"), 6
        ).alias("dup_rate"),
    )


_PROX_TOL_S = 300


@register(
    "events_proximity_pairs",
    category="timeseries",
    oracle=f"""
SELECT a.event_id AS a_id, b.event_id AS b_id,
       a.user_id AS a_user, b.user_id AS b_user,
       round(epoch(b.ts) - epoch(a.ts), 6) AS gap_s
FROM events a JOIN events b
  ON a.event_type = 'error' AND b.event_type = 'error'
 AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
 AND b.ts <= a.ts + INTERVAL {_PROX_TOL_S} SECOND
""",
)
def events_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident correlation with NO equi-key: every pair of error events
    (any users) within {_PROX_TOL_S} s of each other, via the binned
    proximity join (operators/timeseries.proximity_pairs) — time bucketed
    at the tolerance width turns the keyless range predicate into a plain
    equi-join on the bucket, so no cartesian/nested-loop exists at any
    scale. The oracle is the naive theta join, feasible at oracle scale,
    which the binning provably reproduces."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    pairs = TS.proximity_pairs(
        ev.select("event_id", "ts", "user_id"),
        tolerance_s=_PROX_TOL_S,
        payload_cols=("user_id",),
    )
    return pairs.select(
        "a_id", "b_id",
        F.col("a_user_id").alias("a_user"),
        F.col("b_user_id").alias("b_user"),
        F.round(
            F.col("b_ts").cast("double") - F.col("a_ts").cast("double"), 6
        ).alias("gap_s"),
    )


# ---------------------------------------------------------------------------
# training-corpus analysis: token frequencies, TF-IDF, decontamination
# ---------------------------------------------------------------------------

_TOKENS_CTE = f"""
tok AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents),
tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0)
"""

_TOPN_TOKENS = 50


@register(
    "text_token_frequencies",
    category="text",
    oracle=f"""
WITH {_TOKENS_CTE}
SELECT token,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM tok2 GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT {_TOPN_TOKENS}
""",
)
def text_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: global top-50 tokens (count desc, token asc
    tiebreak). Map-side-combined groupBy; top-N compiles to
    TakeOrderedAndProject."""
    return TX.token_frequencies(
        load_table(spark, sf_dir, "documents"), top_n=_TOPN_TOKENS
    )


_CMS_DEPTH = 4
_CMS_WIDTH = 64
_CMS_TOPK = 15


@register(
    "sketch_cms_heavy_hitters",
    category="text",
    oracle=f"""
WITH {_TOKENS_CTE},
pairs AS (
  SELECT token, r,
         ('0x' || substr(md5('cms' || r || ':' || token), 1, 8))::BIGINT % {_CMS_WIDTH} AS bucket
  FROM tok2 CROSS JOIN range(0, {_CMS_DEPTH}) t(r)),
sketch AS (SELECT r, bucket, count(*) AS cnt FROM pairs GROUP BY 1, 2),
cbuck AS (
  SELECT token, r,
         ('0x' || substr(md5('cms' || r || ':' || token), 1, 8))::BIGINT % {_CMS_WIDTH} AS bucket
  FROM (SELECT DISTINCT token FROM tok2) CROSS JOIN range(0, {_CMS_DEPTH}) t(r)),
est AS (SELECT token, min(cnt) AS est_count FROM cbuck JOIN sketch USING (r, bucket) GROUP BY token)
SELECT token, est_count FROM est
ORDER BY est_count DESC, token
LIMIT {_CMS_TOPK}
""",
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy hitters: the corpus token stream folds into a
    fixed {_CMS_DEPTH}×{_CMS_WIDTH}-counter sketch (one map-side-combined
    shuffle whose volume is the sketch size per task, mergeable across
    partitions/days/streams by addition), then the top tokens are ranked by
    their min-over-rows bucket estimates. est >= true always; deterministic
    md5 bucketing replays verbatim in the oracle."""
    from arc_cassandra_pipeline_plugin_spark.operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(
        load_table(spark, sf_dir, "documents"),
        k=_CMS_TOPK, depth=_CMS_DEPTH, width=_CMS_WIDTH,
    )


@register(
    "streaming_cms_sketch",
    category="streaming",
    oracle=f"""
WITH {_TOKENS_CTE},
pairs AS (
  SELECT token, r,
         ('0x' || substr(md5('cms' || r || ':' || token), 1, 8))::BIGINT % {_CMS_WIDTH} AS bucket
  FROM tok2 CROSS JOIN range(0, {_CMS_DEPTH}) t(r)),
sketch AS (SELECT r, bucket, count(*) AS cnt FROM pairs GROUP BY 1, 2),
cbuck AS (
  SELECT token, r,
         ('0x' || substr(md5('cms' || r || ':' || token), 1, 8))::BIGINT % {_CMS_WIDTH} AS bucket
  FROM (SELECT DISTINCT token FROM tok2) CROSS JOIN range(0, {_CMS_DEPTH}) t(r)),
est AS (SELECT token, min(cnt) AS est_count FROM cbuck JOIN sketch USING (r, bucket) GROUP BY token)
SELECT token, est_count FROM est
ORDER BY est_count DESC, token
LIMIT {_CMS_TOPK}
""",
)
def streaming_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sketch built BY a real Structured Streaming
    aggregation: the document stream folds into the fixed depth×width
    counter table under complete-mode state (the sketch IS the streaming
    state — bounded by construction, no watermark needed), then the
    materialized sketch is queried batch-side for the top-15 estimates.
    Certifies stream≡batch for the sketch: the oracle is the identical
    batch formulation."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark import streaming as ST
    from arc_cassandra_pipeline_plugin_spark.operators.sketches import (
        cms_bucket,
        cms_estimate,
    )

    # r10: ST.table_stream, not a hand-rolled pathGlobFilter source — the
    # glob matches no leaf file of a multi-file fixture and the stream
    # silently reads 0 rows (caught by the sf1 sweep: the sketch was empty
    # and the top-15 estimates were all zero)
    stream = ST.table_stream(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    tok = stream.select(F.explode(F.split(norm, " ")).alias("token")).filter(
        F.length("token") > 0
    )
    pairs = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("sketch_row"),
                        cms_bucket(F.col("token"), r, _CMS_WIDTH).alias("bucket"),
                    )
                    for r in range(_CMS_DEPTH)
                ]
            )
        ).alias("p")
    ).select("p.sketch_row", "p.bucket")
    sketch_stream = pairs.groupBy("sketch_row", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sketch = ST.run_stream_to_memory(sketch_stream, "streaming_cms_sketch_result")
    cand = TX.tokens(load_table(spark, sf_dir, "documents")).select("token")
    est = cms_estimate(cand, sketch, depth=_CMS_DEPTH, width=_CMS_WIDTH)
    return est.orderBy(F.col("est_count").desc(), F.col("token")).limit(_CMS_TOPK)


_BF_WORDS = 8
_BF_HASHES = 2


def _bf_idx_sql(col: str, h: int) -> str:
    return (
        f"('0x' || substr(md5('bf{h}:' || CAST({col} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {_BF_WORDS * 63}"
    )


def _bf_hit_sql(col: str) -> str:
    tests = []
    for h in range(_BF_HASHES):
        idx = _bf_idx_sql(col, h)
        tests.append(
            f"(ws[CAST(({idx}) % {_BF_WORDS} AS INT) + 1]"
            f" & (1::BIGINT << CAST(({idx}) // {_BF_WORDS} AS INT))) <> 0"
        )
    return " AND ".join(tests)


@register(
    "bloom_semi_join_prune",
    category="relational",
    oracle=f"""
WITH keys AS (
  SELECT s_suppkey AS k
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'),
bits AS (
  SELECT {_bf_idx_sql('k', 0)} AS idx FROM keys
  UNION ALL
  SELECT {_bf_idx_sql('k', 1)} AS idx FROM keys),
words AS (
  SELECT idx % {_BF_WORDS} AS w,
         bit_or(1::BIGINT << CAST(idx // {_BF_WORDS} AS INT)) AS word
  FROM bits GROUP BY 1),
warr AS (
  SELECT list(coalesce(word, 0) ORDER BY t.w) AS ws
  FROM range(0, {_BF_WORDS}) t(w) LEFT JOIN words ON words.w = t.w),
pruned AS (
  SELECT l_suppkey FROM lineitem CROSS JOIN warr
  WHERE {_bf_hit_sql('l_suppkey')}),
exact AS (
  SELECT l_suppkey FROM lineitem WHERE l_suppkey IN (SELECT k FROM keys))
SELECT (SELECT count(*) FROM pruned) AS n_bloom_kept,
       (SELECT count(*) FROM exact) AS n_exact_rows,
       (SELECT count(*) FROM pruned) - (SELECT count(*) FROM exact)
         AS n_false_positive_rows
""",
)
def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit bloom-filter semi-join reduction: the ASIA supplier keys
    fold into {_BF_WORDS} longs with one distributed bit_or aggregate, and
    the fact scan drops non-matching rows IN the scan stage (the filter
    rides the expression as literals — no join, no shuffle of pruned rows).
    The certified output counts bloom-kept vs exact-semi-join rows, so the
    deterministic false-positive overhead is itself pinned by the oracle —
    false negatives are impossible by construction. This is the manual,
    engine-portable form of Spark's runtime bloom-filter join pruning, for
    when the key side is a computed set the optimizer can't see through."""
    from arc_cassandra_pipeline_plugin_spark.operators.bloom import bloom_semi_filter

    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    keys = (
        supplier.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey")
    )
    fact = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    pruned = bloom_semi_filter(
        fact, "l_suppkey", keys, "s_suppkey", n_words=_BF_WORDS, n_hashes=_BF_HASHES
    )
    exact = fact.join(
        F.broadcast(keys.withColumnRenamed("s_suppkey", "l_suppkey")), "l_suppkey", "semi"
    )
    n_b = pruned.agg(F.count(F.lit(1)).alias("n_bloom_kept"))
    n_e = exact.agg(F.count(F.lit(1)).alias("n_exact_rows"))
    return n_b.crossJoin(n_e).select(
        "n_bloom_kept",
        "n_exact_rows",
        (F.col("n_bloom_kept") - F.col("n_exact_rows")).alias("n_false_positive_rows"),
    )


_TFIDF_TOP = 5


@register(
    "text_tfidf_top_terms",
    category="text",
    oracle=f"""
WITH {_TOKENS_CTE},
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok2 GROUP BY 1, 2),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS dfreq FROM tok2 GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok2),
scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.dfreq + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, token, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT)
           AS term_rank
  FROM scored
)
SELECT doc_id, token, tfidf, term_rank FROM ranked WHERE term_rank <= {_TFIDF_TOP}
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document. Broadcast 1-row N, doc-partitioned
    window, ranking on the 6-dp rounded score (cross-engine determinism
    rule for float ordering)."""
    return TX.tfidf_top_terms(
        load_table(spark, sf_dir, "documents"), top_n=_TFIDF_TOP
    )


_CONTAM_K = 8
_CONTAM_PROBE_MAX = 100  # doc_id < 100 stands in for the benchmark/eval set


def _contamination_oracle() -> str:
    k = _CONTAM_K
    shingles = (
        f"unnest(list_distinct(list_transform("
        f"generate_series(1, greatest(length(t) - {k - 1}, 1)), i -> substr(t, i, {k}))))"
    )
    return f"""
WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
corpus_sh AS (SELECT doc_id, {shingles} AS shingle FROM norm WHERE doc_id >= {_CONTAM_PROBE_MAX}),
probe_sh AS (SELECT DISTINCT {shingles} AS shingle FROM norm WHERE doc_id < {_CONTAM_PROBE_MAX}),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus_sh GROUP BY 1),
hits AS (SELECT c.doc_id, count(*) AS n_contaminated
         FROM corpus_sh c JOIN probe_sh p USING (shingle) GROUP BY 1)
SELECT s.doc_id, h.n_contaminated, s.n_shingles,
       round(h.n_contaminated / CAST(s.n_shingles AS DOUBLE), 6) AS contamination_ratio
FROM sizes s JOIN hits h USING (doc_id)
"""


@register("text_contamination", category="text", oracle=_contamination_oracle())
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id >= 100) sharing any
    8-char shingle with the probe set (doc_id < 100). Broadcast probe
    shingles, no pairwise doc comparison — the training-pipeline
    eval-leakage check at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= _CONTAM_PROBE_MAX)
    probes = docs.filter(F.col("doc_id") < _CONTAM_PROBE_MAX)
    return TX.contamination(corpus, probes, shingle_k=_CONTAM_K)


# ---------------------------------------------------------------------------
# streaming (certified): the streaming plan itself runs under the oracle
# ---------------------------------------------------------------------------

@register(
    "streaming_windowed_agg",
    category="streaming",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events GROUP BY 1, 2
""",
)
def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked tumbling-window aggregation executed as a REAL
    Structured Streaming query (availableNow trigger, memory sink,
    complete mode so every window is emitted deterministically) — certifies
    the streaming plan, not just its batch twin. Complete mode keeps all
    window state; the production shape for unbounded runs is append mode,
    where the watermark bounds state (tested stream≡batch in
    tests/test_streaming.py)."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    ev = ST.table_stream(spark, sf_dir, "events")
    agg = ST.tumbling_window_counts(ev, window="1 hour", watermark="2 hours",
                                    group_cols=("event_type",))
    return ST.run_stream_to_memory(agg, "streaming_windowed_agg_result")


@register(
    "streaming_append_closed_windows",
    category="streaming",
    oracle="""
WITH mx AS (SELECT max(ts) AS max_ts FROM events)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events, mx
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= max_ts - INTERVAL 2 HOUR
GROUP BY 1, 2
""",
)
def streaming_append_closed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION streaming output mode, certified: the same tumbling
    window aggregation as streaming_windowed_agg but in APPEND mode, where
    only watermark-closed windows emit and state is bounded by the
    watermark horizon (complete mode keeps all windows forever).

    Determinism: after an availableNow drain the final no-data batch
    advances the watermark to max_event_time - delay, so exactly the
    windows with end <= max(ts) - 2h have emitted — which is what the
    oracle computes in SQL. This certifies the append/watermark eviction
    contract itself, not just the window arithmetic."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    ev = ST.table_stream(spark, sf_dir, "events")
    agg = ST.tumbling_window_counts(ev, window="1 hour", watermark="2 hours",
                                    group_cols=("event_type",))
    return ST.run_stream_to_memory(
        agg, "streaming_append_closed_result", output_mode="append"
    )


@register(
    "streaming_dedup_keys",
    category="streaming",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (dropDuplicatesWithinWatermark) executed as
    a real streaming query: one surviving row per (user_id, event_type)
    within the watermark horizon; projecting the key columns makes the
    result the exact distinct key set regardless of which duplicate row
    survives. Watermark bounds dedup state at scale."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    ev = ST.table_stream(spark, sf_dir, "events")
    deduped = ST.dedup_stream(ev, key_cols=("user_id", "event_type")).select(
        "user_id", "event_type"
    )
    return ST.run_stream_to_memory(
        deduped, "streaming_dedup_keys_result", output_mode="append"
    )


@register(
    "streaming_session_window",
    category="streaming",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800.0
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sessions AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sessions GROUP BY user_id, sid
""",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window session merging executed as a real streaming query
    (complete mode emits every merged session deterministically) — the
    streaming twin of events_session_window under the same lag/running-sum
    oracle."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    ev = ST.table_stream(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    return ST.run_stream_to_memory(agg, "streaming_session_window_result")


_INCR_SPLIT = 250  # doc_id < 250 = previously-ingested corpus; >= 250 = new batch


@register(
    "dedup_incremental",
    category="dedup",
    oracle=rf"""
WITH hashed AS (SELECT doc_id, substr(md5({_NORM}), 1, 32) AS content_hash FROM documents),
fresh AS (
  SELECT * FROM hashed WHERE doc_id >= {_INCR_SPLIT}
    AND content_hash NOT IN (SELECT content_hash FROM hashed WHERE doc_id < {_INCR_SPLIT})
)
SELECT content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM fresh GROUP BY 1
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new batch (doc_id >= 250) against the hash set
    of the already-ingested corpus (doc_id < 250) — anti-join on 16-byte
    fingerprints, never text."""
    docs = load_table(spark, sf_dir, "documents")
    known = D.exact_dedup(docs.filter(F.col("doc_id") < _INCR_SPLIT)).select("content_hash")
    return D.incremental_dedup(docs.filter(F.col("doc_id") >= _INCR_SPLIT), known)


_QUALITY_EXPR = r"""round(0.5 * least(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) / 100.0, 1.0)
           + 0.5 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
                  ELSE length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                       / CAST(length(lower(text)) AS DOUBLE) END) * 2.0, 1.0)), 6)"""


def _curation_oracle() -> str:
    """End-to-end curation oracle assembled from the same generators as the
    individual lang-id / quality / dedup oracles (single source of truth)."""
    score_exprs = []
    for lang in sorted(TX.LANG_MARKERS):
        terms = [
            f"(length(t) - length(replace(t, ' {w} ', ''))) / {len(w) + 2}"
            for w in TX.LANG_MARKERS[lang]
        ]
        score_exprs.append(f"({' + '.join(terms)}) AS score_{lang}")
    langs = sorted(TX.LANG_MARKERS)
    best = f"greatest({', '.join('score_' + lang for lang in langs)})"
    whens = " ".join(f"WHEN score_{lang} = best THEN '{lang}'" for lang in langs)
    return f"""
WITH scored AS (
  SELECT doc_id, {', '.join(score_exprs)}
  FROM (SELECT doc_id, concat(' ', lower(text), ' ') AS t FROM documents)
), best_of AS (
  SELECT *, {best} AS best FROM scored
), lang AS (
  SELECT doc_id,
         CASE WHEN best <= 0 THEN 'und' {whens} ELSE 'und' END AS lang_pred
  FROM best_of
), qual AS (SELECT doc_id, {_QUALITY_EXPR} AS quality_score FROM documents),
hashed AS (SELECT doc_id, substr(md5({_NORM}), 1, 32) AS content_hash FROM documents),
joined AS (
  SELECT d.doc_id, d.source, q.quality_score, h.content_hash
  FROM documents d
  JOIN lang l USING (doc_id) JOIN qual q USING (doc_id) JOIN hashed h USING (doc_id)
  WHERE l.lang_pred = 'en' AND q.quality_score >= 0.5
), kept AS (
  SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn FROM joined
)
SELECT source, count(*) AS n_docs,
       round(CAST(sum(CAST(quality_score AS DECIMAL(14,6))) AS DOUBLE) / count(*), 4)
         AS avg_quality
FROM kept WHERE rn = 1 GROUP BY source
"""


@register("corpus_curation_pipeline", category="pipeline", oracle=_curation_oracle())
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation flow a training pipeline runs as one job:
    language-ID → quality filter → exact dedup (keep first per hash) →
    per-source statistics. The dedup window partitions by hash; the final
    agg is one map-side-combined shuffle on source.

    The scored projection is separated from the quality filter by an
    ``observe`` instrumentation point (scored-document count — the same
    write-metric channel the Load stages ride). Besides the metric, this is
    a deliberate optimizer fence: predicate pushdown would otherwise
    substitute the full lang-ID + quality expression trees into the filter
    and evaluate the most expensive per-row work TWICE (measured 2.4 s →
    0.95 s at sf0.1); CollectMetrics must see every scored row, so the
    filter legally cannot sink below it."""
    from pyspark.sql.window import Window

    from arc_cassandra_pipeline_plugin_spark.functions import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    scored = (
        TX.quality_score(TX.lang_id(docs))
        .withColumn(
            "content_hash",
            F.substring(
                F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")), 1, 32
            ),
        )
        .select("doc_id", "source", "quality_score", "lang_pred", "content_hash")
        .observe("curation_scored", F.count(F.lit(1)).alias("n_scored"))
    )
    filtered = scored.filter(
        (F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.5)
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    kept = filtered.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    # decimal-sum the (already 6-dp) scores: exact associative arithmetic,
    # so the mean is bit-identical across engines and partition orders
    # (a float avg flipped the 4th decimal between runs at sf0.001)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(14,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_quality"),
    )


_PYDS_ROWS = 2000
_PYDS_PARTS = 8


@register(
    "pyds_synthetic_docs",
    category="source",
    oracle=f"""
WITH t AS (
  SELECT i AS doc_id, md5(CAST(i AS VARCHAR)) AS text,
         'src_' || CAST(i % 5 AS VARCHAR) AS source
  FROM range({_PYDS_ROWS}) r(i)
)
SELECT source, count(*) AS n_docs, min(text) AS min_text, max(text) AS max_text
FROM t GROUP BY source
""",
)
def pyds_synthetic_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 datasource API): a partition-aware
    synthetic corpus source — the Spark-native re-expression of the
    reference's connector-plugin model (CassandraExtract delegates its scan
    to the connector's DSv2 source the same way). Deterministic content
    (md5 of the row id) lets DuckDB regenerate the identical table from
    range(), so a *custom source* is itself oracle-certified. sf_dir is
    unused: the source synthesizes its rows."""
    from arc_cassandra_pipeline_plugin_spark.sources.pyds import register_python_datasources

    register_python_datasources(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("rows", _PYDS_ROWS)
        .option("partitions", _PYDS_PARTS)
        .load()
    )
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
    )


_FRAME_STEP = 64  # every_ms AND frame_bytes: ~4-5 frames per fixture doc


@register(
    "multimodal_frames",
    category="multimodal",
    oracle=f"""
WITH d AS (
  SELECT doc_id AS asset_id, text AS t, greatest(length(text), 1) AS n FROM documents
),
f AS (
  SELECT asset_id, t, n,
         unnest(range(0, greatest(n // {_FRAME_STEP}, 1))) AS frame_idx
  FROM d
)
SELECT asset_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * {_FRAME_STEP} AS INT) AS frame_offset_ms,
       md5(substr(t, ((frame_idx * {_FRAME_STEP}) % n) + 1, {_FRAME_STEP})) AS frame_md5
FROM f
""",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the per-row fan-out kernel
    (operators/multimodal.sample_frames), certified byte-for-byte: the
    fixture payload is ASCII so DuckDB's substr over the text replays the
    kernel's byte slicing exactly, and md5 over the emitted frame payloads
    must agree. This pins the widest-table kernel (fan-out, offsets,
    tail-truncation, empty-payload behavior) to SQL semantics."""
    assets = M.documents_as_assets(load_table(spark, sf_dir, "documents"))
    frames = M.sample_frames(assets, every_ms=_FRAME_STEP, frame_bytes=_FRAME_STEP)
    return frames.select(
        "asset_id",
        "frame_idx",
        "frame_offset_ms",
        F.md5("frame_payload").alias("frame_md5"),
    )


@register(
    "events_sliding_window",
    category="timeseries",
    oracle="""
WITH w AS (
  SELECT date_trunc('hour', ts) AS window_start, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, value FROM events
)
SELECT window_start, count(*) AS n_events, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM w GROUP BY 1
""",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2 h length, 1 h slide): every event lands
    in exactly two epoch-aligned windows — F.window's generator ≡ the
    two-shifted-truncations union in SQL. Streaming twin in streaming/
    (sliding_window_counts) runs the same plan incrementally."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # integer-CENTS sum: value is a 2-dp grid, so round(value*100) is the
            # exact integer on both engines; the long sum stays on the vectorized
            # codegen fast path (a decimal sum costs ~2x here) and cannot
            # overflow per bounded time-window group at any corpus scale
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@register("dedup_clusters_star", category="dedup", oracle=_clusters_oracle())
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster output as dedup_clusters, computed with the
    large-star/small-star algorithm (Kiveris et al.) — O(log n) rounds on
    any graph vs O(diameter) for plain propagation, the web-scale form.
    Certified against the identical recursive-CTE closure oracle."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signature(docs, num_perm=_NUM_PERM, shingle_k=_SHINGLE_K)
    pairs = D.lsh_candidate_pairs(sigs, num_perm=_NUM_PERM, bands=_BANDS)
    return D.connected_components_star(pairs)


_SSJ_UPPER_MIN = 10
_SSJ_MAX_USER = 30


@register(
    "streaming_stream_stream_join",
    category="streaming",
    oracle=f"""
SELECT a.event_id AS click_id, b.event_id AS err_id, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL {_SSJ_UPPER_MIN} MINUTE
WHERE a.user_id < {_SSJ_MAX_USER}
  AND a.event_type = 'click' AND b.event_type = 'error'
""",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run as a REAL streaming query: clicks
    joined to errors by the same user within the next 10 minutes, both
    sides watermarked (state bounded to watermark + interval). Inner
    matches emit deterministically, so the availableNow run equals the
    batch interval join and certifies under the SQL oracle."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    ev = ST.table_stream(spark, sf_dir, "events").filter(F.col("user_id") < _SSJ_MAX_USER)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    ).withColumnRenamed("err_user", "user_id")
    joined = ST.stream_stream_interval_join(
        clicks, errors, key="user_id", left_ts="click_ts", right_ts="err_ts",
        upper=f"{_SSJ_UPPER_MIN} minutes",
    )
    out = joined.select("click_id", "err_id", "user_id")
    return ST.run_stream_to_memory(out, "stream_stream_join_result", output_mode="append")


@register(
    "streaming_stream_stream_outer",
    category="streaming",
    oracle=f"""
SELECT a.event_id AS click_id, a.user_id, b.event_id AS err_id
FROM events a LEFT JOIN events b
  ON a.user_id = b.user_id AND b.event_type = 'error'
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL {_SSJ_UPPER_MIN} MINUTE
WHERE a.user_id < {_SSJ_MAX_USER} AND a.event_type = 'click'
""",
)
def streaming_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join as a REAL streaming query —
    the state-eviction correctness trap: clicks with no error from the same
    user in the next 10 minutes must surface as null-padded rows, and those
    rows emit only when the watermark passes click_ts + 10min. A finite
    replay therefore needs a watermark flush (events_stream_flushed's
    far-future sentinel file) or the unmatched tail silently never emits —
    exactly the bug class this query certifies against the batch LEFT JOIN
    oracle, null rows included in the value hash.

    The sentinel rows need NO output filter: they carry pairwise
    non-joinable negative user_ids and, being the maximum event time, are
    never finalized by the watermark, so they cannot reach the sink. Do
    NOT add a defensive ``user_id >= 0`` output filter — Catalyst's
    constraint propagation pushes it through the join into BOTH scans,
    prunes the sentinel rows at the source, and silently freezes the
    watermark at the real data's maximum (re-introducing the missing-tail
    bug, 206/208 nulls). Found the hard way; pinned by
    tests/test_streaming.py::test_stream_stream_outer_emission_timing."""
    import os

    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    work = scratch_dir(f"ssouter_{os.path.basename(sf_dir.rstrip('/'))}")
    ev = ST.events_stream_flushed(spark, sf_dir, work).filter(
        F.col("user_id") < _SSJ_MAX_USER
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("err_ts"),
    )
    joined = ST.stream_stream_outer_join(
        clicks, errors, key="user_id", left_ts="click_ts", right_ts="err_ts",
        upper=f"{_SSJ_UPPER_MIN} minutes", how="leftOuter",
    )
    out = joined.select("click_id", "user_id", "err_id")
    return ST.run_stream_to_memory(
        out, "stream_stream_outer_result", output_mode="append"
    )


@register(
    "streaming_stream_stream_full_outer",
    category="streaming",
    oracle=f"""
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS cts FROM events
  WHERE event_type = 'click' AND user_id < {_SSJ_MAX_USER}),
e AS (
  SELECT event_id AS err_id, user_id, ts AS ets FROM events
  WHERE event_type = 'error' AND user_id < {_SSJ_MAX_USER})
SELECT c.click_id, coalesce(c.user_id, e.user_id) AS user_id, e.err_id
FROM c FULL JOIN e
  ON c.user_id = e.user_id
 AND e.ets > c.cts AND e.ets <= c.cts + INTERVAL {_SSJ_UPPER_MIN} MINUTE
""",
)
def streaming_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — BOTH sides' unmatched rows
    must surface null-padded on watermark expiry: clicks with no error in
    the next 10 minutes AND errors with no click in the preceding 10
    minutes. State eviction is two-sided (left rows finalize at
    click_ts + upper, right rows at err_ts), both driven by the
    sentinel-flushed watermark; the output key coalesces across sides.
    Certified against the batch FULL JOIN, null rows on both sides in the
    value hash."""
    import os

    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    work = scratch_dir(f"ssouter_{os.path.basename(sf_dir.rstrip('/'))}")
    ev = ST.events_stream_flushed(spark, sf_dir, work).filter(
        F.col("user_id") < _SSJ_MAX_USER
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("err_ts"),
    )
    joined = ST.stream_stream_outer_join(
        clicks, errors, key="user_id", left_ts="click_ts", right_ts="err_ts",
        upper=f"{_SSJ_UPPER_MIN} minutes", how="fullOuter",
    )
    out = joined.select("click_id", "user_id", "err_id")
    return ST.run_stream_to_memory(
        out, "stream_stream_full_outer_result", output_mode="append"
    )


@register(
    "streaming_stream_static_join",
    category="streaming",
    oracle="""
SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
       CAST(c.c_nationkey AS BIGINT) AS nation
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
)
def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join run as a REAL streaming query: the
    event stream joined per micro-batch to a broadcast customer dimension
    (streaming.enrich_stream), append mode — the standard pattern for
    attaching slowly-changing attributes to an event stream without any
    stateful join machinery. Inner matches are deterministic, so the
    availableNow run equals the batch join and certifies under the SQL
    oracle. At 100 TB the static side is a periodically re-read broadcast;
    the stream side never shuffles."""
    from arc_cassandra_pipeline_plugin_spark import streaming as ST

    ev = ST.table_stream(spark, sf_dir, "events").select("event_id", "user_id")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("bigint").alias("nation"),
    )
    enriched = ST.enrich_stream(ev, dim, on="user_id", how="inner")
    out = enriched.select("event_id", "user_id", "segment", "nation")
    return ST.run_stream_to_memory(out, "stream_static_join_result", output_mode="append")


_FH_BUCKETS = 64


@register(
    "text_feature_hashing",
    category="text",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_FH_BUCKETS} AS bucket,
         CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM toks WHERE tok <> ''
)
SELECT doc_id, CAST(bucket AS INT) AS bucket,
       CAST(sum(s) AS BIGINT) AS feature, count(*) AS tf
FROM h GROUP BY 1, 2
""",
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature vectors (Weinberger et al.): token → md5
    bucket in a fixed {_FH_BUCKETS}-dim space, second-hash sign for
    unbiasedness, signed-sum feature value + raw term frequency, long
    format (doc_id, bucket). No vocabulary pass, no driver state — one
    explode + one map-side-combinable groupBy whose shuffle carries at
    most {_FH_BUCKETS} rows per document regardless of corpus size. The
    fixed dimensionality is what makes downstream ML joins/aggregations
    bounded at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    h = toks.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
            % _FH_BUCKETS
        ).cast("int").alias("bucket"),
        F.when(
            F.conv(F.substring(F.md5("tok"), 9, 1), 16, 10).cast("bigint") % 2 == 0,
            F.lit(1),
        ).otherwise(F.lit(-1)).alias("s"),
    )
    return h.groupBy("doc_id", "bucket").agg(
        F.sum("s").cast("bigint").alias("feature"),
        F.count(F.lit(1)).alias("tf"),
    )


@register(
    "json_variant_extract",
    category="json",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INT) AS k_int,
       CAST(json_extract(props, '$.missing') AS INT) AS absent_is_null,
       count(*) OVER (PARTITION BY CAST(json_extract(props, '$.k') AS INT) % 10) AS k_bucket_n
FROM events WHERE event_id < 2000
""",
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: parse_json once into
    a binary variant column, then typed try_variant_get extraction —
    the open-format answer to schema-on-read JSON at scale (parse cost paid
    once; extraction is a cheap binary probe, not a re-parse). Missing
    paths yield NULL; a windowed count over the extracted value shows the
    variant column composing with relational operators."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    extracted = v.select(
        "event_id",
        F.try_variant_get(F.col("v"), "$.k", "int").alias("k_int"),
        F.try_variant_get(F.col("v"), "$.missing", "int").alias("absent_is_null"),
    )
    w = Window.partitionBy(F.col("k_int") % 10)
    return extracted.withColumn("k_bucket_n", F.count(F.lit(1)).over(w))


def _pii_oracle() -> str:
    """Generated from the same PII_PATTERNS constants as the operator."""
    stage = "text"
    count_cols = []
    for name, pat, token in TX.PII_PATTERNS:
        esc = pat.replace("'", "''")
        count_cols.append(
            f"CAST(len(regexp_extract_all({stage}, '{esc}')) AS INT) AS n_{name}"
        )
        stage = f"regexp_replace({stage}, '{esc}', '{token}', 'g')"
    cols = ",\n       ".join(count_cols)
    return f"""
SELECT doc_id,
       {cols},
       {stage} AS text_redacted
FROM documents
"""


@register("text_pii_redaction", category="text", oracle=_pii_oracle())
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: typed placeholders for emails /
    phone-like runs / long digit sequences plus per-category counts —
    single codegen'd projection, oracle generated from the same pattern
    constants so Spark and DuckDB replace identically."""
    d = TX.redact_pii(load_table(spark, sf_dir, "documents"))
    n_cols = [f"n_{name}" for name, _, _ in TX.PII_PATTERNS]
    return d.select("doc_id", *n_cols, "text_redacted")


_CHUNK_TOKENS = 64
_CHUNK_OVERLAP = 16
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP


@register(
    "text_chunk_documents",
    category="text",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
chunks AS (
  SELECT doc_id, t, n,
         unnest(range(0, CAST(greatest(ceil((n - {_CHUNK_OVERLAP}) / {_CHUNK_STRIDE}.0), 1) AS INT)))
           AS chunk_idx
  FROM sized
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(list_slice(t, chunk_idx * {_CHUNK_STRIDE} + 1,
                                     chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}), ' ')
         AS chunk_text,
       CAST(least({_CHUNK_TOKENS}, n - chunk_idx * {_CHUNK_STRIDE}) AS INT) AS n_chunk_tokens
FROM chunks
""",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (64-token chunks, 16-token overlap) — the
    pre-training/embedding preparation fan-out, all codegen'd array
    builtins; chunk boundaries replay exactly in SQL list_slice."""
    return TX.chunk_documents(
        load_table(spark, sf_dir, "documents"),
        chunk_tokens=_CHUNK_TOKENS,
        overlap=_CHUNK_OVERLAP,
    )


@register(
    "text_repetition_signals",
    category="text",
    oracle=f"""
WITH {_TOKENS_CTE},
per AS (SELECT doc_id, token, count(*) AS c FROM tok2 GROUP BY 1, 2),
agg AS (SELECT doc_id, sum(c) AS total, count(*) AS dist, max(c) AS maxc FROM per GROUP BY 1)
SELECT doc_id,
       round(1.0 - dist / CAST(total AS DOUBLE), 6) AS dup_token_ratio,
       round(maxc / CAST(total AS DOUBLE), 6) AS top_token_ratio
FROM agg
""",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-token ratio,
    top-token dominance) — boilerplate/spam detectors for the quality
    filter; hash/count shuffles only."""
    return TX.repetition_signals(load_table(spark, sf_dir, "documents"))


def _pca_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.linalg import (
        power_iteration_oracle_sql,
    )

    return power_iteration_oracle_sql(iters=3)


def _kmeans_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.linalg import kmeans_oracle_sql

    return kmeans_oracle_sql(k=8, iters=3)


@register("embeddings_kmeans_lloyd", category="similarity", oracle=_kmeans_oracle())
def embeddings_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=8, three Lloyd rounds, deterministic seeds)
    over the embedding corpus — the clustering workhorse behind IVF index
    training, semantic dedup bucketing, and topic discovery — certified
    bit-identically against the same rounds unrolled as DuckDB CTEs.
    Broadcast centroids onto the long-form view, exact-decimal distances
    with a (dist, g) argmin that cannot tie-flip, map-side-combinable
    centroid updates; no driver-side data (see operators/linalg.py)."""
    from arc_cassandra_pipeline_plugin_spark.operators.linalg import kmeans_lloyd

    return kmeans_lloyd(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=3
    )


def _kmeans_fast_oracle() -> str:
    from arc_cassandra_pipeline_plugin_spark.operators.linalg import (
        kmeans_fast_oracle_sql,
    )

    return kmeans_fast_oracle_sql(k=8, iters=3)


@register("embeddings_kmeans_fast", category="similarity", oracle=_kmeans_fast_oracle())
def embeddings_kmeans_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float64 k-means (k=8, three Lloyd rounds, same seeds/rounding/
    tiebreaks as ``embeddings_kmeans_lloyd``) through the vectorized
    ``mapInArrow`` path — the production-throughput twin of the
    decimal-certified query. Certified on the assignment-derived integers
    (per-cluster member count + member-id checksum) against the decimal
    rounds unrolled in DuckDB: float centroids can drift from decimal ones
    in late decimals, but assignments agree except on exact distance ties
    (assignment-equality pytest pins the two Spark paths to each other).
    Per round: one Arrow kernel doing argmin + in-batch partials, one
    O(batches x k) combine — never an n·d coordinate shuffle."""
    from arc_cassandra_pipeline_plugin_spark.operators.linalg import kmeans_lloyd_fast

    return kmeans_lloyd_fast(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=3
    )


@register("embeddings_pca_power", category="similarity", oracle=_pca_oracle())
def embeddings_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by distributed
    power iteration (operators/linalg.py): three matrix-vector rounds as
    joins + decimal-summed aggregations over the long-form vector view —
    no Gram matrix, no driver-side data, shuffles keyed by (vec_id) and
    (component). Certified against the identical rounds unrolled as CTEs
    generated from the same rounding constants."""
    from arc_cassandra_pipeline_plugin_spark.operators.linalg import (
        power_iteration_top_component,
    )

    return power_iteration_top_component(
        load_table(spark, sf_dir, "embeddings"), iters=3
    )


@register(
    "embeddings_group_centroids",
    category="similarity",
    oracle="""
WITH e AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim_idx,
         unnest(embedding) AS val
  FROM embeddings
),
per AS (
  SELECT label, dim_idx,
         round(CAST(sum(CAST(val AS DECIMAL(24,12))) AS DOUBLE) / count(*), 4) + 0.0
           AS dim_mean
  FROM e GROUP BY 1, 2
)
SELECT label,
       array_to_string(list(printf('%.4f', dim_mean) ORDER BY dim_idx), ',') AS centroid_csv
FROM per GROUP BY label
""",
)
def embeddings_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids: posexplode → map-side-combined
    per-dimension mean → ordered re-assembly. Shuffle carries (label, dim)
    partial sums, never vectors. Output is %.4f-formatted CSV so float
    rendering is engine-identical (JSON float notation is not)."""
    cents = S.group_centroids(
        load_table(spark, sf_dir, "embeddings"), group_col="label"
    )
    return cents.select(
        "label",
        F.array_join(
            F.transform(F.col("centroid"), lambda x: F.format_string("%.4f", x)), ","
        ).alias("centroid_csv"),
    )


@register(
    "embeddings_quantize_int8_rowwise",
    category="similarity",
    oracle="""
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
  FROM embeddings
),
s AS (SELECT vec_id, embedding, CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS sc FROM m)
SELECT vec_id,
       round(sc, 6) AS scale,
       array_to_string(list_transform(embedding,
         x -> CAST(round(CAST(x AS DOUBLE) / sc) AS INT)), ',') AS q_csv
FROM s
""",
)
def embeddings_quantize_int8_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (4× memory cut on the widest
    training-corpus column) — pure higher-order projection, certified
    element-for-element via integer CSV."""
    q = S.quantize_int8(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.array_join(F.transform(F.col("q_embedding"), lambda x: x.cast("string")), ",").alias(
            "q_csv"
        ),
    )


# ---------------------------------------------------------------------------
# SimHash Hamming-distance pairs (banded, pigeonhole-complete)
# ---------------------------------------------------------------------------

_SIMHASH_BANDS = 4  # 15 bits each over the 60-bit code
_SIMHASH_MAX_HAM = 3  # bands-1 guarantees completeness by pigeonhole


def _simhash_pairs_oracle() -> str:
    return f"""
WITH sim AS ({_simhash_oracle()}),
banded AS (
  SELECT doc_id, simhash, b.b AS band_id,
         (simhash >> (15 * b.b)) & 32767 AS band_val
  FROM sim CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) b),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM banded a JOIN banded c
    ON a.band_id = c.band_id AND a.band_val = c.band_val AND a.doc_id < c.doc_id),
sa AS (SELECT doc_id, simhash FROM sim)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
FROM cand
JOIN sa x ON x.doc_id = cand.doc_a
JOIN sa y ON y.doc_id = cand.doc_b
WHERE bit_count(xor(x.simhash, y.simhash)) <= {_SIMHASH_MAX_HAM}
"""


@register("dedup_simhash_pairs", category="dedup", oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLIED SimHash near-dup step: document pairs within Hamming
    distance 3 of each other's 60-bit codes, found by banding the code
    into 4×15-bit sub-codes — by pigeonhole, ≤3 differing bits leave at
    least one band identical, so the banded equi-join is COMPLETE (the
    same guarantee structure as MinHash-LSH, here deterministic rather
    than probabilistic).

    Candidates join on (band_id, band_val); the Hamming verify is one
    XOR + popcount per candidate — all integer ops. Scale: the quadratic
    term is the largest single band bucket; boilerplate-heavy corpora cap
    band-bucket sizes upstream the same way LSH does."""
    sims = D.simhash64(load_table(spark, sf_dir, "documents"))
    sims = sims.localCheckpoint()
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        (
                            F.shiftright(F.col("simhash"), 15 * b)
                            .bitwiseAND(F.lit(32767))
                        ).alias("band_val"),
                    )
                    for b in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", "bv.band_id", "bv.band_val")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band_id", "band_val"
    )
    c = bands.select(
        F.col("doc_id").alias("doc_b"), "band_id", "band_val"
    )
    cand = (
        a.join(c, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    x = sims.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    y = sims.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAM)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


@register(
    "streaming_pyds_source",
    category="streaming",
    oracle="""
WITH rows AS (
  SELECT i AS doc_id, md5(CAST(i AS VARCHAR)) AS text,
         'src_' || CAST(i % 5 AS VARCHAR) AS source
  FROM range(400) t(i))
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(('0x' || substr(text, 1, 8))::BIGINT) AS BIGINT) AS checksum
FROM rows GROUP BY source
""",
)
def streaming_pyds_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming FROM the custom Python DataSource: the
    synthetic-docs stream reader feeds a complete-mode grouped aggregation
    into a memory sink, micro-batch offsets advancing until the bounded
    source drains — certifying the full custom-source streaming path
    (offsets, replay contract, stateful agg) against the oracle that
    regenerates the identical corpus from pure SQL.

    The additive md5-prefix checksum makes the certification content-
    sensitive, not just count-sensitive. Deterministic: the source is
    id-keyed, the aggregation commutative."""
    import tempfile
    import time

    from arc_cassandra_pipeline_plugin_spark.sources.pyds import (
        register_python_datasources,
    )
    from arc_cassandra_pipeline_plugin_spark.streaming import (
        stream_shuffle_pinned,
    )

    register_python_datasources(spark)
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("rows", 400)
        .option("batch_rows", 150)
        .load()
    )
    agg = stream.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.conv(F.substring(F.col("text"), 1, 8), 16, 10).cast("bigint")
        ).cast("bigint").alias("checksum"),
    )
    # pin the state partitioning to actual parallelism for the drain: an
    # unconfigured session's static 200 schedules 200 state-store tasks
    # per micro-batch for a 5-group aggregate — the r11 plain-gauntlet
    # 150/400-rows-in-120s timeout. The synthetic source is 400 ~1 KB docs,
    # so pass its known volume for the data-derived state width.
    # Spark's Python streaming source has no availableNow support, so the
    # drain polls a processing-time query instead of going through
    # streaming._drain (whose note on cleanup errors applies here too).
    with (
        tempfile.TemporaryDirectory(prefix="ckpt_pyds_q_", ignore_cleanup_errors=True) as ckpt,
        stream_shuffle_pinned(spark, source_bytes=400 * 1024),
    ):
        q = (
            agg.writeStream.format("memory")
            .queryName("pyds_stream_agg")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 120
        drained = 0
        try:
            while time.time() < deadline:
                rows = spark.table("pyds_stream_agg").collect()
                drained = sum(r["n_docs"] for r in rows)
                if drained >= 400:
                    break
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination(30)
    if drained < 400:
        # fail loudly: a partial complete-mode aggregate would otherwise
        # surface downstream as a confusing oracle hash mismatch (ADVICE r2)
        raise RuntimeError(
            f"streaming_pyds_source drained only {drained}/400 rows before "
            "the 120 s deadline"
        )
    return spark.table("pyds_stream_agg")


@register(
    "text_lang_confusion",
    category="text",
    oracle=f"""
WITH pred AS ({_lang_id_oracle()})
SELECT lang AS actual_lang, lang_pred AS predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2
""",
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation primitive: the confusion matrix of the
    language-ID heuristic against the labeled lang column — per
    (actual, predicted) counts, from which accuracy/precision/recall all
    derive. The matrix is |langs|² cells at any corpus size; one group
    aggregate over the prediction projection (no shuffle beyond it).
    Reuses the certified lang-ID generators on both engines."""
    pred = TX.lang_id(load_table(spark, sf_dir, "documents"))
    return pred.groupBy(
        F.col("lang").alias("actual_lang"),
        F.col("lang_pred").alias("predicted_lang"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))


_GIF_ORACLE_BODY = """
WITH d AS (SELECT doc_id AS i FROM documents),
a AS (SELECT i, 5 + i % 4 AS w, 4 + i % 3 AS h, 2 + i % 3 AS nf FROM d),
f AS (SELECT i, w, h, unnest(range(nf)) AS fi FROM a),
p AS (SELECT i, w, h, fi, unnest(range(w * h)) AS pp FROM f),
v AS (SELECT i, fi, w, h, (7 * i + 13 * fi + 3 * pp) % 16 AS idx FROM p)
SELECT i AS asset_id,
       CAST(fi AS INT) AS frame_idx,
       CAST(4 + fi AS INT) AS delay_cs,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h AS INT) AS n_px,
       CAST(max(idx) AS INT) AS max_idx,
       CAST(sum(idx) AS BIGINT) AS sum_idx
FROM v
GROUP BY i, fi, w, h
"""


@register(
    "multimodal_gif_roundtrip",
    category="multimodal",
    oracle=_GIF_ORACLE_BODY,
)
def multimodal_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF roundtrip: every document synthesizes a multi-frame
    GIF through the pure-stdlib LZW ENCODER (variable code widths, CLEAR/EOI,
    sub-block framing), and gif_frame_features walks the container back —
    logical screen descriptor, global color table, per-frame graphic-control
    delays, LZW DECODE with the early-change width rule — emitting
    integer-exact per-frame stats the oracle re-derives from the synthesis
    formula. The multi-frame compressed container is the video stand-in:
    JPEG/MP3/H.264 remain honestly gated on codec libraries."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.gif_frame_features(M.synthesize_gif_assets(docs))


@register(
    "multimodal_gif_framesample",
    category="multimodal",
    oracle=f"SELECT * FROM ({_GIF_ORACLE_BODY}) WHERE frame_idx % 2 = 0",
)
def multimodal_gif_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through the real GIF decoder: decode the
    animated container, keep every 2nd frame, featurize — the
    decode → frame-sample → featurize kernel of a video pipeline, running
    on genuinely compressed multi-frame payloads."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.gif_frame_features(M.synthesize_gif_assets(docs), every_n=2)


@register(
    "embedding_covariance",
    category="similarity",
    oracle="""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
idx AS (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
        FROM e),
x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v FROM idx),
pairs AS (
  SELECT a.i AS i, b.i AS j,
         CAST(round(a.v * b.v, 6) AS DECIMAL(18,6)) AS p
  FROM x a JOIN x b USING (vec_id) WHERE b.i >= a.i),
sxy AS (SELECT i, j, sum(p) AS sxy FROM pairs GROUP BY i, j),
dimsum AS (
  SELECT i, sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS sx, count(*) AS n
  FROM x GROUP BY i)
SELECT CAST(s.i AS INT) AS dim_i,
       CAST(s.j AS INT) AS dim_j,
       round(CAST(s.sxy AS DOUBLE) / CAST(a.n AS DOUBLE)
             - (CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE))
             * (CAST(b.sx AS DOUBLE) / CAST(a.n AS DOUBLE)), 6) + 0.0 AS cov
FROM sxy s
JOIN dimsum a ON a.i = s.i
JOIN dimsum b ON b.i = s.j
""",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 64×64 covariance upper triangle of the embedding corpus
    (operators/linalg.covariance_matrix): chained posexplode outer-product
    terms (no join), map-side-combined groupBy(i,j) — shuffle volume d²/2
    per partition regardless of corpus size — with decimal-summed products
    so partition order cannot perturb a single bit. The small-d complement
    to the Gram-free power-iteration path."""
    from arc_cassandra_pipeline_plugin_spark.operators.linalg import covariance_matrix

    return covariance_matrix(load_table(spark, sf_dir, "embeddings"))


@register(
    "dedup_lsh_incremental",
    category="dedup",
    oracle=f"SELECT * FROM ({_lsh_oracle()}) WHERE doc_a % 10 = 7 OR doc_b % 10 = 7",
)
def dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection (operators/dedup.
    lsh_candidate_pairs_incremental): the docs with doc_id % 10 = 7 play
    today's ingest batch; candidate pairs touch at least one new doc. The
    corpus side streams its banded rows through ONE broadcast hash join
    against the new batch's bands — no corpus-side shuffle, the
    O(corpus x new) daily-ingest cost instead of re-running the full
    quadratic self-join. Oracle: the full LSH pair oracle filtered to
    pairs with a new side."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signature(docs, num_perm=_NUM_PERM, shingle_k=_SHINGLE_K)
    return D.lsh_candidate_pairs_incremental(
        sigs, is_new=F.col("doc_id") % 10 == 7, num_perm=_NUM_PERM, bands=_BANDS
    )


@register(
    "multimodal_tar_shard_ingest",
    category="multimodal",
    oracle="""
WITH d AS (SELECT doc_id AS i FROM documents),
c AS (
  SELECT i,
         'doc ' || i || ' payload ' || repeat('x', CAST(i % 50 AS INT)) AS s
  FROM d)
SELECT CAST(i // 10 AS BIGINT) AS shard_id,
       i || '.txt' AS member,
       CAST(length(s) AS INT) AS n_bytes,
       CAST(list_aggregate(
              list_transform(range(1, length(s) + 1), j -> ord(s[j])),
              'sum') AS BIGINT) AS byte_sum
FROM c
""",
)
def multimodal_tar_shard_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar-shard ingest (operators/archive): documents
    bucket into shards of 10, each becomes a REAL stdlib-built tar; the
    member-stats kernel unpacks every shard executor-side and emits
    integer-exact per-member audits (size, byte sum) that the oracle
    re-derives from the content formula — the shard-drop trust check an
    LLM data pipeline runs before training."""
    from arc_cassandra_pipeline_plugin_spark.operators import archive as A

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return A.tar_member_stats(A.synthesize_tar_shards(docs))


# --------------------------------------------------------------------------
# MMR diversified retrieval
# --------------------------------------------------------------------------

_MMR_COS_Q = (
    "round(list_dot_product(qv, cv)"
    " / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)"
)


def _mmr_oracle(pool: int = 20, k: int = 5) -> str:
    """Unrolled-CTE oracle for MMR selection: top-``pool`` by relevance,
    then ``k`` greedy rounds of argmax(7·rel − 3·maxsim) in exact deci-micro
    integers (rel/sim are 6-dp-rounded cosines converted to micro ints —
    the same float→int conversion both engines)."""
    ctes = [
        "qv_t AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings"
        " WHERE vec_id = 0)",
        f"""relt AS (
  SELECT c.vec_id,
         CAST(round(({_MMR_COS_Q}) * 1000000.0) AS BIGINT) AS rm
  FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) c
  CROSS JOIN qv_t WHERE c.vec_id <> 0)""",
        f"""pool AS (
  SELECT vec_id, rm FROM (
    SELECT *, row_number() OVER (ORDER BY rm DESC, vec_id) AS rn FROM relt)
  WHERE rn <= {pool})""",
        """pv AS (SELECT p.vec_id, p.rm, e.embedding::DOUBLE[] AS v
  FROM pool p JOIN embeddings e USING (vec_id))""",
        """sims AS (
  SELECT a.vec_id AS i, b.vec_id AS j,
         CAST(round(round(list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(b.v, b.v))), 6) * 1000000.0) AS BIGINT)
           AS sm
  FROM pv a JOIN pv b ON a.vec_id <> b.vec_id)""",
        "pick1 AS (SELECT vec_id, rm, CAST(7 * rm AS BIGINT) AS mmr"
        " FROM pool ORDER BY rm DESC, vec_id LIMIT 1)",
        "sel1 AS (SELECT vec_id FROM pick1)",
    ]
    for t in range(2, k + 1):
        prev = t - 1
        ctes.append(
            f"""cand{t} AS (
  SELECT p.vec_id, p.rm,
         CAST(7 * p.rm - 3 * coalesce(mx.m, 0) AS BIGINT) AS mmr
  FROM pool p
  LEFT JOIN (SELECT s.i AS vec_id, max(s.sm) AS m
             FROM sims s JOIN sel{prev} ss ON s.j = ss.vec_id
             GROUP BY 1) mx ON mx.vec_id = p.vec_id
  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{prev}))"""
        )
        ctes.append(
            f"pick{t} AS (SELECT vec_id, rm, mmr FROM cand{t}"
            " ORDER BY mmr DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"sel{t} AS (SELECT vec_id FROM sel{prev}"
            f" UNION ALL SELECT vec_id FROM pick{t})"
        )
    unions = " UNION ALL ".join(
        f"SELECT {t} AS rank, vec_id, rm, mmr FROM pick{t}"
        for t in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(rank AS INT) AS rank, vec_id,"
        f" rm AS rel_micro, mmr AS mmr_deci FROM ({unions})"
    )


@register(
    "similarity_mmr_diversified",
    category="similarity",
    oracle=_mmr_oracle(),
)
def similarity_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance retrieval: top-20 relevance pool for the
    query vector (vec_id 0), then 5 greedy MMR rounds picking
    argmax(0.7·rel − 0.3·max-sim-to-selected) — the diversified re-rank
    every RAG retriever runs between ANN shortlist and prompt assembly.

    Scale shape: relevance is one corpus scan against the broadcast query
    (the brute_force_topk posture) and the pool cut is a
    TakeOrderedAndProject — no global window, no corpus shuffle; the
    pairwise-sim matrix and greedy loop touch only the pool (bounded
    pool² = 400 integers of driver state, the k-means ferry convention).
    Selection arithmetic is EXACT: 6-dp cosines convert to micro ints in
    Spark (never driver-side), and 7·rel − 3·maxsim runs in deci-micro
    BIGINTs with vec_id tiebreak — the oracle unrolls the same rounds from
    the same constants."""
    from arc_cassandra_pipeline_plugin_spark.functions import (
        cosine_similarity,
        vec_double,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        vec_double("embedding").alias("qv")
    )
    c = emb.where(F.col("vec_id") != 0).select(
        "vec_id", vec_double("embedding").alias("cv")
    )
    rel = c.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.expr(
            "CAST(round(round("
            "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D,"
            " (acc, x) -> acc + x)"
            " / (sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))"
            "    * sqrt(aggregate(cv, 0D, (acc, x) -> acc + x * x))), 6)"
            " * 1000000.0) AS BIGINT)"
        ).alias("rm"),
    )
    pool = rel.orderBy(F.col("rm").desc(), F.col("vec_id")).limit(20)
    pv = pool.join(emb, "vec_id").select(
        "vec_id", "rm", vec_double("embedding").alias("v")
    )
    a = pv.select(F.col("vec_id").alias("i"), F.col("v").alias("va"))
    b = pv.select(F.col("vec_id").alias("j"), F.col("v").alias("vb"))
    sims_df = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            F.round(
                F.round(cosine_similarity(F.col("va"), F.col("vb")), 6)
                * 1000000.0
            )
            .cast("bigint")
            .alias("sm"),
        )
    )
    pool_rows = {int(r["vec_id"]): int(r["rm"]) for r in pool.collect()}
    sims = {
        (int(r["i"]), int(r["j"])): int(r["sm"]) for r in sims_df.collect()
    }
    selected: list[tuple[int, int, int]] = []  # (vec_id, rm, mmr)
    chosen: set[int] = set()
    for _ in range(5):
        best = None
        for vid, rm in pool_rows.items():
            if vid in chosen:
                continue
            maxsim = max(
                (sims[(vid, s)] for s in chosen if (vid, s) in sims),
                default=0,
            )
            mmr = 7 * rm - 3 * maxsim
            key = (-mmr, vid)
            if best is None or key < best[0]:
                best = (key, vid, rm, mmr)
        selected.append((best[1], best[2], best[3]))
        chosen.add(best[1])
    return small_df(spark, 
        [
            (rank + 1, vid, rm, mmr)
            for rank, (vid, rm, mmr) in enumerate(selected)
        ],
        "rank INT, vec_id BIGINT, rel_micro BIGINT, mmr_deci BIGINT",
    )


@register(
    "embeddings_quantize_int8",
    category="similarity",
    oracle="""
WITH e AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS j,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings),
mx AS (SELECT j, max(abs(x)) AS m FROM e GROUP BY 1),
q AS (
  SELECT e.j, e.x, mx.m,
         CASE WHEN mx.m = 0 THEN 0
              ELSE CAST(round(e.x * 127 / mx.m, 0) AS INT) END AS qv
  FROM e JOIN mx ON mx.j = e.j),
err AS (SELECT j, m, x - qv * m / 127 AS err FROM q)
SELECT CAST(j AS INT) AS dim, CAST(count(*) AS BIGINT) AS n,
       round(max(m), 6) AS scale_max_abs,
       round(CAST(sum(CAST(round(err * err, 12) AS DECIMAL(30,12))) AS DOUBLE)
             / count(*), 6) AS mse,
       round(max(abs(err)), 6) AS max_abs_err
FROM err GROUP BY 1
""",
)
def embeddings_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit per embedding dimension — the
    compression every large vector index applies (scale = max|x|/127),
    reporting the per-dim scale, reconstruction MSE, and worst-case error
    so the recall-vs-memory tradeoff is measured, not assumed.

    Determinism: quantized codes are round(x*127/max) on IDENTICAL doubles
    with identical half-away-from-zero semantics (exact-.5 ties included);
    squared errors are rounded to 12 dp per row and summed as exact
    DECIMAL (order-free — the linalg convention), so the MSE cannot drift
    with partitioning. Scale shape: one posexplode pass, one d-sized max
    aggregate broadcast back, one d-keyed moment aggregate — no shuffle
    carries vectors, driver state O(d)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode("embedding").alias("pos", "xf")
    ).select((F.col("pos") + 1).alias("j"), F.col("xf").cast("double").alias("x"))
    mx = e.groupBy("j").agg(F.max(F.abs(F.col("x"))).alias("m"))
    q = e.join(F.broadcast(mx), "j").select(
        "j",
        "x",
        "m",
        F.when(F.col("m") == 0, F.lit(0))
        .otherwise(F.round(F.col("x") * 127 / F.col("m"), 0).cast("int"))
        .alias("qv"),
    )
    err = q.select(
        "j", "m", (F.col("x") - F.col("qv") * F.col("m") / 127).alias("err")
    )
    dec = "decimal(30,12)"
    return err.groupBy("j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.max("m"), 6).alias("scale_max_abs"),
        F.round(
            F.sum(F.round(F.col("err") * F.col("err"), 12).cast(dec)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mse"),
        F.round(F.max(F.abs(F.col("err"))), 6).alias("max_abs_err"),
    ).select(
        F.col("j").cast("int").alias("dim"), "n", "scale_max_abs", "mse", "max_abs_err"
    )


@register(
    "multimodal_bmp_ahash",
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
         + 114 * ((3 * asset_id + 11 * p) % 256) AS gv,
         CASE WHEN (p % w) < (w // 2) THEN 0 ELSE 1 END AS bx,
         CASE WHEN (p // w) < (h // 2) THEN 0 ELSE 1 END AS by
  FROM px),
blocks AS (
  SELECT asset_id, w, h, by, bx,
         CAST(sum(gv) AS BIGINT) AS bsum, CAST(count(*) AS BIGINT) AS bn
  FROM g GROUP BY 1, 2, 3, 4, 5),
tot AS (
  SELECT asset_id, CAST(sum(bsum) AS BIGINT) AS total,
         CAST(sum(bn) AS BIGINT) AS n
  FROM blocks GROUP BY 1)
SELECT b.asset_id, CAST(max(b.w) AS INT) AS width, CAST(max(b.h) AS INT) AS height,
       CAST(sum(CASE WHEN b.bsum * t.n > t.total * b.bn
                     THEN 1 << (b.by * 2 + b.bx) ELSE 0 END) AS INT) AS ahash4,
       CAST(max(t.total) AS BIGINT) AS gray_sum
FROM blocks b JOIN tot t ON t.asset_id = b.asset_id
GROUP BY 1
""",
)
def multimodal_bmp_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash (2×2 block aHash) computed through the REAL
    BMP codec round-trip (operators/multimodal.bmp_ahash): encode the
    deterministic RGB corpus, decode genuine BMP bytes, integer BT.601
    luma, cross-multiplied block-vs-image mean bits packed into a 4-bit
    code — the screen-then-verify primitive of image near-dup pipelines,
    certified against the oracle's direct re-derivation of the pixel
    formula (every comparison pure BIGINT: no division, no floats, no
    rounding anywhere)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.bmp_ahash(M.synthesize_bmp_assets(docs))


def _minhash_calibration_oracle() -> str:
    rows = _NUM_PERM // _BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(concat_ws('|', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")) AS band_hash FROM sig"
        for b in range(_BANDS)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.mh_{p} = b.mh_{p} THEN 1 ELSE 0 END" for p in range(_NUM_PERM)
    )
    return f"""
{_shingle_cte(_SHINGLE_K)},
sig AS MATERIALIZED ({_minhash_select()}),
banded AS ({band_selects}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
est AS (
  SELECT c.doc_a, c.doc_b, CAST({match_sum} AS BIGINT) AS matches16
  FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2),
pairs AS (
  SELECT e.matches16,
         coalesce(i.n_inter, 0) AS n_inter,
         sa.set_size + sb.set_size - coalesce(i.n_inter, 0) AS n_union
  FROM est e
  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
  JOIN sizes sa ON sa.doc_id = e.doc_a
  JOIN sizes sb ON sb.doc_id = e.doc_b)
SELECT matches16, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(n_inter) AS BIGINT) AS sum_inter,
       CAST(sum(n_union) AS BIGINT) AS sum_union,
       round(CAST(sum(n_inter) AS DOUBLE) / sum(n_union), 6)
         AS micro_avg_jaccard
FROM pairs GROUP BY 1
"""


@register(
    "dedup_minhash_calibration",
    category="dedup",
    oracle=_minhash_calibration_oracle(),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the MinHash/LSH stack: every LSH
    candidate pair is scored BOTH ways — matching permutations of the
    16-perm signature (the sketch's Jaccard estimate, E[matches/16] = J)
    and exact 5-gram Jaccard — then grouped by match count so the
    calibration curve (estimate bucket → micro-averaged true Jaccard) is
    a certified table. This is the measurement behind choosing bands/rows:
    it shows precisely how sharp the sketch's threshold really is on THIS
    corpus.

    Determinism: match counts and shingle intersections/unions are exact
    BIGINTs; the only division is the final ratio-of-sums (micro-average —
    per-pair float averaging would drift; ratio of exact sums cannot).
    Scale shape: candidates come from the banded equi-join (never
    all-pairs); exact verification joins shingles THROUGH the candidate
    list, so its cost is candidate-bounded — the verify step of every
    production dedup pipeline, here certified."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signature(
        docs, num_perm=_NUM_PERM, shingle_k=_SHINGLE_K
    ).localCheckpoint(eager=True)
    cand = D.lsh_candidate_pairs(sigs, num_perm=_NUM_PERM, bands=_BANDS)
    a = sigs.alias("a")
    b = sigs.alias("b")
    match_sum = None
    for p in range(_NUM_PERM):
        term = F.when(F.col(f"a.mh_{p}") == F.col(f"b.mh_{p}"), 1).otherwise(0)
        match_sum = term if match_sum is None else match_sum + term
    est = (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", match_sum.cast("bigint").alias("matches16"))
    )
    sh = D.shingle_rows(docs, "text", "doc_id", k=_SHINGLE_K, distinct=True).select("doc_id", "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("set_size"))
    x = sh.alias("x")
    y = sh.alias("y")
    inter = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(
            y,
            (F.col("y.doc_id") == F.col("doc_b"))
            & (F.col("y.shingle") == F.col("x.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    pairs = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "matches16",
            "n_inter",
            (F.col("sa.set_size") + F.col("sb.set_size") - F.col("n_inter")).alias("n_union"),
        )
    )
    return pairs.groupBy("matches16").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("n_inter").cast("bigint").alias("sum_inter"),
        F.sum("n_union").cast("bigint").alias("sum_union"),
        F.round(
            F.sum("n_inter").cast("double") / F.sum("n_union"), 6
        ).alias("micro_avg_jaccard"),
    )


_VAD_PEAK = 512


@register(
    "multimodal_wav_vad",
    category="multimodal",
    oracle=f"""
WITH d AS (SELECT doc_id AS asset_id, 100 + doc_id % 50 AS n FROM documents),
s AS (SELECT asset_id, n, unnest(range(0, n)) AS j FROM d),
v AS (SELECT asset_id, j // 32 AS frame_idx,
             ((asset_id * 31 + j * 17) % 2048) - 1024 AS smp
      FROM s),
frames AS (
  SELECT asset_id, frame_idx, max(abs(smp)) AS peak_abs
  FROM v GROUP BY 1, 2),
act AS (
  SELECT asset_id, frame_idx,
         frame_idx - row_number() OVER (PARTITION BY asset_id
                                        ORDER BY frame_idx) AS island
  FROM frames WHERE peak_abs > {_VAD_PEAK}),
segs AS (
  SELECT asset_id, island, CAST(count(*) AS BIGINT) AS seg_len,
         CAST(min(frame_idx) AS BIGINT) AS seg_start
  FROM act GROUP BY 1, 2),
seg_agg AS (
  SELECT asset_id, CAST(count(*) AS BIGINT) AS n_segments,
         CAST(max(seg_len) AS BIGINT) AS longest_segment,
         CAST(min(seg_start) AS BIGINT) AS first_active_frame
  FROM segs GROUP BY 1),
fr_agg AS (
  SELECT asset_id, CAST(count(*) AS BIGINT) AS n_frames,
         CAST(sum(CASE WHEN peak_abs > {_VAD_PEAK} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_active
  FROM frames GROUP BY 1)
SELECT f.asset_id, f.n_frames, f.n_active,
       coalesce(s.n_segments, 0) AS n_segments,
       coalesce(s.longest_segment, 0) AS longest_segment,
       s.first_active_frame
FROM fr_agg f LEFT JOIN seg_agg s ON s.asset_id = f.asset_id
""",
)
def multimodal_wav_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation through the REAL WAV decoder: frames
    whose exact integer peak exceeds the gate collapse into contiguous
    speech segments by the gaps-and-islands trick (frame_idx minus active
    row_number is constant within a run), yielding per-asset segment
    counts, the longest run, and speech onset — the audio-curation
    primitive that screens silence and clipped noise before expensive ASR.

    Every decision compares exact integers (peaks from the genuine PCM16
    decode; no rounded energy enters the gate), so segmentation is
    bit-stable. Scale shape: frames stay inside the per-asset Arrow batch;
    the island window partitions by asset (state bounded by frames per
    asset); aggregates are map-side combinable."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    frames = M.wav_frame_features(M.synthesize_wav_assets(docs), frame_len=32)
    act = (
        frames.filter(F.col("peak_abs") > _VAD_PEAK)
        .select(
            "asset_id",
            "frame_idx",
            (
                F.col("frame_idx")
                - F.row_number().over(
                    Window.partitionBy("asset_id").orderBy("frame_idx")
                )
            ).alias("island"),
        )
    )
    segs = act.groupBy("asset_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("seg_len"),
        F.min("frame_idx").cast("bigint").alias("seg_start"),
    )
    seg_agg = segs.groupBy("asset_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.max("seg_len").cast("bigint").alias("longest_segment"),
        F.min("seg_start").cast("bigint").alias("first_active_frame"),
    )
    fr_agg = frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum(F.when(F.col("peak_abs") > _VAD_PEAK, 1).otherwise(0))
        .cast("bigint")
        .alias("n_active"),
    )
    return fr_agg.join(seg_agg, "asset_id", "left").select(
        "asset_id",
        "n_frames",
        "n_active",
        F.coalesce(F.col("n_segments"), F.lit(0)).cast("bigint").alias("n_segments"),
        F.coalesce(F.col("longest_segment"), F.lit(0)).cast("bigint").alias("longest_segment"),
        "first_active_frame",
    )


@register(
    "similarity_mips_topk",
    category="similarity",
    plan_shape="all_pairs",
    plan_reason="broadcast 3-query probe set × corpus scan is the exact-MIPS baseline",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 3),
     c AS (SELECT vec_id AS match_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, match_id, round(list_dot_product(qv, cv), 6) AS dot
  FROM q CROSS JOIN c WHERE match_id <> query_id)
SELECT query_id, match_id, dot, rn AS "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, match_id) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def similarity_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product top-5 for 3 query vectors
    (operators/similarity.mips_topk) — the unnormalized-score retrieval
    metric of dot-product-trained towers, certified against the brute-
    force oracle with the rounded-score + id-tiebreak total order."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.mips_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)


_RRF_TERMS = ("spark", "join", "window")
_RRF_K = 60


@register(
    "similarity_rrf_fusion",
    category="similarity",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents),
q AS (SELECT unnest({list(_RRF_TERMS)!r}) AS token),
hits AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_hits,
         CAST(count(DISTINCT t.token) AS BIGINT) AS n_terms
  FROM toks t JOIN q ON q.token = t.token GROUP BY 1),
cand AS (
  SELECT h.doc_id, h.n_hits, h.n_terms, d.n_chars
  FROM hits h JOIN documents d USING (doc_id)),
ra AS (SELECT doc_id, row_number() OVER (ORDER BY n_hits DESC, doc_id) AS r
       FROM cand),
rb AS (SELECT doc_id,
              row_number() OVER (ORDER BY n_terms DESC, n_chars, doc_id) AS r
       FROM cand),
fused AS (
  SELECT c.doc_id,
         CAST(ra.r AS BIGINT) AS rank_hits,
         CAST(rb.r AS BIGINT) AS rank_coverage,
         CAST(round(1000000000.0 / ({_RRF_K} + ra.r), 0) AS BIGINT)
       + CAST(round(1000000000.0 / ({_RRF_K} + rb.r), 0) AS BIGINT) AS rrf_micro
  FROM cand c JOIN ra ON ra.doc_id = c.doc_id JOIN rb ON rb.doc_id = c.doc_id)
SELECT doc_id, rank_hits, rank_coverage, rrf_micro
FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 15
""",
)
def similarity_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two keyword retrieval rankings — the
    standard hybrid-search combiner (BM25 leg + vector leg in production;
    here two deterministic keyword legs: total term hits vs distinct-term
    coverage with a shorter-doc tiebreak). Each ranker's contribution is
    round(1e9/(60+rank)) exact micro-units (one IEEE division each,
    identically rounded on both engines), so the fused score is an exact
    BIGINT sum — no float aggregation order anywhere.

    Scale shape: the candidate set is the union of posting lists for the
    query terms (one token-keyed join against a 3-row broadcast term
    list), never the corpus; both global ranks use the two-phase bucketed
    row_number (operators/ranking.global_row_number — partitioned windows
    only, O(buckets) driver state); the fused top-15 is
    TakeOrderedAndProject."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("token"),
    )
    q = small_df(spark, [(t,) for t in _RRF_TERMS], "token string")
    hits = (
        toks.join(F.broadcast(q), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.countDistinct("token").cast("bigint").alias("n_terms"),
        )
    )
    cand = hits.join(docs.select("doc_id", "n_chars"), "doc_id").localCheckpoint(
        eager=True
    )
    ra = global_row_number(
        cand.select("doc_id", (-F.col("n_hits")).alias("neg_hits")),
        "neg_hits",
        ["doc_id"],
        out_col="r",
    ).select("doc_id", F.col("r").cast("bigint").alias("rank_hits"))
    rb = global_row_number(
        cand.select(
            "doc_id", (-F.col("n_terms")).alias("neg_terms"), "n_chars"
        ),
        "neg_terms",
        ["n_chars", "doc_id"],
        out_col="r",
    ).select("doc_id", F.col("r").cast("bigint").alias("rank_coverage"))
    contrib = lambda r: F.round(F.lit(1000000000.0) / (F.lit(_RRF_K) + r), 0).cast(
        "bigint"
    )
    fused = (
        cand.select("doc_id")
        .join(ra, "doc_id")
        .join(rb, "doc_id")
        .select(
            "doc_id",
            "rank_hits",
            "rank_coverage",
            (contrib(F.col("rank_hits")) + contrib(F.col("rank_coverage"))).alias(
                "rrf_micro"
            ),
        )
    )
    return fused.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(15)


@register(
    "multimodal_bmp_patches",
    category="multimodal",
    oracle="""
WITH d AS (
  SELECT doc_id AS asset_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents),
px AS (
  SELECT asset_id, w, h, unnest(range(0, w * h)) AS p FROM d),
g AS (
  SELECT asset_id, w, h, p, (p % w) AS x, (p // w) AS y,
         299 * ((asset_id + 13 * p) % 256)
         + 587 * ((2 * asset_id + 7 * p) % 256)
         + 114 * ((3 * asset_id + 11 * p) % 256) AS gv
  FROM px)
SELECT asset_id,
       CAST(y // 2 AS INT) AS py, CAST(x // 2 AS INT) AS px,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(gv) AS BIGINT) AS luma_sum
FROM g
WHERE x < (w // 2) * 2 AND y < (h // 2) * 2
GROUP BY 1, 2, 3
""",
)
def multimodal_bmp_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch grid through the REAL BMP codec round-trip
    (operators/multimodal.bmp_patches): the deterministic RGB corpus is
    encoded to genuine BMP bytes, decoded, and tiled into non-overlapping
    2x2 patches (edge remainders cropped — the standard crop-to-multiple
    step), each patch certified by its grid coordinates, pixel count, and
    exact integer BT.601 luma sum against the oracle's direct pixel-
    formula re-derivation. This is the tokenization step of an image
    transformer pipeline with every reduction in exact integers.

    Scale shape: synth + patchify are two shuffle-free per-row Arrow
    passes; output fan-out is pixels/4 rows per asset."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.bmp_patches(M.synthesize_bmp_assets(docs), patch=2)


@register(
    "multimodal_gif_motion",
    category="multimodal",
    oracle="""
WITH d AS (
  SELECT doc_id AS asset_id, 5 + doc_id % 4 AS w, 4 + doc_id % 3 AS h,
         2 + doc_id % 3 AS nf
  FROM documents),
fr AS (
  SELECT asset_id, w, h, unnest(range(1, nf)) AS f FROM d),
px AS (
  SELECT asset_id, w, h, f, unnest(range(0, w * h)) AS p FROM fr),
delta AS (
  SELECT asset_id, f, w, h,
         (7 * asset_id + 13 * f + 3 * p) % 16 AS ca,
         (7 * asset_id + 13 * (f - 1) + 3 * p) % 16 AS cb
  FROM px),
luma AS (
  SELECT asset_id, f, w, h,
         CASE WHEN ca <> cb THEN 1 ELSE 0 END AS chg,
         abs((299 * ((17 * ca) % 256) + 587 * ((29 * ca) % 256)
              + 114 * ((43 * ca) % 256))
             - (299 * ((17 * cb) % 256) + 587 * ((29 * cb) % 256)
                + 114 * ((43 * cb) % 256))) AS dl
  FROM delta)
SELECT asset_id, CAST(f AS INT) AS frame_idx, CAST(max(w * h) AS INT) AS n_px,
       CAST(sum(chg) AS INT) AS changed_px,
       CAST(sum(dl) AS BIGINT) AS motion_sum
FROM luma GROUP BY 1, 2
""",
)
def multimodal_gif_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame-pair motion energy through the real animated-GIF codec
    round-trip (operators/multimodal.gif_motion_energy): the deterministic
    multi-frame corpus is LZW-encoded, decoded, and every consecutive
    frame pair reduced to changed-pixel count and exact |delta-luma| sum —
    the shot-boundary / duplicated-frame detector of a video curation
    pipeline, certified against the oracle's direct replay of the frame
    and palette arithmetic (note the luma swap vs the frame formula: the
    decoder's |Δ| is over PALETTE colors, so the oracle derives both
    frames' indices then the same per-mil BT.601 weighting — all
    integers, no rounding anywhere).

    Scale shape: synth + motion are two shuffle-free per-row Arrow
    passes; output is frames-1 rows per asset."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return M.gif_motion_energy(M.synthesize_gif_assets(docs))


@register(
    "dq_embedding_cosine_histogram",
    category="similarity",
    oracle="""
WITH pairs AS (
  SELECT a.vec_id AS i,
         ('0x' || substr(md5('pair:' || CAST(a.vec_id AS VARCHAR)), 1, 8))::BIGINT % 500
           AS j
  FROM embeddings a),
kept AS (SELECT i, j FROM pairs WHERE i <> j),
lv AS (
  SELECT e.vec_id, unnest(range(1, len(embedding) + 1)) AS d,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings e),
dots AS (
  SELECT k.i, k.j,
         sum(CAST(round(la.x * lb.x, 9) AS DECIMAL(28,9))) AS dot,
         sum(CAST(round(la.x * la.x, 9) AS DECIMAL(28,9))) AS na,
         sum(CAST(round(lb.x * lb.x, 9) AS DECIMAL(28,9))) AS nb
  FROM kept k
  JOIN lv la ON la.vec_id = k.i
  JOIN lv lb ON lb.vec_id = k.j AND lb.d = la.d
  GROUP BY 1, 2),
cos AS (
  SELECT i,
         round(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 2)
           AS c
  FROM dots)
SELECT CAST(round(c * 10, 0) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM cos GROUP BY 1
""",
)
def dq_embedding_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space geometry health check: the distribution of pairwise
    cosine similarities over a deterministic 1-pair-per-vector sample
    (partner index = md5(vec_id) mod N — reproducible, no RNG), bucketed
    at 0.1 width. A healthy random-ish space concentrates near 0; a
    collapsed space (anisotropy, dead encoder) shifts right — the drift
    signal retrieval teams watch between embedding model versions.

    Determinism: per-dimension products rounded to 9 dp and summed as
    exact DECIMAL (the linalg convention — order-free), one sqrt+divide
    (IEEE-identical), cosine rounded to 2 dp before the integer
    bucketing. Scale shape: the sample is 1 pair per vector (linear, not
    pairs²); the dot products are one (pair, dim)-keyed join-aggregate;
    the histogram is a constant ~21-row aggregate. N is a fixture
    constant (500) shared with the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = emb.select(
        F.col("vec_id").alias("i"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("pair:"), F.col("vec_id").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint") % 500
        ).alias("j"),
    ).filter(F.col("i") != F.col("j"))
    lv = emb.select(
        "vec_id", F.posexplode("embedding").alias("d0", "xf")
    ).select("vec_id", (F.col("d0") + 1).alias("d"), F.col("xf").cast("double").alias("x"))
    la = lv.select(F.col("vec_id").alias("i"), "d", F.col("x").alias("xa"))
    lb = lv.select(F.col("vec_id").alias("jb"), F.col("d").alias("db"), F.col("x").alias("xb"))
    dec = "decimal(28,9)"
    dots = (
        pairs.join(la, "i")
        .join(lb, (F.col("j") == F.col("jb")) & (F.col("d") == F.col("db")))
        .groupBy("i", "j")
        .agg(
            F.sum(F.round(F.col("xa") * F.col("xb"), 9).cast(dec)).alias("dot"),
            F.sum(F.round(F.col("xa") * F.col("xa"), 9).cast(dec)).alias("na"),
            F.sum(F.round(F.col("xb") * F.col("xb"), 9).cast(dec)).alias("nb"),
        )
    )
    c = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
        2,
    )
    return (
        dots.select(F.round(c * 10, 0).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
