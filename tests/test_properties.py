"""Property-based tests (hypothesis): invariants that must hold for any
input, not just the fixture corpus."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arc_cassandra_pipeline_plugin_spark.operators import timeseries as TS
from arc_cassandra_pipeline_plugin_spark.operators.dedup import exact_dedup
from arc_cassandra_pipeline_plugin_spark.operators.skew import salted_join
from arc_cassandra_pipeline_plugin_spark.testing import dataset_equality

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),   # key
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=1,
    max_size=25,
)


@_settings
@given(rows=rows_strategy)
def test_dataset_equality_is_order_insensitive(spark, rows):
    df = spark.createDataFrame([(i, k, v) for i, (k, v) in enumerate(rows)], "id int, k int, v int")
    assert dataset_equality(df, df.orderBy("v", "k", "id"))


@_settings
@given(left=rows_strategy, right=rows_strategy)
def test_salted_join_always_matches_plain_join(spark, left, right):
    l = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(left)], "lid int, k int, lv int"
    )
    r = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(right)], "rid int, rk int, rv int"
    )
    plain = l.join(r, l.k == r.rk).select("lid", "rid")
    salted = salted_join(l, r, "k", "rk", salt_buckets=3).select("lid", "rid")
    assert dataset_equality(plain, salted)


@_settings
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=12), min_size=1, max_size=12
    )
)
def test_exact_dedup_partitions_all_docs(spark, texts):
    """Every doc lands in exactly one group; multiplicities sum to the
    row count; keep_id is a member of its group."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    out = exact_dedup(df).collect()
    assert sum(r["n_copies"] for r in out) == len(texts)
    assert len({r["keep_id"] for r in out}) == len(out)


@_settings
@given(
    offsets=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=20),
    gap=st.integers(min_value=1, max_value=60),
)
def test_sessionize_invariants(spark, offsets, gap):
    """Session ids start at 1 per user, are non-decreasing in time order,
    and increase exactly at gaps > gap_minutes."""
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, 1, t0 + datetime.timedelta(minutes=sum(offsets[: i + 1])))
        for i in range(len(offsets))
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts timestamp")
    out = sorted(TS.sessionize(df, gap_minutes=gap).collect(), key=lambda r: r["ts"])
    assert out[0]["session_id"] == 1
    for prev, cur in zip(out, out[1:]):
        gap_min = (cur["ts"] - prev["ts"]).total_seconds() / 60
        expected_bump = 1 if gap_min > gap else 0
        assert cur["session_id"] - prev["session_id"] == expected_bump




@_settings
@given(
    offsets=st.lists(st.integers(min_value=0, max_value=2000), min_size=2, max_size=25),
    tol=st.integers(min_value=1, max_value=600),
)
def test_proximity_pairs_equals_bruteforce(spark, offsets, tol):
    """The binned proximity join returns EXACTLY the brute-force pair set
    for any timestamps and any tolerance — bucket boundaries, equal
    timestamps, and pairs far beyond one bucket width included."""
    t0 = datetime.datetime(2024, 1, 1)
    rows = [(i, t0 + datetime.timedelta(seconds=off)) for i, off in enumerate(offsets)]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
    got = {
        (r["a_id"], r["b_id"])
        for r in TS.proximity_pairs(df, tolerance_s=tol).collect()
    }
    want = set()
    for i, ta in rows:
        for j, tb in rows:
            later = (tb > ta) or (tb == ta and j > i)
            if later and (tb - ta).total_seconds() <= tol:
                want.add((i, j))
    assert got == want


# ---------------------------------------------------------------------------
# HOCON: JSON-superset property — any JSON document round-trips
# ---------------------------------------------------------------------------

_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=20),
)
_json_docs = st.dictionaries(
    st.text(max_size=10),
    st.recursive(
        _json_scalars,
        lambda children: st.one_of(
            st.lists(children, max_size=4),
            st.dictionaries(st.text(max_size=10), children, max_size=4),
        ),
        max_leaves=12,
    ),
    max_size=6,
)


@settings(max_examples=60, deadline=None)
@given(doc=_json_docs)
def test_hocon_parses_any_json(doc):
    """HOCON is a JSON superset: the subset reader must accept every JSON
    document verbatim (quoted keys never nest, escapes, nested containers,
    numeric forms)."""
    import json

    from arc_cassandra_pipeline_plugin_spark import hocon

    assert hocon.loads(json.dumps(doc)) == doc


@_settings
@given(
    scores=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=1,
        max_size=40,
    ),
    buckets=st.integers(min_value=2, max_value=6),
)
def test_global_row_number_property(spark, scores, buckets):
    """Two-phase bucketed rank == naive global window for arbitrary score
    distributions (ties, duplicates, constant runs) and bucket counts."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from arc_cassandra_pipeline_plugin_spark.operators import ranking as R

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(scores)], "id INT, score DOUBLE"
    )
    got = {
        (r["id"], r["global_rn"])
        for r in R.global_row_number(df, "score", ["id"], num_buckets=buckets).collect()
    }
    w = Window.orderBy("score", "id")
    want = {
        (r["id"], r["rn"])
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want


@_settings
@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=30), min_size=2, max_size=10
    )
)
def test_setsim_prefix_filter_is_complete(spark, texts):
    """The prefix-filtered set-similarity join must find EXACTLY the pairs
    the brute-force token join finds at the threshold — the prefix-filter
    guarantee (completeness) plus the verify step (precision), on
    arbitrary token multisets including empties and duplicates."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.operators.dedup import (
        setsim_join_prefix,
        word_token_sets,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    # default = adaptive (bitmask all-pairs on this tiny vocab); limit=0
    # forces the prefix-join path — BOTH must match brute force exactly
    fast = setsim_join_prefix(df, threshold_pct=60).select("doc_a", "doc_b")
    fast_prefix = setsim_join_prefix(
        df, threshold_pct=60, allpairs_rep_limit=0
    ).select("doc_a", "doc_b")

    tok = word_token_sets(df)
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("m"))
    a = tok.select(F.col("doc_id").alias("doc_a"), "token")
    b = tok.select(F.col("doc_id").alias("doc_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    brute = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "m": "ma"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "m": "mb"}), "doc_b")
        .filter(F.lit(100) * F.col("c") >= F.lit(60) * (F.col("ma") + F.col("mb") - F.col("c")))
        .select("doc_a", "doc_b")
    )
    assert dataset_equality(fast, brute)
    assert dataset_equality(fast_prefix, brute)


@_settings
@given(
    toks=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=30),
    budget=st.integers(min_value=1, max_value=25),
)
def test_pack_sequences_tiles_exactly(spark, toks, budget):
    """For ANY token-count vector and budget: per-doc spans tile
    [0, n_tokens) in chunk order, per-window slices tile [0, budget)
    contiguously (last window may end short), and total slice length
    equals total tokens."""
    from arc_cassandra_pipeline_plugin_spark.operators.packing import pack_sequences

    rows = [(i, n) for i, n in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = sorted(
        (r["doc_id"], r["chunk_id"], r["doc_from"], r["doc_to"],
         r["chunk_from"], r["n_slice"])
        for r in pack_sequences(df, budget=budget).collect()
    )
    total = sum(n for _, n in rows if n > 0)
    assert sum(ns for *_, ns in out) == total
    # per-doc tiling
    per_doc: dict[int, list] = {}
    for d, k, f, t, cf, ns in out:
        per_doc.setdefault(d, []).append((k, f, t))
    for d, n in rows:
        if n <= 0:
            assert d not in per_doc
            continue
        spans = sorted(per_doc[d])
        assert spans[0][1] == 0 and spans[-1][2] == n
        for (_, _, t1), (_, f2, _) in zip(spans, spans[1:]):
            assert t1 == f2
    # per-window tiling
    per_chunk: dict[int, list] = {}
    for d, k, f, t, cf, ns in out:
        per_chunk.setdefault(k, []).append((cf, ns))
    if per_chunk:
        last = max(per_chunk)
        for k, slices in per_chunk.items():
            slices.sort()
            pos = 0
            for cf, ns in slices:
                assert cf == pos
                pos += ns
            assert pos == budget or k == last


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=40,
)


def _py_kcore(edges, k, rounds):
    """Reference bounded-round k-core peel in plain Python."""
    und = {(a, b) for a, b in edges if a != b}
    und |= {(b, a) for a, b in und}
    keep = {}
    for _ in range(rounds):
        deg = {}
        for a, _b in und:
            deg[a] = deg.get(a, 0) + 1
        keep = {v: d for v, d in deg.items() if d >= k}
        und = {(a, b) for a, b in und if a in keep and b in keep}
    return keep


@given(edges=edges_strategy, k=st.integers(min_value=1, max_value=4))
@_settings
def test_kcore_matches_python_reference_and_is_monotone(spark, graph_paths, edges, k):
    """kcore_vertices == the plain-Python bounded peel for any graph, and
    the (k+1)-core is always a subset of the k-core (monotonicity), on
    both paths."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import kcore_vertices

    df = spark.createDataFrame(edges, "src int, dst int")
    want = set(_py_kcore(edges, k, rounds=2).items())
    for path in graph_paths():
        got = {
            (r["a"], r["degree"])
            for r in kcore_vertices(df, k=k, rounds=2).collect()
        }
        assert got == want, path
        higher = {v for v, _ in kcore_vertices(df, k=k + 1, rounds=2).collect()}
        assert higher <= {v for v, _ in got}, path


def _py_ktruss(edges, k, rounds):
    """Reference bounded-round k-truss peel in plain Python."""
    und = {(a, b) for a, b in edges if a != b}
    und |= {(b, a) for a, b in und}
    sup = {}
    for _ in range(rounds):
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
        sup = {
            (a, b): len(adj[a] & adj[b])
            for a, b in und
            if a < b and len(adj[a] & adj[b]) >= k - 2
        }
        und = set(sup) | {(b, a) for a, b in sup}
    return sup


@given(edges=edges_strategy, k=st.integers(min_value=3, max_value=5))
@_settings
def test_ktruss_matches_python_reference(spark, graph_paths, edges, k):
    from arc_cassandra_pipeline_plugin_spark.operators.graph import ktruss_edges

    df = spark.createDataFrame(edges, "src int, dst int")
    want = {(a, b, s) for (a, b), s in _py_ktruss(edges, k, rounds=2).items()}
    for path in graph_paths():
        got = {
            (r["a"], r["b"], r["support"])
            for r in ktruss_edges(df, k=k, rounds=2).collect()
        }
        assert got == want, path


@given(ids=st.lists(st.integers(min_value=0, max_value=400),
                    min_size=1, max_size=6, unique=True))
@_settings
def test_bmp_patches_tiling_invariants(spark, ids):
    """Patchify through the real BMP codec matches the direct pixel
    formula: full 2x2 coverage of the cropped grid, n_px always 4, and
    every patch's luma sum equals the synthetic-corpus formula."""
    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    docs = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    rows = M.bmp_patches(M.synthesize_bmp_assets(docs), patch=2).collect()
    by_asset = {}
    for r in rows:
        assert r["n_px"] == 4
        by_asset.setdefault(r["asset_id"], {})[(r["py"], r["px"])] = r["luma_sum"]
    for i in ids:
        w, h = 4 + i % 5, 3 + i % 4
        expect = {}
        for p in range(w * h):
            x, y = p % w, p // w
            if x >= (w // 2) * 2 or y >= (h // 2) * 2:
                continue
            gv = (
                299 * ((i + 13 * p) % 256)
                + 587 * ((2 * i + 7 * p) % 256)
                + 114 * ((3 * i + 11 * p) % 256)
            )
            key = (y // 2, x // 2)
            expect[key] = expect.get(key, 0) + gv
        assert by_asset.get(i, {}) == expect


def _py_ppr(edges, seeds, iters, damping=0.85):
    """Reference personalized PageRank with the operator's exact rounding
    discipline: 12-dp rounded contributions, exact sums, 12-dp iterate."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    outw = {}
    for a, _b in edges:
        outw[a] = outw.get(a, 0) + 1
    ns = len(seeds)
    rank = {v: round((1 if v in seeds else 0) / ns, 12) for v in nodes}
    for _ in range(iters):
        contrib = {}
        for a, b in edges:
            c = round(rank[a] * 1 / outw[a], 12)
            contrib[b] = round(contrib.get(b, 0.0) + c, 15)
        rank = {
            v: round(
                (1.0 - damping) * (1 if v in seeds else 0) / ns
                + damping * contrib.get(v, 0.0),
                12,
            )
            for v in nodes
        }
    return rank


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda t: t[0] != t[1]),
        min_size=2, max_size=20, unique=True,
    ),
)
@_settings
def test_personalized_pagerank_mass_and_seed_locality(spark, graph_paths, edges):
    """PPR invariants on arbitrary graphs: total rank mass never exceeds
    1 + epsilon (teleport + damped flow, dangling mass dropped), every
    rank is non-negative, and with NO path into a non-seed component the
    teleport keeps all mass on seeds (locality — the property that makes
    PPR a recommendation primitive). Both paths."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        personalized_pagerank,
    )

    df = spark.createDataFrame(
        [(a, b, 1) for a, b in edges], "src int, dst int, w int"
    )
    seeds = sorted({a for a, _ in edges})[:2]
    sdf = spark.createDataFrame([(s,) for s in seeds], "node int")
    want = _py_ppr(edges, set(seeds), iters=2)
    for path in graph_paths():
        got = {
            r["node"]: r["rank"]
            for r in personalized_pagerank(df, sdf, iters=2).collect()
        }
        assert all(v >= 0 for v in got.values()), path
        assert sum(got.values()) <= 1.0 + 1e-9, path
        for v, r in want.items():
            assert abs(got[v] - r) < 5e-12, (path, v, got[v], r)


def _py_rake(texts, stopwords, max_phrase):
    """Pure-Python RAKE reference: islands of non-stopword tokens, word
    score = round(degree*1e6/freq) micro-units, phrase score = exact sum."""
    import re

    phrases = []  # (tokens tuple) per occurrence, capped
    for text in texts:
        toks = re.findall(r"[a-z]+", text.lower())
        run = []
        for t in toks + [None]:
            if t is None or t in stopwords:
                if run:
                    if len(run) <= max_phrase:
                        phrases.append(tuple(run))
                    run = []
            else:
                run.append(t)
    freq, deg = {}, {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    score = {w: round(deg[w] * 1000000.0 / freq[w]) for w in freq}
    out = {}
    for p in phrases:
        key = " ".join(p)
        n, s = out.get(key, (0, 0))
        out[key] = (n + 1, sum(score[w] for w in p))
    return out


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["the", "a", "big", "fast", "spark", "join",
                             "row", "scan", "data", "key"]),
            min_size=1, max_size=30,
        ).map(" ".join),
        min_size=1, max_size=5,
    )
)
@_settings
def test_rake_matches_python_reference(spark, texts):
    """The RAKE phrase/score pipeline (islands → degree/freq micro-units →
    exact phrase sums) equals a plain-Python reference on arbitrary token
    streams — including stopword-only docs, runs over the length cap, and
    repeated phrases."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    stop = ("the", "a", "big", "small", "fast", "slow")
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    content = toks.filter(~F.col("token").isin(*stop)).select(
        "doc_id", "pos", "token",
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
        .filter(F.col("plen") <= 4)
    )
    members = content.join(
        phrases.select("doc_id", "island", "plen"), ["doc_id", "island"]
    )
    wscore = members.groupBy("token").agg(
        F.round(F.sum("plen") * 1000000.0 / F.count(F.lit(1)), 0)
        .cast("bigint")
        .alias("score_micro")
    )
    pscore = (
        members.join(wscore, "token")
        .groupBy("doc_id", "island")
        .agg(F.sum("score_micro").cast("bigint").alias("phrase_score"))
    )
    got = {
        r["phrase"]: (r["n"], r["s"])
        for r in phrases.join(pscore, ["doc_id", "island"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("phrase_score").cast("bigint").alias("s"),
        )
        .collect()
    }
    want = _py_rake(texts, set(stop), 4)
    assert got == want


@given(
    keys_a=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=30),
    keys_b=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=30),
)
@_settings
def test_count_sketch_cells_merge_additively(spark, keys_a, keys_b):
    """Count-Sketch's defining algebra: the sketch of A ⊎ B equals the
    cell-wise SUM of the sketches of A and B (so partitions/streams merge
    by addition), and sketch(A ⊎ B) minus sketch(B) recovers sketch(A)
    (deletions/retraction). Verified cell-for-cell on arbitrary key
    multisets."""
    from pyspark.sql import functions as F

    D, W = 3, 16

    def cells(keys):
        if not keys:
            return {}
        df = spark.createDataFrame([(k,) for k in keys], "k string")
        hv = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cs"), F.col("d").cast("string"),
                               F.lit(":"), F.col("k"))), 1, 8),
            16, 10,
        ).cast("bigint")
        rows = df.select(
            "k", F.explode(F.array(*[F.lit(d) for d in range(D)])).alias("d")
        ).withColumn("hv", hv)
        sign = F.when(F.expr(f"(hv div {W}) % 2") == 0, 1).otherwise(-1)
        out = rows.groupBy("d", (F.col("hv") % W).alias("cell")).agg(
            F.sum(sign).cast("bigint").alias("c")
        )
        return {(r["d"], r["cell"]): r["c"] for r in out.collect() if r["c"] != 0}

    ca, cb, cab = cells(keys_a), cells(keys_b), cells(keys_a + keys_b)
    merged = dict(ca)
    for k, v in cb.items():
        merged[k] = merged.get(k, 0) + v
    merged = {k: v for k, v in merged.items() if v != 0}
    assert cab == merged
    recovered = dict(cab)
    for k, v in cb.items():
        recovered[k] = recovered.get(k, 0) - v
    recovered = {k: v for k, v in recovered.items() if v != 0}
    assert recovered == ca


@_settings
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),  # score
            st.booleans(),                           # label
        ),
        min_size=2,
        max_size=40,
    ).filter(lambda rs: any(y for _, y in rs) and any(not y for _, y in rs))
)
def test_auc_rank_sum_matches_brute_force_pairs(spark, rows):
    """The grouped prefix-sum AUC (the ml_auc_rank_sum pipeline) must equal
    the O(n²) definition: mean over (pos, neg) pairs of
    [score_pos > score_neg] + 0.5·[==], for ANY score/label multiset."""
    from fractions import Fraction

    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        global_prefix_sum,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(s, 1 if y else 0) for s, y in rows], "score int, y int"
    )
    per = df.groupBy("score").agg(
        F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg")
    )
    ps = global_prefix_sum(per, "score", "neg", out_col="cumneg")
    row = ps.agg(
        F.sum(F.col("pos") * (2 * F.col("cumneg") + F.col("neg"))).alias("u2"),
        F.sum("pos").alias("p"),
        F.sum("neg").alias("n"),
    ).first()
    got = Fraction(int(row["u2"]), 2 * int(row["p"]) * int(row["n"]))

    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    num = sum(2 * (sp > sn) + (sp == sn) for sp in pos for sn in neg)
    want = Fraction(num, 2 * len(pos) * len(neg))
    assert got == want


@_settings
@given(
    left=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 1000)), min_size=1, max_size=60
    ),
    right=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 1000)), min_size=1, max_size=40
    ),
    buckets=st.integers(min_value=2, max_value=6),
    threshold=st.integers(min_value=1, max_value=50),
)
def test_blocked_pair_join_identity_any_distribution(
    spark, left, right, buckets, threshold
):
    """blocked_pair_join must return exactly the plain equi-join's pair
    multiset for ANY block distribution, salt bucket count, and hot
    threshold — salting can never add, drop, or duplicate a pair."""
    from arc_cassandra_pipeline_plugin_spark.operators.blocking import (
        blocked_pair_join,
    )

    l = spark.createDataFrame(
        [(i, b, v) for i, (b, v) in enumerate(left)], "lid int, bk int, lv int"
    )
    r = spark.createDataFrame(
        [(i, b, v) for i, (b, v) in enumerate(right)], "rid int, bk int, rv int"
    )
    plain = sorted(
        (row["lid"], row["rid"]) for row in l.join(r, ["bk"]).collect()
    )
    got = sorted(
        (row["lid"], row["rid"])
        for row in blocked_pair_join(
            l, r, ["bk"], left_salt_col="lid",
            salt_buckets=buckets, skew_threshold=threshold,
        ).collect()
    )
    assert got == plain


@_settings
@given(
    tfs=st.lists(
        st.tuples(st.integers(1, 6), st.integers(0, 500)),  # (tf, doc_id-ish)
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[1],
    )
)
def test_ndcg_pipeline_matches_python_reference(spark, tfs):
    """The NDCG@10 shape (graded rel, LUT discounts, (tf DESC, doc) rank,
    ideal (rel DESC, doc) rank) must equal a plain-Python NDCG on the same
    posting list — for ANY tf multiset, including ties everywhere."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from arc_cassandra_pipeline_plugin_spark.queries.evaluation import _DISC

    df = spark.createDataFrame(
        [("q", d, t) for t, d in tfs], "term string, doc_id long, tf long"
    )
    rel = F.when(F.col("tf") >= 3, 3).when(F.col("tf") == 2, 2).otherwise(1)
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col("doc_id").asc())
    wi = Window.partitionBy("term").orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    ranked = df.select("term", "doc_id", "tf", rel.alias("rel")).select(
        "term", "rel",
        F.row_number().over(w).alias("rn"),
        F.row_number().over(wi).alias("irn"),
    )
    disc = F.lit(0)
    idisc = F.lit(0)
    for i, d in enumerate(_DISC):
        disc = F.when(F.col("rn") == i + 1, d).otherwise(disc)
        idisc = F.when(F.col("irn") == i + 1, d).otherwise(idisc)
    row = ranked.agg(
        F.sum(F.when(F.col("rn") <= 10, F.col("rel") * disc).otherwise(0)).alias("dcg"),
        F.sum(F.when(F.col("irn") <= 10, F.col("rel") * idisc).otherwise(0)).alias(
            "idcg"
        ),
    ).first()

    # plain-Python reference
    rels_by_rank = [
        (3 if t >= 3 else 2 if t == 2 else 1)
        for t, d in sorted(tfs, key=lambda x: (-x[0], x[1]))
    ][:10]
    ideal = sorted(
        ((3 if t >= 3 else 2 if t == 2 else 1) for t, d in tfs), reverse=True
    )[:10]
    want_dcg = sum(r * _DISC[i] for i, r in enumerate(rels_by_rank))
    want_idcg = sum(r * _DISC[i] for i, r in enumerate(ideal))
    assert (row["dcg"], row["idcg"]) == (want_dcg, want_idcg)


# ---------------------------------------------------------------------------
# Fellegi-Sunter EM (round 7): cross-engine bit-equality + EM invariants
# ---------------------------------------------------------------------------

@_settings
@given(
    n00=st.integers(min_value=0, max_value=10**9),
    n01=st.integers(min_value=0, max_value=10**9),
    n10=st.integers(min_value=0, max_value=10**9),
    n11=st.integers(min_value=0, max_value=10**9),
)
def test_fs_em_duckdb_bit_identical_to_python(n00, n01, n10, n11):
    """The generated DuckDB EM unroll and the Python replica execute the
    same IEEE-double op sequence, so converged params must be BIT-equal on
    any pattern histogram — the exact cross-engine risk the certified
    query rides on (no tolerance: == on raw doubles)."""
    import duckdb

    from arc_cassandra_pipeline_plugin_spark.queries.curation import (
        _FS_EM_ITERS,
        _fs_em_oracle_iters,
        fs_em_python,
    )

    want = fs_em_python(n00, n01, n10, n11)
    sql = (
        "WITH cnts AS (SELECT "
        f"CAST({n00} AS DOUBLE) + 0.5 AS n00, CAST({n01} AS DOUBLE) + 0.5 AS n01, "
        f"CAST({n10} AS DOUBLE) + 0.5 AS n10, CAST({n11} AS DOUBLE) + 0.5 AS n11),\n"
        + _fs_em_oracle_iters()
        + f"\nSELECT lam, mp, up, mc, uc FROM it{_FS_EM_ITERS}"
    )
    lam, mp, up, mc, uc = duckdb.sql(sql).fetchone()
    assert (lam, mp, up, mc, uc) == (
        want["lambda"], want["m_penny"], want["u_penny"],
        want["m_cong"], want["u_cong"],
    )


@_settings
@given(
    n00=st.integers(min_value=0, max_value=10**6),
    n01=st.integers(min_value=0, max_value=10**6),
    n10=st.integers(min_value=0, max_value=10**6),
    n11=st.integers(min_value=0, max_value=10**6),
)
def test_fs_em_monotone_likelihood_and_bounded(n00, n01, n10, n11):
    """MAP-EM's defining invariant: the PENALIZED observed-data
    log-likelihood (loglik + Beta(1.5,1.5) log-prior per parameter — the
    objective whose M-step is (count+0.5)/(total+1)) is non-decreasing
    across iterations (tolerance 1e-9 for float wobble at the converged
    fixed point), and every iterate is pinned strictly inside (0,1) by
    the MAP denominators — including the adversarial single-cell
    histograms (e.g. (0,1,242,0)) that drove the pre-r8
    count-smoothing-only form to a saturated u_penny == 1.0."""
    import math

    from arc_cassandra_pipeline_plugin_spark.queries.curation import fs_em_python

    ns = [n00 + 0.5, n01 + 0.5, n10 + 0.5, n11 + 0.5]

    def penalized_loglik(lam, mp, up, mc, uc):
        ll = 0.0
        for n, (i, j) in zip(ns, [(0, 0), (0, 1), (1, 0), (1, 1)]):
            pm = lam * (mp if i else 1 - mp) * (mc if j else 1 - mc)
            pu = (1 - lam) * (up if i else 1 - up) * (uc if j else 1 - uc)
            ll += n * math.log(pm + pu)
        for v in (lam, mp, up, mc, uc):  # Beta(1.5,1.5) log-prior
            ll += 0.5 * (math.log(v) + math.log(1.0 - v))
        return ll

    prev = None
    for it in range(1, 31):
        est = fs_em_python(n00, n01, n10, n11, iters=it)
        vals = list(est.values())
        assert all(0.0 < v < 1.0 for v in vals), (it, est)
        ll = penalized_loglik(*vals)
        if prev is not None:
            assert ll >= prev - 1e-9 * abs(prev), (it, prev, ll)
        prev = ll


def test_fs_em_adversarial_histograms_stay_interior():
    """Pinned regressions for the float-saturation class: single-cell and
    near-single-cell histograms run 60 iterations (double the production
    schedule) and every parameter stays strictly inside (0,1)."""
    from arc_cassandra_pipeline_plugin_spark.queries.curation import fs_em_python

    for hist in [
        (0, 1, 242, 0),          # the hypothesis-found example
        (0, 0, 10**9, 0),
        (10**9, 0, 0, 0),
        (0, 0, 0, 10**9),
        (0, 0, 0, 0),
        (1, 0, 10**6, 0),
    ]:
        est = fs_em_python(*hist, iters=60)
        assert all(0.0 < v < 1.0 for v in est.values()), (hist, est)


@_settings
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=2,
        max_size=60,
    ),
    buckets=st.sampled_from([2, 3, 4, 8]),
)
def test_count_inversions_matches_brute_force(spark, pairs, buckets):
    """Grid-decomposed inversion count == O(n^2) brute force on any data
    and any bucket granularity (coarse term + bucket kernels + band
    kernels must tile the pair space exactly once)."""
    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        count_inversions,
    )

    # permutation ranks computed in plain Python (ties broken by id — the
    # repo's total-order contract); the unit under test is the grid
    # decomposition, global_row_number has its own tests
    ids = list(range(len(pairs)))
    rx_order = sorted(ids, key=lambda i: (pairs[i][0], i))
    ry_order = sorted(ids, key=lambda i: (pairs[i][1], i))
    rx = {i: r + 1 for r, i in enumerate(rx_order)}
    ry = {i: r + 1 for r, i in enumerate(ry_order)}
    df = spark.createDataFrame(
        [(i, rx[i], ry[i]) for i in ids], "id int, rx long, ry long"
    ).repartition(4)
    got = count_inversions(df, "rx", "ry", num_buckets=buckets)

    want = sum(
        1
        for a in ids
        for b in ids
        if rx[a] < rx[b] and ry[a] > ry[b]
    )
    assert got == want, (got, want, buckets)


@_settings
@given(
    bins=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=1000),   # n
            st.integers(min_value=0, max_value=1000),   # sum_y <= n enforced below
        ),
        min_size=1,
        max_size=12,
    )
)
def test_pava_matches_minimax_characterization(bins):
    """Integer PAVA == the minimax formula max_{j<=i} min_{k>=i} avg(j..k)
    evaluated in exact fractions — the identity the DuckDB oracle of
    ml_isotonic_calibration relies on, plus monotonicity of the output."""
    from fractions import Fraction

    from arc_cassandra_pipeline_plugin_spark.queries.evaluation import (
        pava_isotonic_micro,
    )

    data = [(i + 1, n, min(sy, n)) for i, (n, sy) in enumerate(bins)]
    got = pava_isotonic_micro(data)

    ns = [n for _, n, _ in data]
    sys_ = [sy for _, _, sy in data]
    B = len(data)
    want = {}
    for i in range(B):
        best = None
        for j in range(i + 1):
            worst = None
            for k in range(i, B):
                avg = Fraction(sum(sys_[j:k + 1]), sum(ns[j:k + 1]))
                worst = avg if worst is None or avg < worst else worst
            best = worst if best is None or worst > best else best
        want[i + 1] = (best.numerator * 1000000) // best.denominator
    assert got == want
    fit = [got[b] for b, _, _ in data]
    assert fit == sorted(fit), "isotonic output must be non-decreasing"


@_settings
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # src
            st.integers(min_value=0, max_value=6),   # dst
            st.integers(min_value=0, max_value=5),   # time
        ),
        min_size=1,
        max_size=20,
    ),
    t0=st.integers(min_value=0, max_value=3),
    rounds=st.integers(min_value=1, max_value=4),
)
def test_temporal_earliest_arrival_matches_bruteforce(spark, graph_paths, edges, t0, rounds):
    """Earliest time-respecting arrival == brute-force dynamic program on
    any random temporal graph, seed time, and round budget (within the
    same number of synchronous relaxations), on both paths."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        temporal_earliest_arrival,
    )

    edges = [(s, d, t) for s, d, t in edges if s != d]
    if not edges:
        return
    e = spark.createDataFrame(edges, "src int, dst int, et long")
    seeds = spark.createDataFrame([(0, t0)], "node int, t0 long")
    want = {0: t0}
    for _ in range(rounds):
        nxt = dict(want)
        for s, d, t in edges:
            if s in want and t >= want[s]:
                if d not in nxt or t < nxt[d]:
                    nxt[d] = t
        want = nxt
    for path in graph_paths():
        got = {
            r["node"]: r["at"]
            for r in temporal_earliest_arrival(e, seeds, rounds=rounds).collect()
        }
        assert got == want, (path, got, want)


@_settings
@given(
    keys=st.lists(st.integers(min_value=-5, max_value=5), min_size=1, max_size=40)
)
def test_global_rank_ties_matches_sql_windows(spark, keys):
    """global_rank_ties == naive rank()/dense_rank()/cume_dist windows on
    arbitrary tie structures (cume_dist compared in the same truncated
    micro-units)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        global_rank_ties,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: (r["rank"], r["dense_rank"], r["cume_micro"], r["n_rows"])
        for r in global_rank_ties(df, "k", num_buckets=3).collect()
    }
    w = Window.orderBy("k")
    naive = df.select(
        "k",
        F.rank().over(w).alias("r"),
        F.dense_rank().over(w).alias("dr"),
        F.cume_dist().over(w).alias("cd"),
    ).collect()
    n = len(keys)
    want = {}
    for row in naive:
        cnt = keys.count(row["k"])
        want[row["k"]] = (
            row["r"], row["dr"],
            # cume_dist == rows<=k / n; reproduce the truncated micro form
            ((row["r"] - 1 + cnt) * 1000000) // n,
            cnt,
        )
    assert got == want, (got, want)


@_settings
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # src
            st.integers(min_value=0, max_value=6),   # dst
            st.integers(min_value=0, max_value=5),   # time
        ),
        min_size=1,
        max_size=20,
    ),
    t0=st.integers(min_value=0, max_value=3),
    split=st.integers(min_value=0, max_value=5),
)
def test_temporal_incremental_equals_full_fixpoint(spark, graph_paths, edges, t0, split):
    """Incremental maintenance contract (graph_temporal_reachability_
    incremental): base fixpoint (et <= split) then relaxing ONLY delta
    edges (et > split) equals the full-recompute fixpoint — on any random
    temporal graph, seed time, and split year. Both run to fixpoint
    (rounds = node count bounds the hop diameter: optimal earliest-arrival
    paths are simple). Both paths."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        temporal_earliest_arrival,
    )

    edges = [(s, d, t) for s, d, t in edges if s != d]
    if not edges:
        return
    rounds = 7  # max 7 distinct nodes -> simple paths have <= 6 edges
    e = spark.createDataFrame(edges, "src int, dst int, et long")
    seeds = spark.createDataFrame([(0, t0)], "node int, t0 long")
    base = e.filter(F.col("et") <= split)
    delta = e.filter(F.col("et") > split)
    for path in graph_paths():
        full = {
            r["node"]: r["at"]
            for r in temporal_earliest_arrival(e, seeds, rounds=rounds).collect()
        }
        arr_base = temporal_earliest_arrival(base, seeds, rounds=rounds) if base.count() else seeds.select("node", F.col("t0").alias("at"))
        inc = {
            r["node"]: r["at"]
            for r in (
                temporal_earliest_arrival(
                    delta, arr_base.select("node", F.col("at").alias("t0")), rounds=rounds
                ) if delta.count() else arr_base
            ).collect()
        }
        assert inc == full, (path, inc, full, split)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),        # key
            st.integers(min_value=-10_000, max_value=10_000),  # cents
        ),
        min_size=1,
        max_size=40,
    ),
    n_files=st.integers(min_value=1, max_value=5),
)
@_settings
def test_stream_accumulate_equals_batch_for_any_split(spark, tmp_path_factory, rows, n_files):
    """Property: run_stream_accumulate over ANY file split of ANY keyed
    decimal table equals the batch groupBy sum exactly — sum-merge
    associativity as a hypothesis invariant, not just the one fixture."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.streaming import run_stream_accumulate

    src = str(tmp_path_factory.mktemp("accum_prop"))
    df = spark.createDataFrame(
        [(k, Decimal(c) / 100) for k, c in rows], "k INT, v DECIMAL(18,2)"
    )
    df.repartition(n_files).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got = {
        (r["k"], r["v"])
        for r in run_stream_accumulate(
            stream, key_cols=("k",), sum_cols=("v",)
        ).collect()
    }
    want = {
        (r["k"], r["v"])
        for r in df.groupBy("k")
        .agg(F.sum("v").cast("decimal(38,2)").alias("v"))
        .collect()
    }
    assert got == want
