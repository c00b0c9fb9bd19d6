"""Extension-operator unit tests on small constructed frames (edge cases
the fixture corpus doesn't exercise)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from arc_cassandra_pipeline_plugin_spark import functions as FN
from arc_cassandra_pipeline_plugin_spark.operators import dedup as D
from arc_cassandra_pipeline_plugin_spark.operators import similarity as S
from arc_cassandra_pipeline_plugin_spark.operators import text as TX
from arc_cassandra_pipeline_plugin_spark.operators import timeseries as TS
from conftest import distributed, no_replay, spark_jobs, spy


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_groups_whitespace_case_variants(spark):
    df = _docs(
        spark,
        [
            (1, "Hello  World"),
            (2, "hello world"),          # same after normalization
            (3, "  HELLO   WORLD  "),    # same after normalization
            (4, "something else"),
        ],
    )
    out = D.exact_dedup(df).collect()
    by_keep = {r["keep_id"]: r["n_copies"] for r in out}
    assert by_keep == {1: 3, 4: 1}


def test_minhash_identical_docs_identical_signatures(spark):
    df = _docs(spark, [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "xyz")])
    sig = D.minhash_signature(df, num_perm=8).collect()
    rows = {r["doc_id"]: tuple(r[f"mh_{p}"] for p in range(8)) for r in sig}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_lsh_pairs_catch_identical_docs(spark):
    df = _docs(
        spark,
        [(1, "a long enough duplicated document body"),
         (2, "a long enough duplicated document body"),
         (3, "completely different content here entirely")],
    )
    sigs = D.minhash_signature(df, num_perm=16)
    pairs = {(r["doc_a"], r["doc_b"]) for r in D.lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_identical_is_one(spark):
    df = _docs(spark, [(1, "abcdefgh"), (2, "abcdefgh"), (3, "zzzzzzzz")])
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(df).collect()}
    assert out[(1, 2)] == 1.0
    assert (1, 3) not in out  # no shared shingles


def test_simhash_close_for_similar_docs(spark):
    df = _docs(
        spark,
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta zeta"),
         (3, "one two three four five")],
    )
    codes = {r["doc_id"]: r["simhash"] for r in D.simhash64(df).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(codes[1], codes[2]) < hamming(codes[1], codes[3])


def test_brute_force_topk_ranks_by_cosine(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # farthest from 0
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = S.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = [r["match_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]
    assert all(r["query_id"] == 0 for r in out)


def test_lsh_topk_recovers_exact_neighbor(spark):
    import math
    rows = [(i, [math.cos(i / 7.0), math.sin(i / 7.0), 0.1 * (i % 3)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    exact = S.brute_force_topk(df, df.filter(F.col("vec_id") == 5), k=1).collect()
    approx = S.lsh_topk(df, df.filter(F.col("vec_id") == 5), k=1, dim=3, n_planes=4).collect()
    assert approx and approx[0]["match_id"] == exact[0]["match_id"]


def test_asof_join_backward_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 12, 0)), (1, datetime.datetime(2024, 1, 1, 9, 0)),
         (2, datetime.datetime(2024, 1, 1, 12, 0))],
        "k bigint, lts timestamp",
    )
    right = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 10, 0), "a"),
         (1, datetime.datetime(2024, 1, 1, 12, 0), "b"),   # ties with left ts → included
         (1, datetime.datetime(2024, 1, 1, 13, 0), "c")],
        "k bigint, rts timestamp, tag string",
    )
    out = TS.asof_join(left, right, on="k", left_ts="lts", right_ts="rts")
    got = {(r["k"], r["lts"].hour): r["tag"] for r in out.collect()}
    assert got[(1, 12)] == "b"      # at-or-before includes equal ts
    assert got[(1, 9)] is None      # nothing at or before 9:00
    assert got[(2, 12)] is None     # no right rows for key 2

    fwd = TS.asof_join(left, right, on="k", left_ts="lts", right_ts="rts", direction="forward")
    got_f = {(r["k"], r["lts"].hour): r["tag"] for r in fwd.collect()}
    assert got_f[(1, 9)] == "a"     # earliest at-or-after 9:00
    assert got_f[(1, 12)] == "b"    # equal ts included forward too


def test_sessionize_gap_boundaries(spark):
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 10, t0),
        (2, 10, t0 + datetime.timedelta(minutes=29)),  # same session (< 30m)
        (3, 10, t0 + datetime.timedelta(minutes=70)),  # new session (41m gap)
        (4, 20, t0),                                    # separate user
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts timestamp")
    out = {r["event_id"]: r["session_id"] for r in TS.sessionize(df, gap_minutes=30).collect()}
    assert out[1] == out[2] == 1
    assert out[3] == 2
    assert out[4] == 1


def test_text_token_stats_empty_and_blank(spark):
    df = _docs(spark, [(1, ""), (2, "   "), (3, "one two  three")])
    out = {r["doc_id"]: r for r in TX.with_token_stats(df).collect()}
    assert out[1]["n_tokens"] == 0 and out[2]["n_tokens"] == 0
    assert out[3]["n_tokens"] == 3
    assert out[1]["avg_token_len"] == 0.0


def test_lang_id_marker_words(spark):
    df = _docs(
        spark,
        [(1, "the cat and the dog of the house"),
         (2, "der hund und die katze und der vogel"),
         (3, "qqq www eee")],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in TX.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_fingerprint_normalization_invariant(spark):
    df = _docs(spark, [(1, "Hello   World"), (2, "  hello world ")])
    out = [r["fingerprint"] for r in TX.fingerprint(df).collect()]
    assert out[0] == out[1]
    assert len(out[0]) == 16


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF with n_probe=3/16 cells recovers most exact neighbors; with
    n_probe=16 (scan everything) it must match brute force exactly."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["match_id"])
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    full_probe = {
        (r["query_id"], r["match_id"])
        for r in S.ivf_topk(emb, queries, k=5, n_clusters=8, n_probe=8).collect()
    }
    assert full_probe == exact  # probing all cells == exact search
    partial = {
        (r["query_id"], r["match_id"])
        for r in S.ivf_topk(emb, queries, k=5, n_clusters=8, n_probe=3).collect()
    }
    recall = len(partial & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_extract_features_null_payload_counts_as_empty(spark):
    import hashlib

    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    assets = spark.createDataFrame(
        [(1, "x", None), (2, "x", bytearray(b"ab"))],
        "asset_id bigint, media_type string, payload binary",
    )
    rows = {r["asset_id"]: r for r in M.extract_features(assets).collect()}
    assert (rows[1]["n_bytes"], rows[1]["checksum"], rows[1]["feature"]) == (
        0, hashlib.sha256(b"").hexdigest(), [0.0] * 8
    )
    assert (rows[2]["n_bytes"], rows[2]["checksum"]) == (2, hashlib.sha256(b"ab").hexdigest())
    assert rows[2]["feature"] == M._fake_feature(b"ab")


def test_multimodal_frame_sampling(spark):
    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    docs = _docs(spark, [(1, "x" * 300), (2, "y" * 50)])
    assets = M.documents_as_assets(docs).withColumn(
        "duration_ms", F.lit(3500)
    )
    frames = M.sample_frames(assets, every_ms=1000, frame_bytes=16)
    rows = frames.collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    assert len(by_asset[1]) == 3 and len(by_asset[2]) == 3  # 3500ms // 1000
    assert all(len(r["frame_payload"]) <= 16 for r in rows)
    assert sorted(r["frame_offset_ms"] for r in by_asset[1]) == [0, 1000, 2000]


def test_null_profile_handles_empty_table(spark):
    from arc_cassandra_pipeline_plugin_spark.operators.quality import null_profile

    empty = spark.createDataFrame([], "a int, b string")
    rows = {r["column_name"]: r for r in null_profile(empty).collect()}
    assert rows["a"]["n_rows"] == 0 and rows["a"]["null_fraction"] is None


def test_asof_join_rejects_overlapping_columns(spark):
    import datetime
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), "x")], "k bigint, ts timestamp, v string"
    )
    import pytest as _pytest
    with _pytest.raises(ValueError, match="duplicate columns"):
        TS.asof_join(df, df, on="k", left_ts="ts", right_ts="ts")


def test_lsh_rejects_indivisible_band_layout(spark):
    import pytest as _pytest

    docs = _docs(spark, [(1, "hello world"), (2, "hello there")])
    sigs = D.minhash_signature(docs, num_perm=16, shingle_k=5)
    with _pytest.raises(ValueError, match="divisible"):
        D.lsh_candidate_pairs(sigs, num_perm=16, bands=5)


def test_lsh_salted_candidates_identical_to_unsalted(spark):
    """Degenerate-bucket salting must not change the candidate set: a mixed
    corpus (two duplicate cliques + unique docs) produces byte-identical
    pairs with salting forced on (low skew_threshold) and fully off."""
    rows = []
    for i in range(30):
        rows.append((i, "the first duplicated boilerplate body of text"))
    for i in range(30, 50):
        rows.append((i, "a second distinct duplicated boilerplate body"))
    for i in range(50, 70):
        rows.append((i, f"unique document number {i} with its own words {i * 7}"))
    df = _docs(spark, rows)
    sigs = D.minhash_signature(df, num_perm=16).localCheckpoint(eager=True)
    salted = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(
            sigs, salt_buckets=8, skew_threshold=5
        ).collect()
    }
    unsalted = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(sigs, salt_buckets=0).collect()
    }
    assert salted == unsalted
    for a in range(30):
        for b in range(a + 1, 30):
            assert (a, b) in salted


def test_lsh_degenerate_bucket_salts_and_completes(spark):
    """Adversarial near-clique: 2000 identical docs collapse into ONE
    (band, hash) bucket per band. The salted join must (a) actually engage
    (salt in the join keys of the physical plan), (b) emit exactly
    C(2000,2) oriented pairs, (c) finish within a sane wall-clock bound
    rather than serializing a quadratic single task."""
    import time

    n = 2000
    df = _docs(
        spark,
        [(i, "an adversarial corpus where every doc is the same text") for i in range(n)],
    )
    sigs = D.minhash_signature(df, num_perm=16).localCheckpoint(eager=True)
    pairs = D.lsh_candidate_pairs(sigs, salt_buckets=8, skew_threshold=100)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan, "hot-bucket salt never reached the join keys"
    t0 = time.time()
    got = pairs.count()
    elapsed = time.time() - t0
    assert got == n * (n - 1) // 2
    assert elapsed < 120, f"degenerate bucket took {elapsed:.1f}s"


def test_global_row_number_matches_single_partition_window(spark):
    """Two-phase bucketed rank ≡ the naive global window, including ties on
    the leading key (strict-boundary bucketing keeps equal keys together)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from arc_cassandra_pipeline_plugin_spark.operators import ranking as R

    rows = [(i, float(v)) for i, v in enumerate([5, 3, 3, 3, 9, 1, 7, 7, 2, 8, 0, 3])]
    df = spark.createDataFrame(rows, "id INT, score DOUBLE")
    got = {
        (r["id"], r["global_rn"])
        for r in R.global_row_number(df, "score", ["id"], num_buckets=4).collect()
    }
    w = Window.orderBy("score", "id")
    want = {
        (r["id"], r["rn"])
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want

    tiles = {
        (r["id"], r["t"])
        for r in R.global_ntile(df, "score", ["id"], n=5, out_col="t", num_buckets=3).collect()
    }
    want_t = {
        (r["id"], r["t"])
        for r in df.select("id", F.ntile(5).over(w).alias("t")).collect()
    }
    assert tiles == want_t


def test_global_row_number_constant_key(spark):
    """Constant leading key → one bucket; still exact via tiebreaks."""
    from arc_cassandra_pipeline_plugin_spark.operators import ranking as R

    df = spark.createDataFrame([(i, 1.0) for i in range(6)], "id INT, score DOUBLE")
    got = sorted(
        (r["id"], r["global_rn"])
        for r in R.global_row_number(df, "score", ["id"], num_buckets=4).collect()
    )
    assert got == [(i, i + 1) for i in range(6)]


def test_contamination_flags_probe_overlap(spark):
    from arc_cassandra_pipeline_plugin_spark.operators import text as TXT

    corpus = _docs(
        spark,
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "completely unrelated zzz qqq vvv www uuu"),
         (12, "quick brown fox appears here too somehow")],
    )
    probes = _docs(spark, [(1, "the quick brown fox is a benchmark sentence")])
    got = {r["doc_id"]: r["n_contaminated"] for r in
           TXT.contamination(corpus, probes, shingle_k=8).collect()}
    assert 10 in got and 12 in got and 11 not in got
    # ratio is bounded and positive for flagged docs
    rows = TXT.contamination(corpus, probes, shingle_k=8).collect()
    assert all(0 < r["contamination_ratio"] <= 1.0 for r in rows)


def test_tfidf_ranks_distinctive_terms_first(spark):
    from arc_cassandra_pipeline_plugin_spark.operators import text as TXT

    docs = _docs(
        spark,
        [(1, "alpha alpha alpha shared shared"),
         (2, "beta beta beta shared shared"),
         (3, "gamma gamma gamma shared shared")],
    )
    top = {r["doc_id"]: r["token"] for r in
           TXT.tfidf_top_terms(docs, top_n=1).collect()}
    # the doc-unique term always beats the corpus-wide one
    assert top == {1: "alpha", 2: "beta", 3: "gamma"}


def _cc_paths(monkeypatch):
    """Each connected-components path in turn: the driver-side replay, then
    the distributed rounds (forced by a negative edge cap — even an empty
    edge list is past it — with both replays raising)."""
    yield "driver"
    with distributed(monkeypatch, D, "_min_label_replay", "_star_replay"):
        yield "distributed"


def _cc_rows(df):
    return sorted(
        ((r["doc_id"], r["cluster_id"]) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )


def test_star_cc_matches_plain_propagation(spark, monkeypatch):
    """large-star/small-star ≡ min-label propagation on a mixed graph."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21), (5, 6)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    for path in _cc_paths(monkeypatch):
        star = {(r["doc_id"], r["cluster_id"])
                for r in D.connected_components_star(pairs).collect()}
        plain = {(r["doc_id"], r["cluster_id"])
                 for r in D.connected_components(pairs).collect()}
        assert star == plain, path
        assert star == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10),
                        (20, 20), (21, 20), (5, 5), (6, 5)}, path


def test_star_cc_long_diameter_converges_fast(spark, monkeypatch):
    """A 200-node path (diameter 200) — plain propagation needs ~200 rounds
    (would trip its max_iter=25 warning); the star algorithm reaches the
    fixed point in O(log n) rounds with no warning."""
    import warnings

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a BIGINT, doc_b BIGINT"
    )
    for path in _cc_paths(monkeypatch):
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)  # any warning = failure
            labels = D.connected_components_star(pairs, max_iter=30).collect()
        assert {r["cluster_id"] for r in labels} == {0}, path
        assert len(labels) == 201, path


def test_cc_null_ids_same_on_both_paths(spark, monkeypatch):
    """NULL ids in either column: plain CC never propagates through a NULL
    (equi-join semantics) and emits it as one (NULL, NULL) row; the star
    variant drops every pair holding a NULL. Both paths agree."""
    pairs = spark.createDataFrame(
        [(1, 2), (None, 2), (3, None), (None, None), (4, 5), (5, None)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    for path in _cc_paths(monkeypatch):
        assert _cc_rows(D.connected_components(pairs)) == [
            (1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (None, None)
        ], path
        assert _cc_rows(D.connected_components_star(pairs)) == [
            (1, 1), (2, 1), (4, 4), (5, 4)
        ], path


def test_cc_string_ids_self_loops_duplicates(spark, monkeypatch):
    """String ids (binary order, so "B" < "a"), self-loops, duplicate and
    reversed pairs: same labels on both paths. A self-loop-only node is
    emitted by plain CC and dropped by the star variant (which filters
    u = v edges)."""
    pairs = spark.createDataFrame(
        [("b", "a"), ("a", "b"), ("b", "a"), ("c", "b"), ("c", "c"),
         ("z", "z"), ("B", "c"), ("x", "y"), ("y", "x")],
        "doc_a STRING, doc_b STRING",
    )
    want = [("B", "B"), ("a", "B"), ("b", "B"), ("c", "B"), ("x", "x"), ("y", "x")]
    for path in _cc_paths(monkeypatch):
        plain = D.connected_components(pairs)
        assert plain.schema["doc_id"].dataType.simpleString() == "string", path
        assert _cc_rows(plain) == sorted(want + [("z", "z")]), path
        assert _cc_rows(D.connected_components_star(pairs)) == want, path


def test_cc_double_ids_take_the_distributed_path(spark, monkeypatch):
    """Float ids (NaN / -0.0 order differently in Python) never take the
    driver replay; under the default cap they still get correct labels."""

    def no_replay(*_):
        raise AssertionError("driver replay taken for float ids")

    monkeypatch.setattr(D, "_min_label_replay", no_replay)
    monkeypatch.setattr(D, "_star_replay", no_replay)
    pairs = spark.createDataFrame(
        [(1.5, 2.5), (2.5, 0.5), (7.0, 8.0)], "doc_a DOUBLE, doc_b DOUBLE"
    )
    want = [(0.5, 0.5), (1.5, 0.5), (2.5, 0.5), (7.0, 7.0), (8.0, 7.0)]
    assert _cc_rows(D.connected_components(pairs)) == want
    assert _cc_rows(D.connected_components_star(pairs)) == want


def test_cc_empty_pairs(spark, monkeypatch):
    pairs = spark.createDataFrame([], "doc_a INT, doc_b INT")
    for path in _cc_paths(monkeypatch):
        for op in (D.connected_components, D.connected_components_star):
            out = op(pairs)
            assert out.collect() == [], path
            assert [f.dataType.simpleString() for f in out.schema] == ["int", "int"], path


def test_cc_unconverged_run_same_on_both_paths(spark, monkeypatch):
    """A 200-node path under plain CC with max_iter=25 stops unconverged:
    both paths warn and return the same partial labels (node i carries
    max(0, i - 25) after 25 synchronous rounds). The star variant cut at
    2 rounds also warns and agrees round for round."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a BIGINT, doc_b BIGINT"
    )
    want = [(i, max(0, i - 25)) for i in range(201)]
    star = {}
    for path in _cc_paths(monkeypatch):
        with pytest.warns(RuntimeWarning, match="max_iter=25") as plain:
            out = D.connected_components(pairs, max_iter=25)
        assert _cc_rows(out) == want, path
        with pytest.warns(RuntimeWarning, match="fixed point in 2 rounds") as rec:
            star[path] = _cc_rows(D.connected_components_star(pairs, max_iter=2))
        # both paths name the operator's caller: one location, one warning
        # under the default once-per-location filter
        where = [w.filename for w in plain.list + rec.list if w.category is RuntimeWarning]
        assert where == [__file__] * 2, path
    assert star["driver"] == star["distributed"]
    assert len({c for _, c in star["driver"]}) > 1  # really unconverged


def test_star_replay_shared_helper():
    """The one driver star-CC replay (the operator's and events_grid_dbscan's)
    drops NULL pairs and self-loops, symmetrizes, and reports whether it
    reached the fixed point within ``max_iter``; the caller warns."""
    import warnings

    pairs = [(i + 1, i) for i in range(200)] + [(7, None), (None, 3), (500, 500)]
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert D._star_replay(pairs, 30) == ({i: 0 for i in range(201)}, True)
        label, converged = D._star_replay(pairs, 2)
    assert not converged
    assert len(set(label.values())) > 1  # really unconverged


def test_star_cc_bounded_graph_job_count(spark, monkeypatch):
    """Guard against the per-round job tax: one bounded
    connected_components_star call, result collected, stays within 4
    Spark jobs (edge checkpoint + its collect + the result collect), where
    the distributed rounds on the same 50-node path take more."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "doc_a BIGINT, doc_b BIGINT"
    )

    def jobs_for_one_call():
        rows, jobs = spark_jobs(spark, lambda: D.connected_components_star(pairs).collect())
        assert {r["cluster_id"] for r in rows} == {0} and len(rows) == 51
        return jobs

    counts = {path: jobs_for_one_call() for path in _cc_paths(monkeypatch)}
    assert counts["driver"] <= 4, counts
    assert counts["distributed"] > 4, counts


def test_pii_redaction_semantics(spark):
    from arc_cassandra_pipeline_plugin_spark.operators import text as TXT

    docs = _docs(
        spark,
        [(1, "mail me at alice.smith+x@example.co.uk or call +1 (555) 123-4567"),
         (2, "order 123456 shipped; ref 42"),
         (3, "nothing sensitive here")],
    )
    got = {r["doc_id"]: r for r in TXT.redact_pii(docs).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_phone"] == 1
    assert "<EMAIL>" in got[1]["text_redacted"] and "<PHONE>" in got[1]["text_redacted"]
    assert "example.co.uk" not in got[1]["text_redacted"]
    # 6-digit run: too short for the phone pattern (min 9 chars), caught by
    # the digits pattern; 2-digit run survives untouched
    assert got[2]["n_digits"] == 1 and "<NUM>" in got[2]["text_redacted"]
    assert "ref 42" in got[2]["text_redacted"]
    assert got[3]["text_redacted"] == "nothing sensitive here"


def test_chunk_documents_overlap_and_short_docs(spark):
    from arc_cassandra_pipeline_plugin_spark.operators import text as TXT

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    docs = _docs(spark, [(1, text), (2, "short doc")])
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in TXT.chunk_documents(docs, chunk_tokens=4, overlap=2).collect()
    }
    # stride 2: chunk i covers tokens [2i, 2i+4); 10 tokens → ceil(8/2)=4 chunks
    assert got[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert got[(1, 1)] == ("t2 t3 t4 t5", 4)  # 2-token overlap
    assert got[(1, 3)] == ("t6 t7 t8 t9", 4)
    assert (1, 4) not in got
    # short doc: single (partial) chunk
    assert got[(2, 0)] == ("short doc", 2)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="overlap"):
        TXT.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_zorder_key_interleaves_bits(spark):
    from arc_cassandra_pipeline_plugin_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (3, 0), (0, 3), (3, 3), (5, 2)], "x int, y int"
    )
    rows = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key(F.col("x"), F.col("y"), bits=4).alias("z")
        ).collect()
    }
    # x bits at even positions, y bits at odd: z(3,0)=0b0101, z(0,3)=0b1010
    assert rows[(0, 0)] == 0
    assert rows[(3, 0)] == 0b0101
    assert rows[(0, 3)] == 0b1010
    assert rows[(3, 3)] == 0b1111
    # 5=0b101 -> even slots 0b010001; 2=0b010 -> odd slots 0b001000
    assert rows[(5, 2)] == 0b010001 + 0b001000


def test_cluster_by_zorder_tightens_both_dims(spark):
    """Z-order clustering bounds BOTH dimensions per partition, unlike a
    single-column sort which only bounds its leading column."""
    from arc_cassandra_pipeline_plugin_spark.operators.layout import cluster_by_zorder

    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x int, y int")
    clustered = cluster_by_zorder(df, "x", "y", bits=6, num_partitions=16)
    spans = (
        clustered.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("dx"),
            (F.max("y") - F.min("y")).alias("dy"),
        )
        .collect()
    )
    assert len(spans) == 16
    # a 64x64 grid in 16 Z-partitions: each covers a ~16x16 quadrant-ish
    # region, so both spans stay well under the full 0..63 extent
    assert max(s.dx for s in spans) <= 32
    assert max(s.dy for s in spans) <= 32


def test_pagerank_uniform_on_symmetric_cycle(spark, graph_paths):
    """On a symmetric cycle every node has equal rank at every iteration,
    on both paths."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)], "src string, dst string, w long"
    )
    for path in graph_paths():
        ranks = {r.node: r.rank for r in pagerank(edges, iters=4).collect()}
        assert set(ranks) == {"a", "b", "c"}, path
        assert all(abs(v - 1.0 / 3.0) < 1e-9 for v in ranks.values()), path


def test_pagerank_sink_attracts_mass(spark, graph_paths):
    """A node every other node points at accumulates the highest rank, on
    both paths."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "hub", 2), ("b", "hub", 3), ("c", "hub", 1), ("hub", "a", 1)],
        "src string, dst string, w long",
    )
    for path in graph_paths():
        ranks = {r.node: r.rank for r in pagerank(edges, iters=3).collect()}
        assert ranks["hub"] == max(ranks.values()), path
        assert abs(sum(ranks.values())) > 0, path


def test_pagerank_driver_iterate_bit_equal_to_distributed(spark, monkeypatch):
    """The driver-side replay must be BIT-identical to the distributed
    rounds — same 12-dp grid, same decimal contribution sums — on an
    irregular weighted graph (non-uniform out-weights, a dangling sink,
    parallel-free multi-edges)."""
    from arc_cassandra_pipeline_plugin_spark.operators import graph as G

    edges = [
        (f"n{a}", f"n{(a * 3 + b) % 13}", (a * 5 + b * 7) % 9 + 1)
        for a in range(13)
        for b in range(4)
        if a != (a * 3 + b) % 13
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    with distributed(monkeypatch, G, "_pagerank_driver"):
        dist = {(r.node, r.rank) for r in G.pagerank(df, iters=3).collect()}
    ran = spy(monkeypatch, G, "_pagerank_driver")
    drv = {(r.node, r.rank) for r in G.pagerank(df, iters=3).collect()}
    assert drv == dist and len(drv) == 13
    assert ran == ["_pagerank_driver"]


def test_pagerank_driver_iterate_cap_falls_back_to_distributed(spark, monkeypatch):
    """Past the driver cap the bounded collect bails out and the
    distributed path runs — an oversized graph degrades to correct."""
    from arc_cassandra_pipeline_plugin_spark.operators import graph as G

    edges = [("a", "b", 1), ("b", "c", 2), ("c", "a", 3)]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    with distributed(monkeypatch, G, "_pagerank_driver"):
        want = {(r.node, r.rank) for r in G.pagerank(df, iters=2).collect()}
    monkeypatch.setattr(FN, "_DRIVER_EDGE_CAP", 2)
    monkeypatch.setattr(G, "_pagerank_driver", no_replay)
    got = {(r.node, r.rank) for r in G.pagerank(df, iters=2).collect()}
    assert got == want


def test_temporal_arrival_driver_iterate_bit_equal(spark, monkeypatch):
    """Driver-side time-respecting relaxation equals the distributed
    iterate exactly, including duplicate seed nodes (min-merged in the
    first round) and unreachable nodes; past the cap the distributed
    path runs."""
    from arc_cassandra_pipeline_plugin_spark.operators import graph as G

    edges = [
        (f"n{a}", f"n{(a * 3 + b) % 9}", 1990 + (a + b) % 6)
        for a in range(9)
        for b in range(3)
        if a != (a * 3 + b) % 9
    ]
    df = spark.createDataFrame(edges, "src string, dst string, et long")
    seeds = spark.createDataFrame(
        [("n0", 1991), ("n4", 1993), ("n0", 1990)], "node string, t0 long"
    )
    with distributed(monkeypatch, G, "_temporal_earliest_driver"):
        want = {tuple(r) for r in G.temporal_earliest_arrival(df, seeds, rounds=3).collect()}
    ran = spy(monkeypatch, G, "_temporal_earliest_driver")
    got = {tuple(r) for r in G.temporal_earliest_arrival(df, seeds, rounds=3).collect()}
    assert got == want and len(got) >= 2
    monkeypatch.setattr(FN, "_DRIVER_EDGE_CAP", 2)
    assert {
        tuple(r) for r in G.temporal_earliest_arrival(df, seeds, rounds=3).collect()
    } == want
    assert ran == ["_temporal_earliest_driver"]


def test_kcore_ktruss_walk_driver_iterate_bit_equal(spark, monkeypatch):
    """Driver-side k-core/k-truss peels (integer counting) and the
    hash-seeded walk (hashlib md5 replay, lexicographic neighbor order)
    equal the distributed iterates exactly; past the cap the distributed
    paths run."""
    from arc_cassandra_pipeline_plugin_spark.operators import graph as G

    edges = [
        (f"n{a}", f"n{(a * 3 + b) % 13}", 1)
        for a in range(13)
        for b in range(6)
        if a != (a * 3 + b) % 13
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    with distributed(
        monkeypatch, G, "_kcore_driver", "_ktruss_driver", "_hash_random_walk_driver"
    ):
        want_c = {tuple(r) for r in G.kcore_vertices(df, k=4, rounds=2).collect()}
        want_t = {tuple(r) for r in G.ktruss_edges(df, k=4, rounds=2).collect()}
        want_w = sorted(tuple(r) for r in G.hash_random_walk(df, steps=4).collect())
    ran = spy(
        monkeypatch, G, "_kcore_driver", "_ktruss_driver", "_hash_random_walk_driver"
    )
    got_c = {tuple(r) for r in G.kcore_vertices(df, k=4, rounds=2).collect()}
    assert got_c == want_c and len(got_c) > 3
    got_t = {tuple(r) for r in G.ktruss_edges(df, k=4, rounds=2).collect()}
    assert got_t == want_t and len(got_t) > 3
    got_w = sorted(tuple(r) for r in G.hash_random_walk(df, steps=4).collect())
    assert got_w == want_w and len(got_w) == 13
    monkeypatch.setattr(FN, "_DRIVER_EDGE_CAP", 2)
    assert {tuple(r) for r in G.kcore_vertices(df, k=4, rounds=2).collect()} == want_c
    assert sorted(tuple(r) for r in G.hash_random_walk(df, steps=4).collect()) == want_w
    assert ran == ["_kcore_driver", "_ktruss_driver", "_hash_random_walk_driver"]


def test_hits_and_ppr_driver_iterate_bit_equal(spark, monkeypatch):
    """Driver-side HITS (6-dp decimal algebra) and personalized-PageRank
    (12-dp fixed point, seed teleport) equal the distributed iterates
    bit-for-bit on an irregular weighted graph, including a seed that is
    not a graph member (counts into |S|, gets no mass); past the cap the
    distributed paths run."""
    from arc_cassandra_pipeline_plugin_spark.operators import graph as G

    edges = [
        (f"n{a}", f"n{(a * 3 + b) % 13}", (a * 5 + b * 7) % 9 + 1)
        for a in range(13)
        for b in range(4)
        if a != (a * 3 + b) % 13
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    seeds = spark.createDataFrame([("n1",), ("n4",), ("zz_outside",)], "node string")
    with distributed(monkeypatch, G, "_hits_driver", "_personalized_pagerank_driver"):
        want_h = {tuple(r) for r in G.hits(df, iters=3).collect()}
        want_p = {tuple(r) for r in G.personalized_pagerank(df, seeds, iters=3).collect()}
    ran = spy(monkeypatch, G, "_hits_driver", "_personalized_pagerank_driver")
    got_h = {tuple(r) for r in G.hits(df, iters=3).collect()}
    assert got_h == want_h and len(got_h) == 13
    got_p = {tuple(r) for r in G.personalized_pagerank(df, seeds, iters=3).collect()}
    assert got_p == want_p and len(got_p) == 13
    monkeypatch.setattr(FN, "_DRIVER_EDGE_CAP", 2)
    assert {tuple(r) for r in G.hits(df, iters=3).collect()} == want_h
    assert {
        tuple(r) for r in G.personalized_pagerank(df, seeds, iters=3).collect()
    } == want_p
    assert ran == ["_hits_driver", "_personalized_pagerank_driver"]


def test_sssp_bfs_driver_iterate_bit_equal(spark, monkeypatch):
    """Driver-side Bellman-Ford / BFS rounds equal the distributed
    iterates exactly (integer min arithmetic, same source rule, same
    infinity sentinel); past the cap the distributed path runs."""
    from arc_cassandra_pipeline_plugin_spark.operators import graph as G

    edges = [
        (f"n{a}", f"n{(a * 5 + b) % 11}", (a * 3 + b) % 7 + 1)
        for a in range(11)
        for b in range(3)
        if a != (a * 5 + b) % 11
    ]
    df = spark.createDataFrame(edges, "src string, dst string, cost long")
    with distributed(monkeypatch, G, "_sssp_driver", "_bfs_driver"):
        want_s = {tuple(r) for r in G.sssp_cheapest(df, rounds=3).collect()}
        want_b = {tuple(r) for r in G.bfs_levels(df, rounds=3).collect()}
    ran = spy(monkeypatch, G, "_sssp_driver", "_bfs_driver")
    got_s = {tuple(r) for r in G.sssp_cheapest(df, rounds=3).collect()}
    assert got_s == want_s and len(got_s) > 3
    got_b = {tuple(r) for r in G.bfs_levels(df, rounds=3).collect()}
    assert got_b == want_b and len(got_b) > 3
    monkeypatch.setattr(FN, "_DRIVER_EDGE_CAP", 2)
    assert {tuple(r) for r in G.sssp_cheapest(df, rounds=3).collect()} == want_s
    assert {tuple(r) for r in G.bfs_levels(df, rounds=3).collect()} == want_b
    assert ran == ["_sssp_driver", "_bfs_driver"]


def test_label_propagation_driver_iterate_bit_equal(spark, monkeypatch):
    """Driver-side LPA rounds equal the distributed iterate exactly,
    including fractional-weight rollup (decimal sum before the bigint
    projection) and the (votes DESC, label ASC) argmax; past the cap the
    distributed path runs."""
    from arc_cassandra_pipeline_plugin_spark.operators import graph as G

    edges = [
        (f"n{a}", f"n{b}", ((a * 7 + b) % 5) / 2 + 0.5)
        for a in range(20)
        for b in range(20)
        if a != b and (a * 31 + b * 17) % 7 == 0
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    with distributed(monkeypatch, G, "_label_propagation_driver"):
        dist = {tuple(r) for r in G.label_propagation(df, rounds=3).collect()}
    ran = spy(monkeypatch, G, "_label_propagation_driver")
    drv = {tuple(r) for r in G.label_propagation(df, rounds=3).collect()}
    assert drv == dist and len(drv) == 20
    monkeypatch.setattr(FN, "_DRIVER_EDGE_CAP", 3)
    capped = {tuple(r) for r in G.label_propagation(df, rounds=3).collect()}
    assert capped == dist
    assert ran == ["_label_propagation_driver"]


def test_compact_files_reduces_file_count(spark, tmp_path):
    from arc_cassandra_pipeline_plugin_spark.operators.layout import compact_files

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    spark.range(10000).selectExpr(
        "id", "id % 64 AS x", "CAST(id / 157 AS INT) AS y"
    ).repartition(32).write.parquet(src)
    n_in, n_out = compact_files(spark, src, dst, target_file_bytes=1 << 30)
    assert n_in == 32 and n_out == 1
    assert spark.read.parquet(dst).count() == 10000
    import os

    out_files = [f for f in os.listdir(dst) if f.endswith(".parquet")]
    assert len(out_files) == 1


def test_compact_files_zorder_clusters_output(spark, tmp_path):
    from arc_cassandra_pipeline_plugin_spark.operators.layout import compact_files

    src = str(tmp_path / "frag2")
    dst = str(tmp_path / "comp2")
    spark.range(4096).selectExpr(
        "CAST(id % 64 AS INT) AS x", "CAST(id / 64 AS INT) AS y"
    ).repartition(16).write.parquet(src)
    _, n_out = compact_files(
        spark, src, dst, target_file_bytes=8 << 10, zorder=("x", "y")
    )
    assert n_out >= 4
    spans = (
        spark.read.parquet(dst)
        .withColumn("f", F.col("x") * 0 + F.spark_partition_id())
        .groupBy("f")
        .agg(
            (F.max("x") - F.min("x")).alias("dx"),
            (F.max("y") - F.min("y")).alias("dy"),
        )
        .collect()
    )
    # clustered: no output file spans the full extent of both dimensions
    assert all(not (s.dx >= 63 and s.dy >= 63) for s in spans)


def test_unigram_lm_rare_tokens_score_lower(spark):
    docs = spark.createDataFrame(
        [(1, "common common common common"), (2, "zzqx common common common")],
        "doc_id long, text string",
    )
    scores = {r.doc_id: r.avg_logprob for r in TX.unigram_lm_score(docs).collect()}
    assert scores[2] < scores[1]


def test_simhash_banding_is_complete_vs_brute_force(spark):
    """The 4x15-bit banding in dedup_simhash_pairs must find EXACTLY the
    pairs a brute-force Hamming scan finds at distance <= 3 (the oracle
    shares the banding, so this is the independent check of the
    pigeonhole completeness argument)."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.operators import dedup as D
    from arc_cassandra_pipeline_plugin_spark.queries.extensions import (
        dedup_simhash_pairs,
    )
    from arc_cassandra_pipeline_plugin_spark.sources import load_table
    from arc_cassandra_pipeline_plugin_spark.testing import dataset_equality
    from tests.conftest import SF_SMALL

    banded = dedup_simhash_pairs(spark, SF_SMALL).select("doc_a", "doc_b", "hamming")

    sims = D.simhash64(load_table(spark, SF_SMALL, "documents")).localCheckpoint()
    a = sims.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sims.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )
    assert dataset_equality(banded, brute)


def test_active_intervals_matches_python_union(spark):
    """events_active_intervals (cumulative-max islands) must equal a
    literal per-user union of [t, t+600) computed in plain Python — an
    independent check of the sweep technique (the SQL oracle shares the
    windowing formulation, this does not)."""
    from arc_cassandra_pipeline_plugin_spark.queries.analytics import (
        events_active_intervals,
    )
    from arc_cassandra_pipeline_plugin_spark.sources import load_table
    from tests.conftest import SF_SMALL

    got = {
        r["user_id"]: (r["n_islands"], r["active_s"])
        for r in events_active_intervals(spark, SF_SMALL).collect()
    }

    rows = (
        load_table(spark, SF_SMALL, "events")
        .selectExpr("user_id", "CAST(floor(CAST(ts AS DOUBLE)) AS BIGINT) AS s")
        .collect()
    )
    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append((r["s"], r["s"] + 600))
    expect = {}
    for uid, ivs in per_user.items():
        ivs.sort()
        islands = []
        for s, e in ivs:
            if islands and s <= islands[-1][1]:
                islands[-1] = (islands[-1][0], max(islands[-1][1], e))
            else:
                islands.append((s, e))
        expect[uid] = (len(islands), sum(e - s for s, e in islands))
    assert got == expect



def test_setsim_adaptive_paths_agree_and_pick_bitmask(spark):
    """Adaptive strategy selection: a small-vocab corpus must take the
    bitmask all-pairs sweep (plan shows a BroadcastNestedLoopJoin, no token
    self-join), a >1024-token vocabulary must fall through to the prefix
    path even when R is small, and every path must emit identical pairs."""
    # small vocab (<= 1024 distinct tokens): bitmask path engages
    rows = [
        (i, " ".join(f"tok{j}" for j in range(30) if (i + j) % 3 != 0))
        for i in range(40)
    ]
    df = _docs(spark, rows)
    fast = D.setsim_join_prefix(df, threshold_pct=60)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, "bitmask sweep not selected"
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in fast.collect()}
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.setsim_join_prefix(
            df, threshold_pct=60, allpairs_rep_limit=0
        ).collect()
    }
    assert got == want and got

    # huge vocab, tiny R: must NOT take the bitmask path (vocab gate)
    big_rows = [
        (i, " ".join(f"word{i}x{j}" for j in range(600)) + " shared common anchor")
        for i in range(4)
    ]
    big = _docs(spark, big_rows)
    out = D.setsim_join_prefix(big, threshold_pct=50)
    plan_big = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan_big, (
        "vocab gate failed: bitmask path on a 2400-token vocabulary"
    )
    # docs share only 3 of ~603 tokens -> no pair reaches Jaccard 0.5
    assert out.count() == 0


def test_setsim_late_cost_replan(spark):
    """Late cost-based re-plan: when R exceeds allpairs_rep_limit, the
    decision falls to the exact candidate-count statistic from the
    materialized prefix table. A dense small-vocab corpus (every prefix
    token hot, most pairs passing) must come BACK to the bitmask sweep;
    a sparse corpus (disjoint tokens, zero candidates) must stay on the
    prefix path — R²/2 popcount evals for a provably-empty output would
    be pure waste."""
    # dense: 60 reps > limit=10, vocab 30 tokens, most pairs similar
    rows = [
        (i, " ".join(f"tok{j}" for j in range(30) if (i + j) % 5 != 0))
        for i in range(60)
    ]
    df = _docs(spark, rows)
    fast = D.setsim_join_prefix(df, threshold_pct=60, allpairs_rep_limit=10)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, "late re-plan missed the sweep"
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in fast.collect()}
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.setsim_join_prefix(
            df, threshold_pct=60, allpairs_rep_limit=0
        ).collect()
    }
    assert got == want and got

    # sparse: 30 reps > limit=10, pairwise-disjoint tokens -> est_cand = 0
    sparse = _docs(
        spark,
        [(i, " ".join(f"u{i}t{j}" for j in range(8))) for i in range(30)],
    )
    out = D.setsim_join_prefix(sparse, threshold_pct=50, allpairs_rep_limit=10)
    plan_sparse = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan_sparse, (
        "cost model chose an all-pairs sweep for a zero-candidate corpus"
    )
    assert out.count() == 0


def test_setsim_multiword_bitmask_overlap_exact(spark):
    """Vocabulary between 65 and 128 tokens exercises the multi-long
    bitmask (2 words): popcount overlap must equal the true intersection
    for pairs whose shared tokens straddle both words."""
    vocab = [f"w{j:03d}" for j in range(100)]
    rows = [
        (1, " ".join(vocab[:80])),          # tokens 0..79
        (2, " ".join(vocab[10:90])),        # tokens 10..89 -> overlap 70
        (3, " ".join(vocab[50:100])),       # tokens 50..99
    ]
    df = _docs(spark, rows)
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.setsim_join_prefix(df, threshold_pct=70).collect()
    }
    # pair (1,2): c=70, union=90 -> 0.777778 ; pair (2,3): c=40, union=90
    # -> 0.444 (below); pair (1,3): c=30, union=100 -> 0.3 (below)
    assert set(out) == {(1, 2)}
    assert abs(out[(1, 2)] - round(70 / 90, 6)) < 1e-9


def test_pq_topk_rerank_recall(spark):
    """ADC alone cannot order same-cell candidates (their codes are equal),
    so on a clustered corpus plain PQ top-k only identifies the right cell;
    with exact re-ranking of the shortlist the true neighbors come back.
    Also: codes must use at most n_codes values per subspace."""
    import random

    from pyspark.sql.window import Window

    from arc_cassandra_pipeline_plugin_spark.functions import vec_double

    random.seed(7)
    centers = [[random.uniform(-5, 5) for _ in range(16)] for _ in range(8)]
    rows = [
        (i, [x + random.gauss(0, 0.05) for x in centers[i % 8]]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 5)

    c = emb.select(F.col("vec_id").alias("match_id"), vec_double("embedding").alias("cv"))
    q = queries.select(F.col("vec_id").alias("query_id"), vec_double("embedding").alias("qv"))
    ip = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("ip"), "match_id")
    exact = {
        (r["query_id"], r["match_id"])
        for r in c.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
        .withColumn("ip", ip)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .collect()
    }

    plain = S.pq_topk(emb, queries, k=5, n_sub=4, n_codes=8).collect()
    # cell identification is perfect: every ADC hit is in the query's cluster
    assert all(r["match_id"] % 8 == r["query_id"] % 8 for r in plain)

    reranked = {
        (r["query_id"], r["match_id"])
        for r in S.pq_topk(emb, queries, k=5, n_sub=4, n_codes=8, rerank=25).collect()
    }
    recall = len(reranked & exact) / len(exact)
    assert recall >= 0.9, f"PQ+rerank recall too low: {recall}"

    books = S.pq_codebooks(emb, n_sub=4, n_codes=8)
    codes = S.pq_encode(emb, books)
    for s in range(4):
        n_distinct = codes.select(f"code_{s}").distinct().count()
        assert n_distinct <= 8


def test_cms_overestimates_and_merges(spark):
    """Count-Min invariants: (a) est >= true count for every token (
    collisions only add); (b) sketches of two corpus halves merged by
    counter addition equal the sketch of the whole corpus; (c) the sketch
    never exceeds depth*width rows."""
    from arc_cassandra_pipeline_plugin_spark.operators import sketches as K
    from arc_cassandra_pipeline_plugin_spark.operators.text import tokens

    rows = [
        (i, "alpha beta gamma " * (i % 4 + 1) + f"rare{i}") for i in range(60)
    ]
    df = _docs(spark, rows)
    tok = tokens(df)
    sketch = K.cms_build(tok, depth=3, width=16)
    assert sketch.count() <= 3 * 16

    est = {
        r["token"]: r["est_count"]
        for r in K.cms_estimate(tok.select("token"), sketch, depth=3, width=16).collect()
    }
    true = {
        r["token"]: r["n"]
        for r in tok.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(est) == set(true)
    assert all(est[t] >= n for t, n in true.items())

    half_a = K.cms_build(tokens(df.filter(F.col("doc_id") < 30)), depth=3, width=16)
    half_b = K.cms_build(tokens(df.filter(F.col("doc_id") >= 30)), depth=3, width=16)
    merged = {
        (r["sketch_row"], r["bucket"]): r["cnt"]
        for r in K.cms_merge(half_a, half_b).collect()
    }
    whole = {
        (r["sketch_row"], r["bucket"]): r["cnt"] for r in sketch.collect()
    }
    assert merged == whole


def test_bloom_semi_filter_no_false_negatives(spark):
    """Bloom semi-join reduction: every true key survives the filter (no
    false negatives, ever); false positives exist but are a strict subset
    of the non-members; the built filter is n_words longs."""
    from arc_cassandra_pipeline_plugin_spark.operators import bloom as B

    keys = spark.createDataFrame([(i * 3,) for i in range(40)], "k long")
    df = spark.createDataFrame([(i,) for i in range(400)], "x long")
    words = B.bloom_build(keys, "k", n_words=4, n_hashes=2)
    assert len(words) == 4 and all(isinstance(w, int) for w in words)
    kept = {r["x"] for r in df.filter(B.bloom_hit(F.col("x"), words, 4, 2)).collect()}
    true = {i * 3 for i in range(40)}
    assert true <= kept, f"false negatives: {sorted(true - kept)[:5]}"
    # the filter prunes: with 4*63 bits over 40 keys most non-members drop
    assert len(kept) < 400


def test_wav_codec_roundtrip_and_rejection():
    """The WAV codec is a real parser: roundtrip is exact, unknown chunks
    are skipped (word-aligned walking), and malformed / unsupported
    payloads raise instead of returning garbage."""
    import struct

    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    samples = [0, 1, -1, 32767, -32768, 12345, -12345]
    payload = encode_wav_pcm16(samples, sample_rate=44100)
    rate, got = decode_wav_pcm16(payload)
    assert rate == 44100 and got == samples

    # inject an unknown odd-sized chunk between fmt and data: the walker
    # must skip it (with padding) and still find the data chunk
    fmt_end = 12 + 8 + 16
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    patched = payload[:fmt_end] + junk + payload[fmt_end:]
    rate2, got2 = decode_wav_pcm16(patched)
    assert rate2 == 44100 and got2 == samples

    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav_pcm16(b"NOTAWAVEFILE0000")
    with _pytest.raises(ValueError, match="too short"):
        decode_wav_pcm16(b"RIFF")
    # stereo payloads are unsupported, not misread
    stereo = bytearray(payload)
    stereo[22] = 2  # channels field
    with _pytest.raises(ValueError, match="only mono PCM16"):
        decode_wav_pcm16(bytes(stereo))


def test_wav_features_match_python(spark):
    """wav_features over synthesized assets equals a plain-Python
    computation of the same formula."""
    import math

    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    feats = {
        r["asset_id"]: (r["n_samples"], r["duration_ms"], r["peak_abs"], r["rms"])
        for r in M.wav_features(M.synthesize_wav_assets(ids)).collect()
    }
    for i in range(7):
        smp = [((i * 31 + j * 17) % 2048) - 1024 for j in range(100 + i % 50)]
        n = len(smp)
        want = (
            n,
            n * 1000 // 8000,
            max(abs(s) for s in smp),
            round(math.sqrt(sum(s * s for s in smp) / n), 6),
        )
        assert feats[i] == want


def test_wav_spectrum_pure_tone_concentrates_power(spark):
    """A pure cosine at DFT bin 4 must put essentially all spectral power
    in bin 4 (the quantized-LUT sums still approximate a real DFT), and a
    short payload must fail loudly rather than zero-pad."""
    import pytest

    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    n = M.SPECTRUM_N
    tone = [round(1000 * M._COSQ[(4 * j) % n] / 1e9) for j in range(n)]
    payload = M.encode_wav_pcm16(tone, sample_rate=8000)
    assets = spark.createDataFrame([(1, bytearray(payload))], "asset_id long, payload binary")
    rows = {r["bin_k"]: r["power_k"] for r in M.wav_spectrum_features(assets).collect()}
    assert set(rows) == {1, 2, 4, 8}
    assert rows[4] > 100 * max(rows[1], rows[2], rows[8])
    # bin-4 cosine power ~ (1000 * N/2)^2 = 1.024e9
    assert rows[4] == pytest.approx((1000 * n / 2) ** 2, rel=0.01)

    short = M.encode_wav_pcm16([0] * (n - 1), sample_rate=8000)
    bad = spark.createDataFrame([(2, bytearray(short))], "asset_id long, payload binary")
    with pytest.raises(Exception, match="samples < window"):
        M.wav_spectrum_features(bad).collect()


def test_bmp_codec_roundtrip_and_rejection():
    """The BMP codec is a real parser: roundtrip is exact through the
    bottom-up padded representation, top-down (negative height) images
    decode too, and malformed/unsupported payloads raise."""
    import struct

    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
    )

    w, h = 5, 3  # odd row width exercises the 4-byte padding path
    px = [((x * 40) % 256, (y * 90) % 256, (x + y) % 256) for y in range(h) for x in range(w)]
    payload = encode_bmp24(w, h, px)
    gw, gh, got = decode_bmp24(payload)
    assert (gw, gh) == (w, h) and got == px

    # top-down variant: flip the height sign and re-order rows accordingly
    data_off = 54
    row_size = (3 * w + 3) // 4 * 4
    body = payload[data_off:]
    rows = [body[i * row_size : (i + 1) * row_size] for i in range(h)]
    top_down = payload[:22] + struct.pack("<i", -h)[:4] + payload[26:data_off] + b"".join(reversed(rows))
    gw2, gh2, got2 = decode_bmp24(top_down)
    assert (gw2, gh2) == (w, h) and got2 == px

    with _pytest.raises(ValueError, match="BMP"):
        decode_bmp24(b"PNG" + b"\x00" * 60)
    with _pytest.raises(ValueError, match="too short"):
        decode_bmp24(b"BM")
    bad_bits = bytearray(payload)
    bad_bits[28] = 8  # 8bpp unsupported
    with _pytest.raises(ValueError, match="only 24bpp"):
        decode_bmp24(bytes(bad_bits))
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp24(payload[:-5])


def test_bpe_train_matches_pure_python_reference(spark):
    """bpe_train vs an independent in-memory BPE implementation on a tiny
    corpus: same word counting, same greedy merge semantics, same
    lexicographic tiebreak — the merge tables must be identical."""
    from collections import Counter
    import re

    from arc_cassandra_pipeline_plugin_spark.operators.text import bpe_train

    texts = [
        "the cat sat on the mat",
        "the cats sat",
        "a mat and a cat",
        "banana bandana",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING")
    got = [
        (r["round"], r["p1"], r["p2"], r["cnt"])
        for r in bpe_train(df, rounds=4).collect()
    ]

    # independent reference
    words = Counter()
    for t in texts:
        words.update(re.findall(r"[a-z0-9]+", t.lower()))
    seqs = {w: list(w) for w in words}
    want = []
    for rnd in range(1, 5):
        pairs = Counter()
        for w, toks in seqs.items():
            for i in range(len(toks) - 1):
                pairs[(toks[i], toks[i + 1])] += words[w]
        if not pairs:
            break
        (p1, p2), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rnd, p1, p2, cnt))
        for w, toks in seqs.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == p1 and toks[i + 1] == p2:
                    out.append(p1 + p2)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            seqs[w] = out
    assert got == want, f"got {got}, want {want}"


def test_png_codec_roundtrip_filters_and_rejection():
    """The PNG codec is a real compressed-format parser: exact roundtrip
    through DEFLATE + cycling scanline filters (every unfilter branch runs
    on any image with >=5 rows), and malformed payloads — bad signature,
    chunk CRC corruption, truncation, unsupported color type, invalid
    filter byte — all raise ValueError rather than yielding garbage."""
    import struct
    import zlib

    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    # 6 rows: the (3y+1) % 5 filter cycle emits types 1,4,2,0,3,1 —
    # Sub/Paeth/Up/None/Average all exercised in one roundtrip
    w, h = 7, 6
    px = [((x * 41 + y) % 256, (y * 73 + x) % 256, (x * y * 29) % 256)
          for y in range(h) for x in range(w)]
    payload = encode_png(w, h, px)
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    gw, gh, got = decode_png(payload)
    assert (gw, gh) == (w, h) and got == px
    # degenerate shapes roundtrip too (1-wide exercises the i<bpp edges)
    for dw, dh in ((1, 1), (1, 9), (9, 1)):
        dpx = [((p * 37) % 256, (p * 91) % 256, (p * 53) % 256) for p in range(dw * dh)]
        assert decode_png(encode_png(dw, dh, dpx)) == (dw, dh, dpx)

    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"NOTAPNG!" + payload[8:])
    with _pytest.raises(ValueError, match="too short"):
        decode_png(payload[:12])
    corrupt = bytearray(payload)
    corrupt[payload.index(b"IDAT") + 8] ^= 0xFF  # flip a compressed byte
    with _pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(corrupt))
    with _pytest.raises(ValueError, match="truncated"):
        decode_png(payload[:-6])

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    sig = payload[:8]
    rgba_hdr = struct.pack(">IIBBBBB", 3, 3, 8, 6, 0, 0, 0)
    rgba = (sig + chunk(b"IHDR", rgba_hdr)
            + chunk(b"IDAT", zlib.compress(bytes(3 * 13))) + chunk(b"IEND", b""))
    with _pytest.raises(ValueError, match="only 8-bit RGB"):
        decode_png(rgba)
    rgb_hdr = struct.pack(">IIBBBBB", 3, 3, 8, 2, 0, 0, 0)
    badfilter = (sig + chunk(b"IHDR", rgb_hdr)
                 + chunk(b"IDAT", zlib.compress(bytes([5] + [0] * 9) * 3))
                 + chunk(b"IEND", b""))
    with _pytest.raises(ValueError, match="invalid PNG filter"):
        decode_png(badfilter)
    # IDAT inflating to the wrong length (extra scanline) is a data error
    overlong = (sig + chunk(b"IHDR", rgb_hdr)
                + chunk(b"IDAT", zlib.compress(bytes([0] + [0] * 9) * 4))
                + chunk(b"IEND", b""))
    with _pytest.raises(ValueError, match="length"):
        decode_png(overlong)


def test_png_features_match_python(spark):
    """png_features over synthesized assets equals a plain-Python
    re-derivation from the pixel formula — the distributed kernel and the
    codec agree with first principles."""
    ids = spark.range(0, 40).selectExpr("id AS doc_id")
    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    feats = {
        r["asset_id"]: r
        for r in M.png_features(M.synthesize_png_assets(ids)).collect()
    }
    assert len(feats) == 40
    for i in range(40):
        w, h = 4 + i % 6, 3 + i % 5
        n = w * h
        chans = [[(m * i + k * p) % 256 for p in range(n)]
                 for m, k in ((5, 19), (7, 23), (11, 29))]
        r = feats[i]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, n)
        assert r["mean_r"] == round(sum(chans[0]) / n, 6)
        assert r["mean_g"] == round(sum(chans[1]) / n, 6)
        assert r["mean_b"] == round(sum(chans[2]) / n, 6)
        assert r["compressed_bytes"] > 0


def test_bpe_batched_equals_serial_with_fewer_jobs(spark):
    """The batched BPE trainer (provably order-equivalent merge batching)
    learns the BIT-IDENTICAL merge table to the one-merge-per-job serial
    loop (lookahead=1), at 12 rounds on the fixture corpus, with at most
    half the Spark jobs and at most half the driver round-trips."""
    from arc_cassandra_pipeline_plugin_spark.operators.text import bpe_train
    from arc_cassandra_pipeline_plugin_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.count()  # warm the scan

    def run(lookahead):
        rows, jobs = spark_jobs(
            spark, lambda: bpe_train(docs, rounds=12, lookahead=lookahead).orderBy("round").collect()
        )
        table = [(r["round"], r["p1"], r["p2"], r["cnt"]) for r in rows]
        return table, jobs, bpe_train.last_iterations

    serial_table, serial_jobs, serial_iters = run(1)
    batched_table, batched_jobs, batched_iters = run(16)
    assert batched_table == serial_table, "batching changed the merge table"
    assert len(serial_table) == 12
    assert serial_iters == 12
    assert batched_iters * 2 <= serial_iters, (batched_iters, serial_iters)
    assert batched_jobs * 2 <= serial_jobs, (batched_jobs, serial_jobs)


def test_pack_sequences_invariants(spark):
    """Concat-and-chunk packing: per-doc spans tile [0, n_tokens) in chunk
    order; per-window slices tile [0, budget) exactly (last window may end
    short); zero-token docs are dropped; offsets are a pure function of the
    doc_id order."""
    from arc_cassandra_pipeline_plugin_spark.operators.packing import pack_sequences

    rows = [(i, (i * 37) % 23) for i in range(50)]  # includes n_tokens == 0
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    budget = 10
    out = pack_sequences(df, budget=budget).collect()

    # replay the packing in plain Python as the ground truth
    start, expect = 0, []
    for i, n in rows:
        if n == 0:
            continue
        for k in range(start // budget, (start + n - 1) // budget + 1):
            f = max(0, k * budget - start)
            t = min(n, (k + 1) * budget - start)
            expect.append((i, k, f, t, max(0, start - k * budget), t - f))
        start += n
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["doc_from"], r["doc_to"],
         r["chunk_from"], r["n_slice"])
        for r in out
    )
    assert got == sorted(expect)

    # window tiling: every chunk except the last sums to exactly budget,
    # with slices contiguous from offset 0
    by_chunk: dict[int, list] = {}
    for d, k, f, t, cf, ns in got:
        by_chunk.setdefault(k, []).append((cf, ns))
    last = max(by_chunk)
    for k, slices in by_chunk.items():
        slices.sort()
        pos = 0
        for cf, ns in slices:
            assert cf == pos, f"gap in chunk {k}"
            pos += ns
        if k != last:
            assert pos == budget


def test_global_prefix_sum_matches_window(spark):
    """Two-phase exclusive prefix sum equals the single-window reference on
    a shuffled input, including duplicate leading keys resolved by the
    tiebreak."""
    import random

    from arc_cassandra_pipeline_plugin_spark.operators.ranking import (
        global_prefix_sum,
    )

    rng = random.Random(7)
    rows = [(i, i % 17, rng.randint(0, 9)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "rid long, key int, v int").repartition(8)
    got = {
        r["rid"]: r["ps"]
        for r in global_prefix_sum(
            df, "key", "v", tiebreaks=["rid"], out_col="ps", num_buckets=8
        ).collect()
    }
    running, expect = 0, {}
    for rid, key, v in sorted(rows, key=lambda r: (r[1], r[0])):
        expect[rid] = running
        running += v
    assert got == expect


def test_editdist_join_prefix_complete_vs_bruteforce(spark):
    """Ed-Join completeness: the prefix-filtered candidate chain must find
    EVERY pair within the distance bound — compared against a plain-Python
    O(n^2) Levenshtein over strings with planted 0/1/2-edit variants."""
    from arc_cassandra_pipeline_plugin_spark.operators.dedup import (
        editdist_join_prefix,
    )

    base = [
        "the quick brown fox jumps",
        "pack my box with five dozen jugs",
        "sphinx of black quartz judge my vow",
        "how vexingly quick daft zebras jump",
    ]
    rows = []
    rid = 0
    for s in base:
        for variant in (
            s,                          # exact duplicate
            s[:-1],                     # 1 deletion
            s.replace("qu", "qx", 1),   # 1 substitution
            "x" + s,                    # 1 insertion
            s[:-2] + "zz",              # 2 substitutions
            s.upper().lower() + " tail words",  # far away
        ):
            rows.append((rid, variant))
            rid += 1
    df = spark.createDataFrame(rows, "id long, s string")

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for d in (1, 2):
        want = {
            (a, b, lev(sa, sb))
            for a, sa in rows
            for b, sb in rows
            if a < b and lev(sa, sb) <= d
        }
        got = {
            (r["id_a"], r["id_b"], r["edit_dist"])
            for r in editdist_join_prefix(df, max_dist=d).collect()
        }
        assert got == want, f"d={d}: missing {want - got}, extra {got - want}"

    # strategy dispatch parity (r8): the forced gram path at d=1 must be
    # result-identical to the deletion-neighborhood auto path — the sf1
    # A/B probe relies on this equivalence
    want1 = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in editdist_join_prefix(df, max_dist=1).collect()
    }
    got_gram = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in editdist_join_prefix(df, max_dist=1, strategy="gram").collect()
    }
    assert got_gram == want1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_dist=1 only"):
        editdist_join_prefix(df, max_dist=2, strategy="deletion")
    with _pytest.raises(ValueError, match="unknown editdist strategy"):
        editdist_join_prefix(df, max_dist=1, strategy="bogus")


def test_gif_lzw_roundtrip_properties():
    """GIF LZW self-consistency across code widths, the KwKwK case, and a
    stream long enough to force the 4096-entry dictionary reset."""
    import random

    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    rng = random.Random(11)
    for mcs in (2, 3, 4, 8):
        for n in (0, 1, 2, 3, 17, 4000):
            s = [rng.randrange(1 << mcs) for _ in range(n)]
            assert M._lzw_decompress(M._lzw_compress(s, mcs), mcs) == s
        assert M._lzw_decompress(M._lzw_compress([0] * 50, mcs), mcs) == [0] * 50
    long = ([3] * 97 + [1, 2] * 55) * 120  # >30k symbols, dict reset path
    assert M._lzw_decompress(M._lzw_compress(long, 4), 4) == long


def test_gif_container_roundtrip_and_rejection():
    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    pal = [(c, 2 * c, 3 * c) for c in range(16)]
    frames = [[(p + f) % 16 for p in range(20)] for f in range(3)]
    b = M.encode_gif(5, 4, pal, frames, [10, 20, 30])
    W, H, p2, fr = M.decode_gif(b)
    assert (W, H) == (5, 4) and p2 == pal
    assert [f[5] for f in fr] == frames
    assert [f[4] for f in fr] == [10, 20, 30]
    import pytest

    for bad in (b"NOTAGIF" + b"\x00" * 30, b[:-5], b[:10]):
        with pytest.raises(ValueError):
            M.decode_gif(bad)


def test_gif_decoder_handles_interlace():
    """A hand-built interlaced GIF (flag 0x40, rows stored in 4-pass order)
    must decode back to natural row order — the branch the non-interlaced
    encoder never exercises."""
    import struct

    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    w, h = 4, 8
    frame = [(x + 3 * y) % 4 for y in range(h) for x in range(w)]
    pass_order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    stored = [v for r in pass_order for v in frame[r * w : (r + 1) * w]]
    pal = [(c, c, c) for c in range(4)]
    payload = bytearray(b"GIF89a")
    payload += struct.pack("<HHBBB", w, h, 0x80 | (2 - 1), 0, 0)
    for rgb in pal:
        payload += bytes(rgb)
    payload += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40)
    payload.append(2)
    payload += M._gif_subblocks(M._lzw_compress(stored, 2))
    payload.append(0x3B)
    _, _, _, fr = M.decode_gif(bytes(payload))
    assert fr[0][5] == frame


def test_editdist_join_random_corpus_vs_bruteforce(spark):
    """Randomized stress: both strategy paths (deletion-neighborhood d=1,
    q-gram prefix d=2) against plain-Python brute force over a random
    corpus with heavy near-duplicate structure."""
    import random

    from arc_cassandra_pipeline_plugin_spark.operators.dedup import (
        editdist_join_prefix,
    )

    rng = random.Random(42)
    alpha = "abcdef"
    base = ["".join(rng.choice(alpha) for _ in range(rng.randint(9, 14)))
            for _ in range(25)]
    rows = []
    rid = 0
    for s in base:
        rows.append((rid, s)); rid += 1
        for _ in range(2):  # mutated neighbors
            t = list(s)
            op = rng.choice(("sub", "del", "ins"))
            p = rng.randrange(len(t))
            if op == "sub":
                t[p] = rng.choice(alpha)
            elif op == "del":
                del t[p]
            else:
                t.insert(p, rng.choice(alpha))
            rows.append((rid, "".join(t))); rid += 1
    df = spark.createDataFrame(rows, "id long, s string")

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for d in (1, 2):
        want = {(a, b, lev(sa, sb)) for a, sa in rows for b, sb in rows
                if a < b and lev(sa, sb) <= d}
        got = {(r["id_a"], r["id_b"], r["edit_dist"])
               for r in editdist_join_prefix(df, max_dist=d).collect()}
        assert got == want, f"d={d}: missing {want - got}, extra {got - want}"


def test_lsh_incremental_matches_filtered_full_join(spark):
    """Incremental LSH pairs == the full self-join's pairs restricted to
    those touching a new doc — on a corpus with planted duplicates inside
    and across the 'new' batch."""
    from pyspark.sql import functions as F

    rows = []
    for i in range(40):
        body = f"distinct document body number {i} with plenty of words"
        rows.append((i, body))
        if i % 4 == 0:
            rows.append((100 + i, body))  # duplicate partner (some new, some old)
    df = _docs(spark, rows)
    sigs = D.minhash_signature(df, num_perm=16)
    is_new = (F.col("doc_id") % 10) == 0
    inc = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs_incremental(sigs, is_new=is_new).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(sigs).collect()
        if r["doc_a"] % 10 == 0 or r["doc_b"] % 10 == 0
    }
    assert inc == full and inc


def test_gif_decoder_interop_canonical_onepixel():
    """Third-party interop: the canonical minimal 1x1 GIF (reference bytes
    published across the web, produced by standard encoders — NOT our own
    encoder) must decode to a single black pixel."""
    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    onepx = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\xff\xff\xff"
        b"!\xf9\x04\x00\x00\x00\x00\x00"
        b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
    )
    w, h, pal, frames = M.decode_gif(onepx)
    assert (w, h) == (1, 1)
    assert pal[:2] == [(0, 0, 0), (255, 255, 255)]
    assert frames == [(0, 0, 1, 1, 0, [0])]


def test_wav_codec_interop_with_stdlib_wave_module():
    """Cross-implementation check: our RIFF/PCM16 writer must be readable
    by Python's stdlib `wave` module, and `wave`-written files must decode
    through our parser — byte-identical samples both directions."""
    import io
    import struct
    import wave

    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    samples = [0, 1000, -1000, 32767, -32768, 123, -456] * 11
    rate = 8000

    # ours -> stdlib
    payload = M.encode_wav_pcm16(samples, rate)
    with wave.open(io.BytesIO(payload)) as w:
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getframerate() == rate
        raw = w.readframes(w.getnframes())
    assert list(struct.unpack(f"<{len(samples)}h", raw)) == samples

    # stdlib -> ours
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    got_rate, got = M.decode_wav_pcm16(buf.getvalue())
    assert got_rate == rate and got == samples


def test_tar_member_stats_roundtrip_and_malformed(spark):
    import pytest

    from arc_cassandra_pipeline_plugin_spark.operators import archive as A

    ids = spark.createDataFrame([(i,) for i in range(25)], "doc_id long")
    shards = A.synthesize_tar_shards(ids, docs_per_shard=10)
    assert shards.count() == 3  # ids 0-9, 10-19, 20-24
    out = {(r["shard_id"], r["member"]): (r["n_bytes"], r["byte_sum"])
           for r in A.tar_member_stats(shards).collect()}
    assert len(out) == 25
    for i in range(25):
        data = A._member_text(i)
        assert out[(i // 10, f"{i}.txt")] == (len(data), sum(data))

    bad = spark.createDataFrame([(0, bytearray(b"not a tar at all"))],
                                "shard_id long, payload binary")
    with pytest.raises(Exception):
        A.tar_member_stats(bad).collect()


def test_spatial_proximity_join_matches_brute_force(spark):
    """The grid-bucketed proximity join finds EXACTLY the brute-force pair
    set (each pair once) on a corpus engineered to include same-cell,
    adjacent-cell, and boundary-distance pairs, and compiles to an
    equi-join (no nested-loop all-pairs)."""
    from arc_cassandra_pipeline_plugin_spark.operators import spatial as SP

    # deterministic lattice-ish cloud: clusters around multiples of 25
    # (cell boundaries) so cross-cell pairs at exactly radius are common
    pts = [
        (i, (i * 7919) % 200, (i * 104729) % 200)
        for i in range(120)
    ] + [(1000 + j, 24 + j % 3, 25 * (j % 4)) for j in range(30)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    r = 25
    got = {
        (row["id_a"], row["id_b"], row["dist_sq"])
        for row in SP.proximity_join(df, radius=r).collect()
    }
    want = set()
    for ia, xa, ya in pts:
        for ib, xb, yb in pts:
            if ia < ib and (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r:
                want.add((ia, ib, (xa - xb) ** 2 + (ya - yb) ** 2))
    assert got == want and len(want) > 50

    plan = SP.proximity_join(df, radius=r)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_spatial_hot_cell_salting_is_result_identical(spark):
    """Adversarial dense-cell layout (one cell holds most of the corpus —
    the docstring's city-center skew): the salted plan must (a) actually
    engage (salt key in the join), (b) return EXACTLY the unsalted pair
    set, (c) spread the hot cell's left rows across many salt values."""
    from arc_cassandra_pipeline_plugin_spark.operators import spatial as SP

    r = 25
    # 400 points crammed into cell (0,0) [coords 0..24] + a sparse ring in
    # neighboring cells so cross-cell pairs exist
    dense = [(i, (i * 13) % 25, (i * 29) % 25) for i in range(400)]
    sparse = [(1000 + j, 26 + (j * 7) % 20, 26 + (j * 11) % 20) for j in range(40)]
    df = spark.createDataFrame(dense + sparse, "id long, x long, y long")

    unsalted = {
        (row["id_a"], row["id_b"], row["dist_sq"])
        for row in SP.proximity_join(df, radius=r, salt_buckets=0).collect()
    }
    salted_df = SP.proximity_join(df, radius=r, salt_buckets=8, skew_threshold=100)
    salted = {(row["id_a"], row["id_b"], row["dist_sq"]) for row in salted_df.collect()}
    assert salted == unsalted and len(unsalted) > 1000

    # the salted plan joins on (_salt, jx, jy) — verify the key is present
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan
    # and the threshold probe keeps cold layouts on the plain 2-key join
    cold = SP.proximity_join(df, radius=r, salt_buckets=8, skew_threshold=10_000)
    assert "_salt" not in cold._jdf.queryExecution().executedPlan().toString()


def test_kmv_sketch_merge_property(spark):
    """KMV mergeability: the union sketch (k smallest of the pooled
    hashes) must equal the sketch built directly on the union — on the
    registry query's own md5-prefix hash, for arbitrary overlapping key
    sets."""
    from pyspark.sql import functions as F

    K = 8
    a = spark.range(0, 60).select(F.col("id").alias("k"))
    b = spark.range(40, 130).select(F.col("id").alias("k"))

    def hashes(df):
        return sorted(
            r["hv"]
            for r in df.distinct().select(
                F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 15), 16, 10)
                .cast("bigint")
                .alias("hv")
            ).collect()
        )

    sk_a, sk_b = hashes(a)[:K], hashes(b)[:K]
    merged = sorted(set(sk_a) | set(sk_b))[:K]
    direct = hashes(a.union(b))[:K]
    assert merged == direct


def test_count_min_never_undercounts(spark):
    """CMS overcount guarantee: for EVERY key, min-over-depth cell count
    >= the key's exact count — on an adversarially skewed corpus (one key
    holds half the mass, forcing collisions)."""
    from pyspark.sql import functions as F

    W, D = 16, 4  # tiny width → heavy collisions
    rows = [(0,)] * 500 + [(i % 37 + 1,) for i in range(500)]
    df = spark.createDataFrame(rows, "k long")

    def cell(d, kc):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{d}:"), kc.cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") % W

    cells = {}
    for d in range(D):
        for r in df.groupBy(cell(d, F.col("k")).alias("c")).count().collect():
            cells[(d, r["c"])] = r["count"]
    exact = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    import hashlib
    for k, n in exact.items():
        est = min(
            cells[(d, int(hashlib.md5(f"cms{d}:{k}".encode()).hexdigest()[:8], 16) % W)]
            for d in range(D)
        )
        assert est >= n, f"CMS undercounted key {k}: {est} < {n}"


def test_chunk_overlap_tiling_invariants(spark):
    """Chunking invariants on the registry query at sf0.001: chunks cover
    every token exactly once per stride step, consecutive chunks overlap
    by window-stride tokens, only the final chunk may be short, and
    re-concatenating chunk [0:stride) slices reconstructs the document."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.queries import load_all
    from arc_cassandra_pipeline_plugin_spark.sources import load_table
    from tests.conftest import SF_SMALL

    W, S = 64, 48
    reg = load_all()
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    toks = {
        r["doc_id"]: r["t"]
        for r in docs.select(
            "doc_id", F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("t")
        ).collect()
    }
    out = reg["text_chunk_overlap"].fn(spark, SF_SMALL).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r
    for doc_id, t in toks.items():
        if not t:
            continue
        chunks = by_doc[doc_id]
        n = len(t)
        want_chunks = len(range(0, max(n - 1, 0) + 1, S)) if n else 0
        assert set(chunks) == set(range(want_chunks))
        for i in range(want_chunks):
            c = chunks[i]
            lo = i * S
            want = t[lo:lo + W]
            assert c["n_tokens"] == len(want)
            assert c["first_tok"] == want[0] and c["last_tok"] == want[-1]
            # all but the last chunk carry a full window unless doc is short
            if i < want_chunks - 1:
                assert c["n_tokens"] == W or lo + W >= n


def test_label_propagation_partition_invariance(spark, graph_paths):
    """LPA determinism: identical labels under 1 vs 32 input partitions
    (the synchronous min-label formulation cannot depend on layout), on
    both paths."""
    from pyspark.sql import functions as F

    from arc_cassandra_pipeline_plugin_spark.operators.graph import label_propagation

    edges = [(f"n{a}", f"n{b}", (a * 7 + b) % 5 + 1)
             for a in range(30) for b in range(30)
             if a != b and (a * 31 + b * 17) % 11 == 0]
    df1 = spark.createDataFrame(edges, "src string, dst string, w long").coalesce(1)
    df32 = spark.createDataFrame(edges, "src string, dst string, w long").repartition(32)
    for path in graph_paths():
        r1 = {tuple(r) for r in label_propagation(df1, rounds=3).collect()}
        r32 = {tuple(r) for r in label_propagation(df32, rounds=3).collect()}
        assert r1 == r32 and len(r1) > 10, path


def test_blocked_pair_join_hot_block_salting_result_identical(spark):
    """Adversarial hot-block corpus for the shared blocking helper: one
    block key carries most of both sides (the runaway-block case). The
    salted join must (a) engage (salt key in the plan), (b) return EXACTLY
    the unsalted pair multiset, (c) keep cold corpora on the plain join."""
    from arc_cassandra_pipeline_plugin_spark.operators.blocking import (
        blocked_pair_join,
    )

    # block 7 is hot on both sides; blocks 0-4 are cold
    lrows = [(7, i) for i in range(300)] + [(b, 1000 + b * 10 + i) for b in range(5) for i in range(4)]
    rrows = [(7, i) for i in range(200)] + [(b, 2000 + b * 10 + i) for b in range(5) for i in range(3)]
    left = spark.createDataFrame(lrows, "bk long, lid long")
    right = spark.createDataFrame(rrows, "bk long, rid long")

    plain = left.join(right, ["bk"])
    want = {(r["bk"], r["lid"], r["rid"]) for r in plain.collect()}

    salted = blocked_pair_join(
        left, right, ["bk"], left_salt_col="lid",
        salt_buckets=8, skew_threshold=10_000,  # 300*200=60k >= 10k → hot
    )
    got = {(r["bk"], r["lid"], r["rid"]) for r in salted.collect()}
    assert got == want and len(want) == 300 * 200 + 5 * 4 * 3

    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan

    # cold probe: threshold above every block's pair count → plain join
    cold = blocked_pair_join(
        left, right, ["bk"], left_salt_col="lid",
        salt_buckets=8, skew_threshold=1_000_000,
    )
    assert "_salt" not in cold._jdf.queryExecution().executedPlan().toString()
    assert {(r["bk"], r["lid"], r["rid"]) for r in cold.collect()} == want


def test_blocked_pair_join_side_count_detection(spark):
    """count_side="left"/"right" gates on one side's block size (the
    cheap single-agg probe the grid join uses) and stays result-identical."""
    from arc_cassandra_pipeline_plugin_spark.operators.blocking import (
        blocked_pair_join,
    )

    left = spark.createDataFrame(
        [(1, i) for i in range(150)] + [(2, 500 + i) for i in range(5)],
        "bk long, lid long",
    )
    right = spark.createDataFrame(
        [(1, i) for i in range(8)] + [(2, 100 + i) for i in range(8)],
        "bk long, rid long",
    )
    want = {(r["bk"], r["lid"], r["rid"]) for r in left.join(right, ["bk"]).collect()}
    got_df = blocked_pair_join(
        left, right, ["bk"], left_salt_col="lid",
        salt_buckets=4, skew_threshold=100, count_side="left",
    )
    got = {(r["bk"], r["lid"], r["rid"]) for r in got_df.collect()}
    assert got == want
    assert "_salt" in got_df._jdf.queryExecution().executedPlan().toString()


def test_graph_degenerate_iteration_guards(spark):
    """iters/rounds < 1 must raise a clear ValueError instead of crashing
    with a None join (hits), NameError (ktruss), or returning None
    (kcore) — and LPA follows the same contract."""
    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.operators import graph as G

    e = spark.createDataFrame([("a", "b", 1)], "src string, dst string, w long")
    with _pytest.raises(ValueError, match="iters >= 1"):
        G.hits(e, iters=0)
    with _pytest.raises(ValueError, match="rounds >= 1"):
        G.ktruss_edges(e, rounds=0)
    with _pytest.raises(ValueError, match="rounds >= 1"):
        G.kcore_vertices(e, rounds=0)
    with _pytest.raises(ValueError, match="rounds >= 1"):
        G.label_propagation(e, rounds=0)


def test_hits_rejects_negative_weights(spark, graph_paths):
    """hits() max-normalizes NON-NEGATIVE contributions into a
    decimal(8,6) round vector; a negative weight would push the quotient
    outside ±0.999999 and overflow the cast (r10 ADVICE). The in-plan
    raise_error guard must fail loudly at evaluation, and the positive
    path must be unaffected."""
    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.operators import graph as G

    bad = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", -2.5)], "src string, dst string, w double"
    )
    ok = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 1.0), ("a", "c", 1.0)],
        "src string, dst string, w double",
    )
    for path in graph_paths():
        with _pytest.raises(Exception, match="non-negative"):
            G.hits(bad, iters=1).collect()
        rows = {r["node"]: (r["hub"], r["authority"]) for r in G.hits(ok, iters=2).collect()}
        assert set(rows) == {"a", "b", "c"}, path
        assert all(0.0 <= h <= 1.0 and 0.0 <= au <= 1.0 for h, au in rows.values()), path


def test_label_propagation_fractional_weights_sum_before_cast(spark, graph_paths):
    """Fractional edge weights must sum BEFORE the bigint projection (the
    oracle's shape), and the projection is the floor-form half-toward-+inf
    convention floor(sum + 0.5): three 0.4-weight parallel votes total
    1.2 -> 1; a single 0.4 edge -> floor(0.9) = 0."""
    from arc_cassandra_pipeline_plugin_spark.operators.graph import label_propagation

    # u votes for v via three 0.4 edges (sum 1.2 -> floor(1.7) = 1), while
    # w votes via one 0.4 edge (floor(0.9) -> 0): v must adopt u's label
    rows = [("u", "v", 0.4), ("u", "v", 0.4), ("u", "v", 0.4), ("w", "v", 0.4)]
    df = spark.createDataFrame(rows, "src string, dst string, w double")
    for path in graph_paths():
        got = {tuple(r) for r in label_propagation(df, rounds=1).collect()}
        assert ("v", "u") in got, path


def test_label_propagation_fractional_weights_cross_engine(spark, graph_paths):
    """Regression (r8 advisor): Spark truncates decimal->bigint while
    DuckDB rounds (CAST(1.6) -> 1 vs 2), so a bare cast broke cross-engine
    agreement on any non-integral group weight sum. The floor(sum + 0.5)
    convention must make both engines agree on weights engineered to land
    on 1.6, 1.5 (the half boundary) and 0.4 group sums."""
    import duckdb

    from arc_cassandra_pipeline_plugin_spark.operators.graph import (
        label_propagation,
        label_propagation_oracle_sql,
    )

    rows = [
        ("a", "b", 0.8), ("a", "b", 0.8),          # sum 1.6 -> 2
        ("b", "c", 1.5),                            # half boundary -> 2
        ("c", "d", 0.4),                            # -> 0
        ("d", "e", 2.3), ("a", "e", 0.2),
    ]
    df = spark.createDataFrame(rows, "src string, dst string, w double")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE edges(src VARCHAR, dst VARCHAR, w DOUBLE);"
    )
    con.executemany("INSERT INTO edges VALUES (?, ?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            label_propagation_oracle_sql("SELECT src, dst, w FROM edges", rounds=3)
        ).fetchall()
    )
    for path in graph_paths():
        got = sorted(tuple(r) for r in label_propagation(df, rounds=3).collect())
        assert got == want, path


def test_truss_core_early_stop_is_result_identical(spark, graph_paths):
    """Fixed-point early stop: running MORE rounds than the peel depth
    returns exactly the converged result (triangle graph is its own
    3-truss / 2-core fixed point from round 1, so rounds=5 must equal
    rounds=1 output). The early stop lives in the distributed rounds; the
    replay must give the same answers."""
    from arc_cassandra_pipeline_plugin_spark.operators import graph as G

    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], "src string, dst string"
    )
    for path in graph_paths():
        t1 = {tuple(r) for r in G.ktruss_edges(tri, k=3, rounds=1).collect()}
        t5 = {tuple(r) for r in G.ktruss_edges(tri, k=3, rounds=5).collect()}
        assert t1 != set() and t5 == {
            tuple(r) for r in G.ktruss_edges(tri, k=3, rounds=2).collect()
        }, path
        # after the pendant edge (a, d) peels, rounds 2.. are the fixed point
        assert {(r[0], r[1]) for r in t5} == {("a", "b"), ("a", "c"), ("b", "c")}, path

        c1 = {tuple(r) for r in G.kcore_vertices(tri, k=2, rounds=1).collect()}
        c5 = {tuple(r) for r in G.kcore_vertices(tri, k=2, rounds=5).collect()}
        assert c5 == {
            tuple(r) for r in G.kcore_vertices(tri, k=2, rounds=3).collect()
        }, path
        assert {r[0] for r in c5} == {"a", "b", "c"} and len(c1) >= len(c5), path


def test_ann_recall_floors_on_sf1_twin(spark):
    """r6 verdict item 5: ANN recall probed at sf1 corpus density (20k
    vectors — recall degrades with density, so small-SF floors are not
    evidence). Floors are asserted on the planted-near-neighbor probe
    (deterministic near-dup queries, cos ~ 0.96 to their source — the
    production retrieval semantics); uniform-query recall on i.i.d.
    random vectors is the known ANN worst case and is recorded as a curve
    in SCALING.md instead. Multi-table OR-amplification (lsh_topk
    n_tables, r7) is the recall lever under test."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.ann_recall_probe import (
        ensure_sf1_twin,
        planted_queries,
        planted_recall_at_1,
    )
    from arc_cassandra_pipeline_plugin_spark.sources import load_table

    sf1 = ensure_sf1_twin()
    emb = load_table(spark, sf1, "embeddings")
    pq = planted_queries(emb)

    bf = planted_recall_at_1(S.brute_force_topk(emb, pq, k=1).collect())
    assert bf == 1.0, f"planted ground truth broken: brute force {bf}"

    l2 = planted_recall_at_1(
        S.lsh_topk(emb, pq, k=1, dim=64, n_planes=8, n_tables=2).collect()
    )
    assert l2 >= 0.8, f"LSH n_tables=2 planted recall@1 {l2} < 0.8"
    l4 = planted_recall_at_1(
        S.lsh_topk(emb, pq, k=1, dim=64, n_planes=8, n_tables=4).collect()
    )
    assert l4 >= 0.9, f"LSH n_tables=4 planted recall@1 {l4} < 0.9"
    assert l4 >= l2 - 1e-9, "more tables must not lose recall"

    ivf = planted_recall_at_1(
        S.ivf_topk(emb, pq, k=1, n_clusters=16, n_probe=6).collect()
    )
    assert ivf >= 0.9, f"IVF 16c/6p planted recall@1 {ivf} < 0.9"


def test_lsh_topk_single_table_unchanged_and_multitable_superset(spark):
    """n_tables=1 must be the pre-r7 plan exactly (certified oracle rides
    on it); n_tables=4 candidates are a superset per query, so its top-k
    cosine at each rank is >= the single-table top-k cosine."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    one = S.lsh_topk(emb, q, k=5, dim=64, n_planes=8, n_tables=1)
    multi = S.lsh_topk(emb, q, k=5, dim=64, n_planes=8, n_tables=4)
    a = {(r.query_id, r.rank): r.cosine for r in one.collect()}
    b = {(r.query_id, r.rank): r.cosine for r in multi.collect()}
    for key, cos1 in a.items():
        assert key in b and b[key] >= cos1 - 1e-12, (key, cos1, b.get(key))


def test_jpeg_codec_exact_on_block_constant_and_bounded_on_general():
    from arc_cassandra_pipeline_plugin_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    # certified subset: block-constant images roundtrip EXACTLY (DC-only
    # transform, quantizer step 8) — including partial edge blocks
    for i in (0, 3, 14, 39, 255, 12345):
        w, h = 8 + i % 8, 8 + i % 5
        px = [(3 * i + 7 * (x // 8) + 11 * (y // 8)) % 256 for y in range(h) for x in range(w)]
        assert decode_jpeg_gray(encode_jpeg_gray(w, h, px)) == (w, h, px)

    # general path: lossy, but dims exact and error bounded by the quant
    # tables (AC step 16 → worst-case block error far below full range)
    import random

    rnd = random.Random(7)
    for w, h in ((19, 13), (8, 8), (24, 16), (9, 23)):
        px = [rnd.randrange(256) for _ in range(w * h)]
        gw, gh, got = decode_jpeg_gray(encode_jpeg_gray(w, h, px))
        assert (gw, gh) == (w, h)
        diffs = [abs(a - b) for a, b in zip(px, got)]
        assert max(diffs) <= 64 and sum(diffs) / len(diffs) <= 12

    # gradients exercise nonzero ACs, ZRL-free long runs and DC deltas
    w, h = 16, 16
    px = [min(255, x * 8 + y * 4) for y in range(h) for x in range(w)]
    gw, gh, got = decode_jpeg_gray(encode_jpeg_gray(w, h, px))
    assert max(abs(a - b) for a, b in zip(px, got)) <= 48


def test_jpeg_decoder_rejects_malformed():
    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray(10, 9, [(x + y) % 256 for y in range(9) for x in range(10)])
    with _pytest.raises(ValueError):
        decode_jpeg_gray(b"\x00\x01" + good[2:])  # no SOI
    with _pytest.raises(ValueError):
        decode_jpeg_gray(good[:20])  # truncated segments
    with _pytest.raises(ValueError):
        # SOF0 swapped for progressive SOF2
        decode_jpeg_gray(good.replace(b"\xff\xc0", b"\xff\xc2", 1))
    # truncated entropy stream: chop before EOI
    with _pytest.raises(ValueError):
        decode_jpeg_gray(good[: len(good) // 2])


def test_jpeg_features_match_python(spark):
    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    ids = spark.range(40).selectExpr("id AS doc_id")
    rows = {
        r["asset_id"]: r
        for r in M.jpeg_features(M.synthesize_jpeg_assets(ids)).collect()
    }
    for i in range(40):
        w, h = 8 + i % 8, 8 + i % 5
        px = [(3 * i + 7 * (x // 8) + 11 * (y // 8)) % 256 for y in range(h) for x in range(w)]
        r = rows[i]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert r["mean_gray"] == round(sum(px) / (w * h), 6)


def test_jpeg_color_codec_exact_on_mcu_constant_and_bounded_on_general():
    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    # palette integrity: 64 screened colors, exact model in range
    assert len(M._JPEG_COLOR_SRC) == len(M._JPEG_COLOR_DEC) == 64
    for s, d in zip(M._JPEG_COLOR_SRC, M._JPEG_COLOR_DEC):
        assert M._jpeg_color_decode_exact(s) == d
        assert all(0 <= v <= 255 for v in d)

    # certified subset: MCU-constant corpus decodes to the exact-fraction
    # model of each palette color — incl. partial MCUs on both axes
    for i in (0, 5, 16, 33, 150, 99999):
        w, h = 16 + i % 17, 16 + i % 9
        src = [
            M._JPEG_COLOR_SRC[(3 * i + 5 * (x // 16) + 7 * (y // 16)) % 64]
            for y in range(h)
            for x in range(w)
        ]
        want = [
            M._JPEG_COLOR_DEC[(3 * i + 5 * (x // 16) + 7 * (y // 16)) % 64]
            for y in range(h)
            for x in range(w)
        ]
        got = M.decode_jpeg_color(M.encode_jpeg_color(w, h, src))
        assert got == (w, h, want)

    # general path: lossy but dims exact and smooth-content error bounded
    w, h = 32, 24
    px = [
        (min(255, x * 6 + y), min(255, 60 + x * 2 + y * 3), min(255, 200 - x * 3))
        for y in range(h)
        for x in range(w)
    ]
    gw, gh, got = M.decode_jpeg_color(M.encode_jpeg_color(w, h, px))
    assert (gw, gh) == (w, h)
    errs = [max(abs(a - b) for a, b in zip(p, q)) for p, q in zip(px, got)]
    assert max(errs) <= 64 and sum(errs) / len(errs) <= 16


def test_jpeg_color_decoder_rejects_malformed_and_gates_layout():
    import pytest as _pytest

    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    color = M.encode_jpeg_color(17, 18, [(10, 200, 30)] * (17 * 18))
    gray = M.encode_jpeg_gray(10, 9, [(x + y) % 256 for y in range(9) for x in range(10)])
    with _pytest.raises(ValueError):
        M.decode_jpeg_color(b"\x00\x01" + color[2:])  # no SOI
    with _pytest.raises(ValueError):
        M.decode_jpeg_color(color[:24])  # truncated segments
    with _pytest.raises(ValueError):
        M.decode_jpeg_color(color.replace(b"\xff\xc0", b"\xff\xc2", 1))  # progressive
    with _pytest.raises(ValueError):
        M.decode_jpeg_color(color[: len(color) // 2])  # truncated entropy
    with _pytest.raises(ValueError):
        M.decode_jpeg_color(gray)  # 1-component payload → gray decoder's job
    with _pytest.raises(ValueError):
        M.decode_jpeg_gray(color)  # 3-component payload → color decoder's job
    # 4:4:4 layout (sampling 0x11 on Y) is gated, not mis-decoded
    bad = color.replace(bytes([1, 0x22, 0]), bytes([1, 0x11, 0]), 1)
    with _pytest.raises(ValueError):
        M.decode_jpeg_color(bad)


def test_jpeg_color_features_match_python(spark):
    from arc_cassandra_pipeline_plugin_spark.operators import multimodal as M

    ids = spark.range(30).selectExpr("id AS doc_id")
    rows = {
        r["asset_id"]: r
        for r in M.jpeg_color_features(M.synthesize_jpeg_color_assets(ids)).collect()
    }
    for i in range(30):
        w, h = 16 + i % 17, 16 + i % 9
        dec = [
            M._JPEG_COLOR_DEC[(3 * i + 5 * (x // 16) + 7 * (y // 16)) % 64]
            for y in range(h)
            for x in range(w)
        ]
        r = rows[i]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert r["sum_r"] == sum(p[0] for p in dec)
        assert r["sum_g"] == sum(p[1] for p in dec)
        assert r["sum_b"] == sum(p[2] for p in dec)
        assert r["sig"] == sum(
            (p + 1) * (c[0] + 256 * c[1] + 65536 * c[2]) for p, c in enumerate(dec)
        )
