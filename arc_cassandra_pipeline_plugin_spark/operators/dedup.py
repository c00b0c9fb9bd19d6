"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale notes (the design target is ~100 TB of documents on 1000 executors):

- **Exact**: one hash-shuffle on the 16-byte fingerprint, never on the text
  itself — group keys stay tiny regardless of document size.
- **MinHash+LSH**: signatures are computed in a single projection per
  document (explode shingles → groupBy doc → min per permutation is ONE
  shuffle keyed by doc_id); banding turns the quadratic pair problem into a
  shuffle keyed by (band, band_hash) where only same-bucket docs meet. The
  candidate self-join joins on the band key, so Catalyst plans a shuffled
  hash join on a well-distributed key instead of a cartesian product.
- **SimHash**: pure projection to a 64-bit code; near-dup = same code
  bucket (or banded sub-codes), again linear shuffle volume.
- **n-gram Jaccard** is the *verify* step run only on LSH candidates —
  never on all pairs.

Hashing uses md5-hex prefixes throughout so every step is certified against
the DuckDB oracle (see queries.dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arc_cassandra_pipeline_plugin_spark.functions import (
    checkpoint_sized,
    driver_rows,
    ensure_parallelism,
    hex_hash64,
    small_df,
)


def normalize_text(col: F.Column) -> F.Column:
    """Canonical text form shared by all dedup flavors: lowercased, trimmed,
    whitespace collapsed."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: keep the smallest id per normalized-text
    fingerprint. Shuffles 16-byte keys, not documents."""
    h = hex_hash64(normalize_text(F.col(text_col)), 32).alias("content_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_rows(
    df: DataFrame, text_col: str, id_col: str, k: int, distinct: bool = False
) -> DataFrame:
    """(id, shingle) rows: normalize once, explode the position sequence,
    one codegen'd ``substring`` per row. ``distinct=True`` dedupes per-doc
    shingle sets (needed for Jaccard set sizes; MinHash minima are
    duplicate-insensitive so that work is skipped).

    The distinct is ROW-LOCAL (``array_distinct`` over the per-doc shingle
    array, then explode) — the dedup key is (id, shingle), so no row can
    collide across documents and a global ``dropDuplicates`` shuffle adds
    nothing (guide §2.4). The shuffle it replaces also sabotaged
    consumers: AQE coalesced the small exchange to one partition, so e.g.
    the audit's shingle self-join — whose work is quadratic in hot-shingle
    groups, far larger than its input bytes — ran single-task."""
    normed = ensure_parallelism(
        df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("t"))
    )
    if distinct:
        arr = F.expr(
            f"array_distinct(transform("
            f"sequence(1, greatest(length(t) - {k - 1}, 1)),"
            f" i -> substring(t, i, {k})))"
        )
        return normed.select(id_col, F.explode(arr).alias("shingle"))
    pos = normed.select(
        id_col,
        "t",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("t") - F.lit(k - 1), F.lit(1)))
        ).alias("i"),
    )
    return pos.select(id_col, F.expr(f"substring(t, i, {k})").alias("shingle"))


#: affine-permutation constants for MinHash: mh_p = (A(p)·h + B(p)) mod P
#: with h the 32-bit md5-prefix base hash. A(p) stays < 2^24 so A·h < 2^56
#: — no 64-bit overflow in either engine. P is the smallest prime > 2^32.
MINHASH_P = 4294967311


def minhash_coeffs(p: int) -> tuple[int, int]:
    return 1_000_003 * p + 17, 999_983 * p + 31


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash signature per document: ONE md5 per shingle (the expensive
    op), then ``num_perm`` cheap affine permutations of the 32-bit base
    hash; signature element p is the min over shingles. Integer arithmetic
    is identical in DuckDB, so the oracle mirrors it exactly.

    Computed ROW-LOCALLY (base hashes as one array projection, each
    signature element an ``array_min`` over an affine ``transform``) —
    zero shuffle, where the previous explode → groupBy(doc).agg(min × 16)
    moved every (doc, shingle-hash) row through an exchange just to
    rebuild per-doc minima (guide §2.4, same class as the setsim docsets
    fix). Exact equivalence: min over exploded rows == array_min over the
    array (duplicates and NULL md5-of-NULL rows affect neither); the
    shingle position sequence is the identical expression, so empty/NULL
    documents produce the identical (possibly NULL) signature rows. The
    base-hash array is materialized in its own projection and referenced
    by ``num_perm`` cheap transforms — CollapseProject keeps non-cheap
    multi-referenced aliases separate, so the md5 still runs once per
    shingle (asserted in pytest via the plan's md5 count).
    """
    k = shingle_k
    normed = ensure_parallelism(
        df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("t"))
    )
    harr = F.expr(
        f"transform(sequence(1, greatest(length(t) - {k - 1}, 1)),"
        f" i -> cast(conv(substring(md5(substring(t, i, {k})), 1, 8), 16, 10)"
        f" as bigint))"
    )
    sel = [F.col(id_col)]
    for p in range(num_perm):
        a, b = minhash_coeffs(p)
        sel.append(
            F.array_min(
                F.expr(f"transform(harr, h -> (h * {a}L + {b}L) % {MINHASH_P}L)")
            ).alias(f"mh_{p}")
        )
    return normed.select(F.col(id_col), harr.alias("harr")).select(*sel)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    materialize: bool = True,
    salt_buckets: int = 16,
    skew_threshold: int = 5000,
) -> DataFrame:
    """Band the signature (``bands`` bands × ``num_perm/bands`` rows) and
    emit candidate pairs sharing any band. The self-join key is
    (band_id, band_hash) — high cardinality, so the shuffle distributes.
    Pairs are deduplicated and oriented (a < b).

    ``materialize`` (default) snapshots the banded rows before the
    self-join: Catalyst does NOT reuse the exchange across the two sides of
    a self-join here, so without it the entire upstream signature pipeline
    (shingle explode + md5) runs twice — measured 2 FileScans of the
    corpus. At 100 TB that is the difference between one and two passes
    over the most expensive stage.

    **Degenerate-bucket salting** (``salt_buckets`` > 0): a near-clique
    corpus (thousands of near-identical docs — boilerplate, mirrored
    pages) puts every doc into ONE (band_id, band_hash) bucket, and the
    equi-join degrades to a single-reducer quadratic task. Buckets whose
    row count reaches ``skew_threshold`` are split: the left side gets a
    deterministic salt ``xxhash64(id) % salt_buckets`` and the right side
    is replicated once per salt value — so each (l, r) pair still meets
    exactly once (on the left row's salt), but the hot bucket's work
    spreads across ``salt_buckets`` reducers. Cold buckets join with
    salt 0 on both sides and are not replicated. The candidate set is
    identical to the unsalted join; set ``salt_buckets=0`` to disable."""
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}); "
            "trailing permutations would be silently dropped, weakening LSH recall"
        )
    rows_per_band = num_perm // bands
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)])
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = signatures.select(F.col(id_col), *band_cols)
    stacked = banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band_{b}").alias("band_hash"))
                for b in range(bands)
            ])
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")
    if materialize:
        # lazy checkpoint: when the skew probe below runs, ITS job
        # materializes the checkpoint blocks — the probe rides the
        # materialization pass instead of paying a separate job
        # (an eager checkpoint + probe was two jobs; measured as the
        # r3 bench uptick on this operator)
        stacked = stacked.localCheckpoint(eager=salt_buckets <= 1)
    if salt_buckets > 1:
        # hot-bucket detection is one cheap agg over the checkpointed
        # banded rows; the hot set is bounded by n_rows/skew_threshold
        # buckets, so it broadcasts
        hot = (
            stacked.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") >= skew_threshold)
            .select("band_id", "band_hash", F.lit(True).alias("_hot"))
        )
        # healthy corpora have NO hot bucket — probe once (map-side-combined
        # agg that doubles as the checkpoint materialization) and keep the
        # plain 2-key join, instead of dragging salt columns and a
        # replication explode through every run
        if materialize and hot.isEmpty():
            salt_buckets = 0
    if salt_buckets > 1:
        tagged = stacked.join(
            F.broadcast(hot), ["band_id", "band_hash"], "left"
        ).withColumn("_hot", F.coalesce(F.col("_hot"), F.lit(False)))
        left = tagged.withColumn(
            "_salt",
            F.when(
                F.col("_hot"),
                ((F.xxhash64(F.col(id_col)) % salt_buckets + salt_buckets) % salt_buckets).cast("int"),
            ).otherwise(F.lit(0)),
        ).drop("_hot")
        right = tagged.withColumn(
            "_salt",
            F.explode(
                F.when(
                    F.col("_hot"),
                    F.sequence(F.lit(0), F.lit(salt_buckets - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        ).drop("_hot")
        l, r = left.alias("l"), right.alias("r")
        join_cond = [
            F.col("l.band_id") == F.col("r.band_id"),
            F.col("l.band_hash") == F.col("r.band_hash"),
            F.col("l._salt") == F.col("r._salt"),
            F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
        ]
    else:
        l, r = stacked.alias("l"), stacked.alias("r")
        join_cond = [
            F.col("l.band_id") == F.col("r.band_id"),
            F.col("l.band_hash") == F.col("r.band_hash"),
            F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
        ]
    return (
        l.join(r, on=join_cond)
        .select(F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard similarity over character n-gram sets, computed
    distributively: explode distinct shingles, count per-doc set sizes,
    equi-join on shingle to count intersections — |A∪B| = |A|+|B|-|A∩B|.

    When ``pairs`` (e.g. LSH candidates) is given, only those pairs are
    scored; otherwise all same-shingle pairs that share ≥1 shingle.
    """
    # sh feeds THREE consumers (sizes + both self-join sides); without the
    # snapshot Catalyst re-runs the shingle explode + distinct shuffle per
    # consumer (A/B: 1.90 s -> 1.55 s on 300 docs at sf0.1, same output;
    # at 100 TB it's one corpus pass instead of three)
    sh = shingle_rows(df, text_col, id_col, shingle_k, distinct=True).localCheckpoint(
        eager=True
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), on=[F.col("a.shingle") == F.col("b.shingle"),
                                 F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    if pairs is not None:
        inter = inter.join(pairs, on=["doc_a", "doc_b"], how="inner")
    scored = (
        inter.join(sizes.withColumnsRenamed({id_col: "doc_a", "set_size": "size_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({id_col: "doc_b", "set_size": "size_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .select("doc_a", "doc_b", "jaccard")
    )
    if threshold > 0.0:
        scored = scored.filter(F.col("jaccard") >= threshold)
    return scored


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-token 64-bit hash from the
    md5 prefix; each bit contributes +1/-1; sign of the per-bit sum forms the
    code. Computed ROW-LOCALLY (the per-doc token set is already on the row;
    the old explode → groupBy(doc) shape shuffled a 60-wide ±1 array per
    TOKEN occurrence just to rebuild per-doc sums — guide §2.4, same class
    as the minhash-signature rewrite). Exact: integer sums are order-free;
    docs with zero tokens are dropped exactly as the explode dropped them.
    The md5 is materialized once per token in its own projection (``harr``)
    before the 60 per-bit aggregates reference it."""
    toks = F.expr("filter(split(t, ' '), x -> length(x) > 0)")
    harr = F.expr(
        "transform(toks, x ->"
        " CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT))"
    )
    # sign of the per-bit sum over tokens → bit b of the code; one fold per
    # bit over the shared hash array (same 60·|tokens| adds the groupBy
    # paid, without materializing a 60-wide array per token row)
    code = F.expr(
        "aggregate(sequence(0, 59), CAST(0 AS BIGINT), (code, b) ->"
        " code + CASE WHEN aggregate(harr, 0L, (acc, h) ->"
        "   acc + CASE WHEN (h div shiftleft(CAST(1 AS BIGINT), b)) % 2 = 1"
        "   THEN 1 ELSE -1 END) > 0"
        " THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END)"
    )
    return (
        ensure_parallelism(
            df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("t"))
        )
        .select(F.col(id_col), toks.alias("toks"))
        .filter(F.size("toks") >= 1)
        .select(F.col(id_col), harr.alias("harr"))
        .select(F.col(id_col), code.alias("simhash"))
    )


def _labels_df(spark, labels: dict, key_type: T.DataType) -> DataFrame:
    """(doc_id, cluster_id) frame of a driver-replayed labeling, keyed by
    the input id type."""
    schema = T.StructType(
        [T.StructField("doc_id", key_type), T.StructField("cluster_id", key_type)]
    )
    ordered = sorted(labels, key=lambda v: (v is None, v))
    return small_df(spark, [(v, labels[v]) for v in ordered], schema)


def _min_label_replay(rows: list, max_iter: int) -> tuple[dict, bool]:
    """Driver replay of :func:`connected_components`'s synchronous rounds
    over its collected edge list: every node takes the minimum label over
    itself and its neighbors, with the distributed path's equi-join NULL
    semantics (a NULL never propagates and keeps a NULL label), the same
    ``max_iter`` and the same any-label-changed convergence test.
    Returns (node -> label, converged)."""
    adj: dict = {}
    for s, d in rows:
        nbrs = adj.setdefault(s, [])
        if s is not None and d is not None:
            nbrs.append(d)
    label = {v: v for v in adj}
    for _ in range(max_iter):
        new = {v: min([label[v]] + [label[d] for d in nbrs]) for v, nbrs in adj.items()}
        if new == label:
            return label, True
        label = new
    return label, False


def connected_components(
    pairs: DataFrame,
    col_a: str = "doc_a",
    col_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Group candidate-duplicate pairs into clusters: returns
    ``(doc_id, cluster_id)`` where ``cluster_id`` is the minimum doc id in
    the connected component. Singletons (docs in no pair) are not emitted.

    Implementation: synchronous min-label propagation — each round every
    node takes the minimum label over itself and its (symmetrized)
    neighbors, converging in O(diameter) rounds; the loop stops at the
    first round that changes nothing. The symmetrized, distinct edge list
    is materialized once (eager ``localCheckpoint``, whose Observation
    also counts it). When ``functions.driver_rows`` admits it the rounds
    replay on the driver over one collect of that checkpoint — same
    rounds, same ``max_iter``, same convergence test and warning, so even
    an unconverged run returns the distributed path's labels. Otherwise
    each round is one Spark job: an equi-join + groupBy on the node id,
    with the change count riding the round's ``localCheckpoint`` (which
    also cuts the iterative lineage). For web-scale, long-diameter graphs
    prefer :func:`connected_components_star`.

    NULL ids follow the equi-join semantics: a NULL never propagates a
    label, and a NULL id is emitted as one ``(NULL, NULL)`` row.
    """
    from pyspark.sql import Observation

    obs = Observation()
    edges = (
        pairs.select(F.col(col_a).alias("src"), F.col(col_b).alias("dst"))
        .union(pairs.select(F.col(col_b).alias("src"), F.col(col_a).alias("dst")))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        # materialize once: the driver replay collects it, and past the
        # cap every round runs 2 actions over it; without this the
        # upstream pair pipeline (e.g. the whole MinHash+LSH chain) would
        # be recomputed 2x per round
        .localCheckpoint(eager=True)
    )
    rows = driver_rows(edges, obs.get["n"])
    if rows is not None:
        label, converged = _min_label_replay(rows, max_iter)
        out = _labels_df(pairs.sparkSession, label, edges.schema[0].dataType)
    else:
        labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
            "label", F.col("id")
        )
        converged = False
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            candidate = labels.join(
                neighbor_min, labels.id == neighbor_min.src, "left"
            ).select(
                "id",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            # convergence check rides the materialization action — one
            # Spark job per round, not two
            obs = Observation()
            candidate = candidate.observe(
                obs,
                F.sum((F.col("label") != F.col("old_label")).cast("long")).alias("n_changed"),
            )
            labels = candidate.drop("old_label").localCheckpoint(eager=True)
            if (obs.get["n_changed"] or 0) == 0:
                converged = True
                break
        out = labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components stopped at max_iter={max_iter} without "
            "converging: labels may not be the full transitive closure "
            "(long-diameter graph — raise max_iter or switch to "
            "large-star/small-star)",
            RuntimeWarning,
            stacklevel=2,
        )
    return out


def incremental_dedup(
    new_docs: DataFrame,
    known_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Dedup a new crawl batch against an existing corpus: drop rows whose
    content hash is already in ``known_hashes`` (left-anti join on the
    16-byte fingerprint), then exact-dedup within the surviving batch.

    The incremental shape a training pipeline actually runs: the known-hash
    set is tiny relative to the corpus text (32 hex chars/doc), so the
    anti-join shuffles fingerprints only — or broadcasts them when the
    known set fits. Returns (content_hash, keep_id, n_copies) like
    :func:`exact_dedup`."""
    hashed = new_docs.select(
        F.col(id_col),
        hex_hash64(normalize_text(F.col(text_col)), 32).alias(hash_col),
    )
    fresh = hashed.join(
        known_hashes.select(hash_col).distinct(), on=hash_col, how="left_anti"
    )
    return fresh.groupBy(hash_col).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


#: round cap of :func:`connected_components_star` — the operator's default
#: and the one ``events_grid_dbscan`` replays its cell graph under
STAR_MAX_ITER = 30


def _star_replay(pairs, max_iter: int) -> tuple[dict, bool]:
    """Driver replay of :func:`connected_components_star`'s rounds over a
    collected pair list — the one driver CC of the star operator and of
    the queries that replay it over their own collect. Pairs holding a
    NULL and self-loops are dropped and the rest symmetrized, as the
    operator's edge checkpoint does; then the same large-star then
    small-star re-links run under the same ``max_iter``. The fixed point
    is tested on the exact edge set, which the distributed path detects
    through its (count, bit_xor) checksum of that set. Returns (node ->
    component label, converged); a node of no edge is absent. A caller
    that is not converged warns through :func:`_warn_star_unconverged`."""

    def sym(es) -> set:
        return {(u, v) for u, v in es if u != v} | {(v, u) for u, v in es if u != v}

    e = sym([(u, v) for u, v in pairs if u is not None and v is not None])
    converged = False
    for _ in range(max_iter):
        m: dict = {}
        for u, v in e:
            m[u] = min(m.get(u, u), v)
        e1 = sym({(v, m[u]) for u, v in e if v > u})
        ms: dict = {}
        for u, v in e1:
            if v < u:
                ms[u] = min(ms[u], v) if u in ms else v
        new = sym({(v, ms[u]) for u, v in e1 if v < u} | set(ms.items()))
        if new == e:
            converged = True
            break
        e = new
    label: dict = {}
    for u, v in e:
        label[u] = min(label.get(u, u), v)
    return label, converged


def _warn_star_unconverged(max_iter: int) -> None:
    """Called from the body of the function whose caller the warning
    should name: the operator or the query that ran the rounds."""
    import warnings

    warnings.warn(
        f"connected_components_star did not reach a fixed point in "
        f"{max_iter} rounds (O(log n) expected — check for pathological input)",
        RuntimeWarning,
        stacklevel=3,
    )


def connected_components_star(
    pairs: DataFrame,
    col_a: str = "doc_a",
    col_b: str = "doc_b",
    max_iter: int = STAR_MAX_ITER,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds on ANY graph, vs O(diameter) for the
    plain min-label propagation in :func:`connected_components`. Same
    output contract: (doc_id, cluster_id = component-min id), singletons
    not emitted; self-loops and pairs with a NULL id are dropped.

    Per round, each op is one groupBy(min) + one join on the node id:

    - large-star: every neighbor v > u re-links to m(u) = min(N(u) ∪ {u})
    - small-star: every neighbor v <= u (and u itself) re-links to
      m = min({v in N(u): v <= u} ∪ {u})

    Both preserve connectivity and monotonically contract the graph onto
    component-min stars; convergence = edge set fixed point.

    The symmetrized edge list is materialized once (eager
    ``localCheckpoint``) with its count observed. When
    ``functions.driver_rows`` admits it the rounds replay on the driver
    over one collect of that checkpoint (same ``max_iter``, same
    fixed-point test, same warning). Otherwise each round is one Spark job
    continuing from the same checkpoint: lineage is cut per round
    (localCheckpoint) and the fixed point is detected with a count +
    order-insensitive bit_xor checksum that RIDES the round's materialization via
    Observation (xor cannot overflow, unlike sum under ANSI mode).
    """
    from pyspark.sql import Observation

    def _symmetrize(e: DataFrame) -> DataFrame:
        return (
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _checkpoint_signed(e: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
        obs = Observation()
        observed = e.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("sig"),
        )
        out = observed.localCheckpoint(eager=True)
        return out, (obs.get["n"], obs.get["sig"])

    edges, sig = _checkpoint_signed(
        pairs.select(F.col(col_a).alias("u"), F.col(col_b).alias("v"))
        .union(pairs.select(F.col(col_b).alias("u"), F.col(col_a).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    rows = driver_rows(edges, sig[0])
    if rows is not None:
        label, converged = _star_replay(rows, max_iter)
        if not converged:
            _warn_star_unconverged(max_iter)
        return _labels_df(pairs.sparkSession, label, edges.schema[0].dataType)
    for _ in range(max_iter):
        # large-star: m(u) over the FULL neighborhood; re-link big neighbors
        m_large = edges.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            edges.filter(F.col("v") > F.col("u"))
            .join(m_large, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # LAZY mid-round checkpoint: the large-star output feeds the
        # small-star half of the SAME job (one scheduler floor per
        # round, not two), while the lazy pin keeps one RDD identity
        # for the three small-star references so the large-star
        # subtree is not recomputed per reference
        edges = _symmetrize(large).localCheckpoint(eager=False)

        # small-star: m over the small-side neighborhood (v <= u) plus u
        small_side = edges.filter(F.col("v") < F.col("u"))
        m_small = small_side.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            small_side.join(m_small, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m_small.select(F.col("u"), F.col("m").alias("v")))
        )
        edges, new_sig = _checkpoint_signed(_symmetrize(relink))

        if new_sig == sig:
            break
        sig = new_sig
    else:
        _warn_star_unconverged(max_iter)
    # fixed point is a star forest: every node's min neighbor IS the
    # component min; emit center nodes too (they neighbor their satellites)
    labels = edges.groupBy("u").agg(F.min("v").alias("m"))
    return labels.select(
        F.col("u").alias("doc_id"),
        F.least(F.col("u"), F.col("m")).alias("cluster_id"),
    )


#: all-pairs bitmask verification is gated on the vocabulary fitting a
#: fixed number of 64-bit words (16 longs = 1024 distinct tokens); beyond
#: that the prefix path is used regardless of rep count.
_SETSIM_BITMASK_VOCAB_MAX = 1024

#: a prefix-join candidate row costs at least this many times a branch-free
#: popcount pair eval (shuffle write+read, distinct hash, verify join vs a
#: few codegen'd long ops) — measured on the sf1 twin: 350M candidate rows
#: ≈ 57 s vs 774M pair evals ≈ 4 s on the same 32 cores (>200×; 16 is a
#: deliberately conservative floor so sparse corpora keep the prefix path)
_SETSIM_ALLPAIRS_COST_FACTOR = 16

#: the all-pairs sweep broadcasts the mask table to every executor; cap its
#: payload (reps × (mask words + id/size) × 8 bytes) well under Spark's
#: broadcast limits so the adaptive choice can never pick an un-shippable
#: plan on a real cluster
_SETSIM_BITMASK_BROADCAST_MAX = 64 << 20


def _setsim_small_vocab(reps: DataFrame) -> list | None:
    """Distinct token list over the representative sets when it fits the
    bitmask gate, else ``None``. ONE bounded job — ``limit(MAX+1)`` collect
    of the distinct tokens — instead of the previous count job PLUS a
    second distributed evaluation of the distinct for the dictionary build.
    Driver state is capped at ``_SETSIM_BITMASK_VOCAB_MAX + 1`` short
    strings (control-plane sized, like the IVF centroid collect), and
    LimitPushDown caps every PARTIAL at the same bound, so executor state
    stays bounded even on an adversarial vocabulary (a one-row
    ``collect_set`` aggregate would merge the whole vocabulary into a
    single buffer — rejected for that reason)."""
    rows = (
        reps.select(F.explode("arr").alias("token"))
        .distinct()
        .limit(_SETSIM_BITMASK_VOCAB_MAX + 1)
        .collect()
    )
    if len(rows) > _SETSIM_BITMASK_VOCAB_MAX:
        return None
    return sorted(r["token"] for r in rows)


def _setsim_allpairs_bitmask(
    reps: DataFrame,
    members: DataFrame,
    vocab_tokens: list,
    threshold_pct: int,
    verify_ok: F.Column,
    jaccard_of_c: F.Column,
    id_col: str,
) -> DataFrame:
    """All-pairs verification for the dense-template regime (small distinct
    rep count AND small vocabulary): each rep's token set becomes a fixed
    bitmask of ``ceil(V/64)`` longs under a dense token dictionary, and the
    overlap of a pair is ``sum(bit_count(a & b))`` — branch-free codegen'd
    long arithmetic, no per-pair allocation, no shuffle. A broadcast
    nested-loop join sweeps every ``ra < rb`` pair surviving the exact size
    gate ``100*min(ma,mb) >= t_pct*max(ma,mb)`` (max possible Jaccard is
    min/max)."""
    n_vocab = len(vocab_tokens)
    # max(1, ..): an all-empty-document corpus has an empty vocabulary, and
    # groupBy().agg() requires at least one aggregate expression
    n_words = max(1, (n_vocab + 63) // 64)
    # dense ids 0..V-1 assigned driver-side in sorted-token order (same ids
    # the previous Window.orderBy(token) row_number produced, without the
    # extra distributed evaluation of the distinct)
    dic = small_df(
        reps.sparkSession,
        [(t, i) for i, t in enumerate(vocab_tokens)],
        "token STRING, tid INT",
    )
    word_aggs = [
        F.expr(
            f"bit_or(if(tid div 64 = {w}, shiftleft(1L, cast(tid % 64 as int)), 0L))"
        ).alias(f"w{w}")
        for w in range(n_words)
    ]
    masks = (
        reps.select("rid", "m", F.explode("arr").alias("token"))
        .join(F.broadcast(dic), "token")
        .groupBy("rid", "m")
        .agg(*word_aggs)
        # spread the nested-loop sweep across every core: upstream AQE
        # typically coalesces this tiny table to ONE partition, which would
        # serialize the R^2/2 scan. No checkpoint: the probe side and the
        # broadcast build each recompute this ~R-row aggregation from the
        # checkpointed reps (~tens of ms), which is cheaper than the extra
        # materialization job + scheduling barrier it replaced (r12)
        .repartition(reps.sparkSession.sparkContext.defaultParallelism)
    )
    left = masks.select(
        F.col("rid").alias("ra"),
        F.col("m").alias("ma"),
        *[F.col(f"w{w}").alias(f"aw{w}") for w in range(n_words)],
    )
    right = F.broadcast(
        masks.select(
            F.col("rid").alias("rb"),
            F.col("m").alias("mb"),
            *[F.col(f"w{w}").alias(f"bw{w}") for w in range(n_words)],
        )
    )
    size_ok = F.lit(100) * F.least("ma", "mb") >= F.lit(threshold_pct) * F.greatest(
        "ma", "mb"
    )
    c = None
    for w in range(n_words):
        term = F.bit_count(F.col(f"aw{w}").bitwiseAND(F.col(f"bw{w}")))
        c = term if c is None else c + term
    passing = (
        left.join(right, (F.col("ra") < F.col("rb")) & size_ok)
        .withColumn("c", c)
        .filter(verify_ok)
        .select("ra", "rb", jaccard_of_c)
    )
    return _setsim_expand(passing, members, id_col, reps)


def word_token_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, token) rows over the DISTINCT word tokens (``[a-z0-9]+`` runs of
    the lowercased text) of each document. Per-document dedup happens
    inside the projection (``array_distinct`` before the explode), so no
    extra shuffle is spent de-duplicating rows."""
    words = F.array_distinct(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
    )
    return ensure_parallelism(df.select(F.col(id_col), words.alias("w"))).select(
        id_col, F.explode("w").alias("token")
    )


def setsim_join_prefix(
    df: DataFrame,
    threshold_pct: int = 70,
    text_col: str = "text",
    id_col: str = "doc_id",
    allpairs_rep_limit: int = 8000,
) -> DataFrame:
    """All document pairs with word-token Jaccard ≥ threshold, found by a
    PREFIX-FILTERING set-similarity join (the PPJoin family) instead of an
    all-pairs comparison.

    Under any global total order on tokens, a pair with Jaccard ≥ t must
    share a token within the first ``m - ceil(t*m) + 1`` tokens of each
    side's sorted token set (prefix-filter guarantee) — so candidates are
    generated by an equi-join on PREFIX tokens only. Ordering tokens by
    ascending corpus frequency makes prefixes consist of the rarest tokens,
    collapsing the candidate count; frequent tokens (the quadratic blowup
    in a naive token join) never enter the join key. Exact |A∩B| is then
    counted only for candidate pairs, and the threshold test is the
    integer cross-multiplication ``100*c >= t_pct*(ma+mb-c)`` — no float
    compare anywhere, so Spark and the oracle cannot disagree on boundary
    pairs.

    Scale shape: token explode (linear) → duplicate-set collapsing → prefix
    equi-join over DISTINCT token sets only → candidate-bounded
    verification → group expansion. threshold_pct is an integer percent
    (70 = Jaccard 0.7) to keep every comparison exact.

    **Duplicate-set collapsing**: web-scale corpora are dominated by
    template cliques — thousands of docs with IDENTICAL token sets. A
    clique of k docs would put k copies of the same rare prefix token into
    the join and k·m rows through verification, all to rediscover k(k-1)/2
    pairs whose Jaccard is 1 by construction. Instead each doc's token set
    is fingerprinted (md5 of the sorted set); the prefix join and exact
    verification run over one REPRESENTATIVE per distinct set, and the
    final pair list is produced by expanding group members — within-group
    pairs at Jaccard 1, cross-group pairs inheriting their representatives'
    Jaccard. Verification work scales with DISTINCT content, not corpus
    size (measured 10× on the sf0.1 near-dup corpus: 87 s → ~8 s).

    **Adaptive strategy** (AQE-style, picked from observed statistics at
    runtime, in two stages):

    1. *Early gate*: when the number of distinct representative sets R is
       at most ``allpairs_rep_limit`` AND the vocabulary fits a fixed
       bitmask (``_SETSIM_BITMASK_VOCAB_MAX`` = 1024 tokens -> 16 longs),
       candidate generation is skipped entirely and every size-compatible
       rep pair is verified under a broadcast nested-loop sweep with
       popcount overlap counting (:func:`_setsim_allpairs_bitmask`) -- one
       codegen pass, zero shuffles.
    2. *Late cost-based re-plan*: when R exceeds the early gate, the
       materialized prefix table's per-token counts give the EXACT raw
       candidate row count the prefix equi-join would emit
       (``sum_t c_t*(c_t-1)/2``). If the all-pairs pair count
       ``R*(R-1)/2`` is cheaper under a conservative exchange rate
       (``_SETSIM_ALLPAIRS_COST_FACTOR`` pair evals per candidate row) and
       the mask table passes the vocabulary + broadcast-byte gates, the
       sweep is chosen anyway -- a dense template corpus does not escape
       the fast path just by growing. Measured on the 10x sf0.1 twin
       (R=39k, V=310): prefix path 57 s -> sweep ~4 s, identical output.

    Prefix filtering is the scale path (R in the millions with a real
    vocabulary), but it cannot beat the output bound when a large fraction
    of pairs truly pass, and hot-token blowup is precisely the
    small-vocabulary regime: on the sf0.1 near-dup corpus (R=3935, V=31
    distinct tokens, 26% of ALL rep pairs passing at t=0.7) the prefix
    join materializes 35M raw candidate rows plus a 12M-row dedup shuffle
    only to rediscover the 2M passing pairs the direct sweep finds with
    branch-free long arithmetic. Small R with a LARGE vocabulary keeps the
    prefix path (rare tokens exist, so the filter is effective); both
    paths produce identical output. ``allpairs_rep_limit <= 0`` disables
    the sweep entirely (used by tests to force the prefix path).
    """
    from pyspark.sql.window import Window

    # per-doc sorted token ARRAY built ROW-LOCALLY (array_sort ∘
    # array_distinct over the tokenizer's array) — zero shuffle, where the
    # previous explode → groupBy(id).collect_set shape moved every token of
    # the corpus through an exchange just to rebuild a set each row already
    # had (guide §2.4: remove shuffles outright). Equivalence: collect_set
    # over the exploded distinct tokens == array_distinct of the token
    # array; both sort ascending; docs with ZERO tokens are dropped exactly
    # as the explode dropped them (size >= 1 filter). The set is carried as
    # the array from here on — later stages never re-explode tokens to
    # count overlaps.
    tokens = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0
    )
    docsets = (
        ensure_parallelism(df.select(F.col(id_col), tokens.alias("toks")))
        .select(
            id_col, F.array_sort(F.array_distinct(F.col("toks"))).alias("arr")
        )
        .filter(F.size("arr") >= 1)
        .select(
            id_col,
            "arr",
            F.size("arr").alias("m"),
            F.md5(F.concat_ws("\x1f", F.col("arr"))).alias("fp"),
        )
    )
    # measured-size checkpoint (functions.checkpoint_sized): the tokenize
    # runs at full-core width, but the materialized set table narrows to
    # ceil(bytes/64MB) partitions so downstream control-plane stages stop
    # paying one task per core for kilobytes of work (the old explode →
    # groupBy build got this sizing for free from AQE's post-shuffle
    # coalescing; measured +26% end-to-end without it). The heavy sweep
    # re-widens itself (_setsim_allpairs_bitmask repartitions masks), and
    # at real scale the measured size keeps the width unchanged.
    docsets = checkpoint_sized(docsets)
    # group identity = min doc id per distinct set — a BIGINT join key
    # (md5 strings as shuffle keys cost ~4× in the multi-million-row
    # candidate join below)
    reps_by_fp = docsets.groupBy("fp").agg(F.min(id_col).alias("rid"))
    members = docsets.join(reps_by_fp, "fp").select(id_col, "rid", "m")
    reps = (
        docsets.join(
            reps_by_fp.withColumnsRenamed({"rid": id_col}).select(id_col),
            id_col,
        )
        .select(F.col(id_col).alias("rid"), "arr", "m")
    )
    from pyspark.sql import Observation

    # the rep count rides the checkpoint materialization action (the
    # connected_components idiom) — one job instead of checkpoint + count
    _obs = Observation()
    reps = reps.observe(_obs, F.count(F.lit(1)).alias("n"))
    # same measured-size rule as docsets: reps inherits docsets' width via
    # the broadcast join (broadcast preserves the streamed side's
    # partitioning), so it needs its own narrowing
    reps = checkpoint_sized(reps)
    jaccard_of_c = F.round(
        F.col("c") / (F.col("ma") + F.col("mb") - F.col("c")), 6
    ).alias("jaccard")
    verify_ok = F.lit(100) * F.col("c") >= F.lit(threshold_pct) * (
        F.col("ma") + F.col("mb") - F.col("c")
    )
    n_reps = int(_obs.get["n"] or 0)  # collected by the checkpoint job
    if 0 < n_reps <= allpairs_rep_limit:
        vocab_tokens = _setsim_small_vocab(reps)
        if vocab_tokens is not None:
            return _setsim_allpairs_bitmask(
                reps, members, vocab_tokens, threshold_pct,
                verify_ok, jaccard_of_c, id_col,
            )
        # small R but large vocabulary: prefix filtering stays effective
        # (hot-token blowup needs a small/skewed vocabulary), fall through
    # rarest-first global token order over representative sets
    rtok = reps.select("rid", F.explode("arr").alias("token"))
    freq = rtok.groupBy("token").agg(F.count(F.lit(1)).alias("tok_freq"))
    w = Window.partitionBy("rid").orderBy("tok_freq", "token")
    ranked = rtok.join(freq, "token").select(
        "rid", "token", F.row_number().over(w).alias("pos")
    )
    # prefix length p = m - ceil(t*m) + 1, with ceil done in exact integer
    # arithmetic: ceil(t_pct*m/100) = (t_pct*m + 99) div 100
    pref_len = (
        F.col("m")
        - F.expr(f"({threshold_pct} * m + 99) div 100")
        + 1
    )
    prefix = (
        ranked.join(reps.select("rid", "m"), "rid")
        .filter(F.col("pos") <= pref_len)
        .select("rid", "token", "pos", "m")
        .localCheckpoint(eager=True)
    )
    # LATE cost-based re-plan (AQE-style, from exact observed statistics):
    # when R exceeded the fast-path gate, the prefix table is already
    # materialized, and its per-token counts give the EXACT number of raw
    # candidate rows the equi-join below would emit: sum_t c_t*(c_t-1)/2.
    # The all-pairs sweep costs R*(R-1)/2 branch-free popcount evals with
    # zero shuffle; a candidate row costs >= _SETSIM_ALLPAIRS_COST_FACTOR
    # pair evals (shuffle + distinct + verify join). Pick the sweep when it
    # is cheaper under that conservative exchange rate AND the mask table
    # fits the vocabulary/broadcast gates. Dense template corpora (small
    # skewed vocabulary, most pairs truly similar) land here no matter how
    # large R grows; sparse corpora keep est_cand << R^2 and stay on the
    # prefix path. allpairs_rep_limit <= 0 disables the sweep entirely.
    if allpairs_rep_limit > 0 and n_reps > allpairs_rep_limit:
        est_cand = (
            prefix.groupBy("token")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("s"))
            .collect()[0][0]
            or 0.0
        )
        pair_work = n_reps * (n_reps - 1) / 2
        if pair_work <= _SETSIM_ALLPAIRS_COST_FACTOR * est_cand:
            vocab_tokens = _setsim_small_vocab(reps)
            if vocab_tokens is not None:
                n_words = (len(vocab_tokens) + 63) // 64
                mask_bytes = n_reps * (n_words + 2) * 8
                if mask_bytes <= _SETSIM_BITMASK_BROADCAST_MAX:
                    return _setsim_allpairs_bitmask(
                        reps, members, vocab_tokens, threshold_pct,
                        verify_ok, jaccard_of_c, id_col,
                    )
    # positional filter (PPJoin): a token match at positions (pa, pb) bounds
    # the overlap by ub = 1 + min(ma-pa, mb-pb); rows whose bound can't
    # reach the threshold are dropped BEFORE the pair-dedup shuffle. Exact:
    # if a pair truly passes, its first shared token (global order) sits in
    # both prefixes at minimal positions, and that row's bound >= the true
    # overlap, so the pair always survives through at least that row.
    ub = F.lit(1) + F.least(F.col("ma") - F.col("pa"), F.col("mb") - F.col("pb"))
    cand = (
        prefix.select(
            F.col("rid").alias("ra"), "token",
            F.col("pos").alias("pa"), F.col("m").alias("ma"),
        )
        .join(
            prefix.select(
                F.col("rid").alias("rb"), "token",
                F.col("pos").alias("pb"), F.col("m").alias("mb"),
            ),
            "token",
        )
        .filter(F.col("ra") < F.col("rb"))
        .filter(
            F.lit(100) * ub
            >= F.lit(threshold_pct) * (F.col("ma") + F.col("mb") - ub)
        )
        .select("ra", "rb")
        .distinct()
    )
    # verification WITHOUT a token-explode join: attach each side's sorted
    # array (rep table is tiny relative to candidates — AQE broadcasts it)
    # and count the overlap with array_intersect in one projection. Exact:
    # the arrays are distinct sets.
    passing = (
        cand.join(
            reps.select(F.col("rid").alias("ra"), F.col("arr").alias("arr_a"),
                        F.col("m").alias("ma")),
            "ra",
        )
        .join(
            reps.select(F.col("rid").alias("rb"), F.col("arr").alias("arr_b"),
                        F.col("m").alias("mb")),
            "rb",
        )
        .withColumn("c", F.size(F.array_intersect("arr_a", "arr_b")))
        .filter(verify_ok)
        .select("ra", "rb", jaccard_of_c)
    )
    return _setsim_expand(passing, members, id_col, reps)


def _setsim_expand(
    passing: DataFrame, members: DataFrame, id_col: str, reps: DataFrame
) -> DataFrame:
    """Expand passing representative pairs back to doc pairs — output-bound
    joins on the group key (AQE skew-join splits the template-clique hot
    groups at runtime); within-group pairs are Jaccard 1 by construction.

    The within-group pairs are exactly the expansion of the IDENTITY rep
    pair (r, r, jaccard 1) under an ``ia < ib`` guard, so both lanes run
    through ONE pair of member joins: augment the passing pairs with the
    identity pairs and filter ``(ra != rb) OR (ia < ib)`` (r12 — the
    previous separate cross/within subtrees cost a third member broadcast
    build job and a second join subtree in the final plan; cross-group
    member ids are distinct so least/greatest normalization is unchanged,
    and within-group expansion keeps each unordered pair once via the
    guard). ``reps`` supplies the rep ids for the identity pairs (already
    checkpointed by the caller — a distinct over members would cost a
    shuffle)."""
    ident = reps.select(
        F.col("rid").alias("ra"),
        F.col("rid").alias("rb"),
        F.round(F.lit(1.0), 6).alias("jaccard"),
    )
    pairs = passing.unionByName(ident)
    ma_ = members.select(F.col("rid").alias("ra"), F.col(id_col).alias("ia"))
    mb_ = members.select(F.col("rid").alias("rb"), F.col(id_col).alias("ib"))
    return (
        pairs.join(ma_, "ra")
        .join(mb_, "rb")
        .filter((F.col("ra") != F.col("rb")) | (F.col("ia") < F.col("ib")))
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            "jaccard",
        )
    )


def editdist_join_prefix(
    df: DataFrame,
    max_dist: int = 1,
    q: int = 3,
    text_col: str = "s",
    id_col: str = "id",
    strategy: str = "auto",
) -> DataFrame:
    """All string pairs within Levenshtein distance ``max_dist``, found by
    blocked candidate generation instead of an all-pairs sweep. Two
    strategies, chosen by the distance bound:

    - ``max_dist == 1``: deletion-neighborhood join
      (:func:`_editdist_join_deletion`, SymSpell family) — provably
      complete and near-output-sized candidates; measured 13× faster than
      the gram path on 15k key-like strings.
    - ``max_dist >= 2``: PREFIX-FILTERED positional q-gram blocking (the
      Ed-Join family, Xiao et al., VLDB'08) — deletion neighborhoods grow
      as C(len, d) keys per string, so the gram path wins for larger
      distances and long strings.

    Gram-path filter chain:

    - *q-gram count bound*: an edit at character position c touches at most
      ``q`` positional gram windows, so at most ``max_dist*q`` of a
      string's positional q-grams are destroyed; every surviving gram
      occurrence reappears in the partner string shifted by at most
      ``max_dist`` positions.
    - *prefix filter*: under one global total order on grams (ascending
      corpus frequency, rarest first — ties broken lexically, then by
      position), a pair within the distance bound must share a gram within
      each side's first ``k+1 = max_dist*q + 1`` positional grams — so
      candidates come from an equi-join on PREFIX grams only, and the
      corpus-hot grams (the quadratic blowup) mostly stay out of the join
      key.
    - *location filter* (Ed-Join's position-aware candidate condition): a
      surviving occurrence pair sits within ``max_dist`` positions, so the
      join additionally requires ``abs(gp_a - gp_b) <= max_dist`` — on
      key-like strings (ids, names with aligned structure) this collapses
      the candidate set by orders of magnitude (measured 10M → 40k
      candidate rows on 15k sequential customer names).
    - *length filter*: ``abs(len(a) - len(b)) <= max_dist`` is necessary
      (each edit changes length by at most 1) and is applied inside the
      candidate join.
    - *gram-bitmap pre-filter*: each string carries a 64-bit bitmap of its
      gram set (``bit = xxhash64(gram) % 64``); a pair within the distance
      bound has gram-set symmetric difference at most ``2*max_dist*q``, and
      hash collisions can only MERGE differing grams (never split equal
      ones), so ``bit_count(ba XOR bb) <= 2*max_dist*q`` is a necessary
      condition — one branch-free long op that discards the bulk of
      candidates before any DP runs (measured 10.4M -> ~0.3M levenshtein
      evals on 15k sequential customer names, 18 s -> ~4 s).
    - *verification*: ``levenshtein(a, b, max_dist)`` — Spark's
      threshold form is banded DP, O(max_dist * len) per pair instead of
      O(len^2), returning -1 past the threshold. Verification runs on the
      RAW join output (a pair repeats at most k+1 times, once per shared
      prefix gram) and the distinct runs on the passing pairs — a
      pre-verify pair-distinct was measured as pure shuffle overhead at a
      1.1× duplication factor.

    Completeness is pinned two ways: the certified query's DuckDB oracle
    is the brute-force all-pairs join (ground truth on the full fixture),
    and the pytest compares against plain-Python Levenshtein over planted
    0/1/2-edit variants plus a randomized corpus.

    Scope: strings shorter than ``q`` characters have no q-grams and are
    excluded (document-id keys and names are far longer in practice; a
    production variant would all-pairs the tiny short-string stratum).

    Scale shape: positional gram explode (linear) → frequency aggregate →
    per-string rarest-(k+1) prefix (partitioned window) → prefix equi-join
    with location+length filters → banded-DP verify → distinct on passing
    pairs. Mirrors :func:`setsim_join_prefix`; the same duplicate-set
    collapsing could be layered on top for corpora dominated by identical
    strings.
    """
    from pyspark.sql.window import Window

    if strategy not in ("auto", "deletion", "gram"):
        raise ValueError(f"unknown editdist strategy {strategy!r}")
    if strategy == "deletion" and max_dist != 1:
        raise ValueError("deletion-neighborhood strategy supports max_dist=1 only")

    k = max_dist * q
    strs = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .filter(F.length(text_col) >= q)
        .select(
            F.col(id_col).alias("rid"),
            F.col(text_col).alias("s"),
            F.length(text_col).alias("len"),
        )
        .localCheckpoint(eager=True)
    )
    # strategy="gram" forces the Ed-Join path at max_dist=1 (result-
    # identical — used by the sf1 A/B probe); "auto" keeps the measured
    # dispatch: deletion neighborhoods for d=1, q-gram prefixes for d>=2
    if max_dist == 1 and strategy != "gram":
        return _editdist_join_deletion(strs, max_dist)
    grams = strs.select(
        "rid",
        F.explode(
            F.expr(
                f"transform(sequence(1, len - {q} + 1),"
                f" i -> struct(substring(s, i, {q}) AS gram, i AS gp))"
            )
        ).alias("g"),
    ).select("rid", "g.gram", "g.gp")
    bitmaps = grams.groupBy("rid").agg(
        F.expr(
            "bit_or(shiftleft(1L, cast(pmod(xxhash64(gram), 64) as int)))"
        ).alias("bm")
    )
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("gram_freq"))
    w = Window.partitionBy("rid").orderBy("gram_freq", "gram", "gp")
    # the bitmap rides the prefix rows (k+1 per string, one extra long), so
    # the pre-filter runs INSIDE the candidate join projection — no join
    # against a corpus-sized bitmap table afterwards
    prefix = (
        grams.join(freq, "gram")
        .select("rid", "gram", "gp", F.row_number().over(w).alias("pos"))
        .filter(F.col("pos") <= k + 1)
        .join(strs.select("rid", "len"), "rid")
        .join(bitmaps, "rid")
        .localCheckpoint(eager=True)
    )
    cand = (
        prefix.select(
            F.col("rid").alias("ra"), "gram",
            F.col("gp").alias("gpa"), F.col("len").alias("la"),
            F.col("bm").alias("ba"),
        )
        .join(
            prefix.select(
                F.col("rid").alias("rb"), "gram",
                F.col("gp").alias("gpb"), F.col("len").alias("lb"),
                F.col("bm").alias("bb"),
            ),
            "gram",
        )
        .filter(F.col("ra") < F.col("rb"))
        .filter(F.abs(F.col("gpa") - F.col("gpb")) <= max_dist)
        .filter(F.abs(F.col("la") - F.col("lb")) <= max_dist)
        .filter(
            F.bit_count(F.col("ba").bitwiseXOR(F.col("bb"))) <= 2 * max_dist * q
        )
        .select("ra", "rb")
    )
    return (
        cand.join(strs.select(F.col("rid").alias("ra"), F.col("s").alias("sa")), "ra")
        .join(strs.select(F.col("rid").alias("rb"), F.col("s").alias("sb")), "rb")
        .withColumn("edit_dist", F.levenshtein("sa", "sb", max_dist))
        .filter(F.col("edit_dist") >= 0)
        .select(
            F.col("ra").alias("id_a"),
            F.col("rb").alias("id_b"),
            F.col("edit_dist").cast("int").alias("edit_dist"),
        )
        .distinct()
    )


def _editdist_join_deletion(strs: DataFrame, max_dist: int) -> DataFrame:
    """Deletion-neighborhood (SymSpell-style) candidate generation for
    ``max_dist = 1``: two strings within edit distance 1 MUST share a key
    in ``{s} ∪ del1(s)`` — a substitution at position i yields the same
    string after deleting position i from both sides; an insertion/deletion
    pair meets at the shorter string itself. Candidates are therefore an
    equi-join on ≤ len+1 deletion keys per string, which is near-output-
    sized on real key-like data (measured 22.3M q-gram candidate rows →
    0.4M deletion candidates on 15k sequential customer names, 18 s → 2 s).
    The key join is exact-substring equality — no hot gram can blow it up.
    Keys scale as O(len) per string, which is why this path is gated to
    short-ish strings via the caller's ``max_dist == 1`` fuzzy-key regime;
    the q-gram prefix path remains the long-document route.

    The strings ride the key rows, so the banded-DP verify runs directly
    on the RAW join output inside the wide candidate stage, and the one
    pair-distinct runs on verified (id_a, id_b, edit_dist) rows (r12 —
    previously candidates were pair-distincted first and the strings
    joined back on, which cost two extra broadcast-build jobs and pushed
    the whole levenshtein bill into the post-distinct stage, where AQE had
    coalesced the byte-sized exchange far below the levenshtein bill's
    width: the §2.2 "AQE sizes by bytes, work is super-linear" trap. The
    occurrence-level dup factor on unequal pairs is ~1-2 shared keys, so
    the re-verify tax is small and the distinct now ships only verified
    pairs; equal strings — the len+1-dup worst case — verify at O(1) each
    because the banded DP exits on the first row of an equal pair)."""
    keys = strs.select(
        "rid",
        "len",
        "s",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, len),"
                " i -> if(i = 0, s,"
                " concat(substring(s, 1, i - 1), substring(s, i + 1, len)))))"
            )
        ).alias("k"),
    )
    return (
        keys.select(
            F.col("rid").alias("ra"), F.col("len").alias("la"),
            F.col("s").alias("sa"), "k",
        )
        .join(
            keys.select(
                F.col("rid").alias("rb"), F.col("len").alias("lb"),
                F.col("s").alias("sb"), "k",
            ),
            "k",
        )
        .filter(F.col("ra") < F.col("rb"))
        .filter(F.abs(F.col("la") - F.col("lb")) <= max_dist)
        .withColumn("edit_dist", F.levenshtein("sa", "sb", max_dist))
        .filter(F.col("edit_dist") >= 0)
        .select(
            F.col("ra").alias("id_a"),
            F.col("rb").alias("id_b"),
            F.col("edit_dist").cast("int").alias("edit_dist"),
        )
        .distinct()
    )


def banded_rows(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band_id, band_hash) rows from a MinHash signature frame — the
    LSH index representation a production pipeline persists between runs."""
    if num_perm % bands != 0:
        raise ValueError(f"num_perm ({num_perm}) must be divisible by bands ({bands})")
    rows_per_band = num_perm // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    return (
        signatures.select(F.col(id_col), *band_cols)
        .select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.col(f"band_{b}").alias("band_hash"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band"),
        )
        .select(id_col, "band.band_id", "band.band_hash")
    )


def lsh_candidate_pairs_incremental(
    signatures: DataFrame,
    is_new: F.Column,
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Incremental near-dup detection: LSH candidate pairs where AT LEAST
    ONE side satisfies ``is_new`` — the daily-ingest pattern, where
    yesterday's corpus is already deduplicated and only new-vs-corpus and
    new-vs-new pairs need generating.

    Scale shape: the corpus side streams its banded rows through ONE
    broadcast hash join against the (small) new batch's bands — no
    corpus-side shuffle at all, unlike the full self-join. This is the
    O(corpus × new/buckets) incremental cost; re-running the full
    quadratic join daily would be the classic pipeline mistake. Pairs are
    oriented (a < b) and distinct; new-vs-new pairs surface through the
    same join (the new side is a subset of the corpus side).
    """
    stacked = banded_rows(signatures, id_col, num_perm, bands).localCheckpoint(
        eager=True
    )
    new_side = stacked.filter(is_new)
    pairs = (
        stacked.alias("l")
        .join(
            F.broadcast(new_side.alias("r")),
            on=[
                F.col("l.band_id") == F.col("r.band_id"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col(f"l.{id_col}") != F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.least(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("doc_b"),
        )
        .distinct()
    )
    return pairs
