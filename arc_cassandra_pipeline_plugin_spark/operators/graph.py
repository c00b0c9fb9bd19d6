"""Graph operators: vector iterates over an edge list as DataFrame rounds.

Complements the connected-components operators in :mod:`dedup`. Every
iterate has two paths over the same edge rollup:

- **Distributed rounds**: each round is one join (edge ⋈ vector on src)
  plus one aggregation by dst, both shuffling on graph keys.
- **Driver replay**: when ``functions.driver_rows`` returns the rollup
  (bounded row count, a node key type whose Python equality and ordering
  are Spark's), the same rounds replay in Python over that one collect
  and come back through ``functions.small_df``. Each replay
  (``_pagerank_driver`` and its siblings) is bit-identical to the
  distributed rounds, NULL-key join semantics included; a local-mode Spark
  job costs a ~60 ms scheduler floor, so on a dimension-sized graph the
  rounds are otherwise pure job-count tax. Past the bound the distributed
  rounds run.

The probed rollup is a lazy local checkpoint, which the probe's own
collect materializes. Past the bound the distributed rounds read that
checkpoint instead of computing the rollup a second time.

Cross-engine determinism (the oracle unrolls the same rounds as SQL CTEs):
every per-edge contribution is rounded to 12 dp (row-deterministic double
arithmetic), summed as exact DECIMAL (order-free), and each round's rank is
re-rounded to 12 dp — so the iterate is bit-identical regardless of
partitioning, on Spark and DuckDB alike.
"""

from __future__ import annotations

import decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import driver_rows

#: fixed-point scale for per-round rank values and edge contributions
_SCALE = 12

_Q12 = decimal.Decimal(1).scaleb(-_SCALE)


def _round_py(x: float, q: decimal.Decimal) -> float:
    """Bit-exact Python twin of Spark's ``round(double, scale)``: Spark
    routes the double through ``BigDecimal.valueOf`` (``Double.toString``
    shortest round-trip decimal — same digits CPython ``repr`` produces)
    and ``setScale(scale, HALF_UP)``; NaN/±Inf pass through unchanged as
    in Spark's RoundBase. Used by the driver-side iterates so their
    vectors land on the identical fixed-point grid as the distributed/
    oracle rounds."""
    import math

    if not math.isfinite(x):
        return x
    return float(decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP))


def _round12(x: float) -> float:
    return _round_py(x, _Q12)


def _dec_py(x: float, q: decimal.Decimal) -> decimal.Decimal | None:
    """Python twin of Spark's ``CAST(double AS DECIMAL(p,s))`` (shortest
    decimal repr, then HALF_UP) — the exact order-free contribution type
    the distributed iterates sum. Non-finite doubles cast to NULL in
    Spark's non-ANSI mode → ``None`` here."""
    import math

    if not math.isfinite(x):
        return None
    return decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)


def _dec12(x: float) -> decimal.Decimal:
    return _dec_py(x, _Q12)


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted PageRank with ``iters`` synchronous rounds over an edge
    DataFrame (src, dst, w). Returns (node, rank).

    Scale shape: the rank vector is a DataFrame keyed by node — each round
    shuffles |E| contributions on dst and |V| ranks on node; out-weights are
    computed once. Dangling mass is dropped (simplified PageRank), matching
    the oracle formulation. For long chains of rounds, callers should
    `localCheckpoint` the iterate every few rounds (the certified query
    uses 3 rounds — lineage stays shallow)."""
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), F.col(weight).alias("_w")
    ).localCheckpoint(eager=False)
    rows = driver_rows(e)
    if rows is not None:
        return _pagerank_driver(
            edges.sparkSession, rows, iters, damping, e.schema[0].dataType
        )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_out_w"))
    # normalize ONCE: every round needs w/out_w, so join it in before the
    # loop and snapshot — each round then joins the rank vector against one
    # static edge list instead of re-deriving (edges ⋈ out-weights) per
    # round (one join + one shuffle subtree fewer per iteration).
    e_norm = e.join(outw, "_src").localCheckpoint(eager=True)
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("_n"))
    base = nodes.crossJoin(F.broadcast(n_nodes))
    rank = base.select(
        "node", "_n", F.round(F.lit(1.0) / F.col("_n"), _SCALE).alias("rank")
    )
    for _ in range(iters):
        contrib = (
            e_norm
            .join(rank.select(F.col("node").alias("_src"), "rank"), "_src")
            .select(
                "_dst",
                F.round(F.col("rank") * F.col("_w") / F.col("_out_w"), _SCALE)
                .cast(f"decimal(20,{_SCALE})")
                .alias("_c"),
            )
        )
        summed = contrib.groupBy("_dst").agg(F.sum("_c").alias("_s"))
        rank = (
            base.join(summed, base.node == summed._dst, "left")
            .select(
                "node",
                "_n",
                F.round(
                    (1.0 - damping) / F.col("_n")
                    + damping * F.coalesce(F.col("_s").cast("double"), F.lit(0.0)),
                    _SCALE,
                ).alias("rank"),
            )
        )
    return rank.select("node", "rank")


def _pagerank_driver(spark, edge_rows, iters, damping, node_type) -> DataFrame:
    """Driver-side PageRank rounds over the collected edge rollup —
    bit-identical to the distributed iterate: contributions are
    ``round(rank * w / out_w, 12)`` doubles cast onto the exact
    DECIMAL(20,12) grid (:func:`_dec12`), summed exactly (Python Decimal,
    order-free like Spark's decimal sum), and each round's rank re-rounds
    to 12 dp via the same shortest-repr HALF_UP (:func:`_round12`). Weight
    sums accumulate in the weights' native Python type (int for BIGINT
    counts, Decimal for decimals — exact in both engines); float weights
    are order-dependent in the distributed path already and carry the same
    caveat here."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions import small_df

    out_w: dict = {}
    nodes = set()
    for r in edge_rows:
        s, d, w = r[0], r[1], r[2]
        nodes.add(s)
        nodes.add(d)
        if s is not None:
            out_w[s] = out_w[s] + w if s in out_w else w
    n = len(nodes)
    schema = StructType(
        [StructField("node", node_type), StructField("rank", DoubleType())]
    )
    if n == 0:
        return small_df(spark, [], schema)
    rank = {v: _round12(1.0 / n) for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iters):
        acc: dict = {}
        for r in edge_rows:
            s, d, w = r[0], r[1], r[2]
            if s is None or d is None:
                # NULL keys never match the distributed equi-joins: a NULL
                # src drops from the normalized edge list, a NULL dst's
                # contribution sum never re-attaches to the rank vector
                continue
            c = _dec12(_round12(rank[s] * float(w) / float(out_w[s])))
            if c is None:  # non-finite contribution casts to NULL; sum skips it
                continue
            acc[d] = acc[d] + c if d in acc else c
        rank = {
            v: _round12(base + damping * (float(acc[v]) if v in acc else 0.0))
            for v in nodes
        }
    ordered = sorted(nodes, key=lambda v: (v is None, v))
    return small_df(spark, [(v, rank[v]) for v in ordered], schema)


def pagerank_oracle_sql(
    edges_cte: str, iters: int = 3, damping: float = 0.85
) -> str:
    """The identical computation as DuckDB SQL: ``edges_cte`` must define a
    CTE body producing (src, dst, w). Rounds unroll into one CTE each,
    generated from the same constants as :func:`pagerank` so the two cannot
    drift."""
    d = damping
    parts = [
        f"edges AS ({edges_cte})",
        "nodes AS (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst FROM edges)",
        "outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, round(1.0 / n, {_SCALE}) AS rank FROM nodes CROSS JOIN nn)",
    ]
    for i in range(iters):
        parts.append(
            f"""c{i} AS (
  SELECT e.dst,
         sum(CAST(round(r.rank * e.w / o.out_w, {_SCALE}) AS DECIMAL(20,{_SCALE}))) AS s
  FROM edges e JOIN outw o ON e.src = o.src JOIN r{i} r ON r.node = e.src
  GROUP BY e.dst)"""
        )
        parts.append(
            f"""r{i + 1} AS (
  SELECT n.node,
         round((1.0 - {d}) / nn.n + {d} * coalesce(CAST(c{i}.s AS DOUBLE), 0.0),
               {_SCALE}) AS rank
  FROM nodes n CROSS JOIN nn LEFT JOIN c{i} ON c{i}.dst = n.node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, rank FROM r{iters}"
    )


def _bfs_inf(rounds: int) -> int:
    """BFS infinity sentinel, derived from ``rounds`` so no hop budget can
    collide with it: after ``rounds`` frontier expansions the largest real
    level is exactly ``rounds``, so ``rounds + 1`` is unreachable. Kept as a
    plain INT so both engines share exact arithmetic (no NULL-propagation
    divergence inside least/min)."""
    return rounds + 1


def bfs_levels(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Breadth-first levels from the lexicographically-smallest vertex:
    ``rounds`` synchronous frontier expansions over the edge list, the
    single-source shortest-path shape for unweighted graphs. Returns
    (node, level) for nodes reached within ``rounds`` hops.

    Scale shape: each round is one join (edges ⋈ current levels on src) +
    one aggregation (min candidate level by dst) + one left join back onto
    the node set — all shuffles keyed by graph vertices; the source vertex
    arrives as a broadcast 1-row aggregate.
    Unreached nodes carry an INT infinity sentinel so the iterate is pure
    integer arithmetic (no NULL semantics to diverge between engines)."""
    inf = _bfs_inf(rounds)
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rows = driver_rows(e)
    if rows is not None:
        return _bfs_driver(edges.sparkSession, rows, rounds, e.schema[0].dataType)
    nodes = e.select(F.col("_s").alias("node")).union(
        e.select(F.col("_d").alias("node"))
    ).distinct()
    source = nodes.agg(F.min("node").alias("_src0"))
    lvl = nodes.crossJoin(F.broadcast(source)).select(
        "node",
        F.when(F.col("node") == F.col("_src0"), F.lit(0))
        .otherwise(F.lit(inf))
        .alias("lvl"),
    )
    for _ in range(rounds):
        cand = (
            e.join(
                lvl.filter(F.col("lvl") < inf).select(
                    F.col("node").alias("_s"), "lvl"
                ),
                "_s",
            )
            .groupBy("_d")
            .agg(F.min(F.col("lvl") + 1).alias("_m"))
        )
        lvl = lvl.join(cand, lvl.node == cand._d, "left").select(
            "node",
            F.least(F.col("lvl"), F.coalesce(F.col("_m"), F.lit(inf))).alias("lvl"),
        )
    return lvl.filter(F.col("lvl") < inf).select(
        "node", F.col("lvl").cast("int").alias("level")
    )


def _bfs_driver(spark, edge_rows, rounds, node_type) -> DataFrame:
    """Driver-side synchronous frontier expansion over the collected
    distinct edge set — exact INT min against the rounds+1 infinity
    sentinel, identical to the distributed rounds (source = minimum node
    over src ∪ dst, matching the distributed ``nodes.agg(min)``)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..functions import small_df

    inf = _bfs_inf(rounds)
    nodes = set()
    for r in edge_rows:
        nodes.add(r[0])
        nodes.add(r[1])
    schema = StructType(
        [StructField("node", node_type), StructField("level", IntegerType())]
    )
    if not nodes:
        return small_df(spark, [], schema)
    nn = [v for v in nodes if v is not None]
    if not nn:  # all-NULL vertices: the distributed min is NULL, nothing expands
        return small_df(spark, [], schema)
    src0 = min(nn)
    lvl = {v: (0 if v == src0 else inf) for v in nodes}
    for _ in range(rounds):
        cand: dict = {}
        for s, d in edge_rows:
            if s is None or d is None:  # NULL keys never match the equi-joins
                continue
            if lvl[s] < inf:
                m = lvl[s] + 1
                if d not in cand or m < cand[d]:
                    cand[d] = m
        lvl = {v: min(lvl[v], cand.get(v, inf)) for v in nodes}
    ordered = sorted((v for v in nodes if lvl[v] < inf), key=lambda v: (v is None, v))
    return small_df(spark, [(v, lvl[v]) for v in ordered], schema)


def bfs_oracle_sql(edges_sql: str, rounds: int = 3) -> str:
    """DuckDB oracle for :func:`bfs_levels`: the same frontier rounds
    unrolled as CTEs from the same INT-sentinel constants. ``edges_sql``
    must yield (src, dst) columns (duplicates allowed — they are
    DISTINCTed here exactly as the operator does)."""
    inf = _bfs_inf(rounds)
    ctes = [
        f"eb AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nb AS (SELECT src AS n FROM eb UNION SELECT dst FROM eb)",
        "sb AS (SELECT min(n) AS s0 FROM nb)",
        f"l0 AS (SELECT n, CASE WHEN n = (SELECT s0 FROM sb) THEN 0 ELSE {inf} END AS lvl FROM nb)",
    ]
    for r in range(1, rounds + 1):
        prev = f"l{r - 1}"
        ctes.append(
            f"""l{r} AS (
  SELECT p.n, least(p.lvl, coalesce(c.m, {inf})) AS lvl
  FROM {prev} p LEFT JOIN (
    SELECT e.dst AS n2, min(p2.lvl + 1) AS m
    FROM eb e JOIN {prev} p2 ON p2.n = e.src
    WHERE p2.lvl < {inf} GROUP BY e.dst) c ON c.n2 = p.n)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT n AS node, CAST(lvl AS INT) AS level FROM l{rounds} WHERE lvl < {inf}"
    )


#: SSSP infinity sentinel — far above any reachable cost (rounds x max
#: edge cost stays < 1e12 for integer costs < 1e9 and small hop budgets),
#: kept plain INT literal so both engines iterate exact arithmetic.
_SSSP_INF = 10**15


def sssp_cheapest(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    cost: str = "cost",
) -> DataFrame:
    """Weighted single-source shortest path (Bellman-Ford relaxation) from
    the lexicographically-smallest vertex: ``rounds`` synchronous passes
    relaxing every edge, integer costs. Returns (node, dist) for nodes
    whose cheapest known route within ``rounds`` hops is finite.

    The weighted companion of :func:`bfs_levels` — same scale shape: each
    round joins the current distance vector onto the edge list (vertex-
    keyed shuffles, parallel edge relaxation — nothing like Dijkstra's
    sequential frontier, which cannot distribute), aggregates the min
    candidate per destination, and least-folds it into the vector. Costs
    stay BIGINT against an INT infinity sentinel, so the iterate is exact
    on both engines; with rounds < graph diameter the result is the
    honest "cheapest route within k hops", identical on both engines."""
    e = (
        edges.groupBy(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .agg(F.min(F.col(cost).cast("bigint")).alias("_c"))
        .localCheckpoint(eager=False)
    )
    rows = driver_rows(e)
    if rows is not None:
        return _sssp_driver(edges.sparkSession, rows, rounds, e.schema[0].dataType)
    nodes = e.select(F.col("_s").alias("node")).union(
        e.select(F.col("_d").alias("node"))
    ).distinct()
    # smallest vertex WITH out-edges — a pure sink as source reaches nothing
    source = e.agg(F.min("_s").alias("_src0"))
    dist = nodes.crossJoin(F.broadcast(source)).select(
        "node",
        F.when(F.col("node") == F.col("_src0"), F.lit(0).cast("bigint"))
        .otherwise(F.lit(_SSSP_INF).cast("bigint"))
        .alias("dist"),
    )
    for _ in range(rounds):
        cand = (
            e.join(
                dist.filter(F.col("dist") < _SSSP_INF).select(
                    F.col("node").alias("_s"), "dist"
                ),
                "_s",
            )
            .groupBy("_d")
            .agg(F.min(F.col("dist") + F.col("_c")).alias("_m"))
        )
        dist = dist.join(cand, dist.node == cand._d, "left").select(
            "node",
            F.least(
                F.col("dist"),
                F.coalesce(F.col("_m"), F.lit(_SSSP_INF).cast("bigint")),
            ).alias("dist"),
        )
    return dist.filter(F.col("dist") < _SSSP_INF).select(
        "node", F.col("dist").cast("bigint").alias("dist")
    )


def _sssp_driver(spark, edge_rows, rounds, node_type) -> DataFrame:
    """Driver-side Bellman-Ford over the collected (s, d, c) rollup —
    exact BIGINT min-plus, identical to the distributed rounds (finite-
    source relaxation, min candidate per destination, least-fold against
    the INT infinity sentinel)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions import small_df

    inf = _SSSP_INF
    nodes = set()
    for r in edge_rows:
        nodes.add(r[0])
        nodes.add(r[1])
    schema = StructType(
        [StructField("node", node_type), StructField("dist", LongType())]
    )
    if not nodes:
        return small_df(spark, [], schema)
    srcs = [r[0] for r in edge_rows if r[0] is not None]
    if not srcs:  # all-NULL sources: the distributed min is NULL, nothing relaxes
        return small_df(spark, [], schema)
    src0 = min(srcs)
    dist = {v: (0 if v == src0 else inf) for v in nodes}
    for _ in range(rounds):
        cand: dict = {}
        for s, d, c in edge_rows:
            if s is None or d is None:  # NULL keys never match the equi-joins
                continue
            if dist[s] < inf:
                m = dist[s] + c
                if d not in cand or m < cand[d]:
                    cand[d] = m
        dist = {v: min(dist[v], cand.get(v, inf)) for v in nodes}
    ordered = sorted((v for v in nodes if dist[v] < inf), key=lambda v: (v is None, v))
    return small_df(spark, [(v, dist[v]) for v in ordered], schema)


def sssp_oracle_sql(edges_sql: str, rounds: int = 4) -> str:
    """DuckDB oracle for :func:`sssp_cheapest`: the same Bellman-Ford
    relaxation rounds unrolled as CTEs from the same INT-sentinel
    constants. ``edges_sql`` must yield (src, dst, cost) — parallel edges
    allowed, collapsed to min cost here exactly as the operator does."""
    inf = _SSSP_INF
    ctes = [
        f"se AS (SELECT src, dst, CAST(min(cost) AS BIGINT) AS c"
        f" FROM ({edges_sql}) GROUP BY 1, 2)",
        "sn AS (SELECT src AS n FROM se UNION SELECT dst FROM se)",
        "ss AS (SELECT min(src) AS s0 FROM se)",
        f"d0 AS (SELECT n, CAST(CASE WHEN n = (SELECT s0 FROM ss)"
        f" THEN 0 ELSE {inf} END AS BIGINT) AS dist FROM sn)",
    ]
    for r in range(1, rounds + 1):
        prev = f"d{r - 1}"
        ctes.append(
            f"""d{r} AS (
  SELECT p.n, least(p.dist, coalesce(c.m, {inf})) AS dist
  FROM {prev} p LEFT JOIN (
    SELECT e.dst AS n2, min(p2.dist + e.c) AS m
    FROM se e JOIN {prev} p2 ON p2.n = e.src
    WHERE p2.dist < {inf} GROUP BY e.dst) c ON c.n2 = p.n)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT n AS node, CAST(dist AS BIGINT) AS dist"
        f" FROM d{rounds} WHERE dist < {inf}"
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Synchronous weighted label propagation (community detection): every
    node starts labeled with itself; each round it adopts the label with
    the highest total edge weight among its neighbors (ties broken by the
    LEXICOGRAPHICALLY SMALLEST label, so the iterate is deterministic —
    classic async LPA is run-order-dependent and cannot be certified).
    Isolated behavior: a node keeps its label when it has no in-votes.
    Returns (node, label) after ``rounds`` synchronous passes.

    Scale shape per round: one vertex-keyed join of the O(V) label vector
    onto the undirected edge list, one (node, label) weight aggregation
    (map-side combinable), then a deterministic argmax as a SECOND
    map-side-combinable aggregation — ``min_by(label, (-votes, label))``
    picks the highest-vote label with ties to the smallest label, exactly
    the (votes DESC, label ASC) window rank but without the window's
    per-partition sort (a reduction combines partially on the map side; a
    rank window cannot). Same iterate family as
    :func:`pagerank`/:func:`sssp_cheapest`; lineage cut per round via
    localCheckpoint on the label vector."""
    if rounds < 1:
        raise ValueError(f"label_propagation needs rounds >= 1, got {rounds}")
    # sum weights in DECIMAL(38,12) (exact, partition-order-free — a raw
    # double sum near an integer boundary could truncate differently
    # across runs/engines), then project the exact group sum to bigint
    # via the repo's floor-form half-toward-+inf convention:
    # floor(sum + 0.5). A bare decimal->bigint cast is NOT portable —
    # Spark truncates while DuckDB rounds (CAST(1.6) -> 1 vs 2), so
    # fractional group sums would disagree; floor over exact decimals is
    # a defined convention on both engines. Per-edge bigint casts would
    # truncate fractional weights per edge — a different (wrong) semantic
    half = F.lit(decimal.Decimal("0.5"))
    und = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"),
                     F.col(weight).cast("decimal(38,12)").alias("_w"))
        .union(
            edges.select(F.col(dst).alias("_a"), F.col(src).alias("_b"),
                         F.col(weight).cast("decimal(38,12)").alias("_w"))
        )
        .groupBy("_a", "_b")
        .agg(F.floor(F.sum("_w") + half).cast("bigint").alias("_w"))
        .localCheckpoint(eager=False)
    )
    rows = driver_rows(und)
    if rows is not None:
        return _label_propagation_driver(
            edges.sparkSession, rows, rounds, und.schema[0].dataType
        )
    labels = und.select(F.col("_a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        votes = (
            und.join(labels.select(F.col("node").alias("_a"), "label"), "_a")
            .groupBy("_b", "label")
            .agg(F.sum("_w").alias("_v"))
        )
        best = votes.groupBy("_b").agg(
            F.min_by(
                "label", F.struct((-F.col("_v")).alias("nv"), F.col("label"))
            ).alias("_new")
        ).select(F.col("_b").alias("node"), "_new")
        labels = (
            labels.join(best, "node", "left")
            .select("node", F.coalesce(F.col("_new"), F.col("label")).alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


def _label_propagation_driver(spark, und_rows, rounds, node_type) -> DataFrame:
    """Driver-side synchronous LPA rounds over the collected symmetrized
    rollup — bit-identical to the distributed iterate by construction: the
    votes are exact BIGINT sums (Python int, order-free) and the argmax is
    the same deterministic (votes DESC, label ASC) rule ``min_by`` encodes
    via its (-votes, label) struct ordering."""
    from pyspark.sql.types import StructField, StructType

    from ..functions import small_df

    labels = {r[0]: r[0] for r in und_rows}
    for _ in range(rounds):
        votes: dict = {}
        for r in und_rows:
            a, b, w = r[0], r[1], r[2]
            if a is None or b is None:
                # NULL keys never match the distributed equi-joins (no
                # label attaches to a NULL source, no vote reaches a NULL
                # node) — NULL-keyed nodes simply keep their own label
                continue
            k = (b, labels[a])
            votes[k] = votes[k] + w if k in votes else w
        best: dict = {}
        for (b, lab), v in votes.items():
            cur = best.get(b)
            if cur is None or (-v, lab) < cur[0]:
                best[b] = ((-v, lab), lab)
        labels = {node: best[node][1] if node in best else lab
                  for node, lab in labels.items()}
    schema = StructType(
        [StructField("node", node_type), StructField("label", node_type)]
    )
    ordered = sorted(labels, key=lambda v: (v is None, v))
    return small_df(spark, [(v, labels[v]) for v in ordered], schema)


def label_propagation_oracle_sql(edges_sql: str, rounds: int = 3) -> str:
    """DuckDB oracle for :func:`label_propagation`: identical synchronous
    rounds unrolled as CTEs — weighted vote per (node, label), argmax by
    (votes DESC, label ASC) via row_number, keep-own-label on no votes."""
    ctes = [
        f"""ue AS (
  SELECT _a, _b,
         CAST(floor(sum(_w) + CAST(0.5 AS DECIMAL(2,1))) AS BIGINT) AS _w FROM (
    SELECT src AS _a, dst AS _b, CAST(w AS DECIMAL(38,12)) AS _w FROM ({edges_sql})
    UNION ALL
    SELECT dst AS _a, src AS _b, CAST(w AS DECIMAL(38,12)) AS _w FROM ({edges_sql})
  ) GROUP BY 1, 2)""",
        "l0 AS (SELECT DISTINCT _a AS node, _a AS label FROM ue)",
    ]
    for r in range(1, rounds + 1):
        prev = f"l{r - 1}"
        ctes.append(
            f"""l{r} AS (
  SELECT p.node, coalesce(b.label, p.label) AS label
  FROM {prev} p LEFT JOIN (
    SELECT node, label FROM (
      SELECT e._b AS node, q.label,
             row_number() OVER (PARTITION BY e._b
                                ORDER BY sum(e._w) DESC, q.label ASC) AS rn
      FROM ue e JOIN {prev} q ON q.node = e._a
      GROUP BY e._b, q.label) WHERE rn = 1) b ON b.node = p.node)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, label FROM l{rounds}"
    )


def hits(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """HITS hubs-and-authorities: ``iters`` synchronous rounds of
    a = norm(Aᵀh), h = norm(A a) over a weighted edge list, max-normalized
    (the max of exact decimals is exact, so the normalizer is
    partition-independent — an L2 normalizer would sum floats). Returns
    (node, hub, authority).

    Same iterate family as :func:`pagerank`, but every step is pinned to
    the certified 6-dp conventions (the r10 sf1 sweep caught the r9
    12-dp recipe forking two ways at scale: ``round(hub·w, 12)`` in
    double breaks once |hub·w| ≳ 1e4 because ulp exceeds the 12-dp grid,
    and ``round(q, 12)`` of a double quotient sits only ~1e-4 from
    DuckDB's float-round decision boundary at the 1e12 multiplier —
    certified-safe rounding of double quotients is ≤6 dp, where the
    boundary margin is ~1e-10):

    - per-edge contribution = hub(8,6) × w(20,6) as an exact DECIMAL
      product (29,12) — no rounding at all, order-free sum;
    - each sum is rounded to 6 dp ON THE DECIMAL (exact, identical in
      both engines) before the double cast, so the cast is exact below
      ~1e9 total in-weight (13 significant digits);
    - the normalizer is the max of those rounded decimals (max of exact
      decimals — partition- and engine-independent);
    - the round vector is ONE double division of bit-identical doubles
      re-rounded to 6 dp — the certified quotient pattern.

    Scale shape per round: two |E|-contribution shuffles (keyed by dst
    then src) + two O(V) vector joins; the 1-row max normalizer
    broadcasts (declared scalar_broadcast).

    PRECONDITION: edge weights must be non-negative (validated in-plan
    with ``raise_error`` — a negative weight would let the normalized
    quotient leave [-1, 1] and overflow the decimal(8,6) round vector)."""
    if iters < 1:
        raise ValueError(f"hits needs iters >= 1, got {iters}")
    vec_dec = "decimal(8,6)"  # round-vector values are in [0, 1] at 6 dp
    w_dec = "decimal(20,6)"  # exact for integral / 6-dp edge weights
    # PRECONDITION: weights must be >= 0. The decimal(8,6) round vector
    # assumes hub/auth ∈ [0, 1] (guaranteed by max-normalization of
    # NON-NEGATIVE contributions); a negative weight would let the
    # quotient leave ±0.999999 and overflow the cast (ANSI error or NULL
    # poisoning the iterate). Nothing downstream guards this, so fail
    # loudly at the source: raise_error inside the plan keeps the check
    # distributed — no extra pass, it rides the checkpoint scan.
    w_cast = F.col(weight).cast("double")
    w_guarded = F.when(
        w_cast < 0,
        F.raise_error(
            F.concat(
                F.lit("hits(): negative edge weight "),
                w_cast.cast("string"),
                F.lit(" — HITS requires non-negative weights"),
            )
        ).cast("double"),
    ).otherwise(w_cast)
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"),
        w_guarded.cast(w_dec).alias("_w"),
    ).localCheckpoint(eager=False)
    # the weights arrive as exact decimal(20,6) values from the guarded
    # checkpoint, so the driver replay works in the identical decimal algebra
    rows = driver_rows(e)
    if rows is not None:
        return _hits_driver(edges.sparkSession, rows, iters, e.schema[0].dataType)
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = nodes.select("node", F.lit(1.0).alias("hub"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h.select(F.col("node").alias("_src"), "hub"), "_src")
            .select(
                "_dst",
                (F.col("hub").cast(vec_dec) * F.col("_w")).alias("_c"),
            )
            .groupBy("_dst")
            .agg(F.round(F.sum("_c"), 6).alias("_s"))
        )
        a_max = a_raw.agg(F.max("_s").alias("_m"))
        a = (
            nodes.join(a_raw, nodes.node == a_raw._dst, "left")
            .crossJoin(F.broadcast(a_max))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("_s").cast("double"), F.lit(0.0))
                    / F.col("_m").cast("double"),
                    6,
                ).alias("auth"),
            )
        )
        h_raw = (
            e.join(a.select(F.col("node").alias("_dst"), "auth"), "_dst")
            .select(
                "_src",
                (F.col("auth").cast(vec_dec) * F.col("_w")).alias("_c"),
            )
            .groupBy("_src")
            .agg(F.round(F.sum("_c"), 6).alias("_s"))
        )
        h_max = h_raw.agg(F.max("_s").alias("_m"))
        h = (
            nodes.join(h_raw, nodes.node == h_raw._src, "left")
            .crossJoin(F.broadcast(h_max))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("_s").cast("double"), F.lit(0.0))
                    / F.col("_m").cast("double"),
                    6,
                ).alias("hub"),
            )
        )
    return h.join(a, "node").select(
        "node", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("authority")
    )


_Q6 = decimal.Decimal(1).scaleb(-6)


def _hits_driver(spark, edge_rows, iters, node_type) -> DataFrame:
    """Driver-side HITS rounds over the collected (src, dst, w) edge list
    (w already exact decimal(20,6) from the guarded checkpoint) — the
    identical certified 6-dp algebra: decimal(8,6) vector cast × decimal
    weight (exact product), exact decimal sums rounded to 6 dp, exact
    decimal max normalizer, one double quotient re-rounded to 6 dp. NULL
    propagation mirrors Spark exactly (NULL keys never join; a NULL
    normalizer NULLs the vector; sums skip NULL inputs and are NULL only
    when every input is)."""
    import math

    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions import small_df

    nodes = set()
    for r in edge_rows:
        nodes.add(r[0])
        nodes.add(r[1])
    schema = StructType(
        [
            StructField("node", node_type),
            StructField("hub", DoubleType()),
            StructField("authority", DoubleType()),
        ]
    )
    if not nodes:
        return small_df(spark, [], schema)

    def _vec_dec(x):  # CAST(double AS DECIMAL(8,6)) — NULL on non-finite
        return None if x is None else _dec_py(x, _Q6)

    def _div(a: float, b: float) -> float:  # IEEE double division incl. /0
        if b == 0.0:
            return float("nan") if a == 0.0 else math.copysign(math.inf, a)
        return a / b

    def _step(vec: dict, key_idx: int, out_idx: int) -> dict:
        # contributions grouped by the out-side key; sums skip NULL inputs,
        # a group whose inputs are all NULL sums to NULL (Spark sum)
        acc: dict = {}
        for r in edge_rows:
            kin, kout = r[key_idx], r[out_idx]
            if kin is None or kout is None:
                continue
            v6 = _vec_dec(vec[kin])
            c = None if v6 is None else v6 * r[2]
            if kout in acc:
                if c is not None:
                    acc[kout] = c if acc[kout] is None else acc[kout] + c
            else:
                acc[kout] = c
        s6 = {
            k: (None if v is None else v.quantize(_Q6, rounding=decimal.ROUND_HALF_UP))
            for k, v in acc.items()
        }
        finite = [v for v in s6.values() if v is not None]
        m = max(finite) if finite else None
        out: dict = {}
        for v in nodes:
            if m is None:
                out[v] = None
                continue
            sv = s6.get(v)
            num = float(sv) if sv is not None else 0.0
            out[v] = _round_py(_div(num, float(m)), _Q6)
        return out

    h = {v: 1.0 for v in nodes}
    a: dict = {}
    for _ in range(iters):
        a = _step(h, 0, 1)  # auth from hubs along src -> dst
        h = _step(a, 1, 0)  # hubs from auths along dst -> src
    ordered = sorted(nodes, key=lambda v: (v is None, v))

    def _r6(x):
        return None if x is None else _round_py(x, _Q6)

    return small_df(
        spark, [(v, _r6(h[v]), _r6(a[v])) for v in ordered], schema
    )


def hits_oracle_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB oracle for :func:`hits`: identical rounds unrolled as CTEs
    from the same conventions — exact-decimal contribution products
    (hub(8,6) × w(20,6), no per-edge rounding), decimal-rounded sums
    before the double cast, and 6-dp quotient rounds (see :func:`hits`
    for why the r9 12-dp recipe forked at sf1 magnitudes)."""
    vdec = "DECIMAL(8,6)"
    wdec = "DECIMAL(20,6)"
    # MATERIALIZED: the aggregated edge list is referenced 2·iters+1
    # times; inlined, DuckDB would run the full fact-table join once per
    # reference CONCURRENTLY (OOM'd at sf1 — 7 copies of a 6M-row 4-way
    # join). Materializing pins one ~|V|² row table instead.
    parts = [
        f"edges AS MATERIALIZED ({edges_cte})",
        "nodes AS (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst FROM edges)",
        "h0 AS (SELECT node, 1.0 AS hub FROM nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"""ar{i} AS (
  SELECT e.dst, round(sum(CAST(h.hub AS {vdec}) * CAST(e.w AS {wdec})), 6) AS s
  FROM edges e JOIN h{i} h ON h.node = e.src GROUP BY 1)"""
        )
        parts.append(f"am{i} AS (SELECT max(s) AS m FROM ar{i})")
        parts.append(
            f"""a{i + 1} AS (
  SELECT n.node,
         round(coalesce(CAST(ar{i}.s AS DOUBLE), 0.0) / CAST(am{i}.m AS DOUBLE),
               6) AS auth
  FROM nodes n CROSS JOIN am{i} LEFT JOIN ar{i} ON ar{i}.dst = n.node)"""
        )
        parts.append(
            f"""hr{i} AS (
  SELECT e.src, round(sum(CAST(a.auth AS {vdec}) * CAST(e.w AS {wdec})), 6) AS s
  FROM edges e JOIN a{i + 1} a ON a.node = e.dst GROUP BY 1)"""
        )
        parts.append(f"hm{i} AS (SELECT max(s) AS m FROM hr{i})")
        parts.append(
            f"""h{i + 1} AS (
  SELECT n.node,
         round(coalesce(CAST(hr{i}.s AS DOUBLE), 0.0) / CAST(hm{i}.m AS DOUBLE),
               6) AS hub
  FROM nodes n CROSS JOIN hm{i} LEFT JOIN hr{i} ON hr{i}.src = n.node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT h.node, round(h.hub, 6) AS hub, round(a.auth, 6) AS authority"
        f"\nFROM h{iters} h JOIN a{iters} a ON a.node = h.node"
    )


def hash_random_walk(
    edges: DataFrame,
    steps: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Hash-seeded random walk (DeepWalk-style corpus sampling made
    REPRODUCIBLE): one walker starts at every vertex; at step t the walker
    on node v moves to out-neighbor number ``md5('walk' t ':' v) mod
    out-degree(v)`` under the neighbor list's lexicographic order — a
    pseudo-random but fully deterministic choice both engines (and any
    re-run, at any partitioning) reproduce bit-for-bit, which
    ``rand()``-driven walks never do. Walkers on sink nodes stay put.
    Returns (start, node) after ``steps`` hops.

    Scale shape: the ranked neighbor table (row_number per src over the
    dst order — per-vertex-bounded window) is built once and checkpointed;
    each hop is ONE equi-join of the O(V) walker frontier against it
    (shuffle keyed by current node) — |V| walkers, never an edge
    materialization per walker. Multi-walker variants just seed the hash
    with a walker id."""
    from pyspark.sql import Window
    from pyspark.sql.types import IntegralType, StringType

    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the hop rule is md5 over the node's STRING form — replicated with
    # hashlib only for string/integral node types, whose Spark string cast
    # equals Python str(); other types keep the distributed path
    nt = e.schema[0].dataType
    rows = driver_rows(e) if isinstance(nt, (StringType, IntegralType)) else None
    if rows is not None:
        return _hash_random_walk_driver(edges.sparkSession, rows, steps, nt)
    w = Window.partitionBy("_s").orderBy("_d")
    nbrs = (
        e.select(
            "_s",
            "_d",
            (F.row_number().over(w) - 1).cast("bigint").alias("_rn"),
            F.count(F.lit(1)).over(Window.partitionBy("_s")).cast("bigint").alias("_deg"),
        )
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    walk = nodes.select(F.col("node").alias("start"), F.col("node").alias("cur"))
    for t in range(1, steps + 1):
        pick = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"walk{t}:"), F.col("cur"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        step = walk.join(
            nbrs.select(F.col("_s").alias("cur"), "_d", "_rn", "_deg"), "cur", "left"
        ).filter(F.col("_rn").isNull() | (F.col("_rn") == pick % F.col("_deg")))
        walk = step.select(
            "start", F.coalesce(F.col("_d"), F.col("cur")).alias("cur")
        )
    return walk.select("start", F.col("cur").alias("node"))


def _hash_random_walk_driver(spark, edge_rows, steps, node_type) -> DataFrame:
    """Driver-side replay of the hash-seeded walk: neighbor lists in the
    same lexicographic order Spark's window uses (UTF-8 binary ==
    code-point order; NULL neighbors sort FIRST, matching Spark's
    ascending NULLS FIRST), hop index ``int(md5('walk{t}:' + str(cur))
    hex[:8], 16) % degree`` — hashlib md5 over UTF-8 bytes is the same
    digest Spark's md5(concat(...)) computes for string/integral nodes.
    Walkers on sinks (or NULL-keyed nodes, which never join) stay put."""
    import hashlib

    from pyspark.sql.types import StructField, StructType

    from ..functions import small_df

    adj: dict = {}
    nodes = set()
    for r in edge_rows:
        s, d = r[0], r[1]
        nodes.add(s)
        nodes.add(d)
        if s is not None:
            adj.setdefault(s, []).append(d)
    for s in adj:
        adj[s].sort(key=lambda v: (v is not None, v if v is not None else ""))
    schema = StructType(
        [StructField("start", node_type), StructField("node", node_type)]
    )
    if not nodes:
        return small_df(spark, [], schema)
    walk = {v: v for v in nodes}
    for t in range(1, steps + 1):
        nxt = {}
        for start, cur in walk.items():
            if cur is None or cur not in adj:
                nxt[start] = cur
                continue
            nbrs = adj[cur]
            h = hashlib.md5(f"walk{t}:{cur}".encode("utf-8")).hexdigest()
            chosen = nbrs[int(h[:8], 16) % len(nbrs)]
            # a NULL neighbor row coalesces back to cur in the distributed
            # step (coalesce(_d, cur)) — stay put, don't hop to NULL
            nxt[start] = cur if chosen is None else chosen
        walk = nxt
    ordered = sorted(nodes, key=lambda v: (v is None, v))
    return small_df(spark, [(v, walk[v]) for v in ordered], schema)


def hash_random_walk_oracle_sql(edges_cte: str, steps: int = 4) -> str:
    """DuckDB oracle for :func:`hash_random_walk`: identical hops unrolled
    as CTEs from the same hash formula and neighbor ordering."""
    parts = [
        f"edges AS (SELECT DISTINCT src AS s, dst AS d FROM ({edges_cte}))",
        """nbrs AS (
  SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d) - 1 AS rn,
         count(*) OVER (PARTITION BY s) AS deg
  FROM edges)""",
        "nodes AS (SELECT s AS node FROM edges UNION SELECT d FROM edges)",
        "w0 AS (SELECT node AS start, node AS cur FROM nodes)",
    ]
    for t in range(1, steps + 1):
        parts.append(
            f"""w{t} AS (
  SELECT w.start, coalesce(n.d, w.cur) AS cur
  FROM w{t - 1} w LEFT JOIN nbrs n
    ON n.s = w.cur
   AND n.rn = ('0x' || substr(md5('walk{t}:' || w.cur), 1, 8))::BIGINT % n.deg)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT start, cur AS node FROM w{steps}"
    )


def ktruss_edges(
    edges: DataFrame,
    k: int = 4,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """K-truss peeling (bounded synchronous rounds): keep edges whose
    triangle support (common-neighbor count in the undirected graph) is
    at least k-2, recompute support on the surviving subgraph, repeat.
    With ``rounds`` < the peel depth the result is the honest
    "k-truss-candidate after r peels" — monotone, deterministic, and
    identical on both engines (pure integer counting, no tie decisions).
    Returns canonical surviving edges (a < b) with their final support.

    Scale shape per round: support is ONE self-join of the symmetrized
    adjacency on the shared-neighbor column (shuffle keyed by vertex)
    aggregated per edge — the standard distributed triangle-counting
    join, never materializing triangles; the filter is a pushed predicate
    on the aggregate. Dense hub vertices are the usual hot-key salting
    candidates."""
    if rounds < 1:
        raise ValueError(f"ktruss_edges needs rounds >= 1, got {rounds}")
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rows = driver_rows(und)  # no NULL keys: a != b filters them
    if rows is not None:
        return _ktruss_driver(
            edges.sparkSession, rows, k, rounds, und.schema[0].dataType
        )
    cur = und
    # early stop at the FIXED POINT: a round that drops no edge makes every
    # later round recompute identical support — result-identical to running
    # all `rounds`, and the convergence probe is one count over the freshly
    # checkpointed (already materialized) edge frame
    prev_cnt = und.count()
    for _ in range(rounds):
        n1 = cur.select(F.col("a").alias("ea"), F.col("b").alias("c"))
        n2 = cur.select(F.col("a").alias("eb"), F.col("b").alias("c2"))
        sup = (
            cur.filter(F.col("a") < F.col("b"))
            .join(n1, F.col("ea") == F.col("a"))
            .join(n2, (F.col("eb") == F.col("b")) & (F.col("c2") == F.col("c")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
            .filter(F.col("support") >= k - 2)
        )
        keep = sup.select("a", "b")
        cur = (
            keep.union(keep.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .localCheckpoint(eager=True)
        )
        last_sup = sup
        cnt = cur.count()
        if cnt == prev_cnt:
            break
        prev_cnt = cnt
    return last_sup


def _ktruss_driver(spark, und_rows, k, rounds, node_type) -> DataFrame:
    """Driver-side k-truss peel over the collected symmetrized edge set —
    exact integer triangle-support counting (|N(a) ∩ N(b)| for canonical
    a < b; self-loops already filtered, so no a/b contamination), same
    fixed-point early stop."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions import small_df

    cur = {(r[0], r[1]) for r in und_rows}
    schema = StructType(
        [
            StructField("a", node_type),
            StructField("b", node_type),
            StructField("support", LongType()),
        ]
    )
    last_sup: dict = {}
    prev_cnt = len(cur)
    for _ in range(rounds):
        adj: dict = {}
        for a, b in cur:
            adj.setdefault(a, set()).add(b)
        sup = {}
        for a, b in cur:
            if a < b:
                s = len(adj[a] & adj[b])
                if s >= k - 2:
                    sup[(a, b)] = s
        cur = {(a, b) for (a, b) in sup} | {(b, a) for (a, b) in sup}
        last_sup = sup
        if len(cur) == prev_cnt:
            break
        prev_cnt = len(cur)
    ordered = sorted(last_sup)
    return small_df(spark, [(a, b, last_sup[(a, b)]) for a, b in ordered], schema)


def ktruss_oracle_sql(edges_cte: str, k: int = 4, rounds: int = 2) -> str:
    """DuckDB oracle for :func:`ktruss_edges`: identical peel rounds
    unrolled as CTEs."""
    parts = [
        f"""u0 AS (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM ({edges_cte})
    UNION ALL SELECT dst, src FROM ({edges_cte})
  ) WHERE a <> b)""",
    ]
    for r in range(1, rounds + 1):
        prev = f"u{r - 1}"
        parts.append(
            f"""s{r} AS (
  SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support
  FROM {prev} e
  JOIN {prev} n1 ON n1.a = e.a
  JOIN {prev} n2 ON n2.a = e.b AND n2.b = n1.b
  WHERE e.a < e.b
  GROUP BY 1, 2
  HAVING count(*) >= {k - 2})"""
        )
        parts.append(
            f"""u{r} AS (
  SELECT a, b FROM s{r} UNION ALL SELECT b, a FROM s{r})"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT a, b, support FROM s{rounds}"
    )


def kcore_vertices(
    edges: DataFrame,
    k: int = 6,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """K-core peeling (bounded synchronous rounds), the VERTEX-side
    complement of :func:`ktruss_edges`: drop vertices whose degree in the
    undirected simple graph is below ``k``, restrict the graph to the
    survivors, repeat. With ``rounds`` below the peel depth the result is
    the honest "k-core candidate after r peels" — monotone and
    deterministic (pure integer degree counting). Returns the surviving
    vertices with the degree that qualified them in the LAST round.

    Scale shape per round: degree is one count aggregation keyed by
    vertex; the restriction is two semi-join-shaped equi-joins of the
    edge list against the O(|V|) survivor set (broadcastable when the
    vertex set is dimension-sized, shuffle-keyed otherwise). Nothing is
    ever quadratic; peel work shrinks monotonically as edges drop."""
    if rounds < 1:
        raise ValueError(f"kcore_vertices needs rounds >= 1, got {rounds}")
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rows = driver_rows(und)
    if rows is not None:
        return _kcore_driver(
            edges.sparkSession, rows, k, rounds, und.schema[0].dataType
        )
    cur = und
    keep_deg = None
    # fixed-point early stop, as in ktruss_edges: an unchanged edge frame
    # makes every later peel recompute identical degrees
    prev_cnt = und.count()
    for _ in range(rounds):
        deg = cur.groupBy("a").agg(
            F.count(F.lit(1)).cast("bigint").alias("degree")
        )
        keep_deg = deg.filter(F.col("degree") >= k)
        keep = keep_deg.select("a")
        cur = (
            cur.join(keep, "a")
            .join(keep.select(F.col("a").alias("b")), "b")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        cnt = cur.count()
        if cnt == prev_cnt:
            break
        prev_cnt = cnt
    return keep_deg


def _kcore_driver(spark, und_rows, k, rounds, node_type) -> DataFrame:
    """Driver-side k-core peel over the collected symmetrized edge set —
    exact integer degree counting, restriction to survivors on both edge
    ends, same fixed-point early stop; returns the LAST round's
    qualifying (vertex, degree) rows."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions import small_df

    cur = {(r[0], r[1]) for r in und_rows}
    schema = StructType(
        [StructField("a", node_type), StructField("degree", LongType())]
    )
    keep_deg: dict = {}
    prev_cnt = len(cur)
    for _ in range(rounds):
        deg: dict = {}
        for a, _b in cur:
            deg[a] = deg.get(a, 0) + 1
        keep_deg = {a: d for a, d in deg.items() if d >= k}
        cur = {(a, b) for (a, b) in cur if a in keep_deg and b in keep_deg}
        if len(cur) == prev_cnt:
            break
        prev_cnt = len(cur)
    ordered = sorted(keep_deg)
    return small_df(spark, [(a, keep_deg[a]) for a in ordered], schema)


def kcore_oracle_sql(edges_cte: str, k: int = 6, rounds: int = 2) -> str:
    """DuckDB oracle for :func:`kcore_vertices`: identical peel rounds
    unrolled as CTEs."""
    parts = [
        f"""g0 AS (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM ({edges_cte})
    UNION ALL SELECT dst, src FROM ({edges_cte})
  ) WHERE a <> b)""",
    ]
    for r in range(1, rounds + 1):
        prev = f"g{r - 1}"
        parts.append(
            f"""d{r} AS (
  SELECT a, CAST(count(*) AS BIGINT) AS degree
  FROM {prev} GROUP BY 1 HAVING count(*) >= {k})"""
        )
        parts.append(
            f"""g{r} AS (
  SELECT g.a, g.b FROM {prev} g
  JOIN d{r} x ON g.a = x.a JOIN d{r} y ON g.b = y.a)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT a, degree FROM d{rounds}"
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Personalized PageRank: identical fixed-point discipline as
    :func:`pagerank` (per-edge contributions rounded to 12 dp, exact
    DECIMAL sums, re-rounded iterate) but the teleport mass lands on a
    SEED set instead of uniformly — the topic-sensitive/recommendation
    variant (``rank ≈ visit probability of a random walk restarting at
    the seeds``). ``seeds`` is a 1-column (node) DataFrame; init mass is
    1/|S| on seeds, 0 elsewhere.

    Scale shape: identical to pagerank (|E| contributions shuffled on
    dst, |V| ranks on node, out-weights hoisted before the loop); the
    only addition is an O(|V|) seed-flag join computed once and a 1-row
    seed-count broadcast."""
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), F.col(weight).alias("_w")
    ).localCheckpoint(eager=False)
    s = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    e_rows = driver_rows(e)
    s_rows = driver_rows(s) if e_rows is not None else None
    if s_rows is not None:
        return _personalized_pagerank_driver(
            edges.sparkSession,
            e_rows,
            {r[0] for r in s_rows},
            iters,
            damping,
            e.schema[0].dataType,
        )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_out_w"))
    e_norm = e.join(outw, "_src").localCheckpoint(eager=True)
    ns = s.agg(F.count(F.lit(1)).alias("_ns"))
    flagged = nodes.join(
        s.withColumn("_is_seed", F.lit(1)), "node", "left"
    ).select("node", F.coalesce(F.col("_is_seed"), F.lit(0)).alias("_is_seed"))
    base = flagged.crossJoin(F.broadcast(ns)).localCheckpoint(eager=True)
    rank = base.select(
        "node", "_is_seed", "_ns",
        F.round(F.col("_is_seed") / F.col("_ns"), _SCALE).alias("rank"),
    )
    for _ in range(iters):
        contrib = (
            e_norm
            .join(rank.select(F.col("node").alias("_src"), "rank"), "_src")
            .select(
                "_dst",
                F.round(F.col("rank") * F.col("_w") / F.col("_out_w"), _SCALE)
                .cast(f"decimal(20,{_SCALE})")
                .alias("_c"),
            )
        )
        summed = contrib.groupBy("_dst").agg(F.sum("_c").alias("_s"))
        rank = (
            base.join(summed, base.node == summed._dst, "left")
            .select(
                "node",
                "_is_seed",
                "_ns",
                F.round(
                    (1.0 - damping) * F.col("_is_seed") / F.col("_ns")
                    + damping * F.coalesce(F.col("_s").cast("double"), F.lit(0.0)),
                    _SCALE,
                ).alias("rank"),
            )
        )
    return rank.select("node", "rank")


def _personalized_pagerank_driver(
    spark, edge_rows, seed_set, iters, damping, node_type
) -> DataFrame:
    """Driver-side personalized-PageRank rounds — the pagerank replication
    with seed-targeted teleport: init mass round(is_seed/|S|, 12), base
    term ((1-d)·is_seed)/|S|. |S| counts ALL distinct seeds (the
    distributed 1-row count does, graph members or not); a NULL seed rows
    into the count but never equi-joins a node, exactly as distributed."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions import small_df

    out_w: dict = {}
    nodes = set()
    for r in edge_rows:
        s, d, w = r[0], r[1], r[2]
        nodes.add(s)
        nodes.add(d)
        if s is not None:
            out_w[s] = out_w[s] + w if s in out_w else w
    ns = len(seed_set)
    schema = StructType(
        [StructField("node", node_type), StructField("rank", DoubleType())]
    )
    if not nodes:
        return small_df(spark, [], schema)
    if ns == 0:
        # distributed 0/0 double division is NaN and the iterate keeps it
        # NaN (round(NaN)=NaN); Python would raise, so short-circuit
        nan = float("nan")
        ordered = sorted(nodes, key=lambda v: (v is None, v))
        return small_df(spark, [(v, nan) for v in ordered], schema)
    is_seed = {
        v: (1 if (v is not None and v in seed_set) else 0) for v in nodes
    }
    rank = {v: _round12(is_seed[v] / ns) for v in nodes}
    for _ in range(iters):
        acc: dict = {}
        for r in edge_rows:
            s, d, w = r[0], r[1], r[2]
            if s is None or d is None:
                continue
            c = _dec12(_round12(rank[s] * float(w) / float(out_w[s])))
            if c is None:  # non-finite contribution casts to NULL; sum skips it
                continue
            acc[d] = acc[d] + c if d in acc else c
        rank = {
            v: _round12(
                (1.0 - damping) * is_seed[v] / ns
                + damping * (float(acc[v]) if v in acc else 0.0)
            )
            for v in nodes
        }
    ordered = sorted(nodes, key=lambda v: (v is None, v))
    return small_df(spark, [(v, rank[v]) for v in ordered], schema)


def personalized_pagerank_oracle_sql(
    edges_cte: str, seeds_cte: str, iters: int = 3, damping: float = 0.85
) -> str:
    """The identical personalized-PageRank rounds as DuckDB SQL, generated
    from the same constants as :func:`personalized_pagerank`."""
    d = damping
    parts = [
        f"edges AS ({edges_cte})",
        f"seeds AS (SELECT DISTINCT * FROM ({seeds_cte}))",
        "nodes AS (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst FROM edges)",
        "outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src)",
        "ns AS (SELECT count(*) AS n FROM seeds)",
        """flagged AS (
  SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
  FROM nodes n LEFT JOIN seeds s ON s.node = n.node)""",
        f"r0 AS (SELECT node, is_seed, round(is_seed / ns.n, {_SCALE}) AS rank"
        " FROM flagged CROSS JOIN ns)",
    ]
    for i in range(iters):
        parts.append(
            f"""c{i} AS (
  SELECT e.dst,
         sum(CAST(round(r.rank * e.w / o.out_w, {_SCALE}) AS DECIMAL(20,{_SCALE}))) AS s
  FROM edges e JOIN outw o ON e.src = o.src JOIN r{i} r ON r.node = e.src
  GROUP BY e.dst)"""
        )
        parts.append(
            f"""r{i + 1} AS (
  SELECT f.node, f.is_seed,
         round((1.0 - {d}) * f.is_seed / ns.n
               + {d} * coalesce(CAST(c{i}.s AS DOUBLE), 0.0), {_SCALE}) AS rank
  FROM flagged f CROSS JOIN ns LEFT JOIN c{i} ON c{i}.dst = f.node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, rank FROM r{iters}"
    )


def temporal_earliest_arrival(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    etime: str = "et",
) -> DataFrame:
    """Earliest-arrival reachability on a TEMPORAL graph: a path is
    time-respecting when its edge times are non-decreasing, and a node's
    arrival value is the earliest time any such path from a seed reaches
    it — the primitive behind influence/contagion analysis on interaction
    networks (static reachability overstates what temporal order allows).

    ``seeds`` is a (node, t0) frame. Each synchronous round relaxes every
    edge whose time is >= its source's current arrival and keeps the
    per-node minimum — the same iterate discipline as
    :func:`sssp_cheapest` (two node-keyed shuffles per round, lineage cut
    per round, fixed ``rounds`` so both engines run the identical
    schedule). Arrival times are exact integers."""
    if rounds < 1:
        raise ValueError(f"temporal_earliest_arrival needs rounds >= 1, got {rounds}")
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"),
        F.col(etime).cast("bigint").alias("_t"),
    ).localCheckpoint(eager=False)
    arr = seeds.select(F.col("node"), F.col("t0").cast("bigint").alias("at"))
    e_rows = driver_rows(e)
    s_rows = driver_rows(arr) if e_rows is not None else None
    if s_rows is not None:
        return _temporal_earliest_driver(
            edges.sparkSession, e_rows, s_rows, rounds, e.schema[0].dataType
        )
    for _ in range(rounds):
        relaxed = (
            e.join(arr.select(F.col("node").alias("_s"), "at"), "_s")
            .filter(F.col("_t") >= F.col("at"))
            .select(F.col("_d").alias("node"), F.col("_t").alias("at"))
        )
        arr = (
            arr.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("at").alias("at"))
            .localCheckpoint(eager=False)
        )
    return arr


def _temporal_earliest_driver(spark, e_rows, seed_rows, rounds, node_type) -> DataFrame:
    """Driver-side time-respecting relaxation — exact integer min merge,
    Spark-faithful edge cases: duplicate seed nodes collapse to their min
    in the first round's groupBy; a NULL source never joins; a NULL
    destination forms its own min group (one NULL output row, exactly as
    the distributed groupBy does); NULL edge times fail the >= filter."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..functions import small_df

    arr: dict = {}
    for r in seed_rows:
        n, t = r[0], r[1]
        if n in arr:
            arr[n] = t if (arr[n] is None or (t is not None and t < arr[n])) else arr[n]
        else:
            arr[n] = t
    for _ in range(rounds):
        nxt = dict(arr)
        for r in e_rows:
            s, d, t = r[0], r[1], r[2]
            if s is None or t is None or s not in arr:
                continue
            at = arr[s]
            if at is None or t < at:
                continue
            cur = nxt.get(d)
            if d not in nxt or cur is None or t < cur:
                nxt[d] = t
        arr = nxt
    schema = StructType(
        [StructField("node", node_type), StructField("at", LongType())]
    )
    ordered = sorted(arr, key=lambda v: (v is None, v))
    return small_df(spark, [(v, arr[v]) for v in ordered], schema)


def temporal_earliest_arrival_oracle_sql(
    edges_sql: str, seed_sql: str, rounds: int = 3
) -> str:
    """DuckDB oracle for :func:`temporal_earliest_arrival`: the same
    synchronous rounds unrolled as CTEs over integer times."""
    ctes = [f"te AS ({edges_sql})", f"a0 AS ({seed_sql})"]
    for k in range(1, rounds + 1):
        p = f"a{k - 1}"
        ctes.append(
            f"""a{k} AS (
  SELECT node, CAST(min(at) AS BIGINT) AS at FROM (
    SELECT node, at FROM {p}
    UNION ALL
    SELECT e.dst AS node, e.et AS at
    FROM te e JOIN {p} q ON e.src = q.node AND e.et >= q.at
  ) GROUP BY 1)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, at FROM a{rounds}"
