"""Graph analytics over relational data: co-occurrence mining + PageRank.

The co-purchase graph (parts appearing in the same order) is the classic
relational->graph bridge: edge building is a self-join co-partitioned on
the order key (pairs per order are bounded by order size, so the explosion
is quadratic in LINES PER ORDER — a constant — never in table size).

PageRank runs in EXACT integer arithmetic: scores live in 1e-9 units
(BIGINT), per-neighbor contributions use integer division, and the damping
step is ``150_000_000 + (85 * s) div 100``.  Every engine computes the
identical trajectory, so — unlike float PageRank, whose accumulation order
drifts — the iteration is value-gateable cross-engine, the same discipline
as the k-means quantized-inertia trace (similarity.py).

Completes the iterative-algorithm family: connected components (dedup.py),
k-means (similarity.py), PageRank (here) — all expressed as join+aggregate
per hop with only scalar convergence data reaching the driver.

Reference scope note: the reference models workload taxonomy only
(`/root/reference/src/templates/estimation.html:199-246`); graph analytics
is part of the engine-completeness extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans._helpers import eager_checkpoint, local_df, materialize, t
from ..plans.registry import query

_PR_ITERS = 3
_PR_ONE = 1_000_000_000  # 1.0 in fixed-point units


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected co-purchase pairs (pa < pb) from order baskets.

    Self-join on the order key, NOT the basket-array build the single-
    consumer queries use: PageRank references the edge relation seven
    times (3 iterations x 2 joins + degrees), and under multi-consumer
    replay the self-join resolves through ReusedExchange — one physical
    lineitem shuffle serves every consumer, with only the cheap join
    replayed — while the basket build replays its collect_set aggregate +
    explode per consumer (measured 3.9 s vs 5.0 s at sf0.1; with a cache
    it is 6.0 s — the columnar materialization costs more than it saves,
    see the in-query note).  Pairs per order are bounded by order size, so
    the join fan-out is quadratic in LINES PER ORDER — a constant."""
    a = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )


@query(
    "q_copurchase_pairs",
    oracle="""
        WITH pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )
        SELECT pa, pb, CAST(count(*) AS BIGINT) AS support
        FROM pairs
        GROUP BY pa, pb
        HAVING count(*) >= 2
        ORDER BY support DESC, pa, pb
        LIMIT 50
    """,
    tags=("complex", "graph", "market-basket"),
)
def q_copurchase_pairs(spark, sf_dir):
    """Frequent-itemset mining, pair level: part pairs co-occurring in >= 2
    orders, top 50 by support.  One order-key self-join (co-partitioned,
    pairs bounded by basket size squared) + one (pa, pb) count — the
    support counting step of Apriori/FP-growth, and the weighted-edge dual
    of the PageRank graph below."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # multiplicity-preserving basket pairs: collect_list (not set) keeps
    # duplicate part rows, the y > x filter drops equal-value positions —
    # support counts are row-for-row identical to the lineitem self-join,
    # with one shuffle instead of two
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "filter(transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS pa, y AS pb)), p -> p.pb > p.pa)))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.desc("support"), "pa", "pb")
        .limit(50)
    )


def _pagerank_oracle() -> str:
    its = []
    prev = "p0"
    for i in range(1, _PR_ITERS + 1):
        its.append(f"""
        it{i} AS (
            SELECT e.dst AS node,
                   CAST(150000000 + (85 * sum(p.pr // d.d)) // 100 AS BIGINT) AS pr
            FROM edges e
            JOIN {prev} p ON p.node = e.src
            JOIN deg d ON d.node = e.src
            GROUP BY e.dst)""")
        prev = f"it{i}"
    return f"""
        WITH pairs AS (
            SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        edges AS (
            SELECT pa AS src, pb AS dst FROM pairs
            UNION ALL
            SELECT pb AS src, pa AS dst FROM pairs),
        deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
        p0 AS (SELECT node, CAST({_PR_ONE} AS BIGINT) AS pr FROM deg),
        {",".join(its)}
        SELECT node AS part, pr AS pr_q
        FROM {prev}
        ORDER BY pr_q DESC, part
        LIMIT 20
    """


@query(
    "q_pagerank_parts",
    oracle=_pagerank_oracle(),
    tags=("complex", "graph", "iterative", "pagerank"),
)
def q_pagerank_parts(spark, sf_dir):
    """PageRank (damping 0.85, 3 iterations) over the co-purchase part
    graph, in exact fixed-point BIGINT arithmetic — the oracle unrolls the
    same three iterations in SQL, so the full trajectory (not a float
    approximation) must match.  Each iteration is one edges->scores join +
    dst aggregate, shuffled on the node key; only the final top-20 sort is
    global (TakeOrdered).  At 100 TB the per-hop shape is the standard
    distributed PageRank; convergence iterations would replace the fixed
    unroll and the edge/deg relations would be cached across hops."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = copurchase_edges(li)
    edges = pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    # the edge build is referenced by every iteration but deliberately NOT
    # materialized: the repeats resolve through ReusedExchange (one
    # physical build serves all three iterations — measured 3.9 s warm at
    # sf0.1), while BOTH materialization strategies cost more than the
    # reuse saves (columnar cache 5.9 s; localCheckpoint(eager) 5.0 s) —
    # the iteration shuffles dominate, not the edge rebuild.  On a
    # convergence-unbounded PageRank the balance flips and a periodic
    # localCheckpoint would cut the growing lineage instead.
    pr = deg.select("node", F.lit(_PR_ONE).cast("bigint").alias("pr"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(pr, edges.src == pr.node)
            .join(deg.withColumnRenamed("node", "dnode"), F.col("src") == F.col("dnode"))
            .select("dst", F.expr("pr div d").alias("c"))
        )
        pr = contrib.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(150_000_000) + F.expr("85 * sum(c) div 100"))
            .cast("bigint")
            .alias("pr")
        )
    return (
        pr.select(F.col("node").alias("part"), F.col("pr").alias("pr_q"))
        .orderBy(F.desc("pr_q"), "part")
        .limit(20)
    )


@query(
    "q_triangle_count",
    oracle="""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        tri AS (
            SELECT e1.pa AS u, e1.pb AS v, e2.pb AS w
            FROM e e1
            JOIN e e2 ON e2.pa = e1.pb
            JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        ),
        nodes AS (
            SELECT u AS node FROM tri
            UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri
        )
        SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        FROM nodes
        GROUP BY node
        ORDER BY n_tri DESC, node
        LIMIT 20
    """,
    tags=("complex", "graph", "triangles"),
)
def q_triangle_count(spark, sf_dir):
    """Exact triangle membership counts on the co-purchase graph (support
    >= 2 edges over DISTINCT parts per order), top-20 nodes — the
    clustering-coefficient primitive.
    Distributed shape is the standard compact-forward algorithm: orient
    every edge low-id -> high-id, join edges-on-middle-vertex to form
    wedges (u<v<w by construction, so each triangle is generated exactly
    once), then close each wedge with one equi-join back to the edge set.
    Cost is sum(deg^2) for the wedge join — the orientation keeps hub
    fan-out to *higher-id* neighbors only, the classic skew guard — and
    both joins are plain shuffled equi-joins on (node) / (u, w): no
    iteration, no driver state."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # pair generation from per-order baskets (sorted distinct parts, ordered
    # in-array combinations): one groupBy replaces the lineitem self-join —
    # basket sizes are bounded (order line counts), so the in-memory pair
    # fan-out is tiny while the shuffle drops from 2x lineitem to 1x
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    # the edge table is consumed three times (e1/e2/e3) but deliberately
    # UNPINNED: all three consumers share the (pa, pb) aggregation
    # Exchange, which ReusedExchange deduplicates inside the single action
    # — measured 2.26 s unpinned vs 2.95 s reliable-checkpoint at sf0.1,
    # with zero persistent-RDD footprint (the r3 .cache() never released)
    e = (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= 2)
        .select("pa", "pb")
    )
    e1 = e.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
    e2 = e.select(F.col("pa").alias("v"), F.col("pb").alias("w"))
    e3 = e.select(F.col("pa").alias("u"), F.col("pb").alias("w"))
    tri = e1.join(e2, "v").join(e3, ["u", "w"])
    nodes = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count("*").alias("n_tri"))
        .orderBy(F.desc("n_tri"), "node")
        .limit(20)
    )


@query(
    "q_bfs_levels",
    oracle="""
        WITH RECURSIVE pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ),
        edges AS (
            SELECT pa AS src, pb AS dst FROM pairs
            UNION ALL
            SELECT pb, pa FROM pairs
        ),
        seed AS (SELECT min(src) AS s FROM edges),
        bfs(node, level) AS (
            SELECT s, 0 FROM seed
            UNION
            SELECT e.dst, bfs.level + 1
            FROM bfs JOIN edges e ON e.src = bfs.node
            WHERE bfs.level < 3
        )
        SELECT node, CAST(min(level) AS BIGINT) AS lvl
        FROM bfs
        GROUP BY node
        ORDER BY lvl, node
    """,
    tags=("complex", "graph", "bfs", "shortest-path", "iterative"),
)
def q_bfs_levels(spark, sf_dir):
    """BFS shortest-path levels over the co-purchase graph from its
    minimum-id part, 3 hops — the reachability/shortest-path member of the
    iterative family (CC propagates labels, PageRank propagates mass, BFS
    propagates distance).  All-integer levels, so cross-engine exact; the
    DuckDB oracle replays it as a recursive CTE with min-level semantics.

    Scale shape: reach-expansion with min-level reduction — each hop is
    one frontier-edges equi-join + distinct; levels come from one final
    ``min(lvl)`` over the unioned reach sets, so there are NO per-hop anti
    joins (measured 2x cheaper than the frontier-minus-known formulation:
    4.7 s vs 2.5 s at sf0.01).  The symmetrized edge relation is
    repartitioned by src ONCE, with the dedup distinct placed after that
    shuffle (subset clustering — the shingle_df trick) so one exchange
    serves the dedup AND every hop's join, and cached; hop joins then add
    no edge-side exchange (sf0.1: 4.3 -> 3.2 s).  Loop state follows the
    connected-components hygiene pattern (SCALE.md 7g): in-loop caches
    (an uncached unrolling replicates the reach lineage — 164 file scans
    in the 3-hop physical plan), every cache released in the ``finally``,
    the result leaving through one single-job ``materialize`` (beat
    eager_checkpoint's 2 jobs: 2.85 -> 2.61 s same-process A/B at sf0.1,
    optimization r10)."""
    li = t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    raw_pairs = a.join(b, "ok").filter(F.col("pa") < F.col("pb")).select("pa", "pb")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        raw_pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(raw_pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .repartition(n_part, F.col("src"))
        .distinct()
        .cache()
    )
    seed = edges.agg(F.min("src").alias("node")).cache()
    pinned = [edges, seed]
    try:
        reach = seed
        levels = seed.withColumn("lvl", F.lit(0))
        for h in (1, 2, 3):
            nxt = (
                reach.select(F.col("node").alias("fnode"))
                .join(edges, F.col("fnode") == F.col("src"))
                .select(F.col("dst").alias("node"))
                .distinct()
            )
            if h < 3:  # the last reach set has a single consumer
                nxt = nxt.cache()
                pinned.append(nxt)
            levels = levels.unionByName(nxt.withColumn("lvl", F.lit(h)))
            reach = nxt
        out = levels.groupBy("node").agg(F.min("lvl").cast("bigint").alias("lvl"))
        return materialize(out).orderBy("lvl", "node")
    finally:
        for df in pinned:
            df.unpersist()


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling) — the graph family's
# filter-to-fixpoint shape, distinct from min-label propagation (CC),
# pointer doubling (jump-CC), frontier expansion (BFS), and score
# iteration (PageRank): each round REMOVES structure (every edge with an
# endpoint of degree < k) and the removals cascade until the k-core
# remains — the standard "dense sub-community" screen (Seidman 1983) and
# the peeling pattern behind degeneracy ordering / graph sparsification.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 10
_KCORE_SUPPORT = 2  # co-purchase support threshold (same thinning as
#                     q_copurchase_pairs) — the raw graph is min-degree
#                     ~80-dense, so every vertex is trivially in-core


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """DuckDB replay: the peel UNROLLED to ``rounds`` CTE generations
    (the q_pagerank_parts / q_kmeans_iterate discipline) — each round's
    census row value-gates the whole trajectory, and the final-vs-previous
    join derives is_fixpoint exactly as the Spark side does.  Every
    generation is AS MATERIALIZED: e_r is referenced three times by
    generation r+1, so an inlining planner would otherwise expand the
    chain 3^rounds-fold."""
    gens = []
    for r in range(rounds + 1):
        if r > 0:
            gens.append(f"""
        e{r} AS MATERIALIZED (
            SELECT e.src, e.dst FROM e{r - 1} e
            JOIN d{r - 1} a ON a.node = e.src AND a.d >= {k}
            JOIN d{r - 1} b ON b.node = e.dst AND b.d >= {k})""")
        gens.append(f"""
        d{r} AS MATERIALIZED (
            SELECT src AS node, count(*) AS d FROM e{r} GROUP BY src)""")
    census = "\n            UNION ALL\n".join(
        f"""            SELECT CAST({r} AS BIGINT) AS round,
                   CAST(count(*) AS BIGINT) AS n_alive,
                   CAST(COALESCE(sum(d), 0) // 2 AS BIGINT) AS n_edges,
                   CAST(COALESCE(sum(node * d), 0) AS BIGINT) AS deg_checksum
            FROM d{r}"""
        for r in range(rounds + 1)
    )
    return f"""
        WITH pairs AS (
            SELECT pa, pb FROM (
                SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS s
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2)
            WHERE s >= {_KCORE_SUPPORT}
        ),
        e0 AS (
            SELECT pa AS src, pb AS dst FROM pairs
            UNION ALL
            SELECT pb AS src, pa AS dst FROM pairs
        ),{",".join(gens)},
        census AS (
{census}
        )
        SELECT c.round, c.n_alive, c.n_edges, c.deg_checksum,
               COALESCE(p.n_alive = c.n_alive AND p.n_edges = c.n_edges
                        AND p.deg_checksum = c.deg_checksum,
                        FALSE) AS is_fixpoint
        FROM census c LEFT JOIN census p ON p.round = c.round - 1
        ORDER BY c.round
    """


@query(
    "q_kcore_peel",
    oracle=_kcore_oracle(),
    tags=("complex", "graph", "iterative", "kcore", "peeling"),
)
def q_kcore_peel(spark, sf_dir):
    """k-core peel (k=3) of the support-thinned co-purchase graph: each
    round drops every edge with an endpoint of in-subgraph degree < k,
    cascading to the 3-core fixpoint.  Output is the full peel TRAJECTORY
    — per round, surviving vertex count, undirected edge count, and an
    order-independent Σ(node·deg) checksum that pins exactly WHICH nodes
    hold which degrees — plus an is_fixpoint flag derived by joining each
    census to its predecessor.  Rounds are fixed at 10 (both engines
    identically; fixture trajectories converge in ≤ 8 at every SF and the
    trailing rows make convergence VISIBLE in the gated values:
    tests/test_kcore.py asserts the final row is a fixpoint).

    Scale: the data-sized work is the one co-purchase self-join (bounded
    by lines-per-order², checkpointed once); every peel round is a degree
    aggregate + two semi joins over a MONOTONICALLY SHRINKING edge set,
    shuffled on the node key — the standard distributed peel.  Lineage is
    checkpoint-truncated per round (the jump-CC planning-cost lesson);
    census rows are one aggregate row per round, so the driver never sees
    more than rounds+1 rows."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket-array pair build (q_copurchase_pairs' one-shuffle form —
    # measured 2.5 s vs 4+ s for the order-key self-join at sf0.1; here
    # the edge relation is checkpointed once, so single-consumer rules
    # apply and the cheaper build wins)
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("ps")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "filter(transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS pa, y AS pb)), p -> p.pb > p.pa)))"
                )
            ).alias("p")
        )
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= _KCORE_SUPPORT)
        .select("pa", "pb")
    )
    # materialize at the PAIR level (half the rows of the symmetrized
    # relation — the checkpoint write is the build's disk cost) and
    # symmetrize from the checkpoint: both union branches scan the same
    # small file, so every peel-round consumer still reads materialized
    # data with the basket pipeline executed exactly once
    pairs = eager_checkpoint(pairs)
    edges = pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    return kcore_trajectory(
        edges, k=_KCORE_K, rounds=_KCORE_ROUNDS, materialized=True
    )


def kcore_trajectory(
    edges: DataFrame, k: int, rounds: int, materialized: bool = False
) -> DataFrame:
    """Peel-trajectory census over a DIRECTED-both-ways edge relation
    (src, dst): per round, (n_alive, n_edges, Σ node·deg, is_fixpoint).
    Separated from the query so tests drive synthetic graphs with known
    cores (clique + pendant chain).  ``materialized`` skips the input
    checkpoint when the caller already materialized the edge relation.

    Early-stop protocol: each round's census is ONE aggregate row read by
    the driver (the sanctioned scalar-convergence-read shape, cf.
    dedup._cc_pointer_doubling's changed-count); the edge set shrinks
    monotonically, so an unchanged census IS the fixpoint and the loop
    stops there — trailing rounds up to the fixed unroll are identical
    copies by definition, emitted without re-executing the peel (measured
    at sf0.1: 7.9 s for the always-10-rounds form vs 2.6 s with the
    stop at the round-2 fixpoint).

    Per-round shape (optimization r9): the degree relation is computed
    ONCE per round and leaves through its own eager_checkpoint (a
    node-count-sized write) — the previous form re-derived it three times
    per round (once under the census collect, once per semi join under
    the edge checkpoint); the census then aggregates the materialized deg
    (a tiny job) and both semi joins probe it.  Measured at sf0.1:
    3.9 -> 3.4 s warm; same trajectory at every SF."""
    spark = edges.sparkSession
    if not materialized:
        edges = eager_checkpoint(edges)

    rows: list[tuple[int, int, int, int]] = []
    prev: tuple[int, int, int] | None = None
    for r in range(rounds + 1):
        deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
        if r < rounds:
            # the final unrolled round's deg has a single consumer (the
            # census aggregate) — materializing it buys nothing there
            # (ADVICE r9); every earlier round's deg is probed by both
            # semi joins as well, so it leaves through a node-count-sized
            # materialization
            deg = eager_checkpoint(deg)
        c = deg.agg(
            F.count("*").cast("bigint").alias("n_alive"),
            F.expr("CAST(coalesce(sum(d), 0) DIV 2 AS BIGINT)").alias("n_edges"),
            F.coalesce(F.sum(F.col("node") * F.col("d")), F.lit(0))
            .cast("bigint")
            .alias("deg_checksum"),
        ).collect()[0]
        cur = (c["n_alive"], c["n_edges"], c["deg_checksum"])
        rows.append((r, *cur))
        if cur == prev:
            break  # fixpoint observed — every later census is this one
        prev = cur
        if r < rounds:
            keep = deg.filter(F.col("d") >= k)
            edges = edges.join(
                keep.select(F.col("node").alias("src")), "src", "semi"
            ).join(keep.select(F.col("node").alias("dst")), "dst", "semi")
            edges = eager_checkpoint(edges)
    while len(rows) <= rounds:  # fill the unroll with fixpoint copies
        rows.append((len(rows), *rows[-1][1:]))

    out = [
        (r, na, ne, ck, i > 0 and rows[i - 1][1:] == (na, ne, ck))
        for i, (r, na, ne, ck) in enumerate(rows)
    ]
    return local_df(
        spark,
        out,
        "round bigint, n_alive bigint, n_edges bigint, "
        "deg_checksum bigint, is_fixpoint boolean",
    ).orderBy("round")
