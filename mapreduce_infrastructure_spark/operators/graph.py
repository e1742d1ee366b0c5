"""Iterative graph analytics: PageRank over a trade graph.

The second iterative-fixpoint operator family next to connected components
(`llm/dedup.py::min_label_components`): numeric iteration where each round
is one shuffle-sized DataFrame pass driven by a small driver loop — the
Pregel-without-Pregel shape that covers PageRank, label propagation, and
power iteration on 1000-executor clusters without any graph library.

Determinism contract (the hard part of a cross-engine iterative oracle):
every iteration rounds the per-edge contribution to a fixed 1e-9 grain
(pure-IEEE floor form, `functions/exact.rnd`), accumulates the rounded
contributions in DECIMAL(28,9) — exact and associative, so shuffle order
and engine cannot change the sum — and rounds the damped update once more.
Both engines therefore compute the IDENTICAL rank trajectory, and the
differential gate can check an iterative numeric algorithm exactly.

The DuckDB oracle is the same recurrence UNROLLED into generated CTEs
(aggregates are not reliably allowed in a recursive CTE's recursive term),
one block per iteration — built by `_pagerank_oracle()`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table, table_paths
from ..functions.exact import rnd
from ..registry import query

N_ITERS = 5
_DAMP = 0.85
_BASE = 0.15
# Supplier node ids are offset so the two key spaces can share one column.
# The offset must DOMINATE the customer key space at every scale or the two
# vertex sets collide and merge (round-8 review finding: at sf0.1 c_custkey
# reaches 14999, so the old 10000 offset merged 999 customers into supplier
# nodes and mislabeled 5000 more — silent, because the oracle interpolates
# the same constant and tests ran at sf0.001). TPC-H custkey ≈ 150k·SF, so
# 10^12 clears SF 10^5 (the 100 TB target) with 10^5 headroom while
# supplier ids stay far inside int64.
_SUPP_OFFSET = 10**12

_EDGES_SQL = f"""
    pairs AS (
      SELECT DISTINCT o.o_custkey AS cust, {_SUPP_OFFSET} + l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT cust AS src, supp AS dst FROM pairs
      UNION ALL
      SELECT supp AS src, cust AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src)
"""


def _build_graph(spark, sf_dir: str):
    """(edges, nodes, deg) for the customer–supplier trade graph — ONE
    engine-side builder mirroring the shared _EDGES_SQL oracle fragment, so
    the two PageRank queries cannot drift (the oracle side was factored
    from day one; the engine side was hand-copied until round 8). The edge
    list is get-or-created under an sf_dir-keyed slot: both queries (and
    every iteration) read one cached copy per session instead of each
    pinning an unreleased duplicate."""
    from ..llm.cache import shared_persist

    def build():
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        pairs = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(
                F.col("o_custkey").alias("cust"),
                (F.lit(_SUPP_OFFSET) + F.col("l_suppkey")).alias("supp"),
            )
            .distinct()
        )
        return pairs.selectExpr("cust AS src", "supp AS dst").unionAll(
            pairs.selectExpr("supp AS src", "cust AS dst")
        )

    edges = shared_persist(
        spark,
        build,
        f"trade_graph_edges:{sf_dir}",
        table_paths(sf_dir, "orders", "lineitem"),
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    deg = edges.groupBy(F.col("src").alias("deg_node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    return edges, nodes, deg


def _edges_with_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trade-graph edge list with each edge's SOURCE out-degree
    attached, materialized once per session (round 17, guide §2.4): the
    PageRank loops previously joined ranks → deg → edges EVERY iteration;
    attaching the degree to the edge row once removes one join (and its
    exchange/sort) per iteration — 5 per query. Per-edge contribution
    arithmetic is unchanged (same rank/out_deg per edge row), so the
    trajectory is bit-identical — measured 13.2–15.2 → 7.8–8.2 s warm on
    the weighted variant at sf0.1, exceptAll 0 diffs."""
    from ..llm.cache import shared_persist

    def build():
        edges, _nodes, deg = _build_graph(spark, sf_dir)
        return edges.join(deg, edges.src == deg.deg_node).select(
            "src", "dst", "out_deg"
        )

    return shared_persist(
        spark,
        build,
        f"trade_graph_edges_deg:{sf_dir}",
        table_paths(sf_dir, "orders", "lineitem"),
    )


def _wedges_with_wsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted twin of `_edges_with_deg`: weighted edges with the source's
    total out-weight attached (see that docstring for the measurement)."""
    from ..llm.cache import shared_persist

    def build():
        wedges = _build_weighted_graph(spark, sf_dir)
        wdeg = wedges.groupBy(F.col("src").alias("deg_node")).agg(
            F.sum("w").alias("wsum")
        )
        return wedges.join(wdeg, wedges.src == wdeg.deg_node).select(
            "src", "dst", "w", "wsum"
        )

    return shared_persist(
        spark,
        build,
        f"trade_graph_wedges_deg:{sf_dir}",
        table_paths(sf_dir, "orders", "lineitem"),
    )


def _pagerank_oracle(iters: int = N_ITERS) -> str:
    """Generate the unrolled-iteration oracle: r0 = 1.0, then per iteration
    rank' = rnd9(0.15 + 0.85 * Σ rnd9(rank/out_deg)) with the sum in exact
    DECIMAL(28,9)."""
    blocks = [f"WITH {_EDGES_SQL}, r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)"]
    for k in range(1, iters + 1):
        blocks.append(f"""
    , r{k} AS (
      SELECT e.dst AS node,
             floor(({_BASE} + {_DAMP} * CAST(SUM(CAST(
                 floor(p.rank / d.out_deg * 1000000000 + 0.5) / 1000000000
               AS DECIMAL(28,9))) AS DOUBLE)) * 1000000000 + 0.5) / 1000000000 AS rank
      FROM r{k - 1} p
      JOIN deg d   ON p.node = d.src
      JOIN edges e ON e.src = p.node
      GROUP BY e.dst
    )""")
    blocks.append(f"""
    SELECT node,
           CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END AS node_type,
           rank
    FROM r{iters}
    """)
    return "".join(blocks)


@query(
    "pagerank_trade_graph",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 damped iterations, d=0.85) over the bipartite
    customer↔supplier trade graph (an edge per distinct who-bought-from-whom
    pair, symmetrized) — "which counterparties sit at the center of the
    trade network".

    Shape at 100 TB: the edge list is built once (one orderkey shuffle +
    DISTINCT), then each iteration is contribute→sum: a join of the current
    rank vector against the edge list and one aggregation by destination —
    one shuffle per iteration over rank-vector-sized data (nodes, not
    edges, after the combine). The driver loop only orchestrates; no data
    touches the driver. See module docstring for the exact-arithmetic
    contract that makes the trajectory engine-identical."""
    _edges, nodes, _deg = _build_graph(spark, sf_dir)
    ej = _edges_with_deg(spark, sf_dir)
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(N_ITERS):
        contribs = (
            ranks.join(ej, F.col("node") == F.col("src"))
            .select(
                F.col("dst").alias("node"),
                rnd(F.col("rank") / F.col("out_deg"), 9)
                .cast("decimal(28,9)")
                .alias("contrib"),
            )
        )
        ranks = contribs.groupBy("node").agg(
            rnd(
                F.lit(_BASE) + F.lit(_DAMP) * F.sum("contrib").cast("double"), 9
            ).alias("rank")
        )
    out = ranks.select(
        "node",
        F.when(F.col("node") >= _SUPP_OFFSET, "supplier")
        .otherwise("customer")
        .alias("node_type"),
        "rank",
    )
    return out


def _ppr_oracle(iters: int = N_ITERS) -> str:
    """Personalized-PageRank oracle: teleport mass goes ONLY to the seed set
    (customers of nation 0 that appear in the graph); r0 = 1 on seeds, 0
    elsewhere; same per-iteration rounding/decimal-sum contract."""
    blocks = [
        f"""WITH {_EDGES_SQL},
    seeds AS (
      SELECT n.node FROM nodes n
      JOIN customer c ON n.node = c.c_custkey
      WHERE c.c_nationkey = 0
    ),
    r0 AS (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS rank
      FROM nodes n LEFT JOIN seeds s ON n.node = s.node
    )"""
    ]
    for k in range(1, iters + 1):
        blocks.append(f"""
    , r{k} AS (
      SELECT t.node,
             floor((CASE WHEN s.node IS NOT NULL THEN {_BASE} ELSE 0.0 END
                    + {_DAMP} * CAST(t.contrib_sum AS DOUBLE)) * 1000000000 + 0.5) / 1000000000 AS rank
      FROM (
        SELECT e.dst AS node,
               SUM(CAST(floor(p.rank / d.out_deg * 1000000000 + 0.5) / 1000000000
                        AS DECIMAL(28,9))) AS contrib_sum
        FROM r{k - 1} p
        JOIN deg d   ON p.node = d.src
        JOIN edges e ON e.src = p.node
        GROUP BY e.dst
      ) t LEFT JOIN seeds s ON t.node = s.node
    )""")
    blocks.append(f"""
    SELECT node,
           CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END AS node_type,
           rank
    FROM r{iters}
    """)
    return "".join(blocks)


@query(
    "pagerank_personalized",
    oracle=_ppr_oracle(),
    tags=("graph", "iterative", "pagerank", "personalized"),
)
def pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed set (nation-0 customers):
    teleport mass returns only to the seeds, so rank measures proximity to
    that cohort — the recommendation/affinity variant ("suppliers most
    central to THIS market segment"). Same exact-arithmetic trajectory
    contract and per-iteration cost as `pagerank_trade_graph`; the only
    structural difference is a broadcast-sized LEFT JOIN against the seed
    list per iteration."""
    cust = load_table(spark, sf_dir, "customer")
    _edges, nodes, _deg = _build_graph(spark, sf_dir)
    ej = _edges_with_deg(spark, sf_dir)
    seeds = (
        nodes.join(
            cust.filter(F.col("c_nationkey") == 0).select(
                F.col("c_custkey").alias("node")
            ),
            "node",
        )
        .select("node", F.lit(1).alias("is_seed"))
    )
    ranks = nodes.join(F.broadcast(seeds), "node", "left").select(
        "node",
        F.when(F.col("is_seed").isNotNull(), F.lit(1.0)).otherwise(0.0).alias("rank"),
    )
    base = F.when(F.col("is_seed").isNotNull(), F.lit(_BASE)).otherwise(0.0)
    for _ in range(N_ITERS):
        contribs = (
            ranks.join(ej, F.col("node") == F.col("src"))
            .select(
                F.col("dst").alias("node"),
                rnd(F.col("rank") / F.col("out_deg"), 9)
                .cast("decimal(28,9)")
                .alias("contrib"),
            )
        )
        summed = contribs.groupBy("node").agg(
            F.sum("contrib").cast("double").alias("contrib_sum")
        )
        ranks = summed.join(F.broadcast(seeds), "node", "left").select(
            "node",
            rnd(base + F.lit(_DAMP) * F.col("contrib_sum"), 9).alias("rank"),
        )
    return ranks.select(
        "node",
        F.when(F.col("node") >= _SUPP_OFFSET, "supplier")
        .otherwise("customer")
        .alias("node_type"),
        "rank",
    )


# --------------------------------------------------------------------------
# Triangle counting (wedge-check with degree orientation)
# --------------------------------------------------------------------------

TRI_MIN_SHARED = 2  # co-occurrence floor defining a part-graph edge


def _part_cooccur_edges_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(x, y, w) WEIGHTED undirected part co-occurrence edges (x < y,
    w = shared-order count, kept only when w ≥ TRI_MIN_SHARED) — the
    expensive co-occurrence self-join, materialized ONCE per session.

    Cached via shared_persist (get-or-create), NOT tracked_persist: the
    slot is keyed only by sf_dir and consumed by every part-graph query
    through `_part_cooccur_edges` (which projects the weight away) plus
    the edge-weight histogram directly — and parts_clustering_by_degree
    reaches it twice in one plan (once through triangle_counts_parts,
    once directly), so an evict-and-re-register would unpersist the copy
    the triangle subtree's lineage still references and recompute the
    self-join shuffle."""
    from ..llm.cache import shared_persist

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        op = li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pk")
        ).distinct()
        a = op.select("o", F.col("pk").alias("pa"))
        b = op.select(F.col("o").alias("ob"), F.col("pk").alias("pb"))
        return (
            a.join(b, (a.o == b.ob) & (F.col("pa") < F.col("pb")))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= TRI_MIN_SHARED)
            .select(
                F.col("pa").alias("x"),
                F.col("pb").alias("y"),
                F.col("n").cast("long").alias("w"),
            )
        )

    return shared_persist(
        spark,
        build,
        f"triangle_edges_weighted:{sf_dir}",
        table_paths(sf_dir, "lineitem"),
    )


def _part_cooccur_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(x, y) undirected part co-occurrence edges — THE graph the
    triangle/clustering/degree/component queries analyze: a thin
    projection over the session-cached weighted edge build (no second
    persist — the projection reads the already-materialized parent, so
    all consumers still share ONE copy of the self-join's output)."""
    return _part_cooccur_edges_weighted(spark, sf_dir).select("x", "y")


def _part_graph_degrees(e: DataFrame) -> DataFrame:
    """(node, deg) over the undirected edge set."""
    return (
        e.select(F.col("x").alias("node"))
        .union(e.select("y"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


@query(
    "triangle_counts_parts",
    oracle=f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b
      FROM op a JOIN op b ON a.o = b.o AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
    ),
    tri AS MATERIALIZED (
      SELECT e1.a AS u, e1.b AS v, e2.b AS w
      FROM e e1
      JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT node, COUNT(*) AS n_triangles
    FROM (SELECT u AS node FROM tri
          UNION ALL SELECT v FROM tri
          UNION ALL SELECT w FROM tri)
    GROUP BY node
    """,
    tags=("graph", "triangle", "join"),
)
def triangle_counts_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part co-occurrence graph (parts
    sharing an order ≥ 2 times form an edge). Triangles are the clustering
    primitive behind community/cohesion metrics.

    The Spark plan uses DEGREE-ORIENTED wedge checking (the MapReduce
    triangle algorithm of Suri & Vassilvitskii, WWW'11): each edge is
    oriented from its (degree, id)-smaller endpoint to the larger, wedges
    are generated only at each edge pair's common ≺-minimum apex, and a
    wedge closes iff its oriented third edge exists. Every triangle is
    counted exactly once at its ≺-min vertex, and the per-apex fan-out is
    bounded by OUT-degree under ≺ — O(m^1.5) wedges total regardless of
    hub skew, vs. unbounded hub² blowup for naive id-ordering. The oracle
    enumerates by plain id order — a different orientation of the SAME
    triangle set, so node counts agree exactly.

    Scale: one shuffle to build edges (order-blocked pair gen), one degree
    aggregate, wedge join shuffles on the apex, closing join on the (v,w)
    pair key. No driver-side state.
    """
    from ..llm.cache import tracked_persist

    e = _part_cooccur_edges(spark, sf_dir)
    deg = _part_graph_degrees(e)
    # Orient each edge from the (deg, id)-smaller endpoint (lo) to the
    # larger (hi); carry hi's rank key for the wedge ordering below.
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("dy"))
    ranked = e.join(dx, "x").join(dy, "y")
    xkey = F.struct(F.col("dx").alias("d"), F.col("x").alias("n"))
    ykey = F.struct(F.col("dy").alias("d"), F.col("y").alias("n"))
    fwd = xkey < ykey
    oe = ranked.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("lo"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("hi"),
        F.when(fwd, ykey).otherwise(xkey).alias("hikey"),
    )
    oe = tracked_persist(oe, f"triangle_oriented:{sf_dir}")
    e1 = oe.select(F.col("lo").alias("u"), F.col("hi").alias("v"), F.col("hikey").alias("vk"))
    e2 = oe.select(F.col("lo").alias("u2"), F.col("hi").alias("w"), F.col("hikey").alias("wk"))
    wedges = e1.join(e2, (F.col("u") == F.col("u2")) & (F.col("vk") < F.col("wk"))).select(
        "u", "v", "w"
    )
    closing = oe.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    tri = wedges.join(closing, ["v", "w"], "left_semi")
    nodes = (
        tri.select(F.col("u").alias("node"))
        .union(tri.select("v"))
        .union(tri.select("w"))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


_KHOP = 3


@query(
    "khop_reachability_trade",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    seeds AS (
      SELECT n.node FROM nodes n
      JOIN customer c ON n.node = c.c_custkey
      WHERE c.c_nationkey = 0
    ),
    walk(node, hops) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT e.dst, w.hops + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.hops < {_KHOP}
    )
    SELECT node,
           CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END
             AS node_type,
           CAST(MIN(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """,
    tags=("graph", "iterative", "bfs"),
)
def khop_reachability_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop BFS reachability (exact min-hop distance, K=3) from the
    nation-0 customer seed set over the trade graph — the supply-chain
    blast-radius question ("which suppliers and customers sit within 3
    trade hops of this cohort?") and the third iterative-graph operator
    (after the two PageRanks), sharing their `_build_graph` edge cache
    and the same driver-orchestrates/data-stays-distributed contract.

    Distributed BFS shape: per level, FRONTIER ⋈ edges (hash join on
    src) → candidate next nodes → anti-join against the settled distance
    set — two shuffles per level, K levels, no per-node loop and nothing
    driver-side; frontier and settled sets live as DataFrames. The
    oracle is the recursive-CTE enumeration with MIN(hops) (DuckDB
    explores all ≤K-hop paths; min = BFS distance). The bipartite graph
    means odd hops land on suppliers and even hops on customers — the
    node_type column makes that invariant visible (and test-pinned)."""
    edges, nodes, _ = _build_graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = (
        nodes.join(
            cust.filter(F.col("c_nationkey") == 0).select(
                F.col("c_custkey").alias("node")
            ),
            "node",
        )
        .select("node")
        .distinct()
    )
    from ..llm.cache import tracked_persist

    settled = seeds.withColumn("hops", F.lit(0).cast("long"))
    frontier = seeds
    for k in range(1, _KHOP + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(settled.select("node"), "node", "left_anti")
        )
        # nxt is referenced TWICE below (settled union + next frontier), and
        # settled's lineage accumulates every previous hop — without a
        # materialization barrier the final plan re-executes each hop's
        # frontier join once per downstream reference (lineage roughly
        # doubles per hop). Round 16: persist each hop's frontier
        # (node-id rows only, bounded by |nodes|) — measured 11.7–14.6 s
        # → 3.6 s per plain sf0.01 pass, values identical (persistence
        # cannot change the set algebra; 0-diff exceptAll both ways).
        # localCheckpoint timed ~equal locally but drops lineage, so an
        # executor loss at 100 TB would fail the query; persist keeps
        # fault tolerance. tracked_persist bounds the slots to one copy
        # per (query, hop, sf_dir).
        nxt = tracked_persist(nxt, f"khop_frontier:{sf_dir}:{k}")
        settled = settled.unionByName(
            nxt.withColumn("hops", F.lit(k).cast("long"))
        )
        frontier = nxt
    return settled.select(
        "node",
        F.when(F.col("node") >= _SUPP_OFFSET, "supplier")
        .otherwise("customer")
        .alias("node_type"),
        "hops",
    )


def _build_weighted_graph(spark, sf_dir: str) -> DataFrame:
    """Symmetric weighted trade edges: per distinct (customer, supplier)
    pair, w = MIN line price in exact integer cents across their
    transactions — cached per sf_dir like the unweighted builder."""
    from ..llm.cache import shared_persist

    def build():
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        pairs = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy(
                F.col("o_custkey").alias("cust"),
                (F.lit(_SUPP_OFFSET) + F.col("l_suppkey")).alias("supp"),
            )
            .agg(
                F.min(
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                ).alias("w")
            )
        )
        return pairs.selectExpr("cust AS src", "supp AS dst", "w").unionAll(
            pairs.selectExpr("supp AS src", "cust AS dst", "w")
        )

    return shared_persist(
        spark,
        build,
        f"trade_graph_wedges:{sf_dir}",
        table_paths(sf_dir, "orders", "lineitem"),
    )


@query(
    "cheapest_path_3hop_trade",
    oracle=f"""
    WITH RECURSIVE wpairs AS (
      SELECT o.o_custkey AS cust, {_SUPP_OFFSET} + l.l_suppkey AS supp,
             MIN(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)) AS w
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ), wedges AS (
      SELECT cust AS src, supp AS dst, w FROM wpairs
      UNION ALL SELECT supp, cust, w FROM wpairs
    ), seeds AS (
      SELECT DISTINCT e.src AS node FROM wedges e
      JOIN customer c ON e.src = c.c_custkey WHERE c.c_nationkey = 0
    ), walk(node, cost, hops) AS (
      SELECT node, CAST(0 AS BIGINT), 0 FROM seeds
      UNION
      SELECT e.dst, wk.cost + e.w, wk.hops + 1
      FROM walk wk JOIN wedges e ON e.src = wk.node WHERE wk.hops < {_KHOP}
    )
    SELECT node,
           CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END
             AS node_type,
           MIN(cost) AS min_cost
    FROM walk GROUP BY node
    """,
    tags=("graph", "iterative", "shortest-path"),
)
def cheapest_path_3hop_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop weighted shortest path (Bellman-Ford, K=3 relaxation
    rounds) from the nation-0 customer cohort: min total cost over paths
    of ≤3 trade edges, edge weight = the pair's cheapest line item in
    exact integer cents — the relay-cost question ("cheapest way to
    reach each supplier through at most 3 trade links") and the fourth
    iterative-graph class here (relaxation, next to BFS anti-join, power
    iteration, and CC contraction). Costs are integer sums, so min is
    engine-exact; the oracle enumerates all ≤K-hop paths recursively and
    takes MIN(cost), which Bellman-Ford's dist_k(v) = min(dist_{{k-1}}(v),
    min_u(dist_{{k-1}}(u) + w(u,v))) reproduces by induction on k.

    Distributed shape per round: dist ⋈ edges (hash join on src) union
    the standing dist, then a node-keyed MIN — two shuffles per round, K
    rounds, nothing driver-side; the weighted edge list is built once
    per sf_dir and session-cached like the PageRank graph."""
    wedges = _build_weighted_graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    seeds = (
        wedges.select(F.col("src").alias("node"))
        .distinct()
        .join(
            cust.filter(F.col("c_nationkey") == 0).select(
                F.col("c_custkey").alias("node")
            ),
            "node",
        )
    )
    from ..llm.cache import tracked_persist

    dist = seeds.select("node", F.lit(0).cast("long").alias("cost"))
    for k in range(_KHOP):
        relaxed = (
            dist.join(wedges, dist.node == wedges.src)
            .select(F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
        # dist is referenced TWICE next round (relaxation join + union):
        # same lineage-doubling as khop_reachability_trade — persist each
        # round's (node, cost) table (bounded by |nodes|; min over int64
        # costs is storage-order-independent, so values are unchanged).
        dist = tracked_persist(dist, f"cheapest3hop_dist:{sf_dir}:{k}")
    return dist.select(
        "node",
        F.when(F.col("node") >= _SUPP_OFFSET, "supplier")
        .otherwise("customer")
        .alias("node_type"),
        F.col("cost").alias("min_cost"),
    )


_WEDGES_SQL = f"""
    wpairs AS (
      SELECT o.o_custkey AS cust, {_SUPP_OFFSET} + l.l_suppkey AS supp,
             MIN(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)) AS w
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    wedges AS (
      SELECT cust AS src, supp AS dst, w FROM wpairs
      UNION ALL SELECT supp, cust, w FROM wpairs
    ),
    wnodes AS (SELECT DISTINCT src AS node FROM wedges),
    wdeg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum
             FROM wedges GROUP BY src)
"""


def _wppr_oracle(iters: int = N_ITERS) -> str:
    """Edge-weighted personalized-PageRank oracle: contributions are
    weight-proportional (rank·w/W(u) instead of rank/out_deg), same
    per-iteration 1e-9 rounding + DECIMAL-sum trajectory contract."""
    blocks = [
        f"""WITH {_WEDGES_SQL},
    seeds AS (
      SELECT n.node FROM wnodes n
      JOIN customer c ON n.node = c.c_custkey
      WHERE c.c_nationkey = 0
    ),
    r0 AS (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS rank
      FROM wnodes n LEFT JOIN seeds s ON n.node = s.node
    )"""
    ]
    for k in range(1, iters + 1):
        blocks.append(f"""
    , r{k} AS (
      SELECT t.node,
             floor((CASE WHEN s.node IS NOT NULL THEN {_BASE} ELSE 0.0 END
                    + {_DAMP} * CAST(t.contrib_sum AS DOUBLE)) * 1000000000 + 0.5) / 1000000000 AS rank
      FROM (
        SELECT e.dst AS node,
               SUM(CAST(floor(p.rank * e.w / d.wsum * 1000000000 + 0.5) / 1000000000
                        AS DECIMAL(28,9))) AS contrib_sum
        FROM r{k - 1} p
        JOIN wdeg d   ON p.node = d.src
        JOIN wedges e ON e.src = p.node
        GROUP BY e.dst
      ) t LEFT JOIN seeds s ON t.node = s.node
    )""")
    blocks.append(f"""
    SELECT node,
           CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END AS node_type,
           rank
    FROM r{iters}
    """)
    return "".join(blocks)


@query(
    "pagerank_weighted_personalized",
    oracle=_wppr_oracle(),
    tags=("graph", "iterative", "pagerank", "personalized", "weighted"),
)
def pagerank_weighted_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGE-WEIGHTED personalized PageRank from the nation-0 cohort:
    each node distributes its rank proportionally to edge weight
    (rank·w/W(u), W(u) = node's total out-weight in exact integer cents)
    instead of uniformly — proximity now reflects trade VALUE, not just
    link existence (a supplier tied to the cohort by cheap incidental
    lines ranks below one tied by the same number of expensive links).
    Same exact-arithmetic trajectory contract as the unweighted pair:
    per-edge contributions rounded to 1e-9 and summed as DECIMAL(28,9),
    rank update rounded to 1e-9 — bit-identical to the DuckDB
    unrolled-CTE oracle at every iteration. The weighted edge list is
    the round-10 `_build_weighted_graph` session cache (shared with
    `cheapest_path_3hop_trade`)."""
    cust = load_table(spark, sf_dir, "customer")
    wedges = _build_weighted_graph(spark, sf_dir)
    wej = _wedges_with_wsum(spark, sf_dir)
    nodes = wedges.select(F.col("src").alias("node")).distinct()
    seeds = (
        nodes.join(
            cust.filter(F.col("c_nationkey") == 0).select(
                F.col("c_custkey").alias("node")
            ),
            "node",
        )
        .select("node", F.lit(1).alias("is_seed"))
    )
    ranks = nodes.join(F.broadcast(seeds), "node", "left").select(
        "node",
        F.when(F.col("is_seed").isNotNull(), F.lit(1.0)).otherwise(0.0).alias("rank"),
    )
    base = F.when(F.col("is_seed").isNotNull(), F.lit(_BASE)).otherwise(0.0)
    for _ in range(N_ITERS):
        contribs = (
            ranks.join(wej, F.col("node") == F.col("src"))
            .select(
                F.col("dst").alias("node"),
                rnd(F.col("rank") * F.col("w") / F.col("wsum"), 9)
                .cast("decimal(28,9)")
                .alias("contrib"),
            )
        )
        summed = contribs.groupBy("node").agg(
            F.sum("contrib").cast("double").alias("contrib_sum")
        )
        ranks = summed.join(F.broadcast(seeds), "node", "left").select(
            "node",
            rnd(base + F.lit(_DAMP) * F.col("contrib_sum"), 9).alias("rank"),
        )
    return ranks.select(
        "node",
        F.when(F.col("node") >= _SUPP_OFFSET, "supplier")
        .otherwise("customer")
        .alias("node_type"),
        "rank",
    )


@query(
    "weighted_khop_cheapest_compare",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    bseeds AS (
      SELECT n.node FROM nodes n
      JOIN customer c ON n.node = c.c_custkey
      WHERE c.c_nationkey = 0
    ),
    walk(node, hops) AS (
      SELECT node, 0 FROM bseeds
      UNION
      SELECT e.dst, w.hops + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.hops < {_KHOP}
    ),
    bfs AS (SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
            FROM walk GROUP BY node),
    wpairs AS (
      SELECT o.o_custkey AS cust, {_SUPP_OFFSET} + l.l_suppkey AS supp,
             MIN(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)) AS w
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    wedges AS (
      SELECT cust AS src, supp AS dst, w FROM wpairs
      UNION ALL SELECT supp, cust, w FROM wpairs
    ),
    wseeds AS (
      SELECT DISTINCT e.src AS node FROM wedges e
      JOIN customer c ON e.src = c.c_custkey WHERE c.c_nationkey = 0
    ),
    wwalk(node, cost, hops) AS (
      SELECT node, CAST(0 AS BIGINT), 0 FROM wseeds
      UNION
      SELECT e.dst, wk.cost + e.w, wk.hops + 1
      FROM wwalk wk JOIN wedges e ON e.src = wk.node WHERE wk.hops < {_KHOP}
    ),
    cheap AS (SELECT node, MIN(cost) AS min_cost FROM wwalk GROUP BY node)
    SELECT b.node,
           CASE WHEN b.node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END
             AS node_type,
           b.hops,
           c.min_cost,
           CASE WHEN b.hops > 0 THEN c.min_cost // b.hops END AS cost_per_hop
    FROM bfs b JOIN cheap c ON b.node = c.node
    """,
    tags=("graph", "iterative", "bfs", "shortest-path"),
)
def weighted_khop_cheapest_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-count vs relay-cost divergence per node: joins
    `khop_reachability_trade` (exact min-hop BFS distance) with
    `cheapest_path_3hop_trade` (Bellman-Ford min cost over ≤3 hops) from
    the same nation-0 seed cohort — the telemetry that separates
    topologically-close suppliers from cheaply-reachable ones (a node 1
    hop away through an expensive line item vs 3 hops through cheap
    ones). cost_per_hop = min_cost DIV hops is exact integer division on
    integer cents (NULL for the seed cohort itself, hops = 0), so every
    output column is engine-exact — no FP anywhere.

    Pure composition: both parents' iterative fixpoints run unchanged
    (sharing their session-cached edge lists), then ONE hash join on
    node. The reachable sets are identical by construction — both walks
    start from the same seeds over the same (customer, supplier) pair
    relation (weighted edges only add a weight column) — so the inner
    join keeps every node; tests/test_graph.py pins that cardinality
    equality. The oracle re-derives BOTH recursive walks in one
    WITH RECURSIVE and joins them, independently re-checking the two
    parents' agreement as well as the division."""
    bfs = khop_reachability_trade(spark, sf_dir).select("node", "node_type", "hops")
    cheap = cheapest_path_3hop_trade(spark, sf_dir).select("node", "min_cost")
    return bfs.join(cheap, "node").select(
        "node",
        "node_type",
        "hops",
        "min_cost",
        F.when(
            F.col("hops") > 0, F.expr("min_cost DIV hops")
        ).alias("cost_per_hop"),
    )


@query(
    "trade_graph_degree_assortativity",
    oracle=f"""
    WITH {_EDGES_SQL},
    dd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    ed AS (
      SELECT a.d AS dx, b.d AS dy
      FROM edges e
      JOIN dd a ON e.src = a.src
      JOIN dd b ON e.dst = b.src
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(dx AS HUGEINT)) AS sx,
             SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
             SUM(CAST(dx AS HUGEINT) * dx) AS sxx
      FROM ed
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dd) AS n_nodes,
           CASE WHEN n * sxx - sx * sx > 0
                THEN CAST(n * sxy - sx * sx AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
           END AS assortativity
    FROM s
    """,
    tags=("graph", "telemetry", "stats"),
)
def trade_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph (Newman's r): the Pearson
    correlation of endpoint degrees over all directed stubs of the
    symmetric edge list — do high-degree customers trade with high-degree
    suppliers (r > 0, hub-hub) or with the periphery (r < 0,
    hub-and-spoke)? Bipartite trade graphs are typically disassortative;
    the single scalar is the structure-drift telemetry a graph pipeline
    checks before trusting degree-targeted sampling or partitioning.

    Exactness: degrees are exact int64 counts; every sum (Σx, Σxy, Σx²)
    accumulates in DECIMAL(38,0) on the engine side and HUGEINT in the
    oracle — exact and associative, so shuffle order cannot change them —
    and by the symmetric-list identity Σx = Σy, Σx² = Σy² the correlation
    reduces to (nΣxy − (Σx)²)/(nΣx² − (Σx)²): ONE IEEE division of two
    exactly-computed integers (NULL for a degree-regular graph, where the
    denominator is 0). Plan: degree table from one group-by of the
    session-cached edge list, two hash joins edge⋈deg, a single partial-
    aggregatable 4-sum fold to one row — no windows, no driver math."""
    edges, _nodes, deg = _build_graph(spark, sf_dir)
    dsrc = deg.select(F.col("deg_node").alias("src"), F.col("out_deg").alias("dx"))
    ddst = deg.select(F.col("deg_node").alias("dst"), F.col("out_deg").alias("dy"))
    ed = edges.join(dsrc, "src").join(ddst, "dst")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = ed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("dx"))).alias("sx"),
        F.sum(dec(F.col("dx") * F.col("dy"))).alias("sxy"),
        F.sum(dec(F.col("dx") * F.col("dx"))).alias("sxx"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ndec = dec(F.col("n"))
    num = ndec * F.col("sxy") - F.col("sx") * F.col("sx")
    den = ndec * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_edges"),
        "n_nodes",
        F.when(den > 0, num.cast("double") / den.cast("double")).alias(
            "assortativity"
        ),
    )


@query(
    "parts_clustering_by_degree",
    oracle=f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b
      FROM op a JOIN op b ON a.o = b.o AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
    ),
    tri AS MATERIALIZED (
      SELECT e1.a AS u, e1.b AS v, e2.b AS w
      FROM e e1
      JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    tcnt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t
      FROM (SELECT u AS node FROM tri
            UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri)
      GROUP BY 1
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY 1
    ),
    n AS (
      SELECT deg.d, coalesce(tcnt.t, 0) AS t
      FROM deg LEFT JOIN tcnt USING (node)
      WHERE deg.d >= 2
    ),
    g AS (
      SELECT d,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(t) AS BIGINT) AS tri_slots
      FROM n GROUP BY 1
    )
    SELECT d AS degree, n_nodes, tri_slots,
           CAST(2 * tri_slots AS DOUBLE)
             / CAST(d * (d - 1) * n_nodes AS DOUBLE) AS mean_clustering
    FROM g
    """,
    tags=("graph", "triangle", "clustering"),
)
def parts_clustering_by_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient vs degree over the part co-occurrence
    graph — the clustering-by-degree curve (does neighborhood cohesion
    fall as hubs grow? the standard small-world / hierarchical-structure
    read, and the sanity check before trusting community detection on
    the graph). Composes the triangle tier: per-node triangle counts
    from `triangle_counts_parts` (same degree-oriented wedge algorithm,
    same session-cached edge build via `_part_cooccur_edges`) joined
    against the degree table; nodes in no triangle enter with t = 0,
    degree-1 nodes are excluded (C(1,2) = 0 — clustering undefined).

    Exactness: within a degree class d, mean local clustering
    = mean(2·tᵢ/(d(d−1))) = 2·Σtᵢ / (d(d−1)·n) — so the published mean
    is ONE IEEE division of two exact int64 products (both engines cast
    BIGINT→DOUBLE, never through a wider intermediate; the 2^53 premise
    holds while 2·Σt per degree class stays below 9e15 — at fixture
    scales it is < 1e5, and a corpus that exceeded it would overflow the
    naive mean long before this form). No per-node double is ever
    summed, so partitioning cannot perturb the mean.

    Scale: everything rides the cached edge set; the extra work over the
    triangle query is one degree aggregate, one node-keyed left join and
    a |distinct degrees|-row group-by (degree support grows ~O(√m))."""
    tri = triangle_counts_parts(spark, sf_dir)
    e = _part_cooccur_edges(spark, sf_dir)
    deg = _part_graph_degrees(e)
    n = (
        deg.join(tri, deg.node == tri.node, "left")
        .select(
            F.col("deg").alias("d"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("t"),
        )
        .filter(F.col("d") >= 2)
    )
    g = n.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("t").alias("tri_slots"),
    )
    return g.select(
        F.col("d").alias("degree"),
        "n_nodes",
        "tri_slots",
        (
            (F.lit(2) * F.col("tri_slots")).cast("double")
            / (F.col("d") * (F.col("d") - 1) * F.col("n_nodes")).cast("double")
        ).alias("mean_clustering"),
    )


@query(
    "parts_graph_degree_distribution",
    oracle=f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b
      FROM op a JOIN op b ON a.o = b.o AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY 1
    ),
    h AS (
      SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM deg GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(n_nodes) AS BIGINT) AS total,
             CAST(SUM(degree * n_nodes) AS BIGINT) AS edge_ends
      FROM h
    )
    SELECT h.degree, h.n_nodes,
           CAST(h.n_nodes AS DOUBLE) / t.total AS node_share,
           CAST(h.degree * h.n_nodes AS DOUBLE) / t.edge_ends
             AS edge_end_share
    FROM h CROSS JOIN t
    """,
    tags=("graph", "histogram", "stats"),
)
def parts_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-occurrence graph: per exact
    degree, the node count, its share of nodes, and its share of EDGE
    ENDS (degree-weighted — the probability a random edge endpoint has
    this degree, the quantity hub-dominated graphs skew) — the
    heavy-tail read that decides whether the triangle tier's
    degree-orientation bound and the PageRank damping actually matter on
    this graph, and the shuffle-skew early warning for any join keyed by
    part.

    Composes the shared cached edge build (`_part_cooccur_edges` — free
    after either triangle query ran this session). Counts exact int64;
    the two shares divide exact int64 sums (edge_ends = 2·|edges| by the
    handshake lemma, test-pinned). Output is |distinct degrees| rows —
    degree support grows ~O(√m)."""
    e = _part_cooccur_edges(spark, sf_dir)
    deg = _part_graph_degrees(e)
    h = deg.groupBy(F.col("deg").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    t = h.agg(
        F.sum("n_nodes").alias("total"),
        F.sum(F.col("degree") * F.col("n_nodes")).alias("edge_ends"),
    )
    return h.crossJoin(F.broadcast(t)).select(
        "degree",
        "n_nodes",
        (F.col("n_nodes").cast("double") / F.col("total")).alias("node_share"),
        (
            (F.col("degree") * F.col("n_nodes")).cast("double")
            / F.col("edge_ends")
        ).alias("edge_end_share"),
    )


@query(
    "parts_graph_component_sizes",
    oracle=f"""
    WITH RECURSIVE op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b
      FROM op a JOIN op b ON a.o = b.o AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
    ),
    sym AS MATERIALIZED (
      SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
    ),
    reach(node, root) AS (
      SELECT DISTINCT a AS node, a AS root FROM sym
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (
      SELECT node, MIN(root) AS cluster FROM reach GROUP BY 1
    ),
    cs AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS component_size
      FROM comp GROUP BY 1
    ),
    h AS (
      SELECT component_size, CAST(COUNT(*) AS BIGINT) AS n_components
      FROM cs GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(component_size * n_components) AS BIGINT) AS n_total
      FROM h
    )
    SELECT component_size, n_components,
           CAST(component_size * n_components AS BIGINT) AS n_nodes,
           floor((CAST(component_size * n_components AS DOUBLE) / n_total)
                 * 1000000 + 0.5) / 1000000 AS share_of_nodes
    FROM h CROSS JOIN tot
    """,
    tags=("graph", "components", "histogram"),
)
def parts_graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component SIZE DISTRIBUTION of the part co-occurrence
    graph: per exact component size, how many components and what share
    of nodes — the fragmentation read that completes the graph-health
    trio (degree distribution says how connectivity is spread,
    clustering-by-degree says how cohesive neighborhoods are, this says
    whether the graph is one giant component or an archipelago), and the
    partition-count early warning for any per-component downstream job.

    Composes the shared session-cached edge build (`_part_cooccur_edges`
    — free after any triangle/degree query ran this session) with the
    dedup tier's `star_contraction_components` (Kiveris et al. SoCC'14
    large-star/small-star contraction — O(log² n) rounds independent of
    graph diameter, two linear shuffles per round; the 100 TB form, vs
    label propagation's one-round-per-diameter-hop). Nodes are the edge
    endpoints (an isolated part has no co-occurrence edge and is not in
    this graph — stated by the oracle's seed the same way).

    Exactness: component labels are ids, sizes/counts exact int64, the
    node share one IEEE division of exact ints (2^53-safe: node counts).
    The oracle's recursive-CTE reachability closure is O(n·m) rows —
    fine at oracle scale, the exact shape the contraction avoids at
    100 TB. Output is ≤|distinct sizes| ≤ O(√n) rows."""
    from ..llm.dedup import star_contraction_components

    e = _part_cooccur_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("x").alias("node_id"))
        .union(e.select("y"))
        .distinct()
    )
    edges = e.select(F.col("x").alias("src"), F.col("y").alias("dst"))
    labels = star_contraction_components(nodes, edges)
    cs = labels.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    h = cs.groupBy("component_size").agg(
        F.count(F.lit(1)).alias("n_components")
    )
    tot = h.agg(
        F.sum(F.col("component_size") * F.col("n_components")).alias(
            "n_total"
        )
    )
    return h.crossJoin(F.broadcast(tot)).select(
        "component_size",
        "n_components",
        (F.col("component_size") * F.col("n_components"))
        .cast("long")
        .alias("n_nodes"),
        rnd(
            (F.col("component_size") * F.col("n_components")).cast("double")
            / F.col("n_total"),
            6,
        ).alias("share_of_nodes"),
    )


@query(
    "parts_triangle_participation_by_degree",
    oracle=f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b
      FROM op a JOIN op b ON a.o = b.o AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
    ),
    tri AS MATERIALIZED (
      SELECT e1.a AS u, e1.b AS v, e2.b AS w
      FROM e e1
      JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    tcnt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t
      FROM (SELECT u AS node FROM tri
            UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri)
      GROUP BY 1
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY 1
    ),
    n AS (
      SELECT deg.d, CASE WHEN coalesce(tcnt.t, 0) > 0 THEN 1 ELSE 0 END AS p
      FROM deg LEFT JOIN tcnt USING (node)
    )
    SELECT d AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(p) AS BIGINT) AS n_in_triangle,
           CAST(SUM(p) AS DOUBLE) / COUNT(*) AS participation_share
    FROM n GROUP BY 1
    """,
    tags=("graph", "triangle", "stats"),
)
def parts_triangle_participation_by_degree(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Triangle PARTICIPATION rate per degree class: for each exact
    degree, how many nodes sit in at least one triangle — the
    completion of the graph-health quartet next to
    `parts_clustering_by_degree` (clustering asks HOW MUCH of a node's
    neighborhood closes; participation asks whether it closes AT ALL —
    a degree class with high clustering but a participating minority
    means a few tight cliques amid isolated stars, the distinction
    community-detection preconditions actually care about). Degree-1
    nodes are INCLUDED with participation 0 (clustering had to exclude
    them — C(1,2)=0 makes the coefficient undefined; the participation
    question is well-posed for every node).

    Composes the session-cached edge build and the triangle tier
    (`triangle_counts_parts` — same degree-oriented wedge algorithm);
    the extra work over the triangle query is one degree aggregate, one
    node-keyed left join and a |distinct degrees|-row fold (~O(√m)
    rows). Counts exact int64; the share is one IEEE division of exact
    ints."""
    tri = triangle_counts_parts(spark, sf_dir)
    e = _part_cooccur_edges(spark, sf_dir)
    deg = _part_graph_degrees(e)
    n = deg.join(tri, deg.node == tri.node, "left").select(
        F.col("deg").alias("d"),
        (F.coalesce(F.col("n_triangles"), F.lit(0)) > 0)
        .cast("int")
        .alias("p"),
    )
    return n.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("p").cast("long").alias("n_in_triangle"),
        (F.sum("p").cast("double") / F.count(F.lit(1))).alias(
            "participation_share"
        ),
    )


@query(
    "parts_graph_edge_weight_histogram",
    oracle=f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b, CAST(COUNT(*) AS BIGINT) AS w
      FROM op a JOIN op b ON a.o = b.o AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
    ),
    h AS (
      SELECT w AS weight, CAST(COUNT(*) AS BIGINT) AS n_edges
      FROM e GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(n_edges) AS BIGINT) AS total_edges,
             CAST(SUM(weight * n_edges) AS BIGINT) AS total_weight
      FROM h
    )
    SELECT h.weight, h.n_edges,
           CAST(h.n_edges AS DOUBLE) / t.total_edges AS edge_share,
           CAST(h.weight * h.n_edges AS DOUBLE) / t.total_weight
             AS weight_share,
           CAST(CAST(SUM(h.n_edges) OVER (ORDER BY h.weight
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS DOUBLE)
             / t.total_edges AS cum_edge_share
    FROM h CROSS JOIN t
    """,
    tags=("graph", "histogram", "stats"),
)
def parts_graph_edge_weight_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Edge-WEIGHT distribution of the part co-occurrence graph: per
    exact shared-order count w (the edge weight the TRI_MIN_SHARED ≥ 2
    floor thresholds), the edge count, its share of edges, its share of
    total co-occurrence MASS, and the cumulative edge share in ascending
    weight order — the read that justifies (or moves) the edge floor
    itself: a mass curve dominated by weight-2 edges says the graph the
    triangle/clustering tier analyzes is mostly noise ties, while a fat
    high-weight tail locates the genuinely-bundled part pairs the
    weighted k-hop tier routes through. The degree distribution reads
    STRUCTURE; this reads STRENGTH.

    Composes the session-cached WEIGHTED edge build (the parent slot the
    unweighted `_part_cooccur_edges` projection feeds every other graph
    query from — free after any of them ran this session; the weight
    column finally consumed directly). One histogram fold over
    edge-count-sized data to the |distinct weights|-row grid; shares
    and the ascending cumulative derive over the HISTOGRAM, never the
    edges (broadcast triangular self-join + scalar totals — no global
    window, no single-partition exchange; weight domain is bounded by
    order-count co-membership, the same domain-bounded premise as the
    degree histogram). Counts and masses exact int64; each share is one
    IEEE division stated identically in the oracle."""
    from ..functions.ranks import hist_triangular_cume
    from ..llm.cache import tracked_persist

    e = _part_cooccur_edges_weighted(spark, sf_dir)
    # Cumulative via hist_triangular_cume (broadcast TRIANGULAR self-join
    # over the persisted |distinct weights|-row histogram, NOT a global
    # window — the Exchange SinglePartition squeeze the plan guard bans);
    # the totals fold is a scalar (keys=[]) aggregate, the guard-exempt
    # 1-row shape.
    h = tracked_persist(
        e.groupBy(F.col("w").alias("weight")).agg(
            F.count(F.lit(1)).alias("n_edges")
        ),
        f"edge_weight_hist:{sf_dir}",
    )
    t = h.agg(
        F.sum("n_edges").alias("total_edges"),
        F.sum(F.col("weight") * F.col("n_edges")).alias("total_weight"),
    )
    return (
        hist_triangular_cume(h, "weight", "n_edges", "cum_edges")
        .crossJoin(F.broadcast(t))
        .select(
            "weight",
            "n_edges",
            (F.col("n_edges").cast("double") / F.col("total_edges")).alias(
                "edge_share"
            ),
            (
                (F.col("weight") * F.col("n_edges")).cast("double")
                / F.col("total_weight")
            ).alias("weight_share"),
            (
                F.col("cum_edges").cast("double") / F.col("total_edges")
            ).alias("cum_edge_share"),
        )
    )



def _part_node_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node (degree, strength) over the session-cached weighted part
    edges — the ONE union + per-node fold shared by the weighted-degree
    distribution, the strength-vs-degree matrix and the strength
    assortativity. ``shared_persist`` (multi-consumer slot, the
    `_part_cooccur_edges_weighted` discipline): the first consumer
    materializes it, siblings reuse the same cached copy instead of
    re-running the edge-scale fold."""
    from ..llm.cache import shared_persist

    def build() -> DataFrame:
        e = _part_cooccur_edges_weighted(spark, sf_dir)
        return (
            e.select(F.col("x").alias("node"), "w")
            .union(e.select(F.col("y").alias("node"), "w"))
            .groupBy("node")
            .agg(
                F.count(F.lit(1)).cast("long").alias("degree"),
                F.sum("w").cast("long").alias("strength"),
            )
        )

    return shared_persist(
        spark,
        build,
        f"part_degree_strength:{sf_dir}",
        table_paths(sf_dir, "lineitem"),
    )


@query(
    "parts_graph_weighted_degree_distribution",
    oracle=f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b, CAST(COUNT(*) AS BIGINT) AS w
      FROM op a JOIN op b ON a.o = b.o AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
    ),
    st AS (
      SELECT node, CAST(SUM(w) AS BIGINT) AS s
      FROM (SELECT a AS node, w FROM e UNION ALL SELECT b, w FROM e)
      GROUP BY 1
    ),
    h AS (
      SELECT s AS strength, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM st GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(n_nodes) AS BIGINT) AS total,
             CAST(SUM(strength * n_nodes) AS BIGINT) AS strength_mass
      FROM h
    )
    SELECT h.strength, h.n_nodes,
           CAST(h.n_nodes AS DOUBLE) / t.total AS node_share,
           CAST(h.strength * h.n_nodes AS DOUBLE) / t.strength_mass
             AS strength_mass_share
    FROM h CROSS JOIN t
    """,
    tags=("graph", "histogram", "stats", "weighted"),
)
def parts_graph_weighted_degree_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRENGTH distribution of the part co-occurrence graph: per exact
    node strength (sum of incident edge WEIGHTS — shared-order counts),
    the node count, its share of nodes, and its share of total strength
    mass (= 2·total edge weight by the weighted handshake lemma) — the
    weighted companion of `parts_graph_degree_distribution`: degree says
    how many parts a part co-occurs with, strength says how OFTEN. A node
    whose strength share dwarfs its node share is a hub by volume even if
    its degree is modest (few partners, ordered together constantly) —
    exactly the key a weight-blind degree histogram under-ranks, and the
    node-level skew read for any aggregation keyed by part with
    per-co-occurrence fan-in.

    Composes the session-cached WEIGHTED edge build
    (`_part_cooccur_edges_weighted` — free after any part-graph query ran
    this session; the weight column folds per node instead of per edge).
    One union + one per-node fold + one |distinct strengths|-row
    histogram fold; shares divide exact int64 sums against the broadcast
    1-row totals (no window anywhere). Strength support grows like the
    degree histogram's (~O(sqrt(m)) distinct values), so the grid stays
    bounded at any SF."""
    st = _part_node_strengths(spark, sf_dir).select(
        "node", F.col("strength").alias("s")
    )
    h = st.groupBy(F.col("s").alias("strength")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    t = h.agg(
        F.sum("n_nodes").alias("total"),
        F.sum(F.col("strength") * F.col("n_nodes")).alias("strength_mass"),
    )
    return h.crossJoin(F.broadcast(t)).select(
        "strength",
        "n_nodes",
        (F.col("n_nodes").cast("double") / F.col("total")).alias("node_share"),
        (
            (F.col("strength") * F.col("n_nodes")).cast("double")
            / F.col("strength_mass")
        ).alias("strength_mass_share"),
    )


@query(
    "parts_graph_strength_vs_degree_matrix",
    oracle=f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b, CAST(COUNT(*) AS BIGINT) AS w
      FROM op a JOIN op b ON a.o = b.o AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
    ),
    st AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree,
             CAST(SUM(w) AS BIGINT) AS strength
      FROM (SELECT a AS node, w FROM e UNION ALL SELECT b, w FROM e)
      GROUP BY 1
    ),
    r1 AS (
      SELECT degree AS v, row_number() OVER (ORDER BY degree) AS rn,
             COUNT(*) OVER () AS n
      FROM st
    ),
    t1 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r1 GROUP BY 1
    ),
    t1p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS a1,
             MAX(CASE WHEN q = 2 THEN t END) AS a2,
             MAX(CASE WHEN q = 3 THEN t END) AS a3,
             MAX(CASE WHEN q = 4 THEN t END) AS a4
      FROM t1
    ),
    r2 AS (
      SELECT strength AS v, row_number() OVER (ORDER BY strength) AS rn,
             COUNT(*) OVER () AS n
      FROM st
    ),
    t2 AS (
      SELECT g.q,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(g.q / 5.0 * n)
                                                 AS BIGINT))
                      THEN v END) AS t
      FROM (SELECT unnest([1, 2, 3, 4]) AS q) g CROSS JOIN r2 GROUP BY 1
    ),
    t2p AS (
      SELECT MAX(CASE WHEN q = 1 THEN t END) AS b1,
             MAX(CASE WHEN q = 2 THEN t END) AS b2,
             MAX(CASE WHEN q = 3 THEN t END) AS b3,
             MAX(CASE WHEN q = 4 THEN t END) AS b4
      FROM t2
    ),
    m AS (
      SELECT 1 + (CASE WHEN st.degree > t1p.a1 THEN 1 ELSE 0 END)
               + (CASE WHEN st.degree > t1p.a2 THEN 1 ELSE 0 END)
               + (CASE WHEN st.degree > t1p.a3 THEN 1 ELSE 0 END)
               + (CASE WHEN st.degree > t1p.a4 THEN 1 ELSE 0 END) AS dq,
             1 + (CASE WHEN st.strength > t2p.b1 THEN 1 ELSE 0 END)
               + (CASE WHEN st.strength > t2p.b2 THEN 1 ELSE 0 END)
               + (CASE WHEN st.strength > t2p.b3 THEN 1 ELSE 0 END)
               + (CASE WHEN st.strength > t2p.b4 THEN 1 ELSE 0 END) AS sq
      FROM st CROSS JOIN t1p CROSS JOIN t2p
    ),
    g AS (
      SELECT dq, sq, CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM m GROUP BY 1, 2
    ),
    tot AS (
      SELECT dq, CAST(SUM(n_parts) AS BIGINT) AS n_row FROM g GROUP BY 1
    )
    SELECT CAST(g.dq AS BIGINT) AS degree_quintile,
           CAST(g.sq AS BIGINT) AS strength_quintile,
           g.n_parts, tot.n_row,
           CAST(g.n_parts AS DOUBLE) / tot.n_row AS row_share
    FROM g JOIN tot ON g.dq = tot.dq
    """,
    tags=("graph", "stats", "matrix", "weighted"),
)
def parts_graph_strength_vs_degree_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does BREADTH predict VOLUME in the part co-occurrence graph? The
    graph-side cross-dimension quintile matrix (customer_gap_vs_value's
    read rotated onto graph structure): every part in the edge set gets
    a degree quintile (by incident-edge count — how many distinct
    partners, quintile 1 = fewest) and a strength quintile (by summed
    edge weight — how many shared orders total, quintile 1 = lightest),
    and the ≤25-cell joint matrix reports counts and degree-row shares.
    Off-diagonal mass is the interesting read: a low-degree/high-
    strength cell is the few-partners-ordered-constantly hub the
    weighted degree distribution flags by share — this matrix counts
    those nodes and localizes them against the breadth axis (the
    degree-blind spot a salting plan keyed on degree alone inherits).

    Composition: both per-node measures fold from the SESSION-CACHED
    weighted edge build (`_part_cooccur_edges_weighted` — free after any
    part-graph query ran; one union + one per-node fold). The 4+4
    quintile thresholds over the node-count-sized table ride ONE shared
    multi-rank census sequence (`quintile_thresholds` unpivots both
    columns). The matrix is ONE pass: CASE ladder against eight literal
    thresholds, ≤25-cell fold, broadcast ≤5-row row-total join. Ranks
    are max(1, ⌈q·n⌉) with the same IEEE multiply the oracle states;
    parts with no qualifying edge (w < TRI_MIN_SHARED everywhere) are
    not graph nodes and drop in both engines by construction."""
    from ..functions.ranks import quintile_ladder, quintile_thresholds

    st = _part_node_strengths(spark, sf_dir)
    th = quintile_thresholds(st, ["degree", "strength"])
    g = (
        st.select(
            quintile_ladder("degree", th["degree"]).alias("degree_quintile"),
            quintile_ladder("strength", th["strength"]).alias(
                "strength_quintile"
            ),
        )
        .groupBy("degree_quintile", "strength_quintile")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    tot = g.groupBy("degree_quintile").agg(F.sum("n_parts").alias("n_row"))
    return g.join(F.broadcast(tot), "degree_quintile").select(
        "degree_quintile",
        "strength_quintile",
        "n_parts",
        "n_row",
        (F.col("n_parts").cast("double") / F.col("n_row")).alias("row_share"),
    )


@query(
    "parts_graph_strength_assortativity",
    oracle=f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b, CAST(COUNT(*) AS BIGINT) AS w
      FROM op a JOIN op b ON a.o = b.o AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SHARED}
    ),
    st AS (
      SELECT node, CAST(SUM(w) AS BIGINT) AS s
      FROM (SELECT a AS node, w FROM e UNION ALL SELECT b, w FROM e)
      GROUP BY 1
    ),
    stubs AS (
      SELECT a AS u, b AS v, w FROM e UNION ALL SELECT b, a, w FROM e
    ),
    ed AS (
      SELECT stubs.w, su.s AS sx, sv.s AS sy
      FROM stubs JOIN st su ON stubs.u = su.node
      JOIN st sv ON stubs.v = sv.node
    ),
    agg AS (
      SELECT SUM(CAST(w AS HUGEINT)) AS tw,
             SUM(CAST(w AS HUGEINT) * sx) AS sx1,
             SUM(CAST(w AS HUGEINT) * sx * sy) AS sxy,
             SUM(CAST(w AS HUGEINT) * sx * sx) AS sxx
      FROM ed
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM st) AS n_nodes,
           (SELECT CAST(SUM(w) AS BIGINT) FROM e) AS w_total,
           CASE WHEN tw * sxx - sx1 * sx1 > 0
                THEN CAST(tw * sxy - sx1 * sx1 AS DOUBLE)
                     / CAST(tw * sxx - sx1 * sx1 AS DOUBLE)
           END AS strength_assortativity
    FROM agg
    """,
    tags=("graph", "telemetry", "stats", "weighted"),
)
def parts_graph_strength_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strength assortativity of the part co-occurrence graph — the
    WEIGHTED companion of trade_graph_degree_assortativity (round-15
    NEXT item): the edge-weight-weighted Pearson correlation of endpoint
    STRENGTHS (summed incident edge weight) over all directed stubs of
    the symmetric edge list. The unweighted r asks whether many-partner
    parts link to many-partner parts; this asks whether the VOLUME hubs
    (parts co-ordered constantly, whatever their breadth) sit on
    heavy edges together — the strength_vs_degree matrix localizes the
    breadth/volume mismatch per node, this folds the edge-level version
    to the single drift scalar a co-purchase partitioning plan watches
    (volume hub-hub coupling concentrates shuffle mass on few keys).

    Exactness: strengths are exact int64 sums of shared-order counts;
    every weighted sum (Σw, Σw·sx, Σw·sx·sy, Σw·sx²) accumulates in
    DECIMAL(38,0) engine-side and HUGEINT in the oracle — exact and
    associative, so shuffle order cannot change them — and by the
    symmetric-stub identity Σw·sx = Σw·sy, Σw·sx² = Σw·sy² the weighted
    correlation reduces to (WΣw·sx·sy − (Σw·sx)²)/(WΣw·sx² − (Σw·sx)²):
    ONE IEEE division of two exactly-computed integers (NULL when the
    graph is strength-regular under w-weighting, where the denominator
    is 0). Headroom: W ≲ 1e7 stubs · Σ-terms ≲ 1e18 keeps every product
    within DECIMAL(38,0) at any plausible SF of this schema.

    Plan: strength table from ONE fold over the session-cached weighted
    edge build (`_part_cooccur_edges_weighted` — the same slot every
    part-graph query shares; no second self-join), two hash joins
    stub⋈strength, a single partial-aggregatable 4-sum fold to one row —
    no windows, no driver math. Scalars n_edges/n_nodes/w_total ride as
    broadcast one-row joins."""
    e = _part_cooccur_edges_weighted(spark, sf_dir)
    st = _part_node_strengths(spark, sf_dir).select(
        "node", F.col("strength").alias("s")
    )
    stubs = e.selectExpr("x AS u", "y AS v", "w").unionAll(
        e.selectExpr("y AS u", "x AS v", "w")
    )
    su = st.select(F.col("node").alias("u"), F.col("s").alias("sx"))
    sv = st.select(F.col("node").alias("v"), F.col("s").alias("sy"))
    ed = stubs.join(su, "u").join(sv, "v")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = ed.agg(
        F.sum(dec(F.col("w"))).alias("tw"),
        F.sum(dec(F.col("w")) * F.col("sx")).alias("sx1"),
        F.sum(dec(F.col("w")) * F.col("sx") * F.col("sy")).alias("sxy"),
        F.sum(dec(F.col("w")) * F.col("sx") * F.col("sx")).alias("sxx"),
    )
    scal = e.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("w").cast("long").alias("w_total"),
    )
    nn = st.agg(F.count(F.lit(1)).alias("n_nodes"))
    num = F.col("tw") * F.col("sxy") - F.col("sx1") * F.col("sx1")
    den = F.col("tw") * F.col("sxx") - F.col("sx1") * F.col("sx1")
    return (
        agg.crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(nn))
        .select(
            "n_edges",
            "n_nodes",
            "w_total",
            F.when(den > 0, num.cast("double") / den.cast("double")).alias(
                "strength_assortativity"
            ),
        )
    )
