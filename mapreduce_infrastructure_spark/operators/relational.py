"""Relational operator inventory (SURVEY.md §2B), DataFrame-first.

The reference expresses projection/filter/aggregation only as user map/reduce
functions over text records (``external/include/mr_task_factory.h:20-43``);
joins, windows, set ops and subqueries are absent entirely. Here each
capability is a declarative DataFrame/SQL plan so Catalyst supplies predicate
pushdown, column pruning, partial aggregation, join selection (broadcast for
the dimension tables) and AQE runtime re-planning.

Every query here is oracle-checked: the paired DuckDB SQL computes the same
result with the same column names and — via DECIMAL-exact aggregation
(functions/exact.py) — bitwise-identical doubles.

Scale notes (100 TB):
- Aggregations are algebraic (`HashAggregate(partial) -> shuffle -> final`);
  nothing collects to the driver.
- Dimension joins (region/nation/customer/supplier/part) are broadcast —
  these stay broadcast-sized at any realistic SF while lineitem/orders/events
  scale; fact-fact joins shuffle on their keys and AQE handles skew.
- Filters are plain column predicates, so they push into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table, register_views
from ..functions.exact import davg, dec, disc_rev, dsum, lcount, rnd
from ..registry import TableReader, Twin, query


# --------------------------------------------------------------------------
# Filter / projection / basic aggregation
# --------------------------------------------------------------------------

# Shared with the streaming twin in streaming/stream.py: one statement of
# the DECIMAL-exact sums and the floor-rounding, so batch and stream cannot
# drift on the flagship aggregate.
Q1_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           floor((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_qty,
           floor((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_base_price,
           floor((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_disc_price,
           floor((CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_charge,
           floor((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) * 100 + 0.5) / 100 AS avg_qty,
           floor((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) * 100 + 0.5) / 100 AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """


def _q1_cells(spark: SparkSession, sf_dir: str, read: TableReader) -> DataFrame:
    li = read(spark, sf_dir, "lineitem")
    disc_price = disc_rev()
    charge = disc_price.cast("decimal(18,4)") * (F.lit(1) + dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "2000-12-31")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            rnd(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
            rnd(F.sum(charge).cast("double"), 2).alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            lcount("count_order"),
        )
    )


@query(
    "q1_pricing_summary",
    oracle=Q1_ORACLE,
    tags=("agg", "filter"),
    twin=Twin(_q1_cells),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter + multi-aggregate group-by.

    Reference analogue: per-key fold in the reduce phase
    (``src/mr_tasks.h:101``, ``test/user_tasks.cc:29-33``) — here a single
    partial+final HashAggregate pass, no Python in the hot path. The
    exact DECIMAL sums are associative, so the streaming twin's
    micro-batch split cannot change a bit of the result.
    """
    return _q1_cells(spark, sf_dir, load_table)


@query(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber,
           floor((CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE)) * 100 + 0.5) / 100 AS discount_amount
    FROM lineitem
    WHERE l_quantity >= 48 AND l_discount > 0.05 AND l_returnflag = 'R'
    """,
    tags=("filter", "project"),
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + conjunctive predicates; all three filters push into the
    parquet scan (reference analogue: a user map() that drops records,
    ``external/include/mr_task_factory.h:20``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_quantity") >= 48)
            & (F.col("l_discount") > 0.05)
            & (F.col("l_returnflag") == "R")
        )
        .select(
            "l_orderkey",
            "l_partkey",
            "l_linenumber",
            rnd((dec("l_extendedprice") * dec("l_discount")).cast("double"), 2).alias(
                "discount_amount"
            ),
        )
    )


@query(
    "agg_stats",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           floor((CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_price,
           floor((CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) * 100 + 0.5) / 100 AS avg_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/sum/avg/min/max in one pass (single shuffle)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            lcount("n_orders"),
            dsum("o_totalprice", "sum_price"),
            davg("o_totalprice", "avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@query(
    "distinct_pairs",
    oracle="""
    SELECT DISTINCT c_nationkey AS nationkey, c_mktsegment AS mktsegment FROM customer
    """,
    tags=("distinct",),
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = group-by-identity (absent in the reference; SURVEY §2B)."""
    return (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .distinct()
    )


@query(
    "count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "distinct"),
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts (Catalyst expands to two-phase
    aggregate). The approximate variant is `approx_distinct_parts`."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            lcount("n_rows"),
        )
    )


@query("approx_distinct_parts", tags=("agg", "approx"))
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count — the 100 TB-scale path where exact
    distinct would shuffle every key.

    Documented why-not for the oracle (round-16): the estimate is a
    function of ENGINE-INTERNAL sketch state — Spark's HLL++ register
    array with its dense/sparse encodings and baked-in bias-correction
    tables — and DuckDB's approx_count_distinct is a different sketch
    implementation, so no cross-engine equality exists at any rsd; a
    pure-python re-derivation would be a reimplementation of Spark's
    private registers, not an independent engine. The estimate is
    instead pinned RELATIVELY: the exact_parts companion column is
    exact (and the standalone exact query is oracle-backed), and the
    invariant test bounds |approx − exact| by the rsd envelope."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
    )


# --------------------------------------------------------------------------
# Grouping sets / rollup / cube / having
# --------------------------------------------------------------------------

@query(
    "rollup_returns",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           floor((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (absent in reference; Spark built-in)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(lcount("n_rows"), dsum("l_quantity", "sum_qty"))
    )


@query(
    "cube_orders",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
    tags=("agg", "cube"),
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(lcount("n_orders"))
    )


@query(
    "grouping_sets_mix",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg", "grouping-sets", "sql"),
)
def grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (spark.sql)."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "having_heavy_customers",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           floor((CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
    tags=("agg", "having"),
)
def having_heavy_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(lcount("n_orders"), dsum("o_totalprice", "total_spent"))
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "case_when_buckets",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_disc,
           CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk,
           floor((CAST(SUM(CASE WHEN l_discount >= 0.05 THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)) * 100 + 0.5) / 100 AS high_disc_revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "case"),
)
def case_when_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (pivot-style bucketing in one scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("l_discount") >= 0.05
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("n_high_disc"),
        F.sum(F.when(F.col("l_quantity") >= 25, 1).otherwise(0)).alias("n_bulk"),
        rnd(
            F.sum(F.when(high, dec("l_extendedprice")).otherwise(dec(F.lit(0)))).cast(
                "double"
            ),
            2,
        ).alias("high_disc_revenue"),
    )


# --------------------------------------------------------------------------
# Joins (absent in the reference — SURVEY §2B "Joins")
# --------------------------------------------------------------------------

@query(
    "join_region_customers",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_customers,
           floor((CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    tags=("join", "broadcast"),
)
def join_region_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake chain customer→nation→region with explicit broadcast of the
    dimensions — zero shuffle for the joins; only the final group-by shuffles
    (5 regions). At 100 TB this is the canonical map-side join."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(lcount("n_customers"), dsum("c_acctbal", "sum_acctbal"))
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           floor((CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style 3-way join + agg + deterministic top-10 (ties broken by
    orderkey; revenue is DECIMAL-exact so the top-10 set is engine-stable).
    customer is broadcast; orders⋈lineitem shuffles on the order key."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    revenue = disc_rev()
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(rnd(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "join_left_order_counts",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join", "outer"),
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders
    (count of a nullable key counts only matches)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_semi_active",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("join", "semi"),
)
def join_semi_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with at least one big order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "join_anti_inactive",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("join", "anti"),
)
def join_anti_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): complement of join_semi_active."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "join_range_quantity_size",
    oracle="""
    SELECT p.p_brand, COUNT(*) AS n_matches,
           floor((CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_price
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
               AND l.l_quantity BETWEEN p.p_size - 2 AND p.p_size + 2
    GROUP BY p.p_brand
    """,
    tags=("join", "range"),
)
def join_range_quantity_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + band (range) join predicate: the equi key keeps it a hash join
    with the band as a post-join filter — NOT a nested-loop join, which is
    what a naive pure-theta formulation would cost at scale."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (l.l_partkey == p.p_partkey)
        & (l.l_quantity >= p.p_size - 2)
        & (l.l_quantity <= p.p_size + 2)
    )
    return (
        l.join(p, cond)
        .groupBy("p_brand")
        .agg(lcount("n_matches"), dsum("l_extendedprice", "sum_price"))
    )


@query(
    "join_full_nation_counts",
    oracle="""
    WITH cc AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
         ss AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cc.nk, ss.nk) AS nationkey,
           COALESCE(cc.n_cust, 0) AS n_customers,
           COALESCE(ss.n_supp, 0) AS n_suppliers
    FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
    """,
    tags=("join", "outer"),
)
def join_full_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates with COALESCE null-filling."""
    cc = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(lcount("n_cust"))
    )
    ss = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(lcount("n_supp"))
    )
    return cc.join(ss, cc.nk == ss.nk, "full_outer").select(
        F.coalesce(cc.nk, ss.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_customers"),
        F.coalesce("n_supp", F.lit(0)).alias("n_suppliers"),
    )


# --------------------------------------------------------------------------
# Sorts / limits / top-k  (reference guarantees key-sorted output:
# description.md:56, src/mr_tasks.h:101)
# --------------------------------------------------------------------------

@query(
    "top10_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort", "topk"),
)
def top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps then a k-row driver merge, never a global sort. Ties broken by key.
    (o_totalprice is a stored value — no arithmetic, exact in both engines.)"""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Set operations (absent in reference; SURVEY §2B "Set ops")
# --------------------------------------------------------------------------

@query(
    "set_union_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def set_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


@query(
    "set_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@query(
    "set_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): nations with customers but no suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s)


# --------------------------------------------------------------------------
# Subqueries (SQL surface)
# --------------------------------------------------------------------------

@query(
    "in_subquery_parts",
    oracle="""
    SELECT p_partkey, p_brand, p_size FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
    """,
    tags=("subquery", "sql"),
)
def in_subquery_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (Catalyst rewrites to a left-semi join)."""
    register_views(spark, sf_dir, ["part", "lineitem"])
    return spark.sql(
        """
        SELECT p_partkey, p_brand, p_size FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        """
    )


@query(
    "correlated_max_acctbal",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal FROM customer c
    WHERE c_acctbal = (SELECT MAX(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_mktsegment = c.c_mktsegment)
    """,
    tags=("subquery", "sql"),
)
def correlated_max_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: per-segment top customer (MAX is exact on
    stored doubles, so the float equality is engine-stable)."""
    register_views(spark, sf_dir, ["customer"])
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer c
        WHERE c_acctbal = (SELECT MAX(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_mktsegment = c.c_mktsegment)
        """
    )


@query(
    "join_right_orders_customer",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders
    FROM orders o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join", "right"),
)
def join_right_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (every customer kept, order side nullable).

    Catalyst plans this as the mirrored left-outer with the small side
    broadcast; COUNT(column) counts only matched rows — the null-semantics
    edge that distinguishes right-outer from inner in the oracle check."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q5_supplier_revenue",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_items,
           floor((CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    tags=("join", "agg", "tpch"),
)
def q5_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style six-table join chain: local-supplier revenue per Asian
    nation.

    Plan at 100 TB: region/nation/supplier/customer broadcast (all stay
    dimension-sized); the only big shuffle is lineitem⋈orders on orderkey.
    The region filter prunes before any fact work via the broadcast chain —
    Catalyst pushes r_name = 'ASIA' through the join graph."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    revenue = F.sum(
        disc_rev()
    ).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(lcount("n_items"), rnd(revenue, 2).alias("revenue"))
    )


N_SALTS = 8


@query(
    "salted_agg_user_value",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           floor((CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_value
    FROM events
    GROUP BY user_id
    """,
    tags=("agg", "skew"),
)
def salted_agg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SALTED aggregation: groupBy(key, salt) → groupBy(key).

    The skew pattern for hot keys at 100 TB: a single celebrity user_id
    lands its entire partition on one reducer; salting splits each key into
    N_SALTS sub-groups first, so no task sees more than 1/N of the hot key.
    Both stages are algebraic (counts and decimal sums re-aggregate exactly)
    — the result is identical to the direct group-by, which is what the
    oracle checks. Spark's AQE skew handling covers JOIN skew at runtime;
    aggregation skew needs this explicit rewrite (or partial-agg, which
    salting generalizes to arbitrary depth)."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS))
    )
    partial = salted.groupBy("user_id", "salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).alias("s"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        rnd(F.sum("s").cast("double"), 2).alias("sum_value"),
    )


@query(
    "set_ops_all_variants",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n FROM (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P'
    ) GROUP BY o_orderpriority
    """,
    tags=("setop", "multiset"),
)
def set_ops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — unionAll keeps duplicates, exceptAll
    subtracts multiplicities (each 'P' occurrence cancels ONE retained row)
    — semantics the distinct variants above cannot express. Multiplicity
    bookkeeping is a per-key counter, exactly the reference's grouped-values
    model (src/mr_tasks.h:101)."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    p = o.filter(F.col("o_orderstatus") == "P").select("o_orderpriority")
    return (
        f.unionAll(op)
        .exceptAll(p)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "cross_join_region_status",
    oracle="""
    SELECT r.r_name, s.o_orderstatus,
           COALESCE(o.n, 0) AS n_orders
    FROM region r
    CROSS JOIN (SELECT unnest(['F', 'O', 'P', 'X']) AS o_orderstatus) s
    LEFT JOIN (SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus) o
      ON s.o_orderstatus = o.o_orderstatus
    """,
    tags=("join", "cross"),
)
def cross_join_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (the dense grid/scaffold pattern): every region ×
    every status from an INDEPENDENT declared domain, zero-filled — 'X' has
    no orders, so its grid cells exist with n_orders = 0, which only a
    cross join + left join can produce (a plain group-by drops absent
    combinations). The one join where a cartesian product is the intent;
    safe at scale only because both sides are tiny — the engine's plan
    checks treat any other cartesian as a bug
    (plans/checks.assert_no_cartesian). One scan of orders total."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    o = load_table(spark, sf_dir, "orders")
    statuses = spark.createDataFrame(
        [("F",), ("O",), ("P",), ("X",)], "o_orderstatus string"
    )
    counts = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    return (
        r.crossJoin(statuses)
        .join(counts, "o_orderstatus", "left")
        .select(
            "r_name",
            "o_orderstatus",
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


@query(
    "argmax_top_order",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority,
             max({'price': o_totalprice, 'key': o_orderkey}) AS s
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           s.key AS top_orderkey,
           s.price AS top_price
    FROM m
    """,
    tags=("agg", "argmax"),
)
def argmax_top_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC arg-max: the order carrying each priority's highest
    total, via max over a (price, key) struct — lexicographic struct
    comparison breaks price ties by key identically in Spark and DuckDB,
    where the built-in max_by picks an ARBITRARY row on ties (and the two
    engines would disagree). One aggregation pass, no window, no join —
    the cheapest top-1-per-group plan at any scale."""
    o = load_table(spark, sf_dir, "orders")
    s = F.max(
        F.struct(
            F.col("o_totalprice").alias("price"), F.col("o_orderkey").alias("key")
        )
    ).alias("s")
    return (
        o.groupBy("o_orderpriority")
        .agg(s)
        .select(
            "o_orderpriority",
            F.col("s.key").alias("top_orderkey"),
            F.col("s.price").alias("top_price"),
        )
    )


# Shared by merge_upsert_customers and streaming.stream_merge_upsert: the
# incremental CDC apply must converge to exactly this batch answer.
MERGE_ORACLE = """
    WITH latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ), changes AS (
      SELECT user_id * 11 AS key,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
             value
      FROM latest
    )
    SELECT COALESCE(c.c_custkey, ch.key) AS c_custkey,
           COALESCE(c.c_name, 'cdc-' || CAST(ch.key AS VARCHAR)) AS c_name,
           floor(CASE WHEN ch.key IS NULL THEN c.c_acctbal
                      ELSE COALESCE(c.c_acctbal, 0.0) + ch.value END * 100 + 0.5) / 100
             AS c_acctbal
    FROM customer c
    FULL OUTER JOIN changes ch ON c.c_custkey = ch.key
    -- keep unless a delete touches the row; base-only rows have op NULL,
    -- and a three-valued NOT(op='delete' AND …) would silently drop them
    WHERE COALESCE(ch.op, 'keep') <> 'delete'
"""


@query("merge_upsert_customers", oracle=MERGE_ORACLE, tags=("merge", "cdc", "join"))
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CDC apply) as a full-outer join — the upsert/delete
    semantics Delta/Iceberg provide, expressed on plain parquet tables:
    the change set is the keep-latest compaction of the event log (one
    row per key: 'error' → DELETE, anything else → UPSERT of value onto
    the account balance; unmatched upserts INSERT a synthetic row).

    WHEN MATCHED AND op='delete'  THEN DELETE
    WHEN MATCHED                  THEN UPDATE  (balance += value)
    WHEN NOT MATCHED AND 'upsert' THEN INSERT  (cdc-<key>, value)
    plus all unmatched base rows pass through.

    Scale shape: one window over the event log (change compaction), one
    shuffle join base-vs-changes on the key. The change set is usually
    ≪ the base, so AQE picks a broadcast; there is no per-row Python and
    no driver loop — this is the plan MERGE compiles to in lakehouse
    engines, minus their transaction log."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    changes = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            (F.col("user_id") * 11).alias("key"),
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            "value",
        )
    )
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    j = base.join(changes, base.c_custkey == changes.key, "full_outer")
    # base-only rows carry op NULL: coalesce before comparing, or the
    # three-valued NOT would drop every untouched base row
    merged = j.filter(F.coalesce(F.col("op"), F.lit("keep")) != "delete")
    new_bal = F.when(
        F.col("key").isNull(), F.col("c_acctbal")
    ).otherwise(F.coalesce(F.col("c_acctbal"), F.lit(0.0)) + F.col("value"))
    return merged.select(
        F.coalesce(F.col("c_custkey"), F.col("key")).alias("c_custkey"),
        F.coalesce(
            F.col("c_name"), F.concat(F.lit("cdc-"), F.col("key").cast("string"))
        ).alias("c_name"),
        rnd(new_bal, 2).alias("c_acctbal"),
    )


_JOIN_SALTS = 8


@query(
    "salted_join_hot_users",
    oracle="""
    WITH hotkeyed AS (
      SELECT CASE WHEN user_id < 5 THEN 0 ELSE user_id END AS hot_user, value
      FROM events
    )
    SELECT h.hot_user,
           c.c_name,
           COUNT(*) AS n_events,
           floor((CAST(SUM(CAST(h.value AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_value
    FROM hotkeyed h JOIN customer c ON h.hot_user = c.c_custkey
    GROUP BY h.hot_user, c.c_name
    """,
    tags=("join", "skew"),
)
def salted_join_hot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED skew join — the replicate-the-build-side pattern: the event
    log's key space is artificially collapsed so key 0 carries ~3% of all
    rows (the celebrity-key shape); a plain shuffle join would put every
    key-0 row on one task. Fix: append a random-ish salt (pmod of the
    unique event_id — deterministic, not rand()) to the probe side's key
    and CROSS-replicate each build row across all N salts, so the hot key
    fans out over N tasks. The final aggregation removes the salt; the
    oracle is the unsalted join, proving the rewrite is semantics-free.

    AQE's skew-join handles MOST of this at runtime by splitting oversized
    partitions — the explicit salt is the portable form (works under
    bucketed/sort-merge plans AQE won't touch, and in any engine)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("user_id") < 5, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("hot_user"),
        "value",
        F.pmod(F.col("event_id"), F.lit(_JOIN_SALTS)).cast("int").alias("salt"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("hot_user"), "c_name"
    )
    salts = spark.range(_JOIN_SALTS).select(F.col("id").cast("int").alias("salt"))
    cust_rep = cust.crossJoin(F.broadcast(salts))
    joined = ev.join(cust_rep, ["hot_user", "salt"])
    return joined.groupBy("hot_user", "c_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )


@query(
    "data_quality_audit",
    oracle="""
    SELECT 'orders.o_custkey->customer' AS check_name,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
             AS n_violations
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_custkey unique',
           CAST((SELECT COUNT(*) FROM (
                   SELECT c_custkey FROM customer
                   GROUP BY c_custkey HAVING COUNT(*) > 1)) AS BIGINT)
    UNION ALL
    SELECT 'orders.o_totalprice positive',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_totalprice IS NULL OR o_totalprice <= 0) AS BIGINT)
    UNION ALL
    SELECT 'events.ts not null',
           CAST((SELECT COUNT(*) FROM events WHERE ts IS NULL) AS BIGINT)
    """,
    tags=("audit", "quality"),
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit — the dbt-test / Deequ pattern as one query:
    referential integrity (anti-joins), key uniqueness (group-having),
    domain checks (range/null predicates), each returning its violation
    count. Fixture data is clean, so every count is 0 — the value is the
    PLAN: anti-joins broadcast the primary-key side's keys, uniqueness is
    one shuffle on the key, domain checks run at scan speed; at 100 TB
    this is the nightly gate that blocks a bad partition from promotion."""
    from functools import reduce

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    checks: list[tuple[str, DataFrame]] = [
        (
            "orders.o_custkey->customer",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
        ),
        (
            "lineitem.l_orderkey->orders",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti"),
        ),
        (
            "customer.c_custkey unique",
            c.groupBy("c_custkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1),
        ),
        (
            "orders.o_totalprice positive",
            o.filter(F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)),
        ),
        ("events.ts not null", ev.filter(F.col("ts").isNull())),
    ]
    counted = [
        v.agg(F.count(F.lit(1)).cast("bigint").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )
        for name, v in checks
    ]
    return reduce(lambda a, b: a.unionAll(b), counted)


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT COUNT(*) AS n_items,
           floor((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "tpch", "sql"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecasting-revenue scan, submitted through the raw
    SQL front door (spark.sql over registered views) — the engine's second
    user surface next to the DataFrame API; both compile to the same
    Catalyst plan (single pushed-filter scan + partial/final agg, no
    shuffle beyond the 1-row final).

    The double-typed discount BETWEEN bounds compare bit-identically in
    both engines; the money product goes through exact DECIMAL before the
    final cast (functions/exact.py)."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT COUNT(*) AS n_items,
               floor((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
        FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


@query(
    "q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           COUNT(*) AS n_items,
           floor((CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
    tags=("join", "agg", "tpch"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style cross-nation shipping volume: six-table join graph
    with the nation dimension joined TWICE under different roles (supplier
    side vs customer side) — the self-referencing-dimension shape that
    exercises alias handling in the join planner.

    Plan at 100 TB: both nation copies broadcast (bounded, hard hint);
    supplier and customer scale with SF so they carry NO hint — size-based
    planning broadcasts them at test SF and shuffles at scale; the one
    unavoidable big shuffle is lineitem⋈orders on orderkey. The inequality
    filter runs on broadcast-local columns, before the fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.sum(
        disc_rev()
    ).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(lcount("n_items"), rnd(revenue, 2).alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           COUNT(*) AS n_items,
           floor((CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) DESC,
             c.c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item report: top-20 customers by lost
    revenue on returned lineitems. The top-k ORDERS BY THE EXACT DECIMAL
    sum (ties broken by c_custkey) and only rounds for display — ranking on
    a rounded or double-typed score is how cross-engine top-k checks flake.

    Plan: returnflag filter pushed into the lineitem scan, one orderkey
    shuffle against orders, customer/nation broadcast, then
    TakeOrderedAndProject — no global sort materialization for a LIMIT."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev_exact = F.sum(disc_rev())
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(lcount("n_items"), rev_exact.alias("rev_exact"))
        .orderBy(F.desc("rev_exact"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "n_items",
            rnd(F.col("rev_exact").cast("double"), 2).alias("revenue"),
        )
    )


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
           CAST(b.sum_qty AS DOUBLE) AS sum_qty
    FROM big b
    JOIN orders o   ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("join", "agg", "having", "tpch"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume orders: aggregate the fact table first
    (HAVING over an exact decimal quantity sum — engine-stable threshold),
    then join the surviving order keys back to orders/customer. The
    aggregate-before-join ordering is the scale move: the HAVING shrinks
    the fact side to the rare heavy orders BEFORE any join shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


def _skew_oracle_block(table: str, col: str) -> str:
    return f"""
      SELECT '{table}.{col}' AS key_name,
             COUNT(*) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total_rows,
             MAX(cnt) AS max_cnt,
             floor((CAST(SUM(cnt) AS DOUBLE) / COUNT(*)) * 100 + 0.5) / 100 AS mean_cnt,
             floor((CAST(MAX(cnt) AS DOUBLE) / (CAST(SUM(cnt) AS DOUBLE) / COUNT(*))) * 100 + 0.5) / 100 AS skew_ratio,
             CAST(SUM(CASE WHEN cnt * (SELECT COUNT(*) FROM (SELECT {col} AS k, COUNT(*) AS cnt FROM {table} GROUP BY {col}))
                             > 10 * (SELECT SUM(cnt) FROM (SELECT {col} AS k, COUNT(*) AS cnt FROM {table} GROUP BY {col}))
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys
      FROM (SELECT {col} AS k, COUNT(*) AS cnt FROM {table} GROUP BY {col})
    """


@query(
    "join_key_skew_report",
    oracle=" UNION ALL ".join(
        [
            _skew_oracle_block("events", "user_id"),
            _skew_oracle_block("lineitem", "l_orderkey"),
            _skew_oracle_block("orders", "o_custkey"),
        ]
    ),
    tags=("diagnostics", "skew", "agg"),
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the report you run BEFORE choosing a
    join strategy at 100 TB: per candidate key, the key count, max/mean
    per-key row counts, their ratio, and how many keys are "hot"
    (cnt > 10× mean). Feeds the decision between plain shuffle join,
    salting (`salted_join_hot_users`), and AQE skew splitting.

    The hot-key predicate is cross-multiplied into pure BIGINT arithmetic
    (cnt·n_keys > 10·total) — no float mean in a comparison. Plan: one
    partial+final count per key, then a 1-row rollup joined back broadcast
    for the hot-key count — two shuffles over key-cardinality data, never
    over the raw fact rows."""
    from functools import reduce

    specs = [
        ("events", "user_id"),
        ("lineitem", "l_orderkey"),
        ("orders", "o_custkey"),
    ]
    outs = []
    for table, col in specs:
        counts = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        stats = counts.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("total_rows"),
            F.max("cnt").alias("max_cnt"),
        )
        hot = (
            counts.crossJoin(F.broadcast(stats))
            .filter(F.col("cnt") * F.col("n_keys") > 10 * F.col("total_rows"))
            .agg(F.count(F.lit(1)).alias("n_hot_keys"))
        )
        mean = F.col("total_rows").cast("double") / F.col("n_keys")
        outs.append(
            stats.crossJoin(F.broadcast(hot)).select(
                F.lit(f"{table}.{col}").alias("key_name"),
                "n_keys",
                F.col("total_rows").cast("long").alias("total_rows"),
                "max_cnt",
                rnd(mean, 2).alias("mean_cnt"),
                rnd(F.col("max_cnt").cast("double") / mean, 2).alias("skew_ratio"),
                F.col("n_hot_keys").cast("long").alias("n_hot_keys"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


# --------------------------------------------------------------------------
# Bloom-filter pruned semi-join (runtime-filter pattern, fully in-plan)
# --------------------------------------------------------------------------

BLOOM_BITS = 1024  # m: filter width (16 longs)


@query(
    "bloom_prune_semi_join",
    oracle="""
    SELECT l.l_suppkey, COUNT(*) AS n_lines
    FROM lineitem l
    WHERE l.l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 8000)
    GROUP BY 1
    """,
    tags=("join", "bloom", "runtime-filter"),
)
def bloom_prune_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join where the probe side is pre-pruned by a 1024-bit Bloom
    filter (k=2 xxhash64 probes) built from the build side — the runtime-
    filter pattern Spark injects automatically for big joins, expressed as
    an explicit operator. The Bloom pass only PRUNES (false positives
    survive it); the exact semi-join then removes them, so the result is
    bit-identical to the plain semi-join the oracle runs — the pruning is
    provably transparent.

    The bitmap never touches the driver: set-bit positions aggregate into
    ≤16 (word, bits) rows via bit_or, fold into a single map row, and
    broadcast-crossJoin onto the probe. At 100 TB the filter is ~2 KB
    shipped to every task and absorbs most of the scan's output before the
    shuffle, which is the entire point: shuffle rows ≈ true matches, not
    scan size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .select("s_suppkey")
    )
    pos = s.select(
        F.explode(
            F.array(
                F.pmod(F.xxhash64("s_suppkey", F.lit(1)), F.lit(BLOOM_BITS)),
                F.pmod(F.xxhash64("s_suppkey", F.lit(2)), F.lit(BLOOM_BITS)),
            )
        ).alias("pos")
    )
    bitmap = (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(1L, int(pos % 64))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bm")
        )
    )
    probe = li.select("l_suppkey").crossJoin(F.broadcast(bitmap))
    def hit(seed: int):
        p = F.pmod(F.xxhash64("l_suppkey", F.lit(seed)), F.lit(BLOOM_BITS))
        word = F.coalesce(
            F.element_at("bm", (p / 64).cast("int")), F.lit(0).cast("long")
        )
        return word.bitwiseAND(
            F.expr(f"shiftleft(1L, int(pmod(xxhash64(l_suppkey, {seed}), {BLOOM_BITS}) % 64))")
        ) != 0
    pruned = probe.filter(hit(1) & hit(2)).select("l_suppkey")
    return (
        pruned.join(s, pruned.l_suppkey == s.s_suppkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


# --------------------------------------------------------------------------
# Unpivot / melt (wide -> long)
# --------------------------------------------------------------------------

@query(
    "unpivot_revenue_components",
    oracle="""
    WITH comp AS (
      SELECT l_returnflag, 'gross' AS component,
             CAST(l_extendedprice AS DECIMAL(19,4)) AS amount
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount',
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(19,4))
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'tax',
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(19,4))
      FROM lineitem
    )
    SELECT l_returnflag, component,
           floor(CAST(SUM(amount) AS DOUBLE) * 100 + 0.5) / 100 AS total
    FROM comp GROUP BY 1, 2
    """,
    tags=("relational", "unpivot", "melt"),
)
def unpivot_revenue_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): turn the wide per-line money columns into long
    (component, amount) rows and total them per return flag — the inverse
    of the pivot operator, via ``stack()``.

    The oracle's UNION ALL re-scans lineitem three times; ``stack`` emits
    the three rows per input row in one pass — at 100 TB that is one fact
    scan instead of three. Amounts are DECIMAL products (exact), summed
    exactly, rounded once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.select(
        "l_returnflag",
        F.expr(
            "stack(3,"
            " 'gross',    CAST(l_extendedprice AS DECIMAL(19,4)),"
            " 'discount', CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(19,4)),"
            " 'tax',      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(19,4))"
            ") AS (component, amount)"
        ),
    )
    return melted.groupBy("l_returnflag", "component").agg(
        rnd(F.sum("amount").cast("double"), 2).alias("total")
    )


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (partial-state combine)
# --------------------------------------------------------------------------

@query(
    "incremental_agg_maintenance",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * 100 + 0.5) / 100 AS total_spent
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("relational", "incremental", "partial-agg"),
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for an algebraic aggregate: a BASE
    partial state (orders before 1998) is combined with a DELTA partial
    state (1998 onward) by summing counts and exact DECIMAL sums — no
    rescan of the base fact data. The oracle aggregates the full table in
    one pass; equality proves the combine is lossless, which is exactly
    the property that lets a 100 TB nightly pipeline fold a day's delta
    into yesterday's materialized aggregate instead of recomputing history.

    Count/sum (and min/max, HLL, etc.) are algebraic: partial states merge
    associatively. Percentile-style holistic aggregates would need sketch
    states instead (see the GK/HLL operators).
    """
    o = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec("o_totalprice")).alias("s"),
        )

    base = partial(o.filter(F.col("o_orderdate") < "1998-01-01"))
    delta = partial(o.filter(F.col("o_orderdate") >= "1998-01-01"))
    return (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(F.sum("cnt").alias("n_orders"), F.sum("s").alias("s2"))
        .select(
            "o_custkey",
            "n_orders",
            rnd(F.col("s2").cast("double"), 2).alias("total_spent"),
        )
    )
