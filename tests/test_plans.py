"""Physical-plan guardrails: the properties that keep these queries viable
at 100 TB — predicate pushdown into the parquet scan, broadcast joins for
dimensions, no cartesian products, codegen'd hot paths."""

from __future__ import annotations

import functools

from pyspark.sql import functions as F

from mapreduce_infrastructure_spark.catalog import load_table
from mapreduce_infrastructure_spark.llm.text import wordcount
from mapreduce_infrastructure_spark.operators.relational import (
    filter_project,
    join_region_customers,
    q1_pricing_summary,
    q3_shipping_priority,
)
from mapreduce_infrastructure_spark.plans import checks


def test_filters_push_to_parquet_scan(spark, sf_dir):
    df = filter_project(spark, sf_dir)
    checks.assert_pushed_filter(df, "GreaterThan(l_discount")
    checks.assert_pushed_filter(df, "EqualTo(l_returnflag,R)")


def test_scan_prunes_columns(spark, sf_dir):
    """A 2-column projection must not read all 11 lineitem columns."""
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = checks.explain_str(df)
    assert "ReadSchema" in plan, plan  # guard: otherwise the check is vacuous
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_dimension_joins_broadcast(spark, sf_dir):
    checks.assert_broadcast_join(join_region_customers(spark, sf_dir))
    checks.assert_broadcast_join(q3_shipping_priority(spark, sf_dir))
    checks.assert_no_cartesian(q3_shipping_priority(spark, sf_dir))


def test_agg_paths_codegen(spark, sf_dir):
    checks.assert_whole_stage_codegen(q1_pricing_summary(spark, sf_dir))
    checks.assert_whole_stage_codegen(wordcount(spark, sf_dir))


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """Word count must do map-side partial aggregation (the reference's
    in-mapper combine, src/mr_tasks.h:55-62) — two HashAggregates around
    one exchange."""
    plan = checks.explain_str(wordcount(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    """orderBy().limit(k) must plan TakeOrderedAndProject, not a full sort."""
    from mapreduce_infrastructure_spark.operators.relational import top10_orders

    plan = checks.explain_str(top10_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_events_ts_is_timestamp(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert ev.schema["ts"].dataType.typeName().startswith("timestamp")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    assert lo.year == 2024 and hi.year == 2024


def test_q5_broadcasts_dimensions(spark, sf_dir):
    """Q5's six-table chain: all four dimension joins broadcast; the only
    shuffle join allowed is lineitem⋈orders."""
    from mapreduce_infrastructure_spark.operators.relational import (
        q5_supplier_revenue,
    )

    plan = checks.explain_str(q5_supplier_revenue(spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_salted_agg_two_stages(spark, sf_dir):
    """Salted aggregation must keep both stages algebraic: two groupBys,
    the first keyed by (user_id, salt)."""
    from mapreduce_infrastructure_spark.operators.relational import (
        salted_agg_user_value,
    )

    plan = checks.explain_str(salted_agg_user_value(spark, sf_dir))
    assert "salt" in plan
    assert plan.count("HashAggregate") >= 3  # partial+final per stage


def test_q10_pushes_returnflag_and_takes_ordered(spark, sf_dir):
    """Q10: the returnflag filter must reach the parquet scan, the top-20
    must plan TakeOrderedAndProject, and dims must broadcast."""
    from mapreduce_infrastructure_spark.operators.relational import (
        q10_returned_items,
    )

    df = q10_returned_items(spark, sf_dir)
    checks.assert_pushed_filter(df, "EqualTo(l_returnflag,R)")
    plan = checks.explain_str(df)
    assert "TakeOrderedAndProject" in plan
    checks.assert_broadcast_join(df)


def test_q18_aggregates_before_join(spark, sf_dir):
    """Q18: the HAVING aggregation must shrink lineitem BEFORE any join —
    the first HashAggregate pair appears below the join in the plan, and
    the lineitem scan reads only the 2 needed columns."""
    from mapreduce_infrastructure_spark.operators.relational import (
        q18_large_orders,
    )

    plan = checks.explain_str(q18_large_orders(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    read = plan.split("ReadSchema")[1]
    assert "l_quantity" in read and "l_extendedprice" not in read


def test_gapfill_no_cartesian_and_single_fact_scan_shape(spark, sf_dir):
    """Gap-fill: the user_id bound is pushed to the scan; the grid explode
    must not plan a cartesian product."""
    from mapreduce_infrastructure_spark.operators.temporal import (
        gapfill_hourly_value,
    )

    df = gapfill_hourly_value(spark, sf_dir)
    checks.assert_no_cartesian(df)
    checks.assert_pushed_filter(df, "LessThanOrEqual(user_id,40)")


def test_repetition_signals_no_shuffle(spark, sf_dir):
    """Repetition signals are a pure projection: no Exchange in the plan
    (scan-speed at any scale)."""
    from mapreduce_infrastructure_spark.llm.filters import repetition_signals

    plan = checks.explain_str(repetition_signals(spark, sf_dir))
    assert "Exchange" not in plan


def test_chunking_no_shuffle(spark, sf_dir):
    from mapreduce_infrastructure_spark.llm.filters import chunk_documents

    plan = checks.explain_str(chunk_documents(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the per-row index explode


def test_skew_report_never_shuffles_fact_rows(spark, sf_dir):
    """The skew report's joins are against 1-row broadcast stats — no
    sort-merge join, no cartesian over data-sized inputs."""
    from mapreduce_infrastructure_spark.operators.relational import (
        join_key_skew_report,
    )

    df = join_key_skew_report(spark, sf_dir)
    plan = checks.explain_str(df)
    assert "SortMergeJoin" not in plan


def test_q4_exists_compiles_to_semi_join(spark, sf_dir):
    """The correlated EXISTS must plan as a LeftSemi join with the quarter
    filter pushed into the orders scan — no subquery re-execution per row."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        q4_priority_exists,
    )

    df = q4_priority_exists(spark, sf_dir)
    plan = checks.explain_str(df)
    assert "LeftSemi" in plan
    checks.assert_pushed_filter(df, "GreaterThanOrEqual(o_orderdate")


def test_q19_disjunction_pushes_to_part_scan(spark, sf_dir):
    """Catalyst must extract the part-side OR-of-ANDs below the join: the
    brand/size disjunction reaches the part parquet scan as a pushed Or()
    filter instead of filtering post-join."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        q19_disjunctive_revenue,
    )

    df = q19_disjunctive_revenue(spark, sf_dir)
    checks.assert_pushed_filter(df, "Or(Or(And(EqualTo(p_brand,Brand#12)")
    checks.assert_no_cartesian(df)


def test_q15_single_fact_scan(spark, sf_dir):
    """Max-of-aggregate must not rescan lineitem for the scalar max (the
    persisted per-supplier aggregate feeds both the 1-row max and the
    filter), and the max must NOT be an unpartitioned window — the scalar
    agg + broadcast crossJoin shape keeps every exchange bounded even when
    supplier scales to billions of rows."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        q15_top_supplier,
    )

    df = q15_top_supplier(spark, sf_dir)
    plan = checks.explain_str(df)
    assert plan.count("lineitem") == 1, plan
    assert "Window" not in plan, plan
    checks.assert_no_unbounded_single_partition(df)


def test_q21_single_fact_scan_and_broadcasts(spark, sf_dir):
    """Both correlated quantifiers (EXISTS other supplier / NOT EXISTS other
    offender) collapse into one grouped lineitem pass; supplier broadcasts."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        q21_waiting_suppliers,
    )

    df = q21_waiting_suppliers(spark, sf_dir)
    plan = checks.explain_str(df)
    assert plan.count("lineitem") == 1, plan
    checks.assert_broadcast_join(df)


def test_q16_anti_join_broadcasts(spark, sf_dir):
    """The NOT-IN supplier exclusion must be a broadcast LeftAnti, not a
    shuffled one — the bad-supplier set is dimension-sized."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        q16_parts_supplier_count,
    )

    plan = checks.explain_str(q16_parts_supplier_count(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q8_q9_dimensions_broadcast(spark, sf_dir):
    """The 6/7-table TPC-H join graphs keep every dimension broadcast; the
    only shuffle joins are fact-fact."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        q8_market_share,
        q9_profit_by_nation_year,
    )

    for df in (q8_market_share(spark, sf_dir), q9_profit_by_nation_year(spark, sf_dir)):
        checks.assert_broadcast_join(df)
        checks.assert_no_cartesian(df)


def test_concurrent_sessions_sweep_is_distributed(spark, sf_dir):
    """The sweep's data-sized running sums must be partitioned by hour
    bucket (distributed), never one global single-partition sort over the
    delta stream."""
    from mapreduce_infrastructure_spark.operators.temporal import (
        concurrent_sessions_peak,
    )

    plan = checks.explain_str(concurrent_sessions_peak(spark, sf_dir))
    assert "hashpartitioning(bucket" in plan


def test_q2_single_fact_scan_correlated_min(spark, sf_dir):
    """Q2's correlated scalar-MIN must compile to a partkey window over the
    reduced (part, supplier) relation — one lineitem scan, dimensions
    broadcast, no re-scan for the subquery."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        q2_min_cost_supplier,
    )

    df = q2_min_cost_supplier(spark, sf_dir)
    plan = checks.explain_str(df)
    assert plan.count("lineitem") == 1, plan
    checks.assert_broadcast_join(df)
    checks.assert_no_cartesian(df)


def test_q11_single_fact_scan_scalar_total(spark, sf_dir):
    """Q11's global (total, count) threshold must come from a scalar agg
    broadcast back over the persisted |part|-sized aggregate — one fact
    scan, no unpartitioned window, no volume-scaled single-partition
    exchange."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        q11_important_stock,
    )

    df = q11_important_stock(spark, sf_dir)
    plan = checks.explain_str(df)
    assert plan.count("lineitem") == 1, plan
    assert "Window" not in plan, plan
    checks.assert_no_unbounded_single_partition(df)


def test_q20_nested_in_is_semi_join_chain(spark, sf_dir):
    """Q20's nested INs must plan as LeftSemi joins (part set broadcast into
    the fact scan, supplier set semi-joined) — no subquery loops."""
    from mapreduce_infrastructure_spark.operators.tpch_extra import (
        q20_excess_stock_suppliers,
    )

    df = q20_excess_stock_suppliers(spark, sf_dir)
    plan = checks.explain_str(df)
    assert "LeftSemi" in plan
    checks.assert_broadcast_join(df)
    assert plan.count("lineitem") == 1, plan


# Queries allowed to keep a single-partition exchange over a keyed input,
# each with the reason the input is bounded by something other than data
# volume. Additions here need the same justification, reviewed against
# checks.single_partition_squeezes()'s docstring.
_SINGLE_PARTITION_ALLOWED = {
    # The cross-bucket offset pass sums one delta row per HOUR — bounded by
    # the dataset's timespan (~1e5 rows for a decade), not by row volume.
    "concurrent_sessions_peak",
}


@functools.lru_cache(maxsize=1)
def _registry_plans(spark, sf_dir: str) -> dict[str, str]:
    """The simple-mode physical plan of every non-streaming registered
    query, built once for the registry-wide audits below (building a plan
    runs the query's eager build-time jobs, so each build costs seconds).
    Streaming queries are excluded: their callables execute full
    micro-batch pipelines (covered by tests/test_streaming.py), and their
    stateful plans are per-micro-batch, not volume-scaled."""
    from mapreduce_infrastructure_spark.registry import all_queries

    return {
        name: checks.explain_str(q.fn(spark, sf_dir), "simple")
        for name, q in all_queries().items()
        if "streaming" not in q.tags
    }


def test_no_registered_query_squeezes_volume_through_one_partition(spark, sf_dir):
    """Repo-wide scale guard: no registered query's physical plan may route
    a volume-scaled input through an ``Exchange SinglePartition`` (the
    round-7 q15/q11 finding — invisible at test SF, fatal at 100 TB)."""
    failures = {}
    for name, plan in _registry_plans(spark, sf_dir).items():
        if name in _SINGLE_PARTITION_ALLOWED:
            continue
        bad = checks.single_partition_squeezes(plan)
        if bad:
            failures[name] = bad
    assert not failures, failures


def test_no_registered_query_windows_volume_by_low_card_stratum(spark, sf_dir):
    """Repo-wide scale guard #2 (the round-8 verdict's 8-site family): no
    registered query's plan may run a Window partitioned ONLY by
    low-cardinality stratum columns (source/lang/priority/…) over a
    volume-scaled input — each stratum would flow through ONE task at
    100 TB (the hash-partitioned cousin of the SinglePartition squeeze).
    Histogram-bounded windows are exempt automatically: the checker
    recognises an upstream aggregate keyed by (strata + a non-identity
    value column) as the count-value-histogram closed form, whose window
    input is |distinct values|, not |rows| (functions/ranks.py). No
    allowlist — every registered query must pass as-is."""
    failures = {}
    for name, plan in _registry_plans(spark, sf_dir).items():
        bad = checks.low_card_stratum_windows(plan)
        if bad:
            failures[name] = bad
    assert not failures, failures


def test_low_card_window_checker_detects_the_banned_shape(spark, sf_dir):
    """The checker itself must flag the naive shapes the round-9 rewrites
    removed (per-stratum percent_rank/ntile/cumsum over raw rows) and
    pass the histogram replacement — guards against the checker rotting
    into a no-op."""
    from pyspark.sql import Window, functions as F

    from mapreduce_infrastructure_spark.catalog import load_table
    from mapreduce_infrastructure_spark.functions.ranks import hist_percent_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n")
    )
    naive = docs.withColumn(
        "pr",
        F.percent_rank().over(
            Window.partitionBy("lang").orderBy("n", "doc_id")
        ),
    )
    assert checks.low_card_stratum_windows(checks.explain_str(naive, "simple"))
    ntile_naive = docs.withColumn(
        "q", F.ntile(4).over(Window.partitionBy("lang").orderBy("doc_id"))
    )
    assert checks.low_card_stratum_windows(
        checks.explain_str(ntile_naive, "simple")
    )
    hist = hist_percent_rank(docs, ["lang"], "n", "doc_id")
    assert not checks.low_card_stratum_windows(
        checks.explain_str(hist, "simple")
    )


def test_ppjoin_no_cartesian(spark, sf_dir):
    """The prefix-filter join must get all candidates from the token
    equi-join — no cartesian/nested-loop block anywhere in the plan."""
    from mapreduce_infrastructure_spark.llm.dedup import ppjoin_pairs

    df = ppjoin_pairs(spark, sf_dir)
    checks.assert_no_cartesian(df)
    # Candidate generation (the shared prefix_filter_candidates helper)
    # must be a shingle equi-join (hash-joinable key), with the doc
    # ordering + length bound as residual conditions and the per-doc
    # prefix rank present.
    plan = checks.explain_str(df)
    assert "least(" in plan and "row_number" in plan.lower()


def test_squeeze_checker_exempts_bucket_offset_but_flags_keyed_aggs(spark, sf_dir):
    """The round-11 checker exemption (bucketed_prefix_* offset passes,
    keyed by the internal _psb/_pmb range-bucket id — n_buckets-bounded)
    must pass the global prefix-sum plan while a genuine dimension-keyed
    aggregate squeezed through one partition stays flagged — guards the
    exemption against rotting into a blanket pass."""
    from pyspark.sql import Window, functions as F

    from mapreduce_infrastructure_spark.catalog import load_table
    from mapreduce_infrastructure_spark.functions.ranks import (
        bucketed_prefix_sum,
    )

    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy(
        F.expr("unix_micros(o_orderdate) div 1000000 div 86400").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    good = bucketed_prefix_sum(g, [], "day", "n")
    assert not checks.single_partition_squeezes(
        checks.explain_str(good, "simple")
    )
    naive = g.withColumn(
        "cum",
        F.sum("n").over(
            Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert checks.single_partition_squeezes(
        checks.explain_str(naive, "simple")
    )
