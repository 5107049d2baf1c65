"""Physical-plan assertions — the scale contract, not just results.

At 100 TB the difference between BroadcastHashJoin and SortMergeJoin on
a dim join, or between a pruned and unpruned scan, is the job. These
tests pin the plan shapes the engine promises (SURVEY.md §4)."""

from __future__ import annotations

import pytest

import re

from pyspark.sql import functions as F

from udacitycapstonedataengineer_spark.plans.queries import QUERIES
from udacitycapstonedataengineer_spark.plans.star import (
    build_fact,
    build_priority_dim,
    flagship_revenue_by_region_year,
)
from udacitycapstonedataengineer_spark.sources.readers import load_table, load_tables


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dims(spark, sf_dir):
    plan = _plan(flagship_revenue_by_region_year(load_tables(spark, sf_dir)))
    # nation and region must come in via broadcast, never a fact shuffle
    assert plan.count("BroadcastHashJoin") >= 2
    # partial aggregation must be map-side (HashAggregate before shuffle)
    assert "HashAggregate" in plan


def test_fact_join_is_broadcast(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    plan = _plan(build_fact(orders, build_priority_dim(orders)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 1000.0)
        .select("o_orderkey")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    plan = _plan(df)
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string>" in plan


@pytest.mark.slow  # VERDICT r16 next #2: multi-minute, opt-in tier
def test_no_python_udf_in_relational_queries(spark, sf_dir):
    """Every §2 (reference-surface) query stays JVM-side: no
    BatchEvalPython / ArrowEvalPython stages. The multimodal group is
    pandas-UDF by design and is exempt."""
    pandas_by_design = {"grouped_median_dev"}  # applyInPandas surface
    relational = [
        n
        for n in QUERIES
        if not n.startswith("multimodal_") and n not in pandas_by_design
    ]
    for name in relational:
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_new_ops_plan_shapes(spark, sf_dir):
    """Scale contracts for the latest operator batch."""
    # hash sampling: a per-row filter on the scan, no shuffle at all
    plan = _plan(QUERIES["sample_hash_orders"](spark, sf_dir))
    assert "Exchange" not in plan
    # chunking: narrow generate+explode, no shuffle
    plan = _plan(QUERIES["docs_chunk_windows"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate explode" in plan
    # top-terms: final top-k is a per-partition heap, not a global sort
    plan = _plan(QUERIES["text_top_terms"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # grouping sets: one Expand + one aggregation exchange, not N scans
    plan = _plan(QUERIES["olap_grouping_sets"](spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Exchange") <= 2
    # incremental dedup: anti join broadcasts the fingerprint projection
    plan = _plan(QUERIES["dedup_incremental_anti"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # keyword retrieval: global top-10 via per-partition heaps, not a sort
    plan = _plan(QUERIES["text_keyword_search_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # novelty score: corpus frequency via bigram-grain agg+join — never
    # a pairwise doc comparison
    plan = _plan(QUERIES["docs_novelty_hapax"](spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["ann_ivfpq_recall_curve", "ann_ivfpq_recall_at_k"])
def test_ivfpq_topk_limits_rows_before_the_shuffle(spark, sf_dir, name):
    """The per-query top-k of the fused IVF-PQ plans is a row_number
    window with a rank bound: Spark plans a partial WindowGroupLimit
    directly below the hash shuffle, so each map task ships at most k
    candidates per group instead of every scored row."""
    plan = _plan(QUERIES[name](spark, sf_dir))
    assert re.search(
        r"Exchange hashpartitioning\([^\n]*\n[ :]*\+- WindowGroupLimit \[", plan
    ), plan[:2000]


def test_spend_rank_has_no_global_window(spark, sf_dir):
    """percent_rank/cume_dist must come from the distributed exact
    ranking (operators/ranking.py), never a no-partitionBy window that
    serializes all users through one task (VERDICT r2 #2). The plan
    must show the range repartition and no built-in global ranking
    window function."""
    plan = _plan(QUERIES["events_spend_rank_stats"](spark, sf_dir))
    assert "percent_rank(" not in plan, plan[:1200]
    assert "cume_dist(" not in plan, plan[:1200]
    assert "SPARK_PARTITION_ID" in plan, plan[:1200]
    assert "rangepartitioning" in plan.lower(), plan[:1200]


def test_equidepth_deciles_has_no_value_grain_global_window(spark, sf_dir):
    """The equi-depth rank must come from the distributed exact
    ranking, never a value-grain cumsum window — with near-unique
    continuous prices the "distinct values" table degenerates to row
    grain and the no-partitionBy window becomes the single-task trap
    (VERDICT r2 #5). The plan must show range repartition + the
    partition-id window, and no window partitioned by the value."""
    plan = _plan(QUERIES["orders_equidepth_deciles"](spark, sf_dir))
    assert "SPARK_PARTITION_ID" in plan, plan[:1200]
    assert "rangepartitioning" in plan.lower(), plan[:1200]
    # negative mirror of the docstring promise (ADVICE r3): every
    # window in the plan must hang off the synthetic partition id —
    # a hybrid regression that re-adds a value-partitioned window
    # alongside the ranked path must fail here
    for m in re.finditer(r"windowspecdefinition\((\w+)#", plan):
        assert m.group(1) == "__pid", m.group(0)


def test_q15_has_no_global_window(spark, sf_dir):
    """Q15's global max must be a broadcast 1-row aggregate
    crossJoined back onto the per-supplier revenue — never an
    empty-partition window funneling the aggregate through one task
    (VERDICT r3 #2). No windowspecdefinition at all in this plan."""
    plan = _plan(QUERIES["tpch_q15_top_supplier"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan[:1200]
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan or (
        "BroadcastHashJoin" in plan
    ), plan[:1200]


def test_rolling_7d_fanout_is_equi_join(spark, sf_dir):
    """The trailing-7-day fan-out must be an exploded equi-join, never
    a range-predicate nested loop comparing every (day,user) pair
    against every anchor day (ADVICE r2): O(|du|·7), not O(|du|·|days|)."""
    plan = _plan(QUERIES["events_rolling_7d_active_users"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1200]
    assert "Generate explode" in plan


def test_q21_rewrite_scans_lineitem_once(spark, sf_dir):
    """The classic Q21 is a TRIPLE self-join of lineitem (base + EXISTS
    + NOT EXISTS). The engine's per-order-aggregation rewrite must scan
    lineitem exactly once — that's the whole point of the rewrite."""
    plan = _plan(QUERIES["tpch_q21_waiting_suppliers"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan[:800]
    # supplier/nation/region side arrives via broadcast, not a shuffle
    assert "BroadcastHashJoin" in plan
    # the orders side is fact-proportional: it must come in via a
    # pinned shuffle join (reused by the per-order agg), NEVER a
    # broadcast — the sf1 probe caught the broadcast OOMing at 10×
    assert "ShuffledHashJoin" in plan


def test_q2_and_q9_broadcast_dims(spark, sf_dir):
    """Q2: supplier⋈nation⋈region and the filtered part list broadcast;
    the only exchange keys are the derived part-supplier groupBy. Q9:
    name-filtered part and supplier⋈nation broadcast."""
    for name, min_bcast in [
        ("tpch_q2_min_cost_supplier", 2),
        ("tpch_q9_product_profit", 2),
    ]:
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= min_bcast, name


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """A fact partitioned on the join key must be pruned at runtime by
    a selective dim filter (DPP): the scan's partition filter carries a
    dynamicpruning subquery instead of reading every partition. This is
    the mechanism that keeps dim-filtered scans of a date/status-
    partitioned 100 TB fact from touching cold partitions."""
    orders = load_table(spark, sf_dir, "orders")
    fact_path = str(tmp_path / "orders_by_status")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(
        fact_path
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    ).filter(F.col("label") == "closed")
    joined = fact.join(
        dim, fact.o_orderstatus == dim.status
    ).groupBy("label").count()
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    # and the result only reflects the F partition
    rows = joined.collect()
    assert len(rows) == 1 and rows[0].label == "closed"


def test_vocab_coverage_ranks_terms_distributed_and_caches_tf(
    spark, sf_dir
):
    """text_vocab_coverage must rank the term table with the
    distributed exact ranking (range partition + __pid windows), never
    a global-order window — term cardinality at 100 TB is itself huge.
    And the term table must be cached: unpersisted, the corpus
    tokenize+explode ran three times (ranking uses it twice, the total
    once)."""
    plan = _plan(QUERIES["text_vocab_coverage"](spark, sf_dir))
    assert "SPARK_PARTITION_ID" in plan, plan[:1200]
    assert "rangepartitioning" in plan.lower(), plan[:1200]
    for m in re.finditer(r"windowspecdefinition\((\w+)#", plan):
        assert m.group(1) == "__pid", m.group(0)
    assert plan.count("InMemoryTableScan") >= 3, plan[:1200]


def test_chisq_scans_fact_once_via_cached_cells(spark, sf_dir):
    """events_type_weekday_chisq derives marginals, total, and output
    from the ~35-row cell aggregate; all four consumers must read the
    persisted cell table instead of re-scanning the fact."""
    plan = _plan(QUERIES["events_type_weekday_chisq"](spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 4, plan[:1200]


def test_pagerank_iterates_on_cached_edge_and_node_tables(spark, sf_dir):
    """graph_pagerank_eventtypes runs 3 iterations; every iteration
    must join the PERSISTED edge-probability and node tables (the fact
    is scanned only to build them once). No sort-merge joins anywhere
    — all iterative joins are node-grain broadcasts."""
    plan = _plan(QUERIES["graph_pagerank_eventtypes"](spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 6, plan[:1200]
    assert "SortMergeJoin" not in plan, plan[:1200]


def test_dau_mau_fanout_is_equi_join(spark, sf_dir):
    """The 30-day trailing fan-out must be an exploded equi-join on
    the anchor day, never a range-predicate nested loop (the
    rolling-7d precedent at 30 anchors)."""
    plan = _plan(QUERIES["events_dau_mau_stickiness"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1200]
    assert "Generate explode" in plan


def test_customer_joins_are_shuffled_never_broadcast(spark, sf_dir):
    """customer is SF-proportional (~150k rows/SF — billions at the
    100-TB target), so it must arrive via a pinned shuffle join, never
    a broadcast build (ADVICE r5; the q21 probe saw an SF-proportional
    broadcast OOM at the ×10 probe). Broadcast stays reserved for the
    fixed-size nation/region and supplier-scale dims."""
    for name in ["supplier_nation_trade_matrix", "nation_revenue_share"]:
        plan = _plan(QUERIES[name](spark, sf_dir))
        # the o_custkey ⋈ c_custkey edge is a shuffled hash join
        assert re.search(
            r"ShuffledHashJoin \[o_custkey#\d+L?\], \[c_custkey#\d+L?\]", plan
        ), f"{name}: customer join not shuffled\n{plan[:1500]}"
        # and no broadcast build anywhere reads the customer file
        for frag in plan.split("BroadcastExchange")[1:]:
            assert "customer.parquet" not in frag.split("ShuffledHashJoin")[0], (
                f"{name}: customer scanned under a broadcast exchange"
            )


def test_runtime_bloom_filter_join_pushdown(spark, sf_dir):
    """Runtime row-level filtering: when a selective dim-side filter
    feeds a shuffle join, Spark injects a Bloom filter built from the
    creation side into the FACT side's scan filter (`might_contain`)
    — rows that cannot join die before the shuffle. At 100 TB this is
    the difference between shuffling the whole fact table and
    shuffling the ~selectivity fraction that can match. Pinned here
    with test-scale thresholds; results must equal the
    filter-disabled run."""
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy().count()
        [row] = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:1500]
        # the bloom probe must sit on the fact (lineitem) scan side
        probe_line = next(ln for ln in plan.splitlines() if "might_contain" in ln)
        assert "l_orderkey" in probe_line
        # semantics unchanged vs the filter-disabled run
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        j2 = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy().count()
        assert j2.collect()[0][0] == row[0]
        assert "might_contain" not in (
            j2._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
