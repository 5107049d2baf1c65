"""plans/doctor.py — the reusable plan screen.

Two layers: unit tests pin each rule against a known-bad plan, and a
registry sweep asserts (a) no registered query ever produces a FATAL
finding and (b) every WARN is in the pinned allowlist below with a
stated reason — a new query that pins a fact broadcast or adds an
unbounded nested-loop join fails here before it ships.
"""

from __future__ import annotations

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from udacitycapstonedataengineer_spark.plans.doctor import diagnose
from udacitycapstonedataengineer_spark.plans.queries import QUERIES
from udacitycapstonedataengineer_spark.sources.readers import load_table

from .test_window_sweep import ALLOWED_BOUNDED_INPUT

# queries whose WARN findings encode a deliberate, bounded-by-
# construction design the static rule cannot see — each with the bound
JUSTIFIED_WARNS = {
    # ANN family: the broadcast/cross side is the QUERY-VECTOR set,
    # bounded by a selective predicate (≤16 probe vectors)
    "ann_topk_bruteforce": "predicate-bounded query-vector set",
    "ann_topk_lsh": "predicate-bounded query-vector set",
    "ann_topk_ivf": "predicate-bounded query set + centroid table (k rows)",
    "ann_topk_filtered": "predicate-bounded query-vector set",
    "ann_topk_int8": "predicate-bounded query-vector set (int8 codes)",
    # the broadcast side is the exact-top-k ground truth: row_number
    # ≤ k per sampled query (≤ Q·k rows total, sample- and k-bounded
    # by construction) — derived from embeddings, so the static rule
    # cannot see the rank bound
    "ann_ivfpq_recall_at_k": "exact-top-k ground truth (≤ Q·k rows)",
    "ann_ivfpq_recall_at_k_served": "exact-top-k ground truth (≤ Q·k rows)",
    "ann_ivfpq_recall_at_k_served_filtered": (
        "exact-top-k ground truth (≤ Q·k rows)"
    ),
    # sketch/membership builds: the broadcast is the sketch itself
    # (CMS/Bloom bit arrays — fixed size by construction)
    "bloom_membership_orders": "fixed-size Bloom bit array",
    # candidate sets bounded by the operator's own capacity guarantee
    "events_heavy_hitters": "MG candidates ≤ capacity × partitions",
    # eval/benchmark slices bounded by a selective source predicate
    "docs_contamination_check": "eval-set slice (selective source filter)",
    # calendar-bounded anchor/spine tables
    "events_rolling_7d_active_users": "7 day-anchor explode (calendar)",
    "events_dau_mau_stickiness": "30 day-anchor explode (calendar)",
    "orders_daily_status_spine": "days × statuses distinct sets",
    # low-cardinality distinct-derived dims (5 priorities, langs)
    "fact_orders": "surrogate dim over 5 distinct priorities",
    "join_string_keys": "surrogate dim over distinct language codes",
    # interval-join oracle twin: the naive per-user 7-day interval
    # join is kept REGISTERED as the hash-identical contrast shape for
    # events_linear_attribution_daygrain (and as its probe twin), but
    # is demoted from the headline bench (VERDICT r6 #2) — the
    # daygrain rewrite is the shape that ships
    "events_linear_attribution": "oracle/probe twin of the daygrain rewrite",
    # (r16 optimization round: the four frozen-model kmeans_assign
    # broadcast entries — ivfpq_index_drift, ivfpq_rebuild_decision,
    # semdedup_survivors_incremental and its budgeted twin — left this
    # list because assignment against a collected centroid model is
    # now a MAP-ONLY projection (operators/clustering.py, guide §2.4):
    # no broadcast join, no nested-loop candidate, nothing to warn on)
    # self-join shapes whose compared side is cell/parameter-grain
    "ngram_jaccard_pairs": "capped shingle-bucket pair join",
    "dedup_threshold_sweep": "3-row threshold parameter dim",
    "orders_profile_drift": "two snapshot profile rows per column",
    "text_vocab_coverage": "3-row vocab-budget parameter dim",
}


def test_global_window_is_fatal(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").withColumn(
        "rn", F.row_number().over(Window.orderBy("o_totalprice"))
    )
    rules = {f.rule: f.severity for f in diagnose(df)}
    assert rules.get("global-window") == "fatal"


def test_partitioned_window_is_clean(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
        ),
    )
    assert not [f for f in diagnose(df) if f.rule == "global-window"]


def test_pinned_fact_broadcast_warns(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    df = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    assert any(
        f.rule == "broadcast-of-fact" and f.severity == "warn"
        for f in diagnose(df)
    )


def test_collapsed_broadcast_is_clean(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_totalprice").alias("mx"))
    df = o.crossJoin(F.broadcast(mx))
    assert not [f for f in diagnose(df) if f.severity != "info"]


def test_grouped_aggregate_broadcast_is_info(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    per_status = o.groupBy("o_orderstatus").agg(F.count("*").alias("n"))
    df = o.join(F.broadcast(per_status), "o_orderstatus")
    found = [f for f in diagnose(df) if f.rule == "broadcast-of-fact"]
    assert found and all(f.severity == "info" for f in found)


def test_unhinted_join_is_clean(spark, sf_dir):
    # no explicit hint: whatever AQE picks at toy scale adapts at 100 TB
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    df = o.join(c, o.o_custkey == c.c_custkey)
    assert not [f for f in diagnose(df) if f.rule == "broadcast-of-fact"]


def test_fact_cross_join_flagged(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    e = load_table(spark, sf_dir, "events").select("event_id")
    df = o.crossJoin(e)
    assert any(f.rule == "nested-loop-join" for f in diagnose(df))


def test_literal_dim_cross_join_is_clean(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    dims = spark.createDataFrame([(1,), (7,), (28,)], "lag_days int")
    df = o.crossJoin(F.broadcast(dims))
    assert not [f for f in diagnose(df) if f.rule == "nested-loop-join"]


def test_materialized_cache_does_not_end_subtree_walk(spark, sf_dir):
    """A materialized cache prints its AdaptiveSparkPlan nested under
    the InMemoryRelation, and the first line below each "== Final Plan
    ==" / "== Initial Plan ==" there carries no tree marker. The
    nested-loop rule must walk past that text to the broadcast side's
    one-row aggregate (the corpus_pipeline_report shape)."""
    o = load_table(spark, sf_dir, "orders")
    per_status = o.groupBy("o_orderstatus").agg(F.count("*").alias("n")).cache()
    try:
        per_status.count()
        df = per_status.crossJoin(
            F.broadcast(o.agg(F.max("o_totalprice").alias("mx")))
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan
        assert "InMemoryRelation" in plan and "isFinalPlan=true" in plan
        assert not [f for f in diagnose(df) if f.rule == "nested-loop-join"]
    finally:
        per_status.unpersist()


@pytest.mark.slow  # VERDICT r16 next #2: multi-minute, opt-in tier
def test_registry_sweep_no_fatals_and_warns_pinned(spark, sf_dir):
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    fatals: dict[str, list[str]] = {}
    warned: set[str] = set()
    for name, q in QUERIES.items():
        fs = diagnose(
            q(spark, sf_dir),
            assume_bounded=name in ALLOWED_BOUNDED_INPUT,
        )
        for f in fs:
            if f.severity == "fatal":
                fatals.setdefault(name, []).append(f"{f.rule}: {f.detail}")
            elif f.severity == "warn":
                warned.add(name)
    assert not fatals, fatals
    unpinned = warned - set(JUSTIFIED_WARNS)
    assert not unpinned, (
        "new scale-hazard warnings — restructure the plan or add a "
        f"justified bound here: {sorted(unpinned)}"
    )
    stale = set(JUSTIFIED_WARNS) - warned
    assert not stale, f"allowlist entries no longer warranted: {sorted(stale)}"


def test_unbanded_interval_join_warns(spark, sf_dir):
    """VERDICT r6 #2: a per-entity equi-join whose residual is a
    two-sided time range (the naive attribution shape) is flagged —
    quadratic in per-entity event density."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    naive = purchases.join(
        ev,
        (purchases.p_user == ev.user_id)
        & (ev.ts < purchases.pts)
        & (ev.ts >= purchases.pts - F.expr("INTERVAL 7 DAYS")),
    )
    rules = {f.rule: f.severity for f in diagnose(naive)}
    assert rules.get("interval-join-unbanded") == "warn"


def test_banded_interval_join_is_clean(spark, sf_dir):
    """Same range semantics but keyed on (user, day) — the bounded
    daygrain rewrite shape — must NOT be flagged."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.col("day").alias("p_day"),
    )
    banded = purchases.join(
        ev,
        (purchases.p_user == ev.user_id)
        & (purchases.p_day == ev.day)
        & (ev.ts < purchases.pts)
        & (ev.ts >= purchases.pts - F.expr("INTERVAL 7 DAYS")),
    )
    assert not [
        f for f in diagnose(banded) if f.rule == "interval-join-unbanded"
    ]
