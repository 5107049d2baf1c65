"""OLAP surface beyond the reference's grammar: rollup subtotals, set
operations, running-window aggregates, sketches, SCD2 reads, and the
order/customer business reports (cohort LTV and survival, revenue
shares, concentration, backlog) — all oracle-checked.

Engine-parity notes:
- rollup subtotal rows carry NULL grouping keys in both engines;
  COALESCE to a sentinel so the string compare is unambiguous.
- running sums accumulate in integer minor units: Spark computes window
  sums sequentially, DuckDB uses a segment tree, so double accumulation
  order (and hence bits) would differ.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dedup import H60_SQL
from .registry import ORACLE, query


@query(
    "olap_rollup_counts",
    """
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(CAST(yr AS VARCHAR), '(all)') AS yr,
           count(*) AS n_events,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM (SELECT event_type, year(ts) AS yr, value FROM events)
    GROUP BY ROLLUP (event_type, yr)
    """,
)
def _olap_rollup_counts(spark, t):
    # hierarchical subtotals: (type, year) → (type) → grand total
    from ..functions.exact import money_sum

    base = t["events"].select("event_type", F.year("ts").alias("yr"), "value")
    return (
        base.rollup("event_type", "yr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("yr").cast("string"), F.lit("(all)")).alias("yr"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "set_union_distinct",
    """
    SELECT c_nationkey AS nation_key FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def _set_union_distinct(spark, t):
    return (
        t["customer"].select(F.col("c_nationkey").alias("nation_key"))
        .union(t["supplier"].select("s_nationkey"))
        .distinct()
    )


@query(
    "set_intersect",
    """
    SELECT o_custkey AS cust_key FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def _set_intersect(spark, t):
    o = t["orders"]
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("cust_key"))
        .intersect(o.filter(F.col("o_orderstatus") == "O").select("o_custkey"))
    )


@query(
    "set_except",
    """
    SELECT o_custkey AS cust_key FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def _set_except(spark, t):
    # custkeys with open orders but no finished ones. SQL EXCEPT is SET
    # semantics — subtract() is Spark's exact equivalent. exceptAll()
    # would be wrong here: it subtracts MULTIPLICITIES, so a key with 5
    # 'O' orders and 2 'F' orders would survive. (The previous
    # "customers who never ordered" form was degenerate on this
    # testdata — every customer ordered — which masked exactly that
    # bag-vs-set bug.)
    o = t["orders"]
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("cust_key"))
        .subtract(o.filter(F.col("o_orderstatus") == "F").select("o_custkey"))
    )


@query(
    "percentile_by_status",
    """
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price
    FROM orders GROUP BY 1
    """,
)
def _percentile_by_status(spark, t):
    # exact interpolated percentile: Spark `percentile` and DuckDB
    # quantile_cont share the linear-interpolation definition, so the
    # doubles match bitwise. At 100 TB prefer percentile_approx below —
    # exact percentile materializes each group for the sort.
    return t["orders"].groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
    )


@query(
    "olap_cube_counts",
    """
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(CAST(yr AS VARCHAR), '(all)') AS yr,
           count(*) AS n_events
    FROM (SELECT event_type, year(ts) AS yr FROM events)
    GROUP BY CUBE (event_type, yr)
    """,
)
def _olap_cube_counts(spark, t):
    # full cross-dimensional subtotals (rollup's superset)
    base = t["events"].select("event_type", F.year("ts").alias("yr"))
    return (
        base.cube("event_type", "yr")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("yr").cast("string"), F.lit("(all)")).alias("yr"),
            "n_events",
        )
    )


@query(
    "approx_percentile_price",
    """
    SELECT o_orderstatus, count(*) AS n_orders, TRUE AS median_within_rank_eps
    FROM orders GROUP BY 1
    """,
)
def _approx_percentile_price(spark, t):
    # sketch-based percentile (GK, constant memory, mergeable — the
    # 100 TB path), emitted in SELF-VERIFYING interval-assertion form
    #: Spark's sketch value can't hash-match any other
    # engine's, so the query asserts its own accuracy contract — the
    # estimate's RANK among the group's prices must sit within eps of
    # the 0.5 target — and emits that as a boolean next to the exact
    # group count. The oracle recomputes the exact count and claims
    # TRUE; a sketch regression flips the boolean and fails the hash.
    # GK guarantees rank error <= 1/accuracy = 1e-4; eps=0.01 is 100x.
    eps = 0.01
    # persisted: the sketch branch and the rank-check join both
    # consume this projection — one scan, not two
    o = t["orders"].select("o_orderstatus", "o_totalprice").persist()
    ap = o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, 10_000).alias("m")
    )
    res = (
        o.join(F.broadcast(ap), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                (F.col("o_totalprice") <= F.col("m")).cast("long")
            ).alias("n_le"),
            F.sum(
                (F.col("o_totalprice") < F.col("m")).cast("long")
            ).alias("n_lt"),
        )
    )
    within = (
        F.col("n_le") >= F.ceil(F.lit(0.5 - eps) * F.col("n_orders"))
    ) & (F.col("n_lt") <= F.floor(F.lit(0.5 + eps) * F.col("n_orders")))
    return res.select(
        "o_orderstatus", "n_orders", within.alias("median_within_rank_eps")
    )


@query(
    "approx_distinct_users",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_exact,
           TRUE AS hll_within_eps
    FROM events GROUP BY 1
    """,
)
def _approx_distinct_users(spark, t):
    # HyperLogLog++ distinct estimate per event_type — the constant-
    # memory path for 100 TB cardinality profiling — in the same
    # self-verifying form as approx_percentile_price: the exact
    # distinct count is the hash-compared value, and the HLL estimate
    # is asserted within 5x its configured rsd (2% -> 10%) as a
    # boolean. DuckDB claims TRUE; an HLL regression fails the hash.
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("n_exact"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("approx_users") - F.col("n_exact"))
                <= F.greatest(F.lit(2.0), F.lit(0.1) * F.col("n_exact"))
            ).alias("hll_within_eps"),
        )
    )


@query(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, metric, value FROM (
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'retail_price', p_retailprice FROM part
    )
    """,
)
def _unpivot_part_metrics(spark, t):
    # wide → long unpivot via stack (one scan, no shuffle)
    return t["part"].selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE),"
        " 'retail_price', p_retailprice) AS (metric, value)",
    )


@query(
    "olap_grouping_sets",
    """
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(CAST(yr AS VARCHAR), '(all)') AS yr,
           count(*) AS n_events
    FROM (SELECT event_type, year(ts) AS yr FROM events)
    GROUP BY GROUPING SETS ((event_type), (yr))
    """,
)
def _olap_grouping_sets(spark, t):
    # the general form rollup/cube specialize: caller-chosen subtotal
    # combinations, one pass (Spark Expand → single shuffle)
    base = t["events"].select("event_type", F.year("ts").alias("yr"))
    return (
        base.groupingSets([["event_type"], ["yr"]], "event_type", "yr")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("yr").cast("string"), F.lit("(all)")).alias("yr"),
            "n_events",
        )
    )


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "pivot_native_counts",
    """
    SELECT day(ts) AS d,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY 1
    """,
)
def _pivot_native_counts(spark, t):
    # long → wide with the built-in pivot, keyed by day of month (the
    # events table spans one month, so a year key would be a single
    # row). The value list is pinned: without it Spark runs an extra
    # distinct job to discover columns, and the output schema would
    # depend on the data.
    wide = (
        t["events"]
        .select(F.dayofmonth("ts").alias("d"), "event_type")
        .groupBy("d")
        .pivot("event_type", list(_PIVOT_TYPES))
        .count()
    )
    # pivot yields NULL for absent (day, type) combos; the FILTER'd
    # count yields 0 — normalize to 0 on the Spark side
    return wide.select(
        "d",
        *[F.coalesce(c, F.lit(0)).alias(c) for c in _PIVOT_TYPES],
    )


@query(
    "stats_corr_exact",
    """
    WITH m AS (
        SELECT l_returnflag, count(*) AS n_rows,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x::HUGEINT * y) AS sxy,
               SUM(x::HUGEINT * x) AS sxx,
               SUM(y::HUGEINT * y) AS syy
        FROM (SELECT l_returnflag,
                     CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
                     CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
              FROM lineitem)
        GROUP BY 1
    )
    SELECT l_returnflag, n_rows,
           (CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS corr_qty_price
    FROM m
    """,
)
def _stats_corr_exact(spark, t):
    # Pearson correlation with deterministic bits: the five moments
    # accumulate as exact integers (decimal for the cross products —
    # sum(y²) overflows int64 past ~sf10), then ONE identical float
    # formula runs on both engines. Built-in F.corr would differ from
    # DuckDB's in the last ulps (order-dependent double accumulation)
    # and isn't even run-to-run stable on a real cluster.
    moments = (
        t["lineitem"]
        .select(
            "l_returnflag",
            F.round(F.col("l_quantity") * 100).cast("long").alias("x"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        )
    )
    nd = F.col("n_rows").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    # zero variance (a constant column within a group) → correlation
    # undefined → NULL, matching DuckDB's x/0 → NULL; unguarded this
    # errors under ANSI mode (same landmine hypothesis found in
    # orders_daily_autocorr, round 8)
    denom = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    corr = F.when(denom != 0, (nd * sxy - sx * sy) / denom)
    return moments.select(
        "l_returnflag", "n_rows", corr.alias("corr_qty_price")
    )


@query(
    "sample_hash_orders",
    """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def _sample_hash_orders(spark, t):
    # deterministic ~12.5% sample (2 of 16 hex buckets on a key hash).
    # Unlike df.sample(), the selected set is a pure function of the
    # key — reproducible across runs, engines, and cluster layouts,
    # which is what training-data pipelines need for holdout splits.
    # Per-row filter, no shuffle, pushes nothing to Python.
    return (
        t["orders"]
        .filter(
            F.substring(
                F.md5(F.col("o_orderkey").cast("string")), 1, 1
            ).isin("0", "1")
        )
        .select("o_orderkey", "o_custkey")
    )


@query(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) / 100.0
               AS running_total
    FROM orders
    """,
)
def _window_running_sum(spark, t):
    # per-customer running order total (exact minor-unit accumulation)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w) / 100.0).alias("running_total"),
    )


@query(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(x) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(SUM(p) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(SUM(p::HUGEINT * (100 - d)) AS DOUBLE) / 10000.0
               AS sum_disc_price,
           CAST(SUM(p::HUGEINT * (100 - d) * (100 + t)) AS DOUBLE) / 1000000.0
               AS sum_charge,
           CAST(SUM(x) AS DOUBLE) / (100.0 * count(*)) AS avg_qty,
           CAST(SUM(p) AS DOUBLE) / (100.0 * count(*)) AS avg_price,
           CAST(SUM(d) AS DOUBLE) / (100.0 * count(*)) AS avg_disc,
           count(*) AS count_order
    FROM (SELECT l_returnflag, l_linestatus,
                 CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
                 CAST(ROUND(l_tax * 100) AS BIGINT) AS t
          FROM lineitem WHERE l_shipdate <= DATE '1998-09-02')
    GROUP BY 1, 2
    """,
)
def _tpch_q1_pricing_summary(spark, t):
    # The classic scan-heavy aggregation benchmark: one pushed-down
    # date filter, one shuffle of 4-key partial aggregates, everything
    # in minor units so the eight money outputs are bit-stable on any
    # partitioning (disc_price/charge products go through decimal —
    # they overflow int64 past ~sf10).
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    base = li.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_quantity") * 100).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.round(F.col("l_tax") * 100).cast("long").alias("t"),
    )
    pd_ = F.col("p").cast("decimal(38,0)") * (100 - F.col("d"))
    agg = base.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("x").alias("sx"),
        F.sum("p").alias("sp"),
        F.sum(pd_).alias("spd"),
        F.sum(pd_ * (100 + F.col("t"))).alias("spdt"),
        F.sum("d").alias("sd"),
        F.count(F.lit(1)).alias("count_order"),
    )
    n = F.col("count_order")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("sx").cast("double") / 100.0).alias("sum_qty"),
        (F.col("sp").cast("double") / 100.0).alias("sum_base_price"),
        (F.col("spd").cast("double") / 10000.0).alias("sum_disc_price"),
        (F.col("spdt").cast("double") / 1000000.0).alias("sum_charge"),
        (F.col("sx").cast("double") / (100.0 * n)).alias("avg_qty"),
        (F.col("sp").cast("double") / (100.0 * n)).alias("avg_price"),
        (F.col("sd").cast("double") / (100.0 * n)).alias("avg_disc"),
        "count_order",
    )


@query(
    "tpch_q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(p::HUGEINT * (100 - d)) AS DOUBLE) / 10000.0 AS revenue,
           CAST(o_orderdate AS VARCHAR) AS orderdate
    FROM (SELECT l.l_orderkey,
                 CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS p,
                 CAST(ROUND(l.l_discount * 100) AS BIGINT) AS d,
                 o.o_orderdate
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE o.o_orderdate < DATE '1995-03-15'
            AND l.l_shipdate > DATE '1995-03-15')
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def _tpch_q3_shipping_priority(spark, t):
    # join-then-aggregate-then-top-k: both date filters push to the
    # scans, orders⋈customer runs before the lineitem join (smaller
    # re-shuffled intermediate — same rationale as the flagship), and
    # the final top-10 is TakeOrderedAndProject, not a global sort.
    # Revenue in 1e-4 minor units via decimal so the sum is exact.
    o = t["orders"].filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = t["lineitem"].filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    oc = o.join(t["customer"], o.o_custkey == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    joined = li.join(oc, li.l_orderkey == F.col("o_orderkey")).select(
        "l_orderkey",
        "o_orderdate",
        (
            F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
            * (100 - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("rev_units"),
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum("rev_units").cast("double") / 10000.0).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("string").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "scd2_nation_update",
    """
    WITH cur AS (
        SELECT n_nationkey AS k, n_name AS name, n_regionkey AS region,
               DATE '1990-01-01' AS valid_from,
               CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        FROM nation
    ),
    upd AS (
        SELECT n_nationkey AS k, n_name AS name,
               (n_regionkey + 1) % 5 AS region,
               DATE '2000-01-01' AS chg
        FROM nation WHERE n_nationkey % 3 = 0
    )
    SELECT k, name, region,
           CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(valid_to AS VARCHAR) AS valid_to,
           is_current
    FROM (
        SELECT c.k, c.name, c.region, c.valid_from,
               CASE WHEN u.k IS NOT NULL THEN u.chg END AS valid_to,
               u.k IS NULL AS is_current
        FROM cur c LEFT JOIN upd u ON c.k = u.k
        UNION ALL
        SELECT u.k, u.name, u.region, u.chg, CAST(NULL AS DATE), TRUE
        FROM upd u
    )
    """,
)
def _scd2_nation_update(spark, t):
    # SCD2 dimension maintenance (operators/scd.py): every update in
    # this scenario changes the region (+1 mod 5 ≠ identity), so the
    # oracle's "all updates close + reopen" shortcut equals the
    # operator's generic null-safe change detection.
    from ..operators.scd import scd2_apply

    nation = t["nation"]
    dim = nation.select(
        F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("region"),
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = nation.filter(F.col("n_nationkey") % 3 == 0).select(
        F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("name"),
        ((F.col("n_regionkey") + 1) % 5).alias("region"),
        F.lit("2000-01-01").cast("date").alias("change_date"),
    )
    out = scd2_apply(dim, updates, ["k"], ["name", "region"])
    return out.select(
        "k",
        "name",
        "region",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    )


@query(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(SUM(p::HUGEINT * d) AS DOUBLE) / 10000.0 AS revenue,
           count(*) AS n_items
    FROM (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS d
          FROM lineitem
          WHERE l_shipdate >= DATE '1996-01-01'
            AND l_shipdate < DATE '1997-01-01'
            AND l_discount BETWEEN 0.05 AND 0.07
            AND l_quantity < 24)
    """,
)
def _tpch_q6_forecast_revenue(spark, t):
    # the pure scan benchmark: every predicate pushes to the parquet
    # reader, zero joins, one partial-agg shuffle of a single long —
    # at 100 TB this query is I/O-bound and measures scan efficiency.
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    units = (
        F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
        * F.round(F.col("l_discount") * 100).cast("long")
    )
    return li.agg(
        (F.sum(units).cast("double") / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(p::HUGEINT * (100 - d)) AS DOUBLE) / 10000.0 AS revenue
    FROM (SELECT n.n_name,
                 CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS p,
                 CAST(ROUND(l.l_discount * 100) AS BIGINT) AS d
          FROM customer c
          JOIN orders o ON c.c_custkey = o.o_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
                         AND c.c_nationkey = s.s_nationkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA'
            AND o.o_orderdate >= DATE '1996-01-01'
            AND o.o_orderdate < DATE '1997-01-01')
    GROUP BY n_name
    """,
)
def _tpch_q5_local_supplier_volume(spark, t):
    # the multi-way-join benchmark: six tables, and the extra
    # c_nationkey = s_nationkey equality makes it a cyclic join graph.
    # Build order mirrors the flagship's small-side-first rule:
    # orders filters by date at the scan, joins customer (carrying only
    # nationkey), then lineitem, then the supplier join carries BOTH
    # equality conditions; nation/region prune to 'ASIA' and broadcast.
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    n_asia = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    oc = o.join(t["customer"], o.o_custkey == F.col("c_custkey")).select(
        "o_orderkey", "c_nationkey"
    )
    li = t["lineitem"].select(
        "l_orderkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)").alias("p"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
    )
    s = t["supplier"].select("s_suppkey", "s_nationkey")
    joined = (
        li.join(oc, li.l_orderkey == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n_asia), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        (F.sum(F.col("p") * (100 - F.col("d"))).cast("double") / 10000.0).alias(
            "revenue"
        )
    )


@query(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(p::HUGEINT * (100 - d)) AS DOUBLE) / 10000.0 AS revenue
    FROM (SELECT c.c_custkey, c.c_name, n.n_name,
                 CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS p,
                 CAST(ROUND(l.l_discount * 100) AS BIGINT) AS d
          FROM customer c
          JOIN orders o ON c.c_custkey = o.o_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          WHERE o.o_orderdate >= DATE '1996-01-01'
            AND o.o_orderdate < DATE '1996-04-01'
            AND l.l_returnflag = 'R')
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def _tpch_q10_returned_items(spark, t):
    # "who returned the most": quarter of orders, returned lines only,
    # revenue per customer, top 20. Both filters reach the scans; the
    # nation label broadcasts; top-k is a heap, not a sort.
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    oc = o.join(t["customer"], o.o_custkey == F.col("c_custkey")).select(
        "o_orderkey", "c_custkey", "c_name", "c_nationkey"
    )
    joined = (
        li.join(oc, li.l_orderkey == F.col("o_orderkey"))
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            (
                F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("rev_units"),
        )
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum("rev_units").cast("double") / 10000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "sample_stratified_by_status",
    """
    SELECT o_orderstatus, count(*) AS n_total, TRUE AS rate_within_eps
    FROM orders GROUP BY 1
    """,
)
def _sample_stratified_by_status(spark, t):
    # stratified sampling: per-stratum fractions via sampleBy (seeded
    # Bernoulli per row — the rebalancing step when one source/class
    # dominates a training corpus). The sampled SET is seed- and
    # engine-specific by construction, so the query emits the
    # self-verifying form: the exact stratum totals
    # are the hash-compared values and the realized sampling rate is
    # asserted within 0.05 of the requested fraction per stratum
    # (frac=1.0 must be exact). For reproducible HOLDOUT splits use
    # sample_hash_orders — hash membership survives engine and layout
    # changes; sampleBy is for rate control, not identity.
    fractions = {"O": 0.1, "F": 0.5, "P": 1.0}
    frac_col = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in kv]
    )[F.col("o_orderstatus")]
    # persisted single-column projection feeds both the sample and
    # the totals — one scan, not two
    strata = t["orders"].select("o_orderstatus").persist()
    n_sampled = (
        strata.sampleBy("o_orderstatus", fractions, seed=42)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    n_total = strata.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    rate = F.col("n_sampled").cast("double") / F.col("n_total")
    within = F.when(
        frac_col == 1.0, F.col("n_sampled") == F.col("n_total")
    ).otherwise(F.abs(rate - frac_col) <= F.lit(0.05))
    return (
        n_total.join(F.broadcast(n_sampled), "o_orderstatus", "left")
        .fillna(0, ["n_sampled"])
        .select("o_orderstatus", "n_total", within.alias("rate_within_eps"))
    )


@query(
    "rollup_incremental_merge",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY 1, 2
    """,
)
def _rollup_incremental_merge(spark, t):
    # materialized-rollup maintenance: ingest produces DAY-grain
    # partials (count + exact cent sums); the month rollup is a MERGE
    # of partials (sum of sums, sum of counts), never a rescan of the
    # fact. The oracle aggregates the fact directly at month grain —
    # parity proves the merge algebra, the contract that lets a 100 TB
    # pipeline maintain rollups incrementally (each new day merges in
    # O(partial), and late-arriving days re-merge only their month).
    day_partials = (
        t["orders"]
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("total_cents"),
        )
    )
    return (
        day_partials.groupBy("order_month", "o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
        )
    )


@query(
    "sketch_distinct_users_daily",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS n_exact,
           TRUE AS hll_within_eps
    FROM events GROUP BY 1
    """,
)
def _sketch_distinct_users_daily(spark, t):
    # mergeable DataSketches HLL distinct-user rollup (the incremental
    # 100 TB path: one sketch per day, rollups merge sketches, never
    # rescan), self-verified: exact per-day distincts
    # are the hash-compared values; the lg_k=12 estimate (~1.6% rse)
    # is asserted within max(5, 5%) of exact. Merge-equality pinned in
    # tests/test_sketches.py.
    from ..operators.sketches import hll_daily_distinct

    # persisted projection feeds the sketch AND the exact branch
    ev = t["events"].select("ts", "user_id").persist()
    est = hll_daily_distinct(ev).select("day", "est_distinct")
    exact = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.countDistinct("user_id").alias("n_exact"))
    return exact.join(F.broadcast(est), "day").select(
        "day",
        "n_exact",
        (
            F.abs(F.col("est_distinct") - F.col("n_exact"))
            <= F.greatest(F.lit(5.0), F.lit(0.05) * F.col("n_exact"))
        ).alias("hll_within_eps"),
    )


@query(
    "sketch_value_quantiles",
    """
    SELECT CAST(q AS DOUBLE) AS q, count(*) AS n_values,
           TRUE AS kll_within_rank_eps
    FROM events CROSS JOIN (VALUES (0.5), (0.9), (0.99)) AS probs(q)
    WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def _sketch_value_quantiles(spark, t):
    # mergeable KLL quantiles of event value, self-verified (VERDICT
    # r3 #1): for each target prob q the estimate's realized RANK
    # among the non-null values must sit within 0.03 of q (the k=200
    # KLL 99%-confidence rank error is ~1.65%); the hash-compared
    # values are the exact non-null counts. Merge determinism pinned
    # in tests/test_sketches.py.
    from ..operators.sketches import kll_value_quantiles

    # persisted projection feeds the KLL sketch AND the rank check
    ev = t["events"].select("event_type", "value").persist()
    est = kll_value_quantiles(ev).selectExpr(
        "stack(3, CAST(0.5 AS DOUBLE), q50,"
        " CAST(0.9 AS DOUBLE), q90,"
        " CAST(0.99 AS DOUBLE), q99) AS (q, est)"
    )
    vals = ev.filter(F.col("value").isNotNull()).select("value")
    res = (
        vals.crossJoin(F.broadcast(est))
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum((F.col("value") <= F.col("est")).cast("long")).alias("n_le"),
            F.sum((F.col("value") < F.col("est")).cast("long")).alias("n_lt"),
        )
    )
    within = (
        F.col("n_le").cast("double") / F.col("n_values") >= F.col("q") - 0.03
    ) & (
        F.col("n_lt").cast("double") / F.col("n_values") <= F.col("q") + 0.03
    )
    return res.select("q", "n_values", within.alias("kll_within_rank_eps"))


@query(
    "quality_expectation_report",
    """
    WITH agg AS (
        SELECT count(*) AS n_rows,
               SUM(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE)
                        THEN 1 ELSE 0 END) AS v_quantity_in_range,
               SUM(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE)
                        THEN 1 ELSE 0 END) AS v_price_positive,
               SUM(CASE WHEN NOT coalesce(l_discount BETWEEN 0 AND 0.1, FALSE)
                        THEN 1 ELSE 0 END) AS v_discount_bounded,
               SUM(CASE WHEN NOT (l_shipdate IS NOT NULL)
                        THEN 1 ELSE 0 END) AS v_shipdate_present,
               SUM(CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'), FALSE)
                        THEN 1 ELSE 0 END) AS v_returnflag_domain
        FROM lineitem
    )
    SELECT rule, n_rows, CAST(n_violations AS BIGINT) AS n_violations,
           CAST(n_violations AS DOUBLE) / n_rows AS violation_rate
    FROM (
        SELECT n_rows, 'quantity_in_range' AS rule, v_quantity_in_range AS n_violations FROM agg
        UNION ALL SELECT n_rows, 'price_positive', v_price_positive FROM agg
        UNION ALL SELECT n_rows, 'discount_bounded', v_discount_bounded FROM agg
        UNION ALL SELECT n_rows, 'shipdate_present', v_shipdate_present FROM agg
        UNION ALL SELECT n_rows, 'returnflag_domain', v_returnflag_domain FROM agg
    )
    """,
)
def _quality_expectation_report(spark, t):
    # declarative expectations: all rule counts in ONE pass (single
    # aggregate, then a stack pivot of the counters — no per-rule scan)
    from ..operators.quality import expect, expectation_report

    li = t["lineitem"]
    rules = [
        expect("quantity_in_range", F.col("l_quantity").between(1, 50)),
        expect("price_positive", F.col("l_extendedprice") > 0),
        expect("discount_bounded", F.col("l_discount").between(0.0, 0.1)),
        expect("shipdate_present", F.col("l_shipdate").isNotNull()),
        expect("returnflag_domain", F.col("l_returnflag").isin("A", "N", "R")),
    ]
    return expectation_report(li, rules)


@query(
    "cms_point_counts",
    f"""
    WITH cms AS (
        SELECT d.i,
               {H60_SQL.format(x="'cms|' || CAST(d.i AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)")} % 256
                   AS bucket,
               count(*) AS cnt
        FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS d(i)
        GROUP BY 1, 2
    ),
    probe AS (SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 20),
    est AS (
        SELECT p.user_id, min(cms.cnt) AS est
        FROM probe p
        CROSS JOIN (VALUES (0), (1), (2), (3)) AS d(i)
        JOIN cms ON cms.i = d.i
                AND cms.bucket =
                    {H60_SQL.format(x="'cms|' || CAST(d.i AS VARCHAR) || '|' || CAST(p.user_id AS VARCHAR)")} % 256
        GROUP BY 1
    ),
    exact AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1)
    SELECT user_id, est, n_exact, est >= n_exact AS overestimate_ok
    FROM est JOIN exact USING (user_id)
    ORDER BY user_id
    """,
)
def _cms_point_counts(spark, t):
    # count-min sketch point estimates, FULLY oracled: the sketch is
    # pure engine-portable integer arithmetic (H60 hash % width), so
    # unlike the DataSketches wrappers the estimates themselves
    # hash-match DuckDB bit for bit — no interval assertion needed
    # (the overestimate invariant est >= exact rides along as a
    # boolean). Mergeable: partial sketches union + sum by (i,
    # bucket); 4x256 counters total regardless of key cardinality —
    # the heavy-hitter/frequency path when even per-key exact counts
    # are too big to keep.
    from ..operators.sketches import cms_build, cms_estimate

    # one scan feeds sketch + probe + exact (3 scans unpersisted)
    ev = t["events"].select("user_id").persist()
    sketch = cms_build(ev, "user_id", depth=4, width=256)
    probe = ev.distinct().orderBy("user_id").limit(20)
    est = cms_estimate(sketch, probe, "user_id", depth=4, width=256)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            "est",
            "n_exact",
            (F.col("est") >= F.col("n_exact")).alias("overestimate_ok"),
        )
        .orderBy("user_id")
    )


@query(
    "bloom_membership_orders",
    f"""
    WITH seen AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 0),
    bits AS (
        SELECT DISTINCT
               {H60_SQL.format(x="'bloom|' || CAST(d.i AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)")} % 4096
                   AS position
        FROM seen CROSS JOIN (VALUES (0), (1), (2)) AS d(i)
    ),
    probe AS (
        SELECT probe_key FROM (
            SELECT DISTINCT o_orderkey AS probe_key FROM orders
            WHERE o_orderkey % 100 = 0 ORDER BY probe_key LIMIT 20)
        UNION ALL
        SELECT probe_key FROM (
            SELECT DISTINCT o_orderkey AS probe_key FROM orders
            WHERE o_orderkey % 100 <> 0 ORDER BY probe_key LIMIT 20)
    ),
    hits AS (
        SELECT p.probe_key,
               SUM(CASE WHEN b.position IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM probe p
        CROSS JOIN (VALUES (0), (1), (2)) AS d(i)
        LEFT JOIN bits b
          ON b.position =
             {H60_SQL.format(x="'bloom|' || CAST(d.i AS VARCHAR) || '|' || CAST(p.probe_key AS VARCHAR)")} % 4096
        GROUP BY 1
    )
    SELECT probe_key, n_hit = 3 AS claimed_present,
           probe_key % 100 = 0 AS is_present,
           (probe_key % 100 <> 0) OR (n_hit = 3) AS no_false_negative
    FROM hits
    ORDER BY probe_key
    """,
)
def _bloom_membership_orders(spark, t):
    # portable Bloom filter, FULLY oracled like cms_point_counts: the
    # set-bit positions are pure H60 integer arithmetic, so the
    # membership CLAIMS themselves hash-match DuckDB bit for bit —
    # including any false positives, which both engines reproduce
    # identically. The one-sided contract (false negatives NEVER)
    # rides along as a boolean column. Mergeable: bit sets union.
    # The seen side here is even orderkeys; probes are the 40 lowest
    # keys (half present, half absent). At scale: bits ≤ m rows →
    # broadcast; probes never shuffle; the 100 TB use is pre-filtering
    # a fact join against a small-side key set (the manual twin of the
    # runtime bloom pruning session.enable_runtime_bloom turns on).
    # sizing: seen = keys % 100 == 0 keeps the bit load well under m
    # at driver scale (bits/key ~ 27 at sf0.01 -> FP rate ~0.1%); a
    # saturated filter (n*d >> m) trivially claims everything present
    from ..operators.sketches import bloom_build, bloom_contains

    keys = t["orders"].select("o_orderkey").distinct().persist()
    seen = keys.filter(F.col("o_orderkey") % 100 == 0)
    bits = bloom_build(seen, "o_orderkey", m_bits=4096, depth=3)
    probe = (
        seen.select(F.col("o_orderkey").alias("probe_key"))
        .orderBy("probe_key")
        .limit(20)
        .unionAll(
            keys.filter(F.col("o_orderkey") % 100 != 0)
            .select(F.col("o_orderkey").alias("probe_key"))
            .orderBy("probe_key")
            .limit(20)
        )
    )
    claimed = bloom_contains(bits, probe, "probe_key", m_bits=4096, depth=3)
    return claimed.select(
        "probe_key",
        "claimed_present",
        (F.col("probe_key") % 100 == 0).alias("is_present"),
        (
            (F.col("probe_key") % 100 != 0) | F.col("claimed_present")
        ).alias("no_false_negative"),
    ).orderBy("probe_key")


@query(
    "scd2_point_in_time_read",
    """
    WITH cur AS (
        SELECT n_nationkey AS k, n_name AS name, n_regionkey AS region,
               DATE '1990-01-01' AS valid_from,
               CAST(NULL AS DATE) AS valid_to
        FROM nation
    ),
    upd AS (
        SELECT n_nationkey AS k, n_name AS name,
               (n_regionkey + 1) % 5 AS region,
               DATE '2000-01-01' AS chg
        FROM nation WHERE n_nationkey % 3 = 0
    ),
    scd AS (
        SELECT c.k, c.name, c.region, c.valid_from,
               CASE WHEN u.k IS NOT NULL THEN u.chg END AS valid_to
        FROM cur c LEFT JOIN upd u ON c.k = u.k
        UNION ALL
        SELECT u.k, u.name, u.region, u.chg, CAST(NULL AS DATE)
        FROM upd u
    )
    SELECT as_of, k, name, region FROM (
        SELECT '1995-06-15' AS as_of, k, name, region FROM scd
        WHERE valid_from <= DATE '1995-06-15'
          AND (valid_to IS NULL OR valid_to > DATE '1995-06-15')
        UNION ALL
        SELECT '2020-01-01', k, name, region FROM scd
        WHERE valid_from <= DATE '2020-01-01'
          AND (valid_to IS NULL OR valid_to > DATE '2020-01-01')
    )
    ORDER BY as_of, k
    """,
)
def _scd2_point_in_time_read(spark, t):
    # the temporal READ-side of SCD2 (operators/scd.py::scd2_as_of):
    # after the same update scenario as scd2_nation_update, the
    # dimension reconstructed as of 1995 (pre-change: every key shows
    # its ORIGINAL region) and as of 2020 (post-change: updated keys
    # show the new region) — exactly one version per key per as-of
    # date. Pure filters over the versioned table; this is what makes
    # "rerun January's report" give January's dimension.
    from ..operators.scd import scd2_apply, scd2_as_of

    nation = t["nation"]
    dim = nation.select(
        F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("region"),
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = nation.filter(F.col("n_nationkey") % 3 == 0).select(
        F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("name"),
        ((F.col("n_regionkey") + 1) % 5).alias("region"),
        F.lit("2000-01-01").cast("date").alias("change_date"),
    )
    # no persist: the SCD frame is 25 nation rows feeding two snapshot
    # branches — block-manager round trips cost more than the replayed
    # broadcast-size scan (VERDICT r12 wrong #3; warmed anchor was
    # ~0.6-0.9 s vs the ~0.4 s r09 level)
    scd = scd2_apply(dim, updates, ["k"], ["name", "region"])
    snaps = [
        scd2_as_of(scd, d).select(
            F.lit(d).alias("as_of"), "k", "name", "region"
        )
        for d in ("1995-06-15", "2020-01-01")
    ]
    return snaps[0].unionByName(snaps[1]).orderBy("as_of", "k")


@query(
    "basket_part_pairs",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, n_orders, rank FROM (
        SELECT part_a, part_b, count(*) AS n_orders,
               row_number() OVER (ORDER BY count(*) DESC, part_a, part_b)
                   AS rank
        FROM pairs GROUP BY 1, 2
    )
    WHERE rank <= 20
    ORDER BY rank
    """,
)
def _basket_part_pairs(spark, t):
    # market-basket co-occurrence: the top part pairs ordered together.
    # The self-join runs at ORDER grain on the distinct (order, part)
    # set, so fan-out per order is C(parts_in_order, 2) — baskets are
    # small (TPC-H ~4 lines), never a parts x parts or corpus-wide
    # blowup; the pair aggregate shuffles on the (part_a, part_b) key
    # and the global top-20 is per-partition heaps. Deterministic
    # (count desc, part_a, part_b) tie-break.
    items = (
        t["lineitem"].select("l_orderkey", "l_partkey").distinct().persist()
    )
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    top = pairs.orderBy(
        F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)
    w = Window.orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("part_a", "part_b", "n_orders", "rank")
        .orderBy("rank")
    )


@query(
    "customer_rfm_segments",
    """
    WITH m AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate),
                         (SELECT max(o_orderdate) FROM orders)) AS r_days,
               count(*) AS f_orders,
               sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS m_cents
        FROM orders GROUP BY 1
    ),
    q AS (
        SELECT quantile_cont(r_days, 0.25) AS r1, quantile_cont(r_days, 0.5) AS r2,
               quantile_cont(r_days, 0.75) AS r3,
               quantile_cont(f_orders, 0.25) AS f1, quantile_cont(f_orders, 0.5) AS f2,
               quantile_cont(f_orders, 0.75) AS f3,
               quantile_cont(m_cents, 0.25) AS m1, quantile_cont(m_cents, 0.5) AS m2,
               quantile_cont(m_cents, 0.75) AS m3
        FROM m
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           CAST(sum(m_cents) AS BIGINT) AS segment_cents
    FROM (
        SELECT
            -- recency: LOWER days-since-last-order is better → invert
            4 - ((r_days > r1)::INT + (r_days > r2)::INT + (r_days > r3)::INT)
                AS r_score,
            1 + (f_orders > f1)::INT + (f_orders > f2)::INT + (f_orders > f3)::INT
                AS f_score,
            1 + (m_cents > m1)::INT + (m_cents > m2)::INT + (m_cents > m3)::INT
                AS m_score,
            m_cents
        FROM m, q
    )
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def _customer_rfm_segments(spark, t):
    # RFM segmentation with BROADCAST quartile thresholds — never an
    # ntile() global window (the single-task trap the ranking family
    # avoids). Metrics are integers (days, counts, cents), so the
    # interpolated quartiles are exact halves in double and the
    # bucket comparisons cannot ulp-flip between engines. The exact
    # percentile over the customer-grain metric table is the one
    # driver-sized step (|customers| longs); at extreme cardinality
    # swap it for the KLL sketch (operators/sketches.py) — the
    # downstream bucketing is unchanged.
    o = t["orders"]
    max_od = o.agg(F.max("o_orderdate").alias("mx"))
    # customer-grain metric table feeds the quartile agg AND the
    # scoring join — persisted so the fact scan+agg runs once
    m = (
        o.crossJoin(F.broadcast(max_od))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("mx"), F.max("o_orderdate")).alias("r_days"),
            F.count(F.lit(1)).alias("f_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "m_cents"
            ),
        )
        .persist()
    )
    q = m.agg(
        *[
            F.expr(f"percentile({c}, {p})").alias(f"{c[0]}{i}")
            for c in ("r_days", "f_orders", "m_cents")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )
    scored = m.crossJoin(F.broadcast(q)).select(
        (
            4
            - (
                (F.col("r_days") > F.col("r1")).cast("int")
                + (F.col("r_days") > F.col("r2")).cast("int")
                + (F.col("r_days") > F.col("r3")).cast("int")
            )
        ).alias("r_score"),
        (
            1
            + (F.col("f_orders") > F.col("f1")).cast("int")
            + (F.col("f_orders") > F.col("f2")).cast("int")
            + (F.col("f_orders") > F.col("f3")).cast("int")
        ).alias("f_score"),
        (
            1
            + (F.col("m_cents") > F.col("m1")).cast("int")
            + (F.col("m_cents") > F.col("m2")).cast("int")
            + (F.col("m_cents") > F.col("m3")).cast("int")
        ).alias("m_score"),
        "m_cents",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("m_cents").alias("segment_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "orders_open_backlog_daily",
    """
    WITH bounds AS (
        SELECT o.o_orderkey, o.o_orderdate AS start_day,
               max(l.l_shipdate) AS end_day
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    deltas AS (
        SELECT start_day AS day, 1 AS delta FROM bounds
        UNION ALL
        SELECT end_day + INTERVAL 1 DAY, -1 FROM bounds
    ),
    daily AS (
        SELECT day, CAST(sum(delta) AS BIGINT) AS d
        FROM deltas GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(sum(d) OVER (ORDER BY day) AS BIGINT) AS n_open
    FROM daily
    ORDER BY day
    """,
)
def _orders_open_backlog_daily(spark, t):
    # interval-stabbing backlog: how many orders were OPEN (placed but
    # not fully shipped) on each day. The scale-safe shape is the
    # ±1-delta trick: each order contributes exactly two rows (+1 at
    # placement, −1 after its last shipment), the deltas aggregate at
    # DAY grain, and the running sum is a window over the day-grain
    # table — calendar-bounded rows (~2.4k days), allowlisted in
    # tests/test_window_sweep.py, never an interval×day fan-out or a
    # fact-grain window.
    # order-grain interval table feeds both delta branches —
    # persisted so the orders⋈lineitem join runs once
    bounds = (
        t["orders"]
        .select("o_orderkey", "o_orderdate")
        .join(
            t["lineitem"].select("l_orderkey", "l_shipdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("end_day"))
        .persist()
    )
    deltas = bounds.select(
        F.col("o_orderdate").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        bounds.select(
            F.date_add(F.col("end_day"), 1).cast("timestamp").alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn("n_open", F.sum("d").over(w))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_open",
        )
        .orderBy("day")
    )


@query(
    "nation_revenue_share",
    """
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               sum(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation,
           CAST(cents AS BIGINT) AS nation_cents,
           CAST(sum(cents) OVER (PARTITION BY region) AS BIGINT)
               AS region_cents,
           CAST(cents * 10000 // sum(cents) OVER (PARTITION BY region)
                AS BIGINT) AS share_bp
    FROM rev
    ORDER BY region, nation
    """,
)
def _nation_revenue_share(spark, t):
    # ratio-to-report: each nation's share of its region's revenue.
    # The fact scan aggregates to nation grain FIRST (25 rows), so the
    # share window runs partitioned over a dim-sized table — the
    # window is an output-grain formality, not a data-movement step.
    # customer is SF-proportional, so it joins via a pinned
    # SHUFFLE_HASH on o_custkey (q8/q21 precedent) — only
    # the fixed-size nation/region dims broadcast; the other real
    # shuffle is the nation-grain aggregate with map-side combine.
    rev = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_nationkey").hint(
                "shuffle_hash"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"]),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        F.col("cents").alias("nation_cents"),
        F.sum("cents").over(w).alias("region_cents"),
        F.expr(
            "cents * 10000 DIV (sum(cents) OVER (PARTITION BY region))"
        ).alias("share_bp"),
    ).orderBy("region", "nation")


@query(
    "nation_top_customers_concat",
    """
    SELECT n.n_name AS nation,
           count(*) AS n_customers,
           array_to_string(list_sort(list(c.c_name))[1:5], ',')
               AS top5_names
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def _nation_top_customers_concat(spark, t):
    # ordered string aggregation (SQL string_agg / listagg surface):
    # per nation, the 5 alphabetically-first customer names, comma-
    # joined. The count aggregates over ALL customers, but the list is
    # rank-FILTERED to ≤5 per group BEFORE collect_list — per-group
    # window state and collected-array memory stay bounded at any
    # scale, unlike a collect-then-slice which materializes the whole
    # group. array_sort after collect makes the (unordered) list
    # deterministic.
    c = t["customer"].join(
        F.broadcast(t["nation"]),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    w = Window.partitionBy("n_name").orderBy("c_name", "c_custkey")
    counts = c.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    top5 = (
        c.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("c_name")), ","
            ).alias("top5_names")
        )
    )
    return (
        counts.join(top5, "nation")
        .select("nation", "n_customers", "top5_names")
        .orderBy("nation")
    )


@query(
    "orders_daily_status_spine",
    """
    WITH days AS (SELECT DISTINCT o_orderdate AS day FROM orders),
    statuses AS (SELECT DISTINCT o_orderstatus AS status FROM orders),
    counts AS (
        SELECT o_orderdate AS day, o_orderstatus AS status,
               count(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, s.status AS status,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_orders
    FROM days d
    CROSS JOIN statuses s
    LEFT JOIN counts c ON c.day = d.day AND c.status = s.status
    ORDER BY 1, 2
    """,
)
def _orders_daily_status_spine(spark, t):
    # dense-spine gap filling: every (day, status) combination with
    # explicit zeros — the reporting shape downstream charting and
    # window functions need (a missing row silently breaks lag/moving
    # averages). The spine is the cross join of two SMALL distinct
    # sets (calendar days × 3 statuses), never a fact-grain product;
    # the fact contributes one (day,status)-grain aggregate that
    # left-joins onto the spine via broadcast.
    o = t["orders"]
    days = o.select(F.col("o_orderdate").alias("day")).distinct()
    statuses = o.select(F.col("o_orderstatus").alias("status")).distinct()
    counts = o.groupBy(
        F.col("o_orderdate").alias("day"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        days.crossJoin(F.broadcast(statuses))
        .join(counts, ["day", "status"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "status",
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
        .orderBy("day", "status")
    )


@query(
    "orders_first_vs_repeat_revenue",
    """
    WITH flagged AS (
        SELECT year(o_orderdate) AS yr,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN row_number() OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate,
                                                     o_orderkey) = 1
                    THEN 1 ELSE 0 END AS is_first
        FROM orders
    )
    SELECT yr,
           CAST(sum(CASE WHEN is_first = 1 THEN cents ELSE 0 END)
                AS BIGINT) AS first_cents,
           CAST(sum(CASE WHEN is_first = 0 THEN cents ELSE 0 END)
                AS BIGINT) AS repeat_cents,
           CAST(sum(is_first) AS BIGINT) AS n_first_orders,
           CAST(sum(1 - is_first) AS BIGINT) AS n_repeat_orders,
           CAST((sum(CASE WHEN is_first = 1 THEN cents ELSE 0 END) * 10000)
                // sum(cents) AS BIGINT) AS first_share_bp
    FROM flagged
    GROUP BY 1
    ORDER BY 1
    """,
)
def _orders_first_vs_repeat_revenue(spark, t):
    # acquisition-vs-retention revenue split: each order is flagged as
    # the customer's FIRST (deterministic tie-break on orderkey) via a
    # customer-partitioned window — bounded frames, one user-keyed
    # shuffle — then revenue splits by year. Integer cents; share as
    # basis points.
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = t["orders"].select(
        F.year("o_orderdate").alias("yr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.row_number().over(w) == 1).cast("int").alias("is_first"),
    )
    first_cents = F.sum(
        F.when(F.col("is_first") == 1, F.col("cents")).otherwise(0)
    )
    return (
        flagged.groupBy("yr")
        .agg(
            first_cents.alias("first_cents"),
            F.sum(
                F.when(F.col("is_first") == 0, F.col("cents")).otherwise(0)
            ).alias("repeat_cents"),
            F.sum("is_first").alias("n_first_orders"),
            F.sum(1 - F.col("is_first")).alias("n_repeat_orders"),
            F.expr(
                "(sum(CASE WHEN is_first = 1 THEN cents ELSE 0 END)"
                " * 10000) DIV sum(cents)"
            ).alias("first_share_bp"),
        )
        .orderBy("yr")
    )


@query(
    "part_brand_supplier_hhi",
    """
    WITH sq AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(l_quantity) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    tot AS (
        SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS tot_qty
        FROM sq GROUP BY 1
    ),
    hhi AS (
        SELECT sq.l_partkey,
               CAST(sum(((sq.qty * 10000) // t.tot_qty)
                        * ((sq.qty * 10000) // t.tot_qty)) AS BIGINT)
                   AS hhi
        FROM sq JOIN tot t USING (l_partkey)
        GROUP BY 1
    )
    SELECT p.p_brand AS brand,
           count(*) AS n_parts,
           CAST(sum(h.hhi) // count(*) AS BIGINT) AS avg_hhi,
           CAST(max(h.hhi) AS BIGINT) AS max_hhi,
           CAST(sum(CASE WHEN h.hhi >= 50000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_concentrated
    FROM hhi h JOIN part p ON p.p_partkey = h.l_partkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def _part_brand_supplier_hhi(spark, t):
    # supply-chain concentration: Herfindahl index of each part's
    # supplier quantity shares, rolled up per brand (avg/max HHI and
    # the count of parts above the 0.5 concentration line). Fully
    # integer: shares in basis points via truncating division, HHI =
    # Σ share_bp² ≤ 10⁸ — exact BIGINTs, no float accumulation
    # anywhere, so it hash-matches any engine. Plan: one
    # (part,supplier)-grain aggregate off the fact, part-grain
    # marginal reusing that table (persisted — two consumers), the
    # HHI aggregate rides the same part partitioning, brand dim
    # broadcasts.
    sq = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").cast("long").alias("qty"))
        .persist()
    )
    tot = sq.groupBy("l_partkey").agg(F.sum("qty").alias("tot_qty"))
    share = F.expr("(qty * 10000) DIV tot_qty")
    hhi = (
        sq.join(tot, "l_partkey")
        .select("l_partkey", (share * share).alias("sh2"))
        .groupBy("l_partkey")
        .agg(F.sum("sh2").alias("hhi"))
    )
    return (
        hhi.join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.expr("sum(hhi) DIV count(1)").alias("avg_hhi"),
            F.max("hhi").alias("max_hhi"),
            F.sum(
                (F.col("hhi") >= 50_000_000).cast("int")
            ).alias("n_concentrated"),
        )
        .orderBy("brand")
    )


@query(
    "lineitem_discount_band_revenue",
    """
    SELECT CAST(ROUND(l_discount * 100) AS INT) AS discount_pct,
           count(*) AS n_items,
           CAST(sum(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS gross_cents,
           CAST(sum(CAST(ROUND(l_extendedprice * l_discount * 100)
                         AS BIGINT)) AS BIGINT) AS discount_cents
    FROM lineitem
    GROUP BY 1
    ORDER BY 1
    """,
)
def _lineitem_discount_band_revenue(spark, t):
    # pricing-band report: revenue given away per discount level — the
    # q6/q19 money math as a reporting grid instead of a filter. One
    # map-side-combinable aggregate at ≤11 output rows; all money in
    # integer cents (the per-row ROUND happens before aggregation, so
    # both engines round the same scalar, never a compared float).
    return (
        t["lineitem"]
        .groupBy(
            F.round(F.col("l_discount") * 100)
            .cast("int")
            .alias("discount_pct")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("gross_cents"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * F.col("l_discount") * 100
                ).cast("long")
            ).alias("discount_cents"),
        )
        .orderBy("discount_pct")
    )


@query(
    "customer_segment_value_profile",
    """
    WITH o AS (
        SELECT o_custkey, count(*) AS n_orders,
               sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    )
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_customers,
           CAST(sum(COALESCE(o.n_orders, 0)) AS BIGINT) AS n_orders,
           CAST(sum(COALESCE(o.cents, 0)) AS BIGINT) AS revenue_cents,
           CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inactive,
           CAST(sum(COALESCE(o.cents, 0))
                // greatest(sum(COALESCE(o.n_orders, 0)), 1) AS BIGINT)
               AS avg_order_cents
    FROM customer c LEFT JOIN o ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def _customer_segment_value_profile(spark, t):
    # market-segment value profile: customers, orders, revenue,
    # inactive count, and average order value per segment — the BI
    # rollup behind q3's segment filter. The fact aggregates to
    # customer grain FIRST (one shuffle with map-side combine), then
    # left-joins the customer dim so never-ordered customers are
    # counted, then a 5-row segment aggregate. Average crosses as
    # integer cents with a greatest(,1) guard both engines share.
    o = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents"),
        )
    )
    return (
        t["customer"]
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.coalesce("n_orders", F.lit(0))).alias("n_orders"),
            F.sum(F.coalesce("cents", F.lit(0))).alias("revenue_cents"),
            F.sum(
                F.col("o_custkey").isNull().cast("int")
            ).alias("n_inactive"),
            F.expr(
                "sum(COALESCE(cents, 0))"
                " DIV greatest(sum(COALESCE(n_orders, 0)), 1)"
            ).alias("avg_order_cents"),
        )
        .orderBy("segment")
    )


@query(
    "supplier_nation_trade_matrix",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           count(*) AS n_items,
           CAST(sum(CAST(ROUND(l.l_extendedprice
                               * (1 - l.l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def _supplier_nation_trade_matrix(spark, t):
    # full nation×nation trade matrix — Q7 without its two-nation
    # filter, as the ≤625-row reporting grid. customer is
    # SF-proportional (~150k rows/SF — billions at 100 TB), so it
    # arrives via a pinned SHUFFLE_HASH join on o_custkey, never a
    # broadcast (same rule as q8/q21). The orders side is
    # first reduced to (orderkey, cust_nation) so the big
    # lineitem⋈orders orderkey shuffle carries one string, not the
    # customer row; supplier-scale and nation dims broadcast; revenue
    # in per-row integer cents rounded before aggregation.
    n = t["nation"].select("n_nationkey", "n_name")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    cust = (
        t["customer"]
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                n.select(
                    F.col("n_nationkey").alias("ck"),
                    F.col("n_name").alias("cust_nation"),
                )
            ),
            F.col("c_nationkey") == F.col("ck"),
        )
        .select("c_custkey", "cust_nation")
    )
    orders_nat = (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(
            cust.hint("shuffle_hash"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "cust_nation")
    )
    return (
        t["lineitem"]
        .join(
            orders_nat.hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(
                n.select(
                    F.col("n_nationkey").alias("sk"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("sk"),
        )
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).alias("revenue_cents"),
        )
        .orderBy("cust_nation", "supp_nation")
    )


@query(
    "orders_cohort_ltv",
    """
    WITH first AS (
        SELECT o_custkey, CAST(min(year(o_orderdate)) AS INT) AS cohort_year
        FROM orders GROUP BY 1
    )
    SELECT f.cohort_year,
           CAST(year(o.o_orderdate) AS INT) AS order_year,
           count(DISTINCT o.o_custkey) AS n_active,
           count(*) AS n_orders,
           CAST(sum(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def _orders_cohort_ltv(spark, t):
    # customer-lifetime-value triangle: customers cohorted by first-
    # order year, revenue and active-customer counts per (cohort,
    # order year). The retention/LTV report every subscription and
    # marketplace team reads. Plan: one custkey-grain aggregate for
    # the cohort stamp, then a custkey shuffle join back onto orders
    # (both sides SF-proportional — pinned SHUFFLE_HASH, never a
    # broadcast), then the ≤|years|² cell aggregate; count(DISTINCT
    # custkey) partial-aggregates on the custkey partitioning it
    # already rides. Exact integer cents.
    first = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.min(F.year("o_orderdate")).alias("cohort_year"))
        .withColumnRenamed("o_custkey", "f_custkey")
    )
    return (
        t["orders"]
        .join(
            first.hint("shuffle_hash"),
            F.col("o_custkey") == F.col("f_custkey"),
        )
        .groupBy(
            "cohort_year", F.year("o_orderdate").alias("order_year")
        )
        .agg(
            F.count_distinct("o_custkey").alias("n_active"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("revenue_cents"),
        )
        .orderBy("cohort_year", "order_year")
    )


_LTV_ORACLE = ORACLE["orders_cohort_ltv"]


@query("orders_cohort_ltv_incremental", _LTV_ORACLE)
def _orders_cohort_ltv_incremental(spark, t):
    # incremental maintenance of the LTV triangle — same oracle as
    # orders_cohort_ltv, so the driver proves delta-merge ≡ full
    # recompute. The hard part of incrementalizing this report is
    # n_active: count(DISTINCT custkey) per cell is NOT mergeable from
    # cell aggregates, so the maintained state is
    #   - cust_first: custkey → cohort_year   (customer-grain)
    #   - presence:   distinct (cohort, year, custkey)  (the exact-
    #     distinct state a production pipeline keeps as a bucketed
    #     table; HLL is the approximate alternative)
    #   - cells:      additive n_orders / revenue per (cohort, year)
    # A date-split delta (here: orders from 1999-01-01) can only ADD
    # orders after the base window, so an existing customer's cohort
    # never changes — new customers cohort at their first delta year.
    # Every merge is a custkey- or cell-grain shuffle; the fact is
    # scanned once per side.
    split = "1999-01-01"
    o = t["orders"].select(
        "o_custkey",
        "o_orderdate",
        F.year("o_orderdate").alias("yr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = o.filter(F.col("o_orderdate") < F.lit(split))
    delta = o.filter(F.col("o_orderdate") >= F.lit(split))

    cust_first_base = base.groupBy("o_custkey").agg(
        F.min("yr").alias("cohort_year")
    )
    # new-in-delta customers cohort at their first delta year
    delta_first = delta.groupBy("o_custkey").agg(
        F.min("yr").alias("delta_first")
    )
    cust_first = (
        cust_first_base.join(
            delta_first.withColumnRenamed("o_custkey", "d_custkey"),
            F.col("o_custkey") == F.col("d_custkey"),
            "full_outer",
        )
        .select(
            F.coalesce("o_custkey", "d_custkey").alias("o_custkey"),
            F.coalesce("cohort_year", "delta_first").alias("cohort_year"),
        )
        .persist()
    )

    def presence(side):
        return (
            side.select("o_custkey", "yr")
            .distinct()
            .join(cust_first.hint("shuffle_hash"), "o_custkey")
            .select("cohort_year", "yr", "o_custkey")
        )

    presence_all = presence(base).unionByName(presence(delta)).distinct()
    n_active = presence_all.groupBy("cohort_year", "yr").agg(
        F.count(F.lit(1)).alias("n_active")
    )

    def cells(side):
        return (
            side.join(cust_first.hint("shuffle_hash"), "o_custkey")
            .groupBy("cohort_year", "yr")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("revenue_cents"),
            )
        )

    merged = (
        cells(base)
        .unionByName(cells(delta))
        .groupBy("cohort_year", "yr")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )
    return (
        merged.join(n_active, ["cohort_year", "yr"])
        .select(
            "cohort_year",
            F.col("yr").alias("order_year"),
            "n_active",
            "n_orders",
            "revenue_cents",
        )
        .orderBy("cohort_year", "order_year")
    )


@query(
    "orders_scd2_asof_revenue",
    """
    WITH scd AS (
        SELECT c.n_nationkey AS k,
               CASE WHEN c.n_nationkey % 3 = 0 THEN (c.n_regionkey + 1) % 5
                    ELSE c.n_regionkey END AS region_new,
               c.n_regionkey AS region_old,
               c.n_nationkey % 3 = 0 AS changed
        FROM nation c
    ),
    versions AS (
        SELECT k, region_old AS region, DATE '1990-01-01' AS valid_from,
               CASE WHEN changed THEN DATE '2000-01-01' END AS valid_to
        FROM scd
        UNION ALL
        SELECT k, region_new, DATE '2000-01-01', CAST(NULL AS DATE)
        FROM scd WHERE changed
    )
    SELECT CAST(year(o.o_orderdate) AS INT) AS yr,
           v.region,
           count(*) AS n_orders,
           CAST(sum(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN versions v
      ON v.k = c.c_nationkey
     AND o.o_orderdate >= v.valid_from
     AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def _orders_scd2_asof_revenue(spark, t):
    # the report SCD2 exists FOR: each fact row joined to the dim
    # version valid AT ITS OWN date (orders before the 2000-01-01
    # region change report under the old region, after under the new
    # — a current-version join would silently rewrite history).
    # Built on operators/scd.scd2_apply (same scenario as
    # scd2_nation_update); the versioned dim is dim-sized so the
    # as-of lookup is an EQUI broadcast join on nationkey with the
    # validity window as a residual — per-row as-of at zero extra
    # shuffles. customer joins via pinned SHUFFLE_HASH
    # (SF-proportional); the one real aggregate is (year, region).
    from ..operators.scd import scd2_apply

    nation = t["nation"]
    dim = nation.select(
        F.col("n_nationkey").alias("k"),
        F.col("n_regionkey").alias("region"),
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = nation.filter(F.col("n_nationkey") % 3 == 0).select(
        F.col("n_nationkey").alias("k"),
        ((F.col("n_regionkey") + 1) % 5).alias("region"),
        F.lit("2000-01-01").cast("date").alias("change_date"),
    )
    versions = scd2_apply(dim, updates, ["k"], ["region"]).select(
        "k", "region", "valid_from", "valid_to"
    )
    return (
        t["orders"]
        .join(
            t["customer"]
            .select("c_custkey", "c_nationkey")
            .hint("shuffle_hash"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(versions),
            (F.col("k") == F.col("c_nationkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (
                F.col("valid_to").isNull()
                | (F.col("o_orderdate") < F.col("valid_to"))
            ),
        )
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            "region",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("revenue_cents"),
        )
        .orderBy("yr", "region")
    )


@query(
    "orders_cohort_survival",
    """
    WITH first AS (
        SELECT o_custkey, CAST(min(year(o_orderdate)) AS INT) AS cohort_year
        FROM orders GROUP BY 1
    ),
    cohort AS (
        SELECT cohort_year, count(*) AS n_cohort FROM first GROUP BY 1
    ),
    active AS (
        SELECT DISTINCT f.cohort_year,
               CAST(year(o.o_orderdate) AS INT) - f.cohort_year AS k,
               o.o_custkey
        FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
    ),
    alive AS (
        SELECT cohort_year, k, count(*) AS n_alive
        FROM active GROUP BY 1, 2
    )
    SELECT a.cohort_year, a.k, a.n_alive, c.n_cohort,
           a.n_alive * 10000 // c.n_cohort AS survival_bp
    FROM alive a JOIN cohort c USING (cohort_year)
    ORDER BY 1, 2
    """,
)
def _orders_cohort_survival(spark, t):
    # cohort survival curves — the Kaplan-Meier-flavored cut of the
    # LTV triangle: for each acquisition cohort, the share of
    # customers still ordering k years later, in exact basis points.
    # ("Still ordering at k" = placed an order in year cohort+k — the
    # discrete-activity definition matching the triangle's n_active.)
    # Plan: the custkey cohort stamp (one custkey-grain aggregate), a
    # pinned SHUFFLE_HASH join back onto orders, distinct at
    # (cohort, k, custkey) riding the same custkey partitioning, then
    # two dim-sized rollups. Integer-exact throughout.
    first = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.min(F.year("o_orderdate")).alias("cohort_year"))
        .withColumnRenamed("o_custkey", "f_custkey")
        .persist()
    )
    cohort = first.groupBy("cohort_year").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    active = (
        t["orders"]
        .join(
            first.hint("shuffle_hash"),
            F.col("o_custkey") == F.col("f_custkey"),
        )
        .select(
            "cohort_year",
            (F.year("o_orderdate") - F.col("cohort_year")).alias("k"),
            "o_custkey",
        )
        .distinct()
    )
    alive = active.groupBy("cohort_year", "k").agg(
        F.count(F.lit(1)).alias("n_alive")
    )
    return (
        alive.join(F.broadcast(cohort), "cohort_year")
        .select(
            "cohort_year",
            "k",
            "n_alive",
            "n_cohort",
            F.expr("n_alive * 10000 DIV n_cohort").alias("survival_bp"),
        )
        .orderBy("cohort_year", "k")
    )


@query(
    "part_sourcing_risk_grid",
    """
    WITH ps AS (
        SELECT l_partkey,
               count(DISTINCT l_suppkey) AS n_suppliers,
               CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                   * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM ps)
    SELECT CAST(ps.n_suppliers AS INT) AS n_suppliers,
           count(*) AS n_parts,
           CAST(sum(ps.cents) AS BIGINT) AS revenue_cents,
           CAST(sum(ps.cents) * 10000 // t.total_cents AS BIGINT)
               AS revenue_share_bp
    FROM ps CROSS JOIN tot t
    GROUP BY 1, t.total_cents
    ORDER BY 1
    """,
)
def _part_sourcing_risk_grid(spark, t):
    # supply-chain resilience grid: revenue concentration by how many
    # distinct suppliers actually ship each part (the low end is the
    # at-risk single/dual-sourced revenue procurement teams track).
    # Complements part_brand_supplier_hhi: HHI measures WITHIN-part
    # share concentration, this measures sourcing REDUNDANCY. Grain =
    # observed supplier-count values, bounded by suppliers-per-part
    # (a catalog property, not data volume). Plan: one (part)-grain
    # aggregate with the distinct-supplier count riding it, a 1-row
    # total broadcast, a bounded rollup. Exact cents and basis
    # points.
    ps = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_suppliers"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents"),
        )
        .persist()
    )
    tot = ps.agg(F.sum("cents").alias("total_cents"))
    return (
        ps.crossJoin(F.broadcast(tot))
        .groupBy(
            F.col("n_suppliers").cast("int").alias("n_suppliers"),
            "total_cents",
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("revenue_cents"),
        )
        .select(
            "n_suppliers",
            "n_parts",
            "revenue_cents",
            F.expr(
                "revenue_cents * 10000 DIV total_cents"
            ).alias("revenue_share_bp"),
        )
        .orderBy("n_suppliers")
    )


@query(
    "orders_zorder_key",
    # DuckDB twin generated by zorder_key_sql at import time below —
    # identical bit interleaving, so keys hash-match exactly
    None,
)
def _orders_zorder_key(spark, t):
    # Morton (z-order) clustering key over (custkey, order-day) — the
    # multi-dimensional data-skipping layout primitive
    # (operators/zorder.py; measured row-group pruning in
    # tests/test_zorder.py). Pure bit-shift expressions: whole-stage
    # codegen, engine-portable, hash-oracled bit-for-bit. The raw
    # (unnormalized) key is the oracled surface; the write path uses
    # the min/max-normalized variant.
    from ..operators.zorder import zorder_key

    day = F.datediff(
        F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")
    ).cast("long")
    return (
        t["orders"]
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("ck"),
            day.alias("day"),
        )
        .select(
            "o_orderkey",
            zorder_key(["ck", "day"], bits=16).alias("zkey"),
        )
        .orderBy("o_orderkey")
    )


def _install_zorder_oracle() -> None:
    from ..operators.zorder import zorder_key_sql
    from .registry import ORACLE

    zexpr = zorder_key_sql(["ck", "day"], bits=16)
    ORACLE["orders_zorder_key"] = f"""
    SELECT o_orderkey, {zexpr} AS zkey
    FROM (
        SELECT o_orderkey, o_custkey AS ck,
               date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE))::BIGINT AS day
        FROM orders
    ) ORDER BY o_orderkey
    """


_install_zorder_oracle()


@query(
    "parts_copurchase_triangles",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
        SELECT a.l_partkey AS lo, b.l_partkey AS hi
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT (SELECT count(*) FROM (SELECT lo AS n FROM edges
                                  UNION SELECT hi FROM edges)) AS n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           (SELECT count(*) FROM edges e1
              JOIN edges e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
              JOIN edges e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)
               AS n_triangles
    """,
)
def _parts_copurchase_triangles(spark, t):
    # triangle census of the part co-purchase graph (edge = parts
    # ordered together in >=2 orders) — the graph-density kernel
    # behind clustering coefficients and substitute/complement
    # screens. Spark runs the degree-ORIENTED algorithm
    # (operators/graph.py::triangle_count: out-degree O(sqrt(E)) per
    # node, so wedge generation is O(E^1.5) worst case instead of a
    # hub-node sum-of-degrees-squared blowup); the oracle counts the
    # same triangles with DuckDB's canonical three-way join. Same
    # count, different join order — the algorithmic claim is exactly
    # what the hash compare verifies.
    items = (
        t["lineitem"].select("l_orderkey", "l_partkey").distinct().persist()
    )
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa")
    )
    b = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb")
    )
    edges = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select(F.col("pa").alias("doc_a"), F.col("pb").alias("doc_b"))
    )
    from ..operators.graph import triangle_count

    return triangle_count(edges)
