"""Named query registry: the driver-checkable operator inventory.

Every operator row from SURVEY.md §2 (and each training-data-pipeline
extension) registers here as a named query over the testdata catalog,
optionally paired with the ANSI-SQL oracle DuckDB runs on the same
parquet. The driver hash-compares values order-insensitively, so:

- every computed column is aliased identically on both sides;
- floating aggregates go through functions.exact (order-independent
  integer minor-unit sums) so Spark's partial-agg tree and DuckDB's
  sequential sum agree bit-for-bit;
- dates cross the boundary as ISO strings;
- surrogate keys are rank-based (deterministic) on both sides;
- Spark ``dayofweek`` (1=Sunday) ↔ DuckDB ``dayofweek()+1`` (0=Sunday).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.dates import sas_date_decode
from ..functions.exact import money_avg
from ..operators.cleaning import dedup_by_key, drop_nulls, null_profile
from ..operators.dims import build_calendar_dim, build_dimension
from .registry import ORACLE, QUERIES, query
from .star import (
    build_country_dim,
    build_fact,
    build_priority_dim,
    flagship_revenue_by_region_year,
)


# ---------------------------------------------------------------------------
# §7.1 flagship + star-schema pipeline tables
# ---------------------------------------------------------------------------


@query(
    "star_revenue_by_region_year",
    """
    SELECT r_name AS region_name,
           year(o_orderdate) AS order_year,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0
               AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    """,
)
def _star_flagship(spark, t):
    return flagship_revenue_by_region_year(t)


@query(
    "priority_dim",
    """
    SELECT o_orderpriority,
           row_number() OVER (ORDER BY o_orderpriority) AS priority_key
    FROM (SELECT DISTINCT o_orderpriority FROM orders)
    """,
)
def _priority_dim(spark, t):
    # visa_type_dim semantics: distinct + deterministic surrogate (P6/F5)
    return build_priority_dim(t["orders"])


@query(
    "calendar_dim",
    """
    SELECT strftime(arrdate, '%Y-%m-%d') AS arrdate,
           day(arrdate)        AS arrival_day,
           weekofyear(arrdate) AS arrival_week,
           month(arrdate)      AS arrival_month,
           year(arrdate)       AS arrival_year,
           dayofweek(arrdate) + 1 AS arrival_weekday,
           row_number() OVER (ORDER BY arrdate) AS id
    FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS arrdate FROM orders)
    """,
)
def _calendar_dim(spark, t):
    # C1-C5 + P6 (etl_functions.py:115-131 semantics)
    dim = build_calendar_dim(t["orders"], F.to_date("o_orderdate"))
    return dim.withColumn("arrdate", F.col("arrdate").cast("string"))


@query(
    "country_dim",
    """
    SELECT n_nationkey AS country_code,
           n_name      AS country_name,
           r_name      AS region_name,
           avg_acctbal
    FROM nation
    LEFT JOIN region ON n_regionkey = r_regionkey
    LEFT JOIN (
        SELECT c_nationkey,
               SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / (100.0 * COUNT(c_acctbal))
                   AS avg_acctbal
        FROM customer GROUP BY c_nationkey
    ) ON n_nationkey = c_nationkey
    """,
)
def _country_dim(spark, t):
    # J2+J3+A1 (etl_functions.py:80-111 semantics)
    return build_country_dim(t["nation"], t["region"], t["customer"])


@query(
    "fact_orders",
    """
    WITH dim AS (
        SELECT o_orderpriority,
               row_number() OVER (ORDER BY o_orderpriority) AS priority_key
        FROM (SELECT DISTINCT o_orderpriority FROM orders)
    )
    SELECT o_orderkey    AS record_id,
           o_custkey     AS customer_key,
           o_orderstatus AS status,
           o_totalprice  AS total_price,
           strftime(o_orderdate, '%Y-%m-%d') AS arrival_date,
           priority_key
    FROM orders LEFT JOIN dim USING (o_orderpriority)
    """,
)
def _fact_orders(spark, t):
    # immigration_fact semantics: renames + broadcast FK join + ISO date
    # (etl_functions.py:13-38, J1/P3/P4)
    return build_fact(t["orders"], build_priority_dim(t["orders"]))


# ---------------------------------------------------------------------------
# §2.2 projection / column ops
# ---------------------------------------------------------------------------


@query(
    "project_select",
    "SELECT c_custkey, c_name, c_acctbal FROM customer",
)
def _project_select(spark, t):
    # P1: column select — Catalyst prunes the scan to these columns
    return t["customer"].select("c_custkey", "c_name", "c_acctbal")


@query(
    "drop_columns",
    "SELECT p_partkey, p_name, p_brand, p_retailprice FROM part",
)
def _drop_columns(spark, t):
    # P2: drop (utility.py:53-54 semantics)
    return t["part"].drop("p_type", "p_size")


@query(
    "rename_columns",
    """
    SELECT s_suppkey AS supplier_key, s_name AS supplier_name,
           s_nationkey AS nation_key, s_acctbal AS account_balance
    FROM supplier
    """,
)
def _rename_columns(spark, t):
    # P3: snake-case renames (etl_functions.py:48-55 semantics)
    return (
        t["supplier"]
        .withColumnRenamed("s_suppkey", "supplier_key")
        .withColumnRenamed("s_name", "supplier_name")
        .withColumnRenamed("s_nationkey", "nation_key")
        .withColumnRenamed("s_acctbal", "account_balance")
    )


@query(
    "derive_column",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    """,
)
def _derive_column(spark, t):
    # P4: withColumn with an arithmetic expression (etl_functions.py:35).
    # No ROUND on the compared output: both engines compute the same
    # IEEE product, but ROUND-at-half semantics differ (Spark rounds the
    # shortest decimal repr, DuckDB the binary value).
    return t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@query(
    "cast_types",
    """
    SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
           CAST(trunc(o_totalprice) AS BIGINT) AS price_floor,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    """,
)
def _cast_types(spark, t):
    # P5: explicit casts (nb cell 31 semantics)
    return t["orders"].select(
        F.col("o_orderkey").cast("string").alias("order_id"),
        F.col("o_totalprice").cast("long").alias("price_floor"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


# ---------------------------------------------------------------------------
# §2.3 filters / cleaning
# ---------------------------------------------------------------------------


@query(
    "filter_predicate",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_totalprice > 100000 AND o_orderstatus <> 'F'
    """,
)
def _filter_predicate(spark, t):
    # predicate that Catalyst pushes into the parquet scan
    return (
        t["orders"]
        .filter((F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") != "F"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


@query(
    "dropna_rows",
    """
    SELECT event_id, user_id, event_type, value FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    """,
)
def _dropna_rows(spark, t):
    # F1/F2: na.drop on a subset (utility.py:89,115 semantics)
    return drop_nulls(
        t["events"].select("event_id", "user_id", "event_type", "value"),
        how="any",
        subset=["user_id", "event_type"],
    )


@query(
    "null_profile",
    """
    SELECT count(CASE WHEN o_orderkey IS NULL THEN 1 END)   AS o_orderkey,
           count(CASE WHEN o_custkey IS NULL THEN 1 END)    AS o_custkey,
           count(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS o_orderstatus,
           count(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice) THEN 1 END)
               AS o_totalprice,
           count(CASE WHEN o_orderdate IS NULL THEN 1 END)  AS o_orderdate,
           count(CASE WHEN o_orderpriority IS NULL THEN 1 END) AS o_orderpriority
    FROM orders
    """,
)
def _null_profile(spark, t):
    # A3/Q2: per-column missing-value profile in one job (utility.py:27)
    return null_profile(t["orders"])


@query(
    "distinct_rows",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def _distinct_rows(spark, t):
    # F5: full-row dedup
    return t["lineitem"].select("l_returnflag", "l_linestatus").distinct()


@query(
    "dedup_by_key",
    """
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM (
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_partkey, l_quantity)
                   AS __rn
        FROM lineitem
    ) WHERE __rn = 1
    """,
)
def _dedup_by_key(spark, t):
    # F6 made deterministic: first row per key under a TOTAL order —
    # the order must cover every output column, since (l_orderkey,
    # l_linenumber) alone is not unique in the testdata.
    return dedup_by_key(
        t["lineitem"].select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        keys=["l_orderkey"],
        order_by=["l_linenumber", "l_partkey", "l_quantity"],
    )


# ---------------------------------------------------------------------------
# §2.4 joins
# ---------------------------------------------------------------------------


@query(
    "join_left_broadcast",
    """
    SELECT c_custkey, c_name, n_name AS nation_name
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
)
def _join_left_broadcast(spark, t):
    # J1/J2: left equi-join against a broadcast dimension
    c, n = t["customer"], t["nation"]
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .select("c_custkey", "c_name", F.col("n_name").alias("nation_name"))
    )


@query(
    "join_string_keys",
    """
    WITH langs AS (
        SELECT lang, row_number() OVER (ORDER BY lang) AS lang_key
        FROM (SELECT DISTINCT lang FROM documents)
    )
    SELECT doc_id, lang, lang_key
    FROM documents LEFT JOIN langs USING (lang)
    """,
)
def _join_string_keys(spark, t):
    # J3: string-key left join against a derived dim
    langs = build_dimension(t["documents"], ["lang"], "lang_key")
    return t["documents"].join(F.broadcast(langs), "lang", "left").select(
        "doc_id", "lang", "lang_key"
    )


@query(
    "join_dedup",
    """
    SELECT DISTINCT n_name AS nation_name, r_name AS region_name
    FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def _join_dedup(spark, t):
    # J5: join wrapped in distinct (etl_functions.py:100,109)
    n, r = t["nation"], t["region"]
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(F.col("n_name").alias("nation_name"), F.col("r_name").alias("region_name"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# §2.5 aggregations
# ---------------------------------------------------------------------------


@query(
    "groupby_avg",
    """
    SELECT n_name AS nation_name,
           SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / (100.0 * COUNT(c_acctbal))
               AS avg_acctbal,
           count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1
    """,
)
def _groupby_avg(spark, t):
    # A1 (utility.py:104-105 semantics) with order-independent avg
    c, n = t["customer"], t["nation"]
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            money_avg("c_acctbal").alias("avg_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "global_counts",
    """
    SELECT (SELECT count(*) FROM lineitem) AS lineitem_rows,
           (SELECT count(*) FROM orders)   AS orders_rows,
           (SELECT count(*) FROM customer) AS customer_rows,
           (SELECT count(*) FROM documents) AS documents_rows
    """,
)
def _global_counts(spark, t):
    # A2/Q1: table cardinalities as data, not prints
    row = None
    for name in ("lineitem", "orders", "customer", "documents"):
        agg = t[name].agg(F.count(F.lit(1)).alias(f"{name}_rows"))
        row = agg if row is None else row.crossJoin(agg)
    return row


@query(
    "sas_date_decode",
    """
    SELECT l_orderkey, l_linenumber, sas_days,
           CASE WHEN sas_days IS NULL OR sas_days = 0 THEN NULL
                ELSE strftime(DATE '1960-01-01' + CAST(sas_days AS INT) * INTERVAL 1 DAY,
                              '%Y-%m-%d')
           END AS decoded_date
    FROM (
        SELECT l_orderkey, l_linenumber,
               CAST(datediff('day', DATE '1960-01-01', CAST(l_shipdate AS DATE))
                    AS DOUBLE) * (l_linenumber % 2) AS sas_days
        FROM lineitem
    )
    """,
)
def _sas_date_decode(spark, t):
    # C6: SAS epoch decode incl. the reference's 0→null quirk, as a
    # native expression instead of the reference's Python UDF
    # (etl_functions.py:24,121). Odd line numbers keep the real value,
    # even ones are zeroed so the quirk path is exercised.
    li = t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        (
            F.datediff(F.to_date("l_shipdate"), F.to_date(F.lit("1960-01-01"))).cast(
                "double"
            )
            * (F.col("l_linenumber") % 2)
        ).alias("sas_days"),
    )
    return li.withColumn(
        "decoded_date", sas_date_decode("sas_days").cast("string")
    )


@query(
    "initcap_labels",
    """
    SELECT n_nationkey,
           array_to_string(
               list_transform(string_split(lower(n_name), ' '),
                              x -> upper(x[1]) || x[2:]),
               ' ') AS nation_title
    FROM nation
    """,
)
def _initcap_labels(spark, t):
    # C7: title-case (nb cell 47's .title() UDF) → native initcap
    return t["nation"].select(
        "n_nationkey", F.initcap(F.lower("n_name")).alias("nation_title")
    )


# Register the extension query groups (import side effect).
from . import queries_dedup  # noqa: E402,F401
from . import queries_events  # noqa: E402,F401
from . import queries_multimodal  # noqa: E402,F401
from . import queries_olap  # noqa: E402,F401
from . import queries_sim  # noqa: E402,F401
from . import queries_sql  # noqa: E402,F401
from . import queries_labels  # noqa: E402,F401
from . import queries_text  # noqa: E402,F401
from . import queries_tpch2  # noqa: E402,F401
from . import queries_tpch3  # noqa: E402,F401
from . import queries_corpus2  # noqa: E402,F401
from . import queries_stats  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLE", "query"]
