"""Statistical / ML-housekeeping queries: deterministic dataset
splits, histograms, robust outlier detection, data profiling and
integrity audits, and order time-series diagnostics (autocorrelation,
drawdown, forecast error, Benford, Gini) — all exact-math, all
DuckDB-oracled.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dedup import H60, H60_SQL
from ..operators.ranking import with_global_rank
from .registry import query


@query(
    "ml_split_assignment",
    f"""
    WITH tagged AS (
        SELECT doc_id,
               {H60_SQL.format(x="'split|' || CAST(doc_id AS VARCHAR)")} % 100
                   AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM tagged
    GROUP BY split
    ORDER BY split
    """,
)
def _ml_split_assignment(spark, t):
    # train/val/test assignment that is a PURE FUNCTION of the row key:
    # the portable H60 hash mod 100 against 80/10/10 thresholds. No
    # RNG, no state — any engine, any run, any subset of the data
    # assigns each doc identically (the property that keeps eval sets
    # stable as the corpus grows; random splits resample on every
    # ingest). The decision is a per-row expression at the scan; the
    # per-split audit counts are one tiny aggregate.
    bucket = (
        F.expr(H60.format(x="concat('split|', CAST(doc_id AS STRING))")) % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        t["documents"]
        .select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("split")
    )


@query(
    "orders_price_histogram",
    """
    SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 50000 AS bin,
           count(*) AS n_orders,
           CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM orders
    GROUP BY bin
    ORDER BY bin
    """,
)
def _orders_price_histogram(spark, t):
    # equi-width histogram in $500 bins — binning by integer division
    # of exact cents (floor ≡ truncation on non-negatives, identical in
    # both engines; float width_bucket would put boundary values in
    # engine-dependent bins). One aggregate at bin grain; the per-bin
    # min/max make the bins self-describing for plotting.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        t["orders"]
        .select(cents.alias("cents"))
        .groupBy(F.expr("cents DIV 50000").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("bin")
    )


@query(
    "orders_outlier_iqr",
    """
    WITH cents AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    bounds AS (
        SELECT o_orderstatus,
               quantile_cont(c, 0.25) AS q1,
               quantile_cont(c, 0.75) AS q3
        FROM cents GROUP BY o_orderstatus
    )
    SELECT c.o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CASE WHEN c.c * 2 > 2 * b.q3 + 3 * (b.q3 - b.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
           CAST(SUM(CASE WHEN c.c * 2 < 2 * b.q1 - 3 * (b.q3 - b.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers
    FROM cents c JOIN bounds b ON c.o_orderstatus = b.o_orderstatus
    GROUP BY c.o_orderstatus
    ORDER BY c.o_orderstatus
    """,
)
def _orders_outlier_iqr(spark, t):
    # Tukey-fence outliers per status: price outside
    # [q1 − 1.5·IQR, q3 + 1.5·IQR]. The quartiles interpolate on exact
    # integer cents (percentile ≡ quantile_cont bitwise on integers —
    # same discipline as percentile_by_status), and the fence test is
    # DOUBLED on both sides (2c > 2q3 + 3(q3−q1)) so the 1.5 factor
    # becomes integer-valued float math with one representable form —
    # no engine-dependent rounding at the membership boundary. The
    # bounds table is status-grain (tiny) → broadcast back onto
    # orders; two total shuffles.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    c = t["orders"].select(
        "o_orderstatus", cents.alias("c")
    )
    bounds = F.broadcast(
        c.groupBy("o_orderstatus").agg(
            F.expr("percentile(c, 0.25)").alias("q1"),
            F.expr("percentile(c, 0.75)").alias("q3"),
        )
        .withColumnRenamed("o_orderstatus", "b_status")
    )
    iqr3 = 3 * (F.col("q3") - F.col("q1"))
    return (
        c.join(bounds, F.col("o_orderstatus") == F.col("b_status"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("c") * 2 > 2 * F.col("q3") + iqr3, 1).otherwise(0)
            ).alias("n_high_outliers"),
            F.sum(
                F.when(F.col("c") * 2 < 2 * F.col("q1") - iqr3, 1).otherwise(0)
            ).alias("n_low_outliers"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "docs_repetition_stats",
    """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    wrd AS (SELECT doc_id, unnest(ws) AS word FROM w),
    wa AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_words,
               count(*) AS n_distinct_words,
               CAST(MAX(cnt) AS BIGINT) AS top_word_n
        FROM (SELECT doc_id, word, count(*) AS cnt
              FROM wrd GROUP BY doc_id, word)
        GROUP BY doc_id
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        FROM w WHERE len(ws) >= 2
    ),
    ba AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_dup_bigrams
        FROM (SELECT doc_id, bigram, count(*) AS cnt
              FROM bg GROUP BY doc_id, bigram)
        GROUP BY doc_id
    )
    SELECT wa.doc_id, n_words, n_distinct_words, top_word_n,
           COALESCE(n_bigrams, 0) AS n_bigrams,
           COALESCE(n_dup_bigrams, 0) AS n_dup_bigrams
    FROM wa LEFT JOIN ba USING (doc_id)
    ORDER BY wa.doc_id
    """,
)
def _docs_repetition_stats(spark, t):
    # Gopher/C4-style within-document repetition profile: the counts
    # behind the classic quality filters (most-frequent-word fraction,
    # duplicate-bigram fraction). Emitted as exact integers — the
    # consumer picks thresholds; no float ratios cross the engine
    # boundary. Two explode→two-level aggregates (map-side partial agg
    # absorbs the per-doc fan-out), joined back at doc grain. The
    # (doc_id, word) shuffle key is high-cardinality and unskewed, so
    # the plan holds at corpus scale.
    docs = t["documents"].select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    wa = (
        docs.select("doc_id", F.explode("ws").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("cnt").alias("top_word_n"),
        )
    )
    # sequence(1, size-1) is guarded by size>=2: Spark's sequence(1, 0)
    # is DESCENDING [1, 0], not empty (see queries_text chunking note).
    bigrams = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
    )
    ba = (
        docs.filter(F.size("ws") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)
            ).alias("n_dup_bigrams"),
        )
    )
    # LEFT join + 0-fill: a 1-word doc has no bigrams but must still
    # appear in the profile (inner join would silently drop it)
    return (
        wa.join(ba, "doc_id", "left")
        .select(
            "doc_id", "n_words", "n_distinct_words", "top_word_n",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_dup_bigrams", F.lit(0)).alias("n_dup_bigrams"),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_global_dup_spans",
    """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ws) - 4),
                   i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2],
                                  ws[i+3], ws[i+4]))) AS shingle
        FROM w WHERE len(ws) >= 5
    ),
    df AS (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY shingle) AS n_docs
        FROM sh
    )
    SELECT doc_id,
           count(*) AS n_shingles,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_shingles
    FROM df GROUP BY doc_id ORDER BY doc_id
    """,
)
def _docs_global_dup_spans(spark, t):
    # cross-document duplicate-span profile (the C4 "repeated span"
    # signal): for each doc, how many of its distinct word-5-gram
    # spans also occur in at least one OTHER document. Distinct
    # (doc, shingle) pairs → window count at shingle grain → doc-grain
    # rollup: the corpus-wide span frequency is ONE shuffle on the
    # shingle key (uniform, high-cardinality), never an all-pairs doc
    # comparison. Complements docs_contamination_check (which compares
    # against a broadcast eval set, not the corpus itself).
    shingles = F.expr(
        "transform(sequence(1, size(ws) - 4),"
        " i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1),"
        " element_at(ws, i+2), element_at(ws, i+3), element_at(ws, i+4)))"
    )
    sh = (
        t["documents"]
        .select("doc_id", F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= 5)
        .select("doc_id", F.explode(shingles).alias("shingle"))
        .distinct()
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    return (
        sh.withColumn("n_docs", n_docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "n_shared_shingles"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "events_debounce",
    """
    WITH ordered AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS prev_us
        FROM events
    )
    SELECT event_id, user_id, event_type
    FROM ordered
    WHERE prev_us IS NULL OR us - prev_us >= 60000000
    ORDER BY event_id
    """,
)
def _events_debounce(spark, t):
    # debounce: suppress repeat (user, type) events arriving within
    # 60 s of the previous KEPT-or-not event — the standard guard
    # against double-clicks / retry storms before sessionization or
    # billing. lag over the total (ts, event_id) order makes the
    # decision deterministic under timestamp ties; integer
    # epoch-micros arithmetic keeps the threshold test exact. One
    # (user, type) shuffle, no join.
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    return (
        t["events"]
        .select("event_id", "user_id", "event_type", us.alias("us"),
                prev.alias("prev_us"))
        .filter(
            F.col("prev_us").isNull()
            | (F.col("us") - F.col("prev_us") >= 60_000_000)
        )
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )


@query(
    "events_rolling_7d_active_users",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(count(DISTINCT CASE WHEN du.day = d.day
                                    THEN du.user_id END) AS BIGINT) AS dau,
           CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau_7d
    FROM days d
    JOIN du ON du.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    ORDER BY day
    """,
)
def _events_rolling_7d_active_users(spark, t):
    # DAU + trailing-7-day active users per day — the sliding-window
    # COUNT DISTINCT that plain windows can't express (distinct does
    # not decompose over frames). Strategy: collapse events to
    # distinct (day, user) FIRST (one shuffle, day×user grain — at
    # 100 TB this is users×days rows, ~10⁻⁴ of the event count), then
    # fan each pair out to its ≤7 trailing window anchors with an
    # EXPLODED sequence + equi-join — never a range predicate, which
    # Spark would plan as a nested-loop compare of every pair against
    # every day (ADVICE r2). The broadcast semi-join keeps only
    # anchors that exist in the data (matching the oracle's `days`
    # dimension). `day` is emitted as an ISO string so both engines
    # agree on the output type (the repo's date-output discipline).
    # the day×user table feeds the anchor dimension AND the fan-out —
    # persisted so the fact scan + distinct shuffle run once
    du = (
        t["events"]
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .persist()
    )
    days = du.select(F.col("day").alias("anchor")).distinct()
    fanout = du.select(
        "user_id",
        "day",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("anchor"),
    )
    return (
        fanout.join(F.broadcast(days), "anchor", "left_semi")
        .groupBy("anchor")
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("anchor"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct("user_id").alias("wau_7d"),
        )
        .select(
            F.date_format("anchor", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau_7d",
        )
        .orderBy("day")
    )


@query(
    "orders_winsorized_sum",
    """
    WITH cents AS (
        SELECT o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    b AS (
        SELECT o_orderstatus,
               quantile_cont(c, 0.05) AS q05,
               quantile_cont(c, 0.95) AS q95
        FROM cents GROUP BY o_orderstatus
    ),
    agg AS (
        SELECT c.o_orderstatus,
               count(*) AS n_orders,
               CAST(SUM(CASE WHEN c.c < b.q05 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_below,
               CAST(SUM(CASE WHEN c.c > b.q95 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_above,
               CAST(SUM(CASE WHEN c.c >= b.q05 AND c.c <= b.q95
                             THEN c.c ELSE 0 END) AS BIGINT) AS mid_sum_cents,
               MIN(b.q05) AS q05, MIN(b.q95) AS q95
        FROM cents c JOIN b USING (o_orderstatus)
        GROUP BY c.o_orderstatus
    )
    SELECT o_orderstatus, n_orders, n_below, n_above, mid_sum_cents,
           CAST(mid_sum_cents AS DOUBLE) + n_below * q05 + n_above * q95
               AS winsorized_sum_cents
    FROM agg ORDER BY o_orderstatus
    """,
)
def _orders_winsorized_sum(spark, t):
    # winsorized total per status: clip at the 5th/95th percentile
    # before summing — the robust aggregate that keeps a few fat-
    # finger orders from owning the metric. The interior sum stays an
    # exact BIGINT of cents; the clipped tails contribute as
    # count × quantile in ONE shared float expression evaluated after
    # aggregation (never a float sum over rows, which would be
    # accumulation-order-dependent on a cluster). Quantiles
    # interpolate on integer cents — bitwise-identical across engines
    # (percentile ≡ quantile_cont, same discipline as
    # percentile_by_status). Tiny status-grain bounds broadcast back.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    c = t["orders"].select("o_orderstatus", cents.alias("c"))
    b = F.broadcast(
        c.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(c, 0.05)").alias("q05"),
            F.expr("percentile(c, 0.95)").alias("q95"),
        )
        .withColumnRenamed("o_orderstatus", "b_status")
    )
    agg = (
        c.join(b, F.col("o_orderstatus") == F.col("b_status"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("c") < F.col("q05"), 1).otherwise(0)).alias(
                "n_below"
            ),
            F.sum(F.when(F.col("c") > F.col("q95"), 1).otherwise(0)).alias(
                "n_above"
            ),
            F.sum(
                F.when(
                    (F.col("c") >= F.col("q05"))
                    & (F.col("c") <= F.col("q95")),
                    F.col("c"),
                ).otherwise(0)
            ).alias("mid_sum_cents"),
            F.min("q05").alias("q05"),
            F.min("q95").alias("q95"),
        )
    )
    winsorized = (
        F.col("mid_sum_cents").cast("double")
        + F.col("n_below") * F.col("q05")
        + F.col("n_above") * F.col("q95")
    )
    return agg.select(
        "o_orderstatus", "n_orders", "n_below", "n_above",
        "mid_sum_cents", winsorized.alias("winsorized_sum_cents"),
    ).orderBy("o_orderstatus")


@query(
    "events_zscore_outliers",
    """
    WITH c AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL
    ),
    m AS (
        SELECT event_type, count(*) AS n,
               SUM(v) AS s1, SUM(v::HUGEINT * v) AS s2
        FROM c GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(MIN(m.n) AS BIGINT) AS n_values,
           CAST(SUM(CASE WHEN 4 * (m.n::HUGEINT * c.v - m.s1)
                             * (m.n::HUGEINT * c.v - m.s1)
                          > 9 * (m.n::HUGEINT * m.s2 - m.s1 * m.s1)
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers_1p5sigma
    FROM c JOIN m USING (event_type)
    GROUP BY c.event_type
    ORDER BY c.event_type
    """,
)
def _events_zscore_outliers(spark, t):
    # robust outlier count per type with ZERO float ops: |x − μ| > kσ
    # cross-multiplied into pure integer arithmetic —
    # 4·(n·x − Σx)² > 9·(n·Σx² − (Σx)²) is exactly |z| > 1.5 (k²=9/4).
    # The moments accumulate as exact integers (decimal for the
    # squares — Σx² passes int64 around sf10); the membership test is
    # then layout- and engine-independent, unlike any float-σ
    # comparison at the boundary. Tiny type-grain moments broadcast
    # back onto the stream; one shuffle total.
    v = F.round(F.col("value") * 100).cast("long")
    c = (
        t["events"]
        .filter(F.col("value").isNotNull())
        .select("event_type", v.alias("v"))
    )
    m = F.broadcast(
        c.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s1"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("s2"),
        )
        .withColumnRenamed("event_type", "m_type")
    )
    dec = lambda name: F.col(name).cast("decimal(38,0)")  # noqa: E731
    diff = dec("n") * dec("v") - dec("s1")
    cond = 4 * diff * diff > 9 * (dec("n") * F.col("s2") - dec("s1") * dec("s1"))
    return (
        c.join(m, F.col("event_type") == F.col("m_type"))
        .groupBy("event_type")
        .agg(
            F.min("n").cast("long").alias("n_values"),
            F.sum(F.when(cond, 1).otherwise(0)).alias("n_outliers_1p5sigma"),
        )
        .orderBy("event_type")
    )


@query(
    "orders_snapshot_diff",
    """
    WITH old AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS cents,
               o_orderstatus
        FROM orders WHERE o_orderkey % 11 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.cents IS DISTINCT FROM n.cents
                     OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                     THEN 'changed' END AS change_type,
           o.cents AS old_cents, n.cents AS new_cents,
           o.o_orderstatus AS old_status, n.o_orderstatus AS new_status
    FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
               WHEN n.o_orderkey IS NULL THEN 'removed'
               WHEN o.cents IS DISTINCT FROM n.cents
                    OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                    THEN 'changed' END IS NOT NULL
    ORDER BY o_orderkey
    """,
)
def _orders_snapshot_diff(spark, t):
    # CDC snapshot diff demoed on two derived versions of orders
    # (simulated deletes via %7, inserts via %11, price updates via
    # %5): one full-outer join on the key, null-safe comparison,
    # emit only differing rows. The operator (operators/diff.py)
    # projects compared columns before the join so the shuffle carries
    # key + values only; bucketed snapshots make it shuffle-free.
    from ..operators.diff import snapshot_diff

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = t["orders"].select(
        "o_orderkey", cents.alias("cents"), "o_orderstatus"
    )
    old = base.filter(F.col("o_orderkey") % 7 != 0)
    new = base.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("o_orderkey") % 5 == 0, 100).otherwise(0),
    )
    return (
        snapshot_diff(old, new, ["o_orderkey"], ["cents", "o_orderstatus"])
        .select(
            "o_orderkey", "change_type",
            "old_cents", "new_cents",
            F.col("old_o_orderstatus").alias("old_status"),
            F.col("new_o_orderstatus").alias("new_status"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "orders_column_profile",
    """
    WITH a AS (
        SELECT count(*) AS n_rows,
               count(o_orderstatus) AS nn_status,
               count(DISTINCT o_orderstatus) AS nd_status,
               CAST(min(o_orderstatus) AS VARCHAR) AS mn_status,
               CAST(max(o_orderstatus) AS VARCHAR) AS mx_status,
               count(o_custkey) AS nn_cust,
               count(DISTINCT o_custkey) AS nd_cust,
               CAST(min(o_custkey) AS VARCHAR) AS mn_cust,
               CAST(max(o_custkey) AS VARCHAR) AS mx_cust,
               count(o_orderpriority) AS nn_prio,
               count(DISTINCT o_orderpriority) AS nd_prio,
               CAST(min(o_orderpriority) AS VARCHAR) AS mn_prio,
               CAST(max(o_orderpriority) AS VARCHAR) AS mx_prio
        FROM orders
    )
    SELECT col_name, n_rows, n_non_null, n_distinct, min_value, max_value
    FROM (
        SELECT 'o_orderstatus' AS col_name, n_rows, nn_status AS n_non_null,
               nd_status AS n_distinct, mn_status AS min_value,
               mx_status AS max_value FROM a
        UNION ALL
        SELECT 'o_custkey', n_rows, nn_cust, nd_cust, mn_cust, mx_cust FROM a
        UNION ALL
        SELECT 'o_orderpriority', n_rows, nn_prio, nd_prio, mn_prio, mx_prio
        FROM a
    )
    ORDER BY col_name
    """,
)
def _orders_column_profile(spark, t):
    # one-pass wide-table profile (the df.describe() a data engineer
    # actually wants): per column — non-null count, exact distinct
    # count, min, max — in a SINGLE scan + aggregate. Spark plans the
    # 3 exact DISTINCTs as one Expand (3× row multiply before partial
    # agg) — one shuffle, no per-column jobs; at extreme widths swap
    # exact distincts for approx_count_distinct (sketch suite covers
    # that trade). Values stringified so the long-format output has a
    # uniform schema.
    o = t["orders"]
    a = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderstatus").alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.min("o_orderstatus").cast("string").alias("mn_status"),
        F.max("o_orderstatus").cast("string").alias("mx_status"),
        F.count("o_custkey").alias("nn_cust"),
        F.countDistinct("o_custkey").alias("nd_cust"),
        F.min("o_custkey").cast("string").alias("mn_cust"),
        F.max("o_custkey").cast("string").alias("mx_cust"),
        F.count("o_orderpriority").alias("nn_prio"),
        F.countDistinct("o_orderpriority").alias("nd_prio"),
        F.min("o_orderpriority").cast("string").alias("mn_prio"),
        F.max("o_orderpriority").cast("string").alias("mx_prio"),
    )
    long = a.selectExpr(
        """stack(3,
            'o_orderstatus', nn_status, nd_status, mn_status, mx_status,
            'o_custkey', nn_cust, nd_cust, mn_cust, mx_cust,
            'o_orderpriority', nn_prio, nd_prio, mn_prio, mx_prio
        ) AS (col_name, n_non_null, n_distinct, min_value, max_value)""",
        "n_rows",
    )
    return long.select(
        "col_name", "n_rows", "n_non_null", "n_distinct",
        "min_value", "max_value",
    ).orderBy("col_name")


@query(
    "orders_equidepth_deciles",
    """
    WITH c AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    vg AS (SELECT c, count(*) AS cnt FROM c GROUP BY c),
    v2 AS (
        SELECT c, cnt,
               COALESCE(SUM(cnt) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS start
        FROM vg
    ),
    tot AS (SELECT count(*) AS n FROM c),
    r AS (
        SELECT cc.c,
               v2.start + ROW_NUMBER() OVER (PARTITION BY cc.c
                                             ORDER BY cc.o_orderkey) AS rnk
        FROM c cc JOIN v2 ON cc.c = v2.c
    )
    SELECT CAST((rnk - 1) * 10 // n AS BIGINT) AS decile,
           count(*) AS n_orders,
           CAST(MIN(c) AS BIGINT) AS min_cents,
           CAST(MAX(c) AS BIGINT) AS max_cents
    FROM r, tot
    GROUP BY decile
    ORDER BY decile
    """,
)
def _orders_equidepth_deciles(spark, t):
    # equi-depth (quantile) histogram via EXACT distributed ranking.
    # The oracle's rank (value-group start + row_number within the
    # value ordered by o_orderkey) is exactly the global rank under
    # (c, o_orderkey), so we compute it with with_global_rank's
    # range-partition + offset scheme: per-task memory is bounded by
    # the range-partition size even when every price is DISTINCT
    # (near-unique continuous values were the residual hazard of the
    # earlier value-grain cumsum window — its "distinct values"
    # table degenerated to row grain). decile = (rank−1)·10 div n,
    # pure integer math identical in both engines.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    c = t["orders"].select("o_orderkey", cents.alias("c"))
    tot = F.broadcast(c.groupBy().agg(F.count(F.lit(1)).alias("n")))
    r = (
        with_global_rank(c, ["c", "o_orderkey"], "rnk")
        .crossJoin(tot)
        .select(
            "c",
            F.expr("(rnk - 1) * 10 DIV n").alias("decile"),
        )
    )
    return (
        r.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
        )
        .orderBy("decile")
    )


@query(
    "events_mode_value_per_type",
    """
    SELECT event_type, mode_cents, n_occurrences
    FROM (
        SELECT event_type, c AS mode_cents, count(*) AS n_occurrences,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY count(*) DESC, c) AS rn
        FROM (SELECT event_type,
                     CAST(ROUND(value * 100) AS BIGINT) AS c
              FROM events WHERE value IS NOT NULL)
        GROUP BY event_type, c
    ) WHERE rn = 1
    ORDER BY event_type
    """,
)
def _events_mode_value_per_type(spark, t):
    # exact mode per group with a DETERMINISTIC tie-break (highest
    # count, then smallest value): (type, value)-grain aggregate, then
    # a top-1 window at value grain — never a per-group collect. The
    # two-level shape means the heavy shuffle key is (type, value),
    # which stays unskewed even when one type dominates the stream.
    v = F.round(F.col("value") * 100).cast("long")
    counts = (
        t["events"]
        .filter(F.col("value").isNotNull())
        .select("event_type", v.alias("c"))
        .groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.desc("n_occurrences"), "c"
        )
    )
    return (
        counts.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("c").alias("mode_cents"),
            "n_occurrences",
        )
        .orderBy("event_type")
    )


@query(
    "text_inverted_index",
    """
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    )
    SELECT term, count(*) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM tok
    GROUP BY term
    HAVING count(*) >= 10
    ORDER BY term
    """,
)
def _text_inverted_index(spark, t):
    # inverted index (term → sorted posting list) — the retrieval
    # building block under keyword search / BM25 / RAG hybrid search.
    # Distinct (doc, term) pairs → one shuffle on the term key; the
    # posting list is sorted INSIDE the aggregate (sort_array over
    # collect_list), so no per-term window, and emitted as a joined
    # string for a stable cross-engine representation. At 100 TB
    # stop-word-grade terms make postings huge — the df floor here
    # stands in for the tiered posting/stop-listing a real index does;
    # collect_list is bounded by that same cap.
    tok = (
        t["documents"]
        .select(
            "doc_id",
            F.explode(F.split(F.col("text"), " ")).alias("term"),
        )
        .distinct()
    )
    return (
        tok.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.sort_array(F.collect_list("doc_id")), ","
            ).alias("postings"),
        )
        .filter(F.col("df") >= 10)
        .orderBy("term")
    )


@query(
    "events_mad_outliers",
    """
    WITH c AS (SELECT event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS cents
               FROM events WHERE value IS NOT NULL),
    med AS (SELECT event_type,
                   quantile_cont(cents, 0.5) AS m
            FROM c GROUP BY 1),
    dev AS (SELECT c.event_type, c.cents, med.m,
                   abs(c.cents - med.m) AS adev
            FROM c JOIN med USING (event_type)),
    mad AS (SELECT event_type,
                   quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY 1)
    SELECT dev.event_type,
           count(*) AS n_values,
           CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY 1
    ORDER BY 1
    """,
)
def _events_mad_outliers(spark, t):
    # robust outlier counts via Median Absolute Deviation — the
    # heavy-tail-safe twin of events_zscore_outliers (one extreme
    # value shifts a mean/stddev fence, but not median±3·MAD). Values
    # go through integer cents, so the only floats are the two
    # medians — Spark `percentile` and DuckDB quantile_cont share the
    # linear-interpolation definition bit for bit (the
    # percentile_by_status precedent), and the 3·MAD comparison uses
    # those bit-identical doubles on both engines. Two grouped
    # medians = two shuffles on event_type (5 groups); the join back
    # is a broadcast of a 5-row table each time.
    cents = F.round(F.col("value") * 100).cast("long")
    c = (
        t["events"]
        .filter(F.col("value").isNotNull())
        .select("event_type", cents.alias("cents"))
        .persist()
    )
    med = c.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("m")
    )
    dev = (
        c.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "cents",
            F.abs(F.col("cents") - F.col("m")).alias("adev"),
        )
        .persist()
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(
                (F.col("adev") > 3 * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query(
    "events_user_streaks",
    """
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(ts AS DATE) AS day
        FROM events
    ),
    grp AS (
        SELECT user_id, day,
               CAST(day AS DATE) - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, count(*) AS streak_len, min(day) AS streak_start
        FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id, streak_len,
           strftime(streak_start, '%Y-%m-%d') AS streak_start
    FROM (
        SELECT user_id, streak_len, streak_start,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY streak_len DESC, streak_start)
                   AS rn
        FROM streaks
    )
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def _events_user_streaks(spark, t):
    # gaps-and-islands: each user's LONGEST run of consecutive active
    # days (engagement-streak analytics). The classic rewrite — day
    # minus per-user row_number is constant within a consecutive run —
    # turns streak detection into a groupBy, all integer date math.
    # One shuffle on user_id for the window, the rest stays at
    # (user, anchor) grain. Ties broken by earliest streak.
    days = (
        t["events"]
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    best = Window.partitionBy("user_id").orderBy(
        F.desc("streak_len"), F.asc("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "streak_len",
            F.date_format("streak_start", "yyyy-MM-dd").alias("streak_start"),
        )
        .orderBy("user_id")
    )


@query(
    "orders_profile_drift",
    """
    WITH tagged AS (
        SELECT o_orderkey % 2 AS snap,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus, o_custkey
        FROM orders
    ),
    prof AS (
        SELECT snap,
               count(*) AS n_rows,
               count(DISTINCT o_custkey) AS n_cust,
               count(DISTINCT o_orderstatus) AS n_status,
               CAST(MIN(cents) AS BIGINT) AS min_cents,
               CAST(MAX(cents) AS BIGINT) AS max_cents,
               CAST(SUM(cents) // count(*) AS BIGINT) AS mean_cents_floor
        FROM tagged GROUP BY snap
    )
    SELECT a.n_rows AS rows_a, b.n_rows AS rows_b,
           a.n_cust AS cust_a, b.n_cust AS cust_b,
           a.n_status AS status_a, b.n_status AS status_b,
           a.min_cents AS min_a, b.min_cents AS min_b,
           a.max_cents AS max_a, b.max_cents AS max_b,
           a.mean_cents_floor AS mean_a, b.mean_cents_floor AS mean_b,
           (abs(a.n_rows - b.n_rows) * 10 > b.n_rows)
               OR (abs(a.mean_cents_floor - b.mean_cents_floor) * 10
                   > b.mean_cents_floor)
               OR (a.n_status <> b.n_status) AS drifted
    FROM (SELECT * FROM prof WHERE snap = 0) a
    CROSS JOIN (SELECT * FROM prof WHERE snap = 1) b
    """,
)
def _orders_profile_drift(spark, t):
    # snapshot drift check — the "did today's load change shape?" gate
    # a pipeline runs before publishing: row counts, key cardinality,
    # domain size, and value range/center compared between two
    # snapshots (stand-ins: even/odd orderkeys), with a drift verdict
    # at >10% movement on rows or mean, or any domain-size change.
    # All integer math (floor-mean in cents, basis-point-free 10x
    # cross-multiplication) so the verdict is engine-exact. One scan:
    # both snapshot profiles come from a single groupBy(snap) pass;
    # the final compare is a 1x1-row broadcast crossJoin.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    prof = (
        t["orders"]
        .select(
            (F.col("o_orderkey") % 2).alias("snap"),
            cents.alias("cents"),
            "o_orderstatus",
            "o_custkey",
        )
        .groupBy("snap")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_custkey").alias("n_cust"),
            F.countDistinct("o_orderstatus").alias("n_status"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.expr("SUM(cents) DIV count(*)").alias("mean_cents_floor"),
        )
        .persist()
    )
    a = prof.filter(F.col("snap") == 0).drop("snap")
    b = prof.filter(F.col("snap") == 1).drop("snap")
    a = a.select(*[F.col(c).alias(f"{c}__a") for c in a.columns])
    b = b.select(*[F.col(c).alias(f"{c}__b") for c in b.columns])
    joined = a.crossJoin(F.broadcast(b))
    drifted = (
        (F.abs(F.col("n_rows__a") - F.col("n_rows__b")) * 10
         > F.col("n_rows__b"))
        | (
            F.abs(
                F.col("mean_cents_floor__a") - F.col("mean_cents_floor__b")
            ) * 10
            > F.col("mean_cents_floor__b")
        )
        | (F.col("n_status__a") != F.col("n_status__b"))
    )
    return joined.select(
        F.col("n_rows__a").alias("rows_a"),
        F.col("n_rows__b").alias("rows_b"),
        F.col("n_cust__a").alias("cust_a"),
        F.col("n_cust__b").alias("cust_b"),
        F.col("n_status__a").alias("status_a"),
        F.col("n_status__b").alias("status_b"),
        F.col("min_cents__a").alias("min_a"),
        F.col("min_cents__b").alias("min_b"),
        F.col("max_cents__a").alias("max_a"),
        F.col("max_cents__b").alias("max_b"),
        F.col("mean_cents_floor__a").alias("mean_a"),
        F.col("mean_cents_floor__b").alias("mean_b"),
        drifted.alias("drifted"),
    )


@query(
    "supplier_lead_time_trend",
    """
    WITH xy AS (
        SELECT l.l_suppkey,
               year(o.o_orderdate) * 12 + month(o.o_orderdate) AS x,
               date_diff('day', o.o_orderdate, l.l_shipdate) AS y
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT l_suppkey,
           count(*) AS n_items,
           CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS num,
           CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS den,
           CAST((count(*) * sum(x * y) - sum(x) * sum(y)) * 10000
                // (count(*) * sum(x * x) - sum(x) * sum(x)) AS BIGINT)
               AS slope_bp
    FROM xy
    GROUP BY 1
    HAVING count(*) * sum(x * x) - sum(x) * sum(x) <> 0
    ORDER BY 1
    """,
)
def _supplier_lead_time_trend(spark, t):
    # per-supplier TREND of order→ship lag: grouped least-squares
    # slope in pure int64 (x = month index, y = lag days; slope as
    # basis points via integer floor-div) — the closed-form
    # n·Σxy − Σx·Σy over n·Σx² − (Σx)², so the whole regression is
    # one map-side-combinable aggregate over the lineitem⋈orders
    # join: no per-group iteration, no floats until never. The join
    # shuffles on orderkey (bucketing co-locates it at scale); the
    # supplier-grain agg is a second, far smaller shuffle.
    xy = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_suppkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("x"),
            F.datediff("l_shipdate", "o_orderdate").alias("y"),
        )
    )
    g = xy.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n_items") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_items") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        g.select(
            "l_suppkey",
            "n_items",
            num.alias("num"),
            den.alias("den"),
            F.expr(
                "(n_items * sxy - sx * sy) * 10000"
                " DIV (n_items * sxx - sx * sx)"
            ).alias("slope_bp"),
        )
        .filter(F.col("den") != 0)
        .orderBy("l_suppkey")
    )


@query(
    "referential_integrity_audit",
    """
    SELECT 'orders->customer' AS fk, count(*) AS n_rows,
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem->orders', count(*),
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem->part', count(*),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem->supplier', count(*),
           CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ORDER BY 1
    """,
)
def _referential_integrity_audit(spark, t):
    # referential-integrity audit: orphan counts for every fact→dim
    # FK, the pre-flight check a warehouse load runs before
    # publishing. Each check is a LEFT join counting null dim keys —
    # expressed as one aggregate per FK so map-side combine collapses
    # each to (total, orphans) long before the union. Dim sides
    # (customer/part/supplier keysets) broadcast at these
    # cardinalities; lineitem→orders is the one genuine shuffle and
    # rides the orderkey bucketing at scale. A healthy load reports 0
    # orphans — the row (with its non-zero n_rows) is the evidence,
    # not an empty result.
    def audit(fact, fact_key, dim, dim_key, label):
        return (
            fact.select(F.col(fact_key))
            .join(
                dim.select(F.col(dim_key)),
                F.col(fact_key) == F.col(dim_key),
                "left",
            )
            .agg(
                F.lit(label).alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col(dim_key).isNull(), 1).otherwise(0)
                ).alias("n_orphans"),
            )
        )

    checks = [
        audit(t["orders"], "o_custkey", t["customer"], "c_custkey",
              "orders->customer"),
        audit(t["lineitem"], "l_orderkey", t["orders"], "o_orderkey",
              "lineitem->orders"),
        audit(t["lineitem"], "l_partkey", t["part"], "p_partkey",
              "lineitem->part"),
        audit(t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey",
              "lineitem->supplier"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        "fk", "n_rows", "n_orphans"
    ).orderBy("fk")


@query(
    "orders_hot_keys_skew",
    """
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(count(*) * 10000 // (SELECT count(*) FROM orders)
                AS BIGINT) AS share_bp
    FROM orders
    GROUP BY 1
    ORDER BY n_orders DESC, o_custkey
    LIMIT 10
    """,
)
def _orders_hot_keys_skew(spark, t):
    # hot-key diagnostics: the 10 heaviest join/agg keys and their
    # share of the fact table — the profile you run BEFORE choosing a
    # salting or skew-join strategy (the engine's own AQE skew
    # threshold is keyed off exactly this distribution). Plan: one
    # map-side-combinable count per key, broadcast 1-row total,
    # TakeOrdered for the top-10 (never a global sort shuffle).
    # Deterministic tie-break on the key itself.
    o = t["orders"]
    total = o.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(total))
        .select(
            "o_custkey",
            "n_orders",
            F.expr("n_orders * 10000 DIV n_total").alias("share_bp"),
        )
        .orderBy(F.desc("n_orders"), "o_custkey")
        .limit(10)
    )


@query(
    "orders_interorder_gap_stats",
    """
    WITH g AS (
        SELECT date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate,
                                                         o_orderkey),
                         o_orderdate) AS gap
        FROM orders
    )
    SELECT count(*) AS n_gaps,
           CAST(sum(gap) AS BIGINT) AS sum_gap_days,
           CAST(sum(gap) * 100 // count(*) AS BIGINT) AS avg_gap_e2,
           quantile_cont(gap, 0.25) AS p25_gap,
           quantile_cont(gap, 0.5) AS p50_gap,
           quantile_cont(gap, 0.75) AS p75_gap,
           CAST(max(gap) AS INT) AS max_gap
    FROM g WHERE gap IS NOT NULL
    """,
)
def _orders_interorder_gap_stats(spark, t):
    # purchase-cadence profile: days between consecutive orders of the
    # same customer, summarized globally. The lag window is PARTITIONED
    # by customer (bounded frames, no single-task trap); the final
    # 1-row aggregate is map-side combinable. Quantiles sit on integer
    # day counts at dyadic p, so the interpolated values are exact
    # halves/quarters in double — no cross-engine ulp drift. The mean
    # crosses as a rational (×100, truncating integer division).
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        t["orders"]
        .select(
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("gap")
        )
        .filter(F.col("gap").isNotNull())
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").alias("sum_gap_days"),
        F.expr("sum(gap) * 100 DIV count(1)").alias("avg_gap_e2"),
        F.expr("percentile(gap, 0.25)").alias("p25_gap"),
        F.expr("percentile(gap, 0.5)").alias("p50_gap"),
        F.expr("percentile(gap, 0.75)").alias("p75_gap"),
        F.max("gap").alias("max_gap"),
    )


@query(
    "orders_value_gini",
    """
    WITH cents AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c, o_orderkey) AS rnk
        FROM cents
    )
    SELECT count(*) AS n_orders,
           CAST(sum(c) AS BIGINT) AS total_cents,
           CAST(sum(rnk * c) AS DOUBLE) AS rank_weighted_cents,
           CAST(2 * sum(rnk * c) - (count(*) + 1) * sum(c) AS DOUBLE)
               / CAST(count(*) * sum(c) AS DOUBLE) AS gini
    FROM ranked
    """,
)
def _orders_value_gini(spark, t):
    # exact Gini coefficient of order-value inequality — the scalar
    # the Pareto top-share curve summarizes. Needs a total-order rank
    # over the fact, which is exactly what the DISTRIBUTED exact
    # ranking provides (range partition + per-partition row_number +
    # broadcast offsets; the oracle's global row_number is the
    # single-task shape the operator exists to avoid). The closed
    # form G = (2·Σrank·x − (n+1)·Σx) / (n·Σx) aggregates the
    # rank-weighted sum in a DECIMAL(38,0) accumulator (Σrank·cents
    # is ~n²·c̄/2 — already past int64 at the ×10 probe; DuckDB's sum
    # widens to HUGEINT on its own), then the ratio is ONE
    # deterministic conversion+division: the exact decimal/int128
    # values round to the same nearest double in both engines.
    # Deterministic tie-break on (cents, orderkey).
    cents = t["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    ranked = with_global_rank(cents, ["c", "o_orderkey"], "rnk")
    src = "sum(cast(rnk * c as decimal(38,0)))"
    sc = "cast(sum(c) as decimal(38,0))"
    return ranked.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("c").alias("total_cents"),
        F.expr(f"CAST({src} AS DOUBLE)").alias("rank_weighted_cents"),
        F.expr(
            f"CAST(2 * {src} - (count(1) + 1) * {sc} AS DOUBLE)"
            f" / CAST(count(1) * {sc} AS DOUBLE)"
        ).alias("gini"),
    )


@query(
    "orders_daily_autocorr",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
        FROM orders GROUP BY 1
    ),
    lags AS (SELECT * FROM (VALUES (1), (7), (28)) AS t(lag_days)),
    pairs AS (
        SELECT l.lag_days, a.n AS x, b.n AS y
        FROM daily a
        JOIN lags l ON TRUE
        JOIN daily b ON b.d = a.d + l.lag_days
    ),
    m AS (
        SELECT lag_days, count(*) AS n_pairs,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               sum(x::HUGEINT * y) AS sxy,
               sum(x::HUGEINT * x) AS sxx,
               sum(y::HUGEINT * y) AS syy
        FROM pairs GROUP BY 1
    )
    SELECT lag_days, n_pairs,
           (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS autocorr
    FROM m
    ORDER BY lag_days
    """,
)
def _orders_daily_autocorr(spark, t):
    # lag-{1,7,28} autocorrelation of the daily order-count series —
    # the seasonality detector behind orders_monthly_seasonality
    # (weekly/monthly rhythm shows up as high lag-7/lag-28 r). The
    # fact collapses to a date-grain series FIRST (≤ a few thousand
    # rows at any SF), so the lag self-join and the five exact moments
    # run on a dim-sized table; moments accumulate as exact integers
    # (decimal cross-products — the stats_corr_exact pattern) and ONE
    # shared IEEE formula produces the double on both engines.
    daily = (
        t["orders"]
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    lags = spark.range(0).sparkSession.createDataFrame(
        [(1,), (7,), (28,)], "lag_days int"
    )
    b = daily.select(F.col("d").alias("bd"), F.col("n").alias("y"))
    pairs = (
        daily.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.col("bd") == F.expr("date_add(d, lag_days)"),
        )
        .select("lag_days", F.col("n").alias("x"), "y")
    )
    m = pairs.groupBy("lag_days").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    nd = F.col("n_pairs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    # zero variance on either side → autocorr undefined → NULL. DuckDB
    # division by zero already yields NULL, so the oracle agrees; an
    # unguarded divide errors under Spark's ANSI mode (hypothesis
    # found the constant-series case in round 8).
    denom = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    corr = F.when(denom != 0, (nd * sxy - sx * sy) / denom)
    return m.select("lag_days", "n_pairs", corr.alias("autocorr")).orderBy(
        "lag_days"
    )


@query(
    "orders_monthly_price_bands",
    """
    WITH o AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS ym,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ),
    r AS (
        SELECT ym, cents,
               row_number() OVER (PARTITION BY ym
                                  ORDER BY cents, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY ym) AS n
        FROM o
    )
    SELECT ym, CAST(max(n) AS BIGINT) AS n_orders,
           max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
           max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS p90_cents,
           max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END)
               AS p99_cents
    FROM r GROUP BY ym ORDER BY ym
    """,
)
def _orders_monthly_price_bands(spark, t):
    # exact P50/P90/P99 order-value bands per month — the SLO-style
    # percentile report, discrete (type-1) quantiles so every value is
    # an actual order amount and every band is an exact BIGINT (no
    # interpolation, no float drift). Rank extraction: row_number
    # within each month (a value-partitioned window — per-month sort
    # is spill-backed at scale) + the partition count, then one cell
    # aggregate picks the ceil(p·n) ranks via integer arithmetic.
    # Month count is bounded (~84 here), so the output is dim-sized.
    o = t["orders"].select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("ym").orderBy("cents", "o_orderkey")
    r = o.select(
        "ym",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("ym")).alias("n"),
    )
    pick = lambda expr: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(expr), F.col("cents"))
    )
    return (
        r.groupBy("ym")
        .agg(
            F.max("n").alias("n_orders"),
            pick("(n + 1) DIV 2").alias("p50_cents"),
            pick("(9 * n + 9) DIV 10").alias("p90_cents"),
            pick("(99 * n + 99) DIV 100").alias("p99_cents"),
        )
        .orderBy("ym")
    )


@query(
    "lineitem_selfjoin_fanout_profile",
    """
    WITH c AS (
        SELECT l_partkey, count(*) AS cnt
        FROM lineitem GROUP BY 1
    ),
    b AS (
        -- length(bin(x))-1 == floor(log2(x)) in EXACT integer terms
        -- (libm log2 can ulp-flip at powers of two across engines)
        SELECT CAST(length(bin(cnt)) - 1 AS INT) AS bucket,
               cnt
        FROM c
    )
    SELECT bucket,
           count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS n_selfjoin_pairs
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def _lineitem_selfjoin_fanout_profile(spark, t):
    # join fan-out profiler — the skew-planning diagnostic run BEFORE
    # a self-equi-join: per log2 key-frequency bucket, how many keys,
    # rows, and C(cnt,2) pair comparisons a self-join on l_partkey
    # would generate. Σ pairs is the exact cost of the naive join; the
    # bucket tail shows whether a skew cap / salting is needed (the
    # number the LSH max_bucket cap and operators/skew.py act on).
    # One key-grain count with map-side combine, then a ≤64-row bucket
    # rollup. All integer: the log2 bucket comes from length(bin(cnt))
    # (libm log2 can ulp-flip at exact powers of two across engines)
    # and the pair count uses integer division; per-key pairs stay in
    # BIGINT for any cnt ≤ ~4.3B — past that the profile's answer is
    # "don't run this join".
    c = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        c.select(
            F.expr("CAST(length(bin(cnt)) - 1 AS INT)").alias("bucket"),
            "cnt",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.sum(
                F.expr("cnt * (cnt - 1) DIV 2")
            ).alias("n_selfjoin_pairs"),
        )
        .orderBy("bucket")
    )


@query(
    "orders_monthly_forecast_eval",
    """
    WITH m AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS ym,
               CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    )
    SELECT a.ym, a.cents AS actual_cents, f.cents AS forecast_cents,
           abs(a.cents - f.cents) AS abs_err_cents,
           abs(a.cents - f.cents) * 10000 // f.cents AS err_bp
    FROM m a JOIN m f ON f.ym = a.ym - 100
    ORDER BY a.ym
    """,
)
def _orders_monthly_forecast_eval(spark, t):
    # forecast-evaluation harness with the naive seasonal baseline:
    # forecast(month) = same month last year, scored per month in
    # exact integer cents and basis-point error — the baseline every
    # real forecasting model must beat, and the exact-arithmetic
    # error-accounting pattern its evaluation reuses (a float MAPE
    # would drift across engines; |a−f|·10⁴ DIV f cannot). Plan: one
    # month-grain aggregate off the fact, then a self-equi-join on
    # the ≤84-row month table (broadcast by size).
    m = (
        t["orders"]
        .groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
                "ym"
            )
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
        .persist()
    )
    f = m.select(
        (F.col("ym") + 100).alias("fym"), F.col("cents").alias("fc")
    )
    return (
        m.join(F.broadcast(f), F.col("ym") == F.col("fym"))
        .select(
            "ym",
            F.col("cents").alias("actual_cents"),
            F.col("fc").alias("forecast_cents"),
            F.abs(F.col("cents") - F.col("fc")).alias("abs_err_cents"),
            F.expr(
                "abs(cents - fc) * 10000 DIV fc"
            ).alias("err_bp"),
        )
        .orderBy("ym")
    )


@query(
    "orders_daily_drawdown",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT d, n,
               max(n) OVER (ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS peak
        FROM daily
    )
    SELECT CAST(d AS VARCHAR) AS d, n, peak,
           (peak - n) * 10000 // peak AS drawdown_bp
    FROM r
    ORDER BY 1
    """,
)
def _orders_daily_drawdown(spark, t):
    # running-peak drawdown of the daily order series — the
    # demand-collapse detector (how far below the best day so far is
    # today, in basis points). Finance's max-drawdown machinery
    # applied to volume. The fact collapses to the day grain first;
    # the running max is an unpartitioned window ONLY over that
    # calendar-bounded table (window-sweep allowlisted), and the
    # drawdown is integer basis points — no float path.
    daily = (
        t["orders"]
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.select(
            "d",
            "n",
            F.max("n").over(w).alias("peak"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "n",
            "peak",
            F.expr("(peak - n) * 10000 DIV peak").alias("drawdown_bp"),
        )
        .orderBy("d")
    )


@query(
    "orders_benford_screen",
    """
    SELECT o_orderstatus,
           CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INT) AS lead_digit,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents_total
    FROM orders
    WHERE o_totalprice >= 1
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def _orders_benford_screen(spark, t):
    # first-significant-digit histogram of order totals by status —
    # the Benford anomaly screen. Digit extraction is a string prefix
    # of the truncated integer part (identical semantics both
    # engines); money crosses the oracle in integer cents
    # (functions/exact.py convention), never summed as double.
    lead = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    return (
        t["orders"]
        .filter(F.col("o_totalprice") >= 1)
        .groupBy(
            "o_orderstatus", lead.alias("lead_digit")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents_total"),
        )
        .orderBy("o_orderstatus", "lead_digit")
    )
