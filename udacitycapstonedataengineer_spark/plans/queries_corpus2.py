"""Training-corpus assembly queries: sequence packing,
benchmark-contamination detection, mixture sampling, and the
end-to-end corpus pipeline report.

These are the steps BETWEEN a deduplicated corpus (plans/corpus.py)
and a tokenizer: pack documents into fixed-capacity training
sequences, prove the training set doesn't contain the eval set, and
resample sources to a target mixture. All three are pure native
expressions over integer/hash math, so every one is DuckDB-oracled.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint_sql
from ..operators.cell_budget import semdedup_closure_scaled
from ..operators.dedup import (
    H60,
    H60_SQL,
    SHINGLES_EXPR,
    TOKENS,
    exact_dedup_keep_canonical,
)
from ..operators.semdedup import semdedup_oracle_sql
from .queries_dedup import _SHINGLES_SQL, _TOKS_SQL
from .registry import query

_PACK_CAPACITY = 512  # tokens per training sequence


@query(
    "docs_pack_sequences",
    f"""
    WITH counted AS (
        SELECT doc_id, source,
               len({_TOKS_SQL}) AS n_tokens
        FROM documents
    ),
    offs AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   - n_tokens AS start_offset
        FROM counted
    )
    SELECT doc_id, source, n_tokens, start_offset,
           start_offset // {_PACK_CAPACITY} AS first_pack,
           (start_offset + n_tokens - 1) // {_PACK_CAPACITY} AS last_pack,
           (start_offset + n_tokens - 1) // {_PACK_CAPACITY}
               - start_offset // {_PACK_CAPACITY} + 1 AS n_packs
    FROM offs
    ORDER BY source, doc_id
    """,
)
def _docs_pack_sequences(spark, t):
    # concat-and-chunk sequence packing — the standard LLM-pretraining
    # layout: concatenate documents in a deterministic order, split at
    # fixed token boundaries, and record which packed sequence(s) each
    # document lands in. Everything is integer window math (cumulative
    # token offsets, truncating division == floor on non-negatives), so
    # the layout is bit-reproducible and oracled. The running sum is
    # per-SOURCE (each source is an independent stream); at 100 TB the
    # same plan shards further — per-file offsets plus a broadcast
    # prefix-sum of file totals, the standard two-pass distributed scan
    # — without changing any downstream pack ids.
    n_tokens = F.size(F.expr(TOKENS)).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cap = _PACK_CAPACITY
    offs = (
        t["documents"]
        .select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn(
            "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
    )
    first = F.expr(f"start_offset DIV {cap}")
    last = F.expr(f"(start_offset + n_tokens - 1) DIV {cap}")
    return offs.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        first.alias("first_pack"),
        last.alias("last_pack"),
        (last - first + 1).alias("n_packs"),
    ).orderBy("source", "doc_id")


@query(
    "docs_contamination_check",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest(shingles) AS shingle
        FROM (SELECT doc_id, {_SHINGLES_SQL} AS shingles
              FROM (SELECT doc_id, {_TOKS_SQL} AS toks, text FROM documents))
    ),
    eval_set AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    ),
    train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
    per_doc AS (
        SELECT t.doc_id,
               count(*) AS n_shingles,
               CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_overlap
        FROM train t LEFT JOIN eval_set e ON t.shingle = e.shingle
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_shingles, n_overlap,
           CAST(n_overlap AS DOUBLE) / n_shingles AS contamination
    FROM per_doc WHERE n_overlap > 0
    ORDER BY doc_id
    """,
)
def _docs_contamination_check(spark, t):
    # benchmark decontamination — the step that keeps eval answers out
    # of the training set. The "benchmark" here is a deterministic
    # held-out slice (doc_id % 97 = 0); real use swaps in the actual
    # eval suite. Mechanism: 3-word shingles (shared expression with
    # the dedup pipelines) of the eval set, broadcast against the
    # training side's shingle stream; per-doc overlap count and ratio
    # (one exact integer division). At scale the eval shingle set is
    # small by construction (benchmarks are MBs, corpora are TBs) — a
    # broadcast, never a shuffle of the corpus side.
    sh = (
        t["documents"]
        .withColumn("shingles", F.expr(SHINGLES_EXPR.format(t=TOKENS)))
        .select("doc_id", F.explode("shingles").alias("shingle"))
    )
    eval_set = F.broadcast(
        sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    ).withColumnRenamed("shingle", "eval_shingle")
    train = sh.filter(F.col("doc_id") % 97 != 0)
    per_doc = (
        train.join(
            eval_set, F.col("shingle") == F.col("eval_shingle"), "left_outer"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("eval_shingle").isNotNull(), 1).otherwise(0)
            ).alias("n_overlap"),
        )
    )
    return (
        per_doc.filter(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.col("n_shingles")).alias(
                "contamination"
            ),
        )
        .orderBy("doc_id")
    )


# Target mixture: per-source sampling rates in basis points (out of
# 10000). Sources absent from the map fall back to the default. The
# literals are embedded in BOTH engines' expressions.
_MIX_BP = {"src0": 10000, "src1": 7500, "src2": 5000, "src3": 2500}
_MIX_DEFAULT_BP = 1250


def _mix_case_sql() -> str:
    arms = " ".join(
        f"WHEN source = '{s}' THEN {bp}" for s, bp in sorted(_MIX_BP.items())
    )
    return f"CASE {arms} ELSE {_MIX_DEFAULT_BP} END"


@query(
    "corpus_mixture_sample",
    f"""
    WITH tagged AS (
        SELECT source,
               {H60_SQL.format(x="'mix|' || CAST(doc_id AS VARCHAR)")} % 10000
                   AS bucket,
               {_mix_case_sql()} AS rate_bp
        FROM documents
    )
    SELECT source,
           count(*) AS n_total,
           CAST(SUM(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM tagged
    GROUP BY source
    ORDER BY source
    """,
)
def _corpus_mixture_sample(spark, t):
    # source-mixture resampling — hit a target data mix (e.g. upweight
    # curated sources, downweight crawl) with a DETERMINISTIC keep
    # decision: the engine-portable 60-bit md5 hash of the doc id
    # against a per-source basis-point threshold. Reproducible across
    # runs/engines (same H60 scheme as the dedup pipelines), no RNG
    # state, no shuffle for the decision itself — the filter runs at
    # the scan. The query reports per-source kept/total so the realized
    # mix is auditable; the row-level variant is the same predicate as
    # a filter.
    bucket = F.expr(H60.format(x="concat('mix|', CAST(doc_id AS STRING))")) % 10000
    rate = F.lit(_MIX_DEFAULT_BP)
    for s, bp in sorted(_MIX_BP.items(), reverse=True):
        rate = F.when(F.col("source") == s, F.lit(bp)).otherwise(rate)
    return (
        t["documents"]
        .select("source", bucket.alias("bucket"), rate.alias("rate_bp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("bucket") < F.col("rate_bp"), 1).otherwise(0)
            ).alias("n_kept"),
        )
        .orderBy("source")
    )


_PACK_BUDGETS = [128, 512, 2048]


@query(
    "docs_pack_budget_sweep",
    f"""
    WITH counted AS (
        SELECT doc_id, source, len({_TOKS_SQL}) AS n_tokens
        FROM documents
    ),
    offs AS (
        SELECT source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   - n_tokens AS start_offset
        FROM counted
    ),
    b AS (SELECT unnest([{", ".join(map(str, _PACK_BUDGETS))}]) AS budget)
    SELECT b.budget,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN (start_offset // b.budget)
                              <> ((start_offset + n_tokens - 1) // b.budget)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing,
           CAST((sum(CASE WHEN (start_offset // b.budget)
                               <> ((start_offset + n_tokens - 1) // b.budget)
                          THEN 1 ELSE 0 END) * 10000)
                // count(*) AS BIGINT) AS crossing_bp
    FROM offs CROSS JOIN b
    GROUP BY 1
    ORDER BY 1
    """,
)
def _docs_pack_budget_sweep(spark, t):
    # packing-budget fragmentation sweep: at sequence budgets
    # 128/512/2048, how many documents straddle a pack boundary (and
    # so lose attention locality) under the concat-and-chunk layout
    # of docs_pack_sequences. Same integer offset math as the packer
    # — cumulative per-source token offsets, truncating division —
    # with the 3-row budget dimension broadcast over the doc-grain
    # offset table. One corpus tokenize-count, one per-source window,
    # ×3 fan-out at doc grain.
    n_tokens = F.size(
        F.split(F.lower(F.trim("text")), r"\s+")
    ).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = (
        t["documents"]
        .select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn(
            "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
    )
    b = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v) for v in _PACK_BUDGETS])
        ).alias("budget")
    )
    crossing = F.expr(
        "(start_offset DIV budget)"
        " <> ((start_offset + n_tokens - 1) DIV budget)"
    )
    return (
        offs.crossJoin(F.broadcast(b))
        .groupBy("budget")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(crossing.cast("int")).alias("n_crossing"),
        )
        .select(
            "budget",
            "n_docs",
            "total_tokens",
            "n_crossing",
            F.expr("(n_crossing * 10000) DIV n_docs").alias("crossing_bp"),
        )
        .orderBy("budget")
    )


@query(
    "corpus_sample_exact_counts",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('smp|' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT source, count(*) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
    FROM ranked
    WHERE rn <= 40
    GROUP BY source
    ORDER BY source
    """,
)
def _corpus_sample_exact_counts(spark, t):
    # exact-count reproducible sampling: take EXACTLY k docs per
    # source (not a rate — a count), chosen by ranking on a keyed md5
    # so the selected set is a pure function of doc ids: stable across
    # runs, engines, partitionings, and appends of UNSELECTED docs.
    # This is the quota-sampling counterpart of corpus_mixture_sample
    # (rate-based): mixture hits a ratio in expectation, this hits a
    # budget exactly — the "give me 1M docs per source for the
    # ablation" op. Plan: one per-source window over the md5 rank
    # (source-partitioned — spill-backed per group at scale; for very
    # few giant sources route through operators/ranking.py instead).
    # Output summarizes the selected set (count + id aggregates) so
    # the oracle proves the SAME docs were chosen, not just as many.
    k = 40
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("smp|"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        t["documents"]
        .select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# corpus_mixture_temperature
# ---------------------------------------------------------------------------
# Temperature-scaled source mixture (the UniMax / data-mixture shape,
# Chung et al. 2023; corpus_mixture_sample's rates are hand-pinned —
# here they are DERIVED from the corpus): per-source weight
# w_s = n_s^alpha with alpha = 0.5 flattens the source distribution
# (big crawl sources downweighted, small curated sources upweighted),
# the doc budget B = floor(total/2) is split proportionally, and the
# per-doc keep decision is the same deterministic H60 bucket
# predicate. Cross-engine exactness without trusting libm pow:
# alpha = 0.5 IS sqrt, which IEEE 754 requires correctly rounded, and
# every derived quantity is quantized to BIGINT before any
# order-sensitive aggregation — w_int = floor(sqrt(n)*1e6) sums
# exactly, shares and rates are integer-arithmetic floors
# (B*w_int/W_int fits in int64 up to ~10^9 docs per source at this
# quantization; re-scale the quantum beyond that).

_MIX_TEMP_BUDGET_SHARE = 2  # B = total // 2
_MIX_TEMP_Q = 1_000_000


def _corpus_mixture_temperature_oracle_sql() -> str:
    from ..operators.dedup import H60_SQL

    h = H60_SQL.format(x="'mixt|' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH counts AS (
        SELECT source, count(*) AS n_s FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_s,
               CAST(FLOOR(SQRT(CAST(n_s AS DOUBLE)) * {_MIX_TEMP_Q})
                    AS BIGINT) AS w_int
        FROM counts
    ),
    tot AS (
        SELECT CAST(SUM(w_int) AS BIGINT) AS w_tot,
               CAST(SUM(n_s) AS BIGINT) AS n_tot
        FROM w
    ),
    rates AS (
        SELECT w.source, w.n_s,
               LEAST(
                   w.n_s,
                   ((tot.n_tot // {_MIX_TEMP_BUDGET_SHARE}) * w.w_int)
                       // tot.w_tot
               ) AS keep_s
        FROM w CROSS JOIN tot
    ),
    bp AS (
        SELECT source, n_s,
               (10000 * keep_s) // n_s AS rate_bp
        FROM rates
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_total,
           MIN(bp.rate_bp) AS rate_bp,
           CAST(SUM(CASE WHEN ({h}) % 10000 < bp.rate_bp
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN bp USING (source)
    GROUP BY d.source
    ORDER BY d.source
    """


@query("corpus_mixture_temperature", _corpus_mixture_temperature_oracle_sql())
def _corpus_mixture_temperature(spark, t):
    """Per-source counts (one tiny aggregate) →
    integer-quantized sqrt weights → proportional budget split →
    deterministic H60 keep decision, reported per source as
    (n_total, rate_bp, n_kept). Shuffles: the source-grain count and
    the final source-grain report; the rate table is a collapsed
    ~|sources|-row aggregate joined back by source (broadcast-sized
    by construction), and the keep predicate runs at the scan —
    at 100 TB the decision adds zero corpus-grain shuffles."""
    from ..operators.dedup import H60

    docs = t["documents"]
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    w = counts.select(
        "source",
        "n_s",
        F.floor(F.sqrt(F.col("n_s").cast("double")) * _MIX_TEMP_Q)
        .cast("long")
        .alias("w_int"),
    )
    tot = w.agg(
        F.sum("w_int").cast("long").alias("w_tot"),
        F.sum("n_s").cast("long").alias("n_tot"),
    )
    # exact INTEGER division on both engines (Spark `div` ≡ DuckDB
    # `//` for non-negative BIGINTs) — no double division anywhere in
    # the rate derivation, so there is nothing to ulp-drift
    rates = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            F.least(
                F.col("n_s"),
                F.expr(
                    f"((n_tot div {_MIX_TEMP_BUDGET_SHARE}) * w_int)"
                    " div w_tot"
                ),
            ).alias("keep_s"),
        )
        .select(
            "source",
            F.expr("(10000 * keep_s) div n_s").alias("rate_bp"),
        )
    )
    bucket = (
        F.expr(H60.format(x="concat('mixt|', CAST(doc_id AS STRING))"))
        % 10000
    )
    return (
        docs.select("source", bucket.alias("bucket"))
        .join(rates, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.min("rate_bp").alias("rate_bp"),
            F.sum(
                F.when(F.col("bucket") < F.col("rate_bp"), 1).otherwise(0)
            ).alias("n_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# corpus_mixture_temperature_alpha
# ---------------------------------------------------------------------------
# Quantum 10³ (not the sqrt row's 10⁶): keep_s = (B·w_int)//w_tot
# must fit int64, and the α=0.75 weight grows as n^0.75 — at Q=10³
# the product stays in-range up to ~2·10⁹ docs corpus-wide (re-scale
# the quantum per-shard beyond that, the documented sqrt-row path).
_MIX_ALPHA_Q = 1_000
_MIX_ALPHAS = (25, 50, 75)  # alpha·100


def _corpus_mixture_temperature_alpha_oracle_sql() -> str:
    from ..operators.dedup import H60_SQL

    h = H60_SQL.format(x="'mixa|' || CAST(doc_id AS VARCHAR)")
    nd = "CAST(n_s AS DOUBLE)"
    q = _MIX_ALPHA_Q
    return f"""
    WITH counts AS (
        SELECT source, count(*) AS n_s FROM documents GROUP BY source
    ),
    alphas AS (SELECT unnest([{", ".join(str(a) for a in _MIX_ALPHAS)}])
               AS alpha_pct),
    w AS (
        SELECT a.alpha_pct, c.source, c.n_s,
               CASE a.alpha_pct
                   WHEN 25 THEN
                       CAST(FLOOR(SQRT(SQRT({nd})) * {q}) AS BIGINT)
                   WHEN 50 THEN
                       CAST(FLOOR(SQRT({nd}) * {q}) AS BIGINT)
                   ELSE
                       CAST(FLOOR((SQRT({nd}) * SQRT(SQRT({nd}))) * {q})
                            AS BIGINT)
               END AS w_int
        FROM counts c CROSS JOIN alphas a
    ),
    tot AS (
        SELECT alpha_pct, CAST(SUM(w_int) AS BIGINT) AS w_tot,
               CAST(SUM(n_s) AS BIGINT) AS n_tot
        FROM w GROUP BY alpha_pct
    ),
    rates AS (
        SELECT w.alpha_pct, w.source, w.n_s,
               LEAST(
                   w.n_s,
                   ((tot.n_tot // {_MIX_TEMP_BUDGET_SHARE}) * w.w_int)
                       // tot.w_tot
               ) AS keep_s
        FROM w JOIN tot USING (alpha_pct)
    ),
    bp AS (
        SELECT alpha_pct, source, n_s,
               (10000 * keep_s) // n_s AS rate_bp
        FROM rates
    )
    SELECT d.source, bp.alpha_pct,
           CAST(count(*) AS BIGINT) AS n_total,
           MIN(bp.rate_bp) AS rate_bp,
           CAST(SUM(CASE WHEN ({h}) % 10000 < bp.rate_bp
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN bp USING (source)
    GROUP BY d.source, bp.alpha_pct
    ORDER BY d.source, bp.alpha_pct
    """


@query(
    "corpus_mixture_temperature_alpha",
    _corpus_mixture_temperature_alpha_oracle_sql(),
)
def _corpus_mixture_temperature_alpha(spark, t):
    """ONE corpus-grain aggregate builds the
    (source, bucket) histogram (bucket = the H60 keep hash mod 10⁴,
    so the histogram is ≤ sources·10⁴ rows — bounded regardless of
    corpus size); everything after runs on bounded tables: the 3-row
    alpha dim cross-joins the per-source counts, weights/budgets/
    rates derive by the same integer math as the oracle, and the
    per-(source, alpha) keep counts come from the HISTOGRAM joined to
    the broadcast rate table — the 3× alpha fan-out touches
    histogram-grain rows, never the corpus. At 100 TB the sweep adds
    zero corpus-grain shuffles beyond the one histogram aggregate."""
    from ..operators.dedup import H60

    docs = t["documents"]
    bucket = (
        F.expr(H60.format(x="concat('mixa|', CAST(doc_id AS STRING))"))
        % 10000
    )
    hist = (
        docs.select("source", bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = hist.groupBy("source").agg(F.sum("cnt").alias("n_s"))
    alphas = spark.createDataFrame(
        [(a,) for a in _MIX_ALPHAS], "alpha_pct int"
    )
    nd = F.col("n_s").cast("double")
    q = _MIX_ALPHA_Q
    w_int = (
        F.when(
            F.col("alpha_pct") == 25,
            F.floor(F.sqrt(F.sqrt(nd)) * q),
        )
        .when(F.col("alpha_pct") == 50, F.floor(F.sqrt(nd) * q))
        .otherwise(F.floor((F.sqrt(nd) * F.sqrt(F.sqrt(nd))) * q))
        .cast("long")
    )
    w = counts.crossJoin(F.broadcast(alphas)).select(
        "alpha_pct", "source", "n_s", w_int.alias("w_int")
    )
    tot = w.groupBy("alpha_pct").agg(
        F.sum("w_int").cast("long").alias("w_tot"),
        F.sum("n_s").cast("long").alias("n_tot"),
    )
    rates = (
        w.join(F.broadcast(tot), "alpha_pct")
        .select(
            "alpha_pct",
            "source",
            "n_s",
            F.least(
                F.col("n_s"),
                F.expr(
                    f"((n_tot div {_MIX_TEMP_BUDGET_SHARE}) * w_int)"
                    " div w_tot"
                ),
            ).alias("keep_s"),
        )
        .select(
            "alpha_pct",
            "source",
            F.expr("(10000 * keep_s) div n_s").alias("rate_bp"),
        )
    )
    return (
        hist.join(F.broadcast(rates), "source")
        .groupBy("source", "alpha_pct")
        .agg(
            F.sum("cnt").alias("n_total"),
            F.min("rate_bp").alias("rate_bp"),
            F.sum(
                F.when(
                    F.col("bucket") < F.col("rate_bp"), F.col("cnt")
                ).otherwise(F.lit(0))
            ).alias("n_kept"),
        )
        .orderBy("source", "alpha_pct")
    )


# ---------------------------------------------------------------------------
# corpus_pipeline_report
# ---------------------------------------------------------------------------
# Stage parameters: gates = the registered docs_quality_gate_funnel
# thresholds; SemDeDup = the budgeted cell target (multi-cell at
# every local SF); mixture = the sqrt-temperature policy with its
# quantum/budget, salted 'pipe|' so the keep decision is independent
# of the standalone mixture row's; packing = the registered
# docs_chunk_windows stride.
#
# threshold=0.4, NOT the standalone family's 0.2: at the gate scales
# the embeddings cover the whole doc id space, and at 0.2 (≈1.6σ of
# random 64-dim cosine) within-cell components go giant — the funnel
# collapsed to ~k survivors and ZERO mixture keeps at sf0.01, making
# stages 5-6 vacuous (an empty tail trivially hash-matches and hides
# bugs — the verify discipline forbids it). At 0.4 every stage drops
# something at sf0.001/sf0.01 (e.g. sf0.01: 352 exact → 338 sem →
# 151 mix → 449 chunks) while the pair/closure machinery still
# exercises multi-member components.
_PIPE_TARGET_CELL = 100
_PIPE_PARAMS = dict(iters=2, dim=64, threshold=0.4)
_PIPE_Q = 1_000_000
_PIPE_BUDGET_SHARE = 2
_PIPE_STRIDE = 150

# derived k over the SemDeDup INPUT (the exact-dedup survivors'
# embeddings) — pure integer ceil-division, the SQL twin of derive_k
_PIPE_K_SQL = (
    f"(SELECT GREATEST(1, (count(*) + {_PIPE_TARGET_CELL - 1})"
    f" // {_PIPE_TARGET_CELL}) FROM sem_in)"
)


def _corpus_pipeline_report_oracle_sql() -> str:
    pairs_sql = semdedup_oracle_sql(
        k_sql=_PIPE_K_SQL, table="sem_in", **_PIPE_PARAMS
    )
    h = H60_SQL.format(x="'pipe|' || CAST(doc_id AS VARCHAR)")
    return rf"""
    WITH RECURSIVE gated AS (
        SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text, n_chars,
                   len(list_filter(regexp_split_to_array(lower(text),
                                                         '\s+'),
                                   s -> s <> '')) AS n_toks,
                   length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
                       AS n_punct
            FROM documents)
        WHERE n_chars >= 200 AND n_toks >= 30
              AND n_punct * 100 <= n_chars * 20
    ),
    exact AS (
        SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text,
                   min(doc_id) OVER (PARTITION BY {fingerprint_sql()})
                       AS __min_id
            FROM gated)
        WHERE doc_id = __min_id
    ),
    sem_in AS (
        SELECT e.* FROM embeddings e JOIN exact x ON e.vec_id = x.doc_id
    ),
    kd AS (SELECT CAST({_PIPE_K_SQL} AS BIGINT) AS derived_k),
    pairs AS (SELECT vec_a, vec_b FROM ( {pairs_sql} ) q),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION
        SELECT vec_b, vec_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT g.src, r.lbl FROM edges g JOIN reach r ON g.dst = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component
             FROM reach GROUP BY node),
    sem AS (
        SELECT x.doc_id, x.source, x.text FROM exact x
        WHERE x.doc_id NOT IN
              (SELECT node FROM comp WHERE node != component)
    ),
    counts AS (SELECT source, count(*) AS n_s FROM sem GROUP BY source),
    w AS (
        SELECT source, n_s,
               CAST(FLOOR(SQRT(CAST(n_s AS DOUBLE)) * {_PIPE_Q})
                    AS BIGINT) AS w_int
        FROM counts
    ),
    tot AS (
        SELECT CAST(SUM(w_int) AS BIGINT) AS w_tot,
               CAST(SUM(n_s) AS BIGINT) AS n_tot
        FROM w
    ),
    bp AS (
        SELECT source,
               (10000 * LEAST(
                   w.n_s,
                   ((tot.n_tot // {_PIPE_BUDGET_SHARE}) * w.w_int)
                       // tot.w_tot
               )) // w.n_s AS rate_bp
        FROM w CROSS JOIN tot
    ),
    mix AS (
        SELECT s.doc_id, s.source, s.text
        FROM sem s JOIN bp USING (source)
        WHERE ({h}) % 10000 < bp.rate_bp
    ),
    st_raw AS (SELECT source, count(*) AS n_raw
               FROM documents GROUP BY source),
    st_q AS (SELECT source, count(*) AS n_quality
             FROM gated GROUP BY source),
    st_e AS (SELECT source, count(*) AS n_exact
             FROM exact GROUP BY source),
    st_s AS (SELECT source, count(*) AS n_sem FROM sem GROUP BY source),
    st_m AS (
        -- outer CAST: DuckDB SUM(BIGINT) yields HUGEINT, which
        -- pandas reads as float64 — the driver's string compare
        -- would then see "449.0" vs Spark's "449"
        SELECT source, count(*) AS n_mix,
               CAST(SUM(CASE WHEN length(text) > 0
                   THEN CAST(FLOOR((length(text) - 1) / {_PIPE_STRIDE})
                             AS BIGINT) + 1
                   ELSE 0 END) AS BIGINT) AS n_chunks
        FROM mix GROUP BY source
    )
    SELECT r.source, r.n_raw,
           COALESCE(st_q.n_quality, 0) AS n_quality,
           COALESCE(st_e.n_exact, 0) AS n_exact,
           COALESCE(st_s.n_sem, 0) AS n_sem,
           COALESCE(st_m.n_mix, 0) AS n_mix,
           COALESCE(st_m.n_chunks, 0) AS n_chunks,
           kd.derived_k
    FROM st_raw r
    LEFT JOIN st_q USING (source)
    LEFT JOIN st_e USING (source)
    LEFT JOIN st_s USING (source)
    LEFT JOIN st_m USING (source)
    CROSS JOIN kd
    ORDER BY source
    """


@query("corpus_pipeline_report", _corpus_pipeline_report_oracle_sql())
def _corpus_pipeline_report(spark, t):
    """The ``prepare_corpus`` chain re-expressed
    with this repo's ORACLED stage semantics and reported as the
    per-source funnel. Shuffles: the fingerprint window (exact
    dedup), the cell-budget pair join + closure (corpus-linear by
    construction), and five source-grain aggregates; the mixture rate
    table and every stage-count table are broadcast-sized. At 100 TB
    each stage would persist its survivor table — this row is the
    weekly report over exactly those stage semantics."""
    docs = t["documents"]
    emb = t["embeddings"]
    n_toks = F.size(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda s: s != "")
    )
    n_punct = F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", ""))
    gated = docs.filter(
        (F.col("n_chars") >= 200)
        & (n_toks >= 30)
        & (n_punct * 100 <= F.col("n_chars") * 20)
    )
    # persisted (guide §5): three consumers (the semdedup input,
    # the survivor anti-join, the stage count) re-derived the
    # fingerprint window otherwise; at 100 TB this IS the stage's
    # persisted survivor table (docstring below)
    exact = (
        exact_dedup_keep_canonical(gated)
        .select("doc_id", "source", "text")
        .persist()
    )
    sem_in = emb.join(
        exact.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    comp, k = semdedup_closure_scaled(
        sem_in, target_cell=_PIPE_TARGET_CELL, **_PIPE_PARAMS
    )
    dropped = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    # persisted: consumed by the mixture rate table, the sampled mix
    # scan, and the stage count (same §5 rationale as `exact`)
    sem = exact.join(dropped, "doc_id", "left_anti").persist()
    counts = sem.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    w = counts.select(
        "source",
        "n_s",
        F.floor(F.sqrt(F.col("n_s").cast("double")) * _PIPE_Q)
        .cast("long")
        .alias("w_int"),
    )
    tot = w.agg(
        F.sum("w_int").cast("long").alias("w_tot"),
        F.sum("n_s").cast("long").alias("n_tot"),
    )
    bp = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.expr(
                f"(10000 * least(n_s,"
                f" ((n_tot div {_PIPE_BUDGET_SHARE}) * w_int) div w_tot))"
                " div n_s"
            ).alias("rate_bp"),
        )
    )
    bucket = (
        F.expr(H60.format(x="concat('pipe|', CAST(doc_id AS STRING))"))
        % 10000
    )
    mix = (
        sem.withColumn("bucket", bucket)
        .join(F.broadcast(bp), "source")
        .filter(F.col("bucket") < F.col("rate_bp"))
    )
    chunks_per_doc = (
        F.when(
            F.length("text") > 0,
            F.floor((F.length("text") - 1) / _PIPE_STRIDE).cast("long")
            + 1,
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    st_raw = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    st_q = gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_quality")
    )
    st_e = exact.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    st_s = sem.groupBy("source").agg(F.count(F.lit(1)).alias("n_sem"))
    st_m = mix.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_mix"),
        F.sum(chunks_per_doc).alias("n_chunks"),
    )
    return (
        st_raw.join(F.broadcast(st_q), "source", "left")
        .join(F.broadcast(st_e), "source", "left")
        .join(F.broadcast(st_s), "source", "left")
        .join(F.broadcast(st_m), "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).cast("long").alias(
                "n_quality"
            ),
            F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact"),
            F.coalesce("n_sem", F.lit(0)).cast("long").alias("n_sem"),
            F.coalesce("n_mix", F.lit(0)).cast("long").alias("n_mix"),
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias(
                "n_chunks"
            ),
            F.lit(k).cast("long").alias("derived_k"),
        )
        .orderBy("source")
    )
