"""Sampled recall@k evaluation for the ANN serving path.

``ann_ivfpq_recall_curve`` / ``_served`` (plans/queries_sim.py)
measure recall for ONE pinned query vector — hash-checkable against
DuckDB, but a production index is tuned against a SAMPLE of real
queries. This module is that offline eval job:

- ``exact_topk_multi``: the exact-L2 top-k for ALL sampled queries in
  ONE corpus pass — the Q query vectors shipped as a broadcast
  DataFrame (createDataFrame + crossJoin(broadcast), ADVICE r11 #5:
  per-float literals put Q·dim nodes in the plan and risk
  codegen/plan-size limits as the sample grows; the broadcast table
  keeps the plan O(1) in Q), per-query top-k via a
  (query-partitioned) rank window. Q·N candidate rows through one
  shuffle: the honest cost of exact ground truth, linear in the
  corpus for a fixed sample (never Q separate scans).
- ``ivfpq_recall_at_k``: the ADC probes of ALL sampled queries fused
  into one scan of the union of probed cells (``ivfpq_topk_multi`` —
  per-query LUTs on a broadcast relation, partition-pruned on a
  written index, one window for the per-query top-k) joined ONCE
  against the ground truth; returns (query_vec_id, hits, recall) —
  model-sized state only, no per-query corpus scan.

Gates: ``test_exact_topk_multi_matches_per_query`` (one-pass ground
truth ≡ the per-query `_exact_topk_flags` used by every driver-gated
ANN query) and ``test_ivfpq_recall_at_k_sample`` (pinned-query recall
equals the registered curve's value at the same nprobe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_topk_multi(
    emb: DataFrame, queries: list[tuple[int, list[float]]], k: int
) -> DataFrame:
    """(query_vec_id, vec_id): the exact-L2 top ``k`` corpus ids for
    every (query_vec_id, vector) in ``queries``, one corpus pass.
    Ties broken by vec_id, matching ``_exact_topk_flags``. The query
    sample rides a broadcast DataFrame, so the plan stays O(1) in Q —
    only the broadcast payload (Q·dim doubles, sample-sized) grows."""
    qdf = emb.sparkSession.createDataFrame(
        [(int(qid), [float(x) for x in vec]) for qid, vec in queries],
        "query_vec_id bigint, qv array<double>",
    )
    w = Window.partitionBy("query_vec_id").orderBy("d2", "vec_id")
    return (
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias(
                "v"
            ),
        )
        .crossJoin(F.broadcast(qdf))
        .select(
            "query_vec_id",
            "vec_id",
            F.expr(
                "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),"
                " 0D, (acc, w) -> acc + w)"
            ).alias("d2"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_vec_id", "vec_id")
    )


def ivfpq_recall_at_k(
    index: DataFrame,
    cents: DataFrame,
    books: DataFrame,
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 2,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(query_vec_id, hits, recall) per sampled query, ordered by id —
    the per-query recall@k of the ADC probe against the one-pass exact
    ground truth. Callers tune nprobe on the POOLED mean
    (``recall.agg(avg)``); the per-query rows expose the tail (a mean
    hides queries whose cell was mis-probed).

    ``candidates`` (filtered serving, VERDICT r13 next #7): the
    metadata-filtered subset eligible to be RETURNED — the exact
    ground truth ranks only these rows, while query vectors still
    resolve from the full ``emb`` (a query point need not satisfy its
    own filter). The caller applies the same predicate to ``index``
    so the probe side matches; default None = unfiltered (byte-level
    behavior unchanged for every registered query)."""
    # an empty sample would pass both validations below and then
    # crash opaquely at the fused probe (empty LUT relation) after the
    # corpus collect already ran — same ValueError contract as the
    # other invalid-sample cases
    if not query_ids:
        raise ValueError("ivfpq_recall_at_k: empty query_ids")
    # ADVICE r11 #3: duplicate ids would collapse into one row_number
    # partition in exact_topk_multi (corrupting that query's ground
    # truth) and double-emit its per-query row — reject at entry,
    # alongside the missing-id check below
    dupes = sorted({q for q in query_ids if query_ids.count(q) > 1})
    if dupes:
        raise ValueError(
            f"ivfpq_recall_at_k: duplicate query ids {dupes}"
        )
    id_rows = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(
            F.col("vec_id").isin([int(q) for q in query_ids])
        ).collect()
    }
    missing = [q for q in query_ids if q not in id_rows]
    if missing:
        raise ValueError(f"ivfpq_recall_at_k: unknown query ids {missing}")
    exact = exact_topk_multi(
        emb if candidates is None else candidates,
        [(q, id_rows[q]) for q in query_ids],
        k,
    ).persist()
    # all Q probes fused into ONE scan of the union of probed cells
    # (guide §2.4 — r17): the model is collected once, each query's
    # per-cell LUTs ride one broadcast relation, per-query top-k is
    # one window over Q·topk-bounded narrow rows, and the ground
    # truth joins once for the whole sample instead of once per
    # query. Row-identical to the former per-query ivfpq_topk loop
    # (same probe order, same LUT doubles, same (adc_dist2, vec_id)
    # ranking) — pinned by test_recall_at_k_fused_matches_loop.
    from .ivfpq import ivfpq_topk_multi

    top = ivfpq_topk_multi(
        index,
        cents,
        books,
        [(q, id_rows[q]) for q in query_ids],
        nprobe,
        k,
    )
    hits = (
        top.join(
            F.broadcast(exact.withColumn("__hit", F.lit(1))),
            ["query_vec_id", "vec_id"],
            "left",
        )
        .groupBy("query_vec_id")
        .agg(F.count("__hit").alias("hits"))
    )
    # a query whose probed cells hold zero eligible rows must still
    # report hits=0, exactly as the per-query loop's global agg did
    qdf = index.sparkSession.createDataFrame(
        [(int(q),) for q in query_ids], "query_vec_id bigint"
    )
    return (
        qdf.join(hits, "query_vec_id", "left")
        .select(
            "query_vec_id",
            F.coalesce("hits", F.lit(0).cast("long")).alias("hits"),
            (
                F.coalesce("hits", F.lit(0).cast("long")).cast("double")
                / F.lit(float(k))
            ).alias("recall"),
        )
        .orderBy("query_vec_id")
    )
