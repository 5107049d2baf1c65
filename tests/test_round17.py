"""Round-17 pins: the fused IVF-PQ probes match the per-point and
per-query loops they replaced (VERDICT r16 next #3), the k-means
literal-model ceiling falls back to a broadcast join, and recall@k
query ids are bigint end to end."""

from __future__ import annotations


# --- fused IVF-PQ probes ≡ the per-point/per-query loop (VERDICT r16
# next #3) -------------------------------------------------------------


def test_recall_curve_fused_matches_loop(spark, sf_dir):
    """ivfpq_recall_curve (one scan + one window) must be row-identical
    to the historical shape: one ivfpq_topk + exact-join + global agg
    per nprobe point, unioned. Exercises the probe-prefix property and
    the broadcast-LUT join against the literal-LUT CASE."""
    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_recall_curve,
        ivfpq_topk,
    )
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        _exact_topk_flags,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents, books, index = ivfpq_build(emb, nlist=8, m=8, k=16, iters=2)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).head()["embedding"]
    ]
    nprobes, topk = (1, 2, 4, 8), 10
    exact = _exact_topk_flags(emb, q, topk)

    fused = ivfpq_recall_curve(
        index, cents, books, q, nprobes, topk, exact
    ).collect()

    # the historical per-point loop, inlined as the reference
    ref = []
    for np_ in nprobes:
        top = ivfpq_topk(index, cents, books, q, nprobe=np_, topk=topk)
        hits = (
            top.join(F.broadcast(exact), "vec_id", "left")
            .agg(F.count(F.when(F.col("in_exact_topk"), 1)).alias("hits"))
            .head()["hits"]
        )
        ref.append((np_, hits, hits / float(topk)))

    assert [(r["nprobe"], r["hits"], r["recall"]) for r in fused] == ref
    # schema is part of the oracle contract (string-compared dtypes)
    got = {f.name: f.dataType.simpleString() for f in ivfpq_recall_curve(
        index, cents, books, q, nprobes, topk, exact
    ).schema.fields}
    assert got == {"nprobe": "int", "hits": "bigint", "recall": "double"}


# --- literal-model ceiling on the assignment primitive (VERDICT r16
# next #8 / ADVICE r16 #2) ----------------------------------------------


def test_kmeans_assign_fallback_above_literal_ceiling(
    spark, sf_dir, monkeypatch
):
    """Above LITERAL_MODEL_CEILING the assignment primitive must (a)
    refuse at the expression level and (b) fall back to the
    broadcast-join + struct-min shape in kmeans_assign, row-identical
    to the literal map-only path."""
    import pytest

    from udacitycapstonedataengineer_spark.operators import clustering as C
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    vectors, cents = C.kmeans_fit(emb, k=8, iters=2)
    lit = sorted(map(tuple, C.kmeans_assign(vectors, cents).collect()))

    monkeypatch.setattr(C, "LITERAL_MODEL_CEILING", 1)
    fb = C.kmeans_assign(vectors, cents)
    plan = fb._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, plan[:2000]  # the join shape engaged
    assert sorted(map(tuple, fb.collect())) == lit
    assert dict(fb.dtypes) == {"vec_id": "bigint", "cluster": "bigint"}
    with pytest.raises(ValueError, match="LITERAL_MODEL_CEILING"):
        C.centroid_assign_expr(C.model_rows(cents))


def test_recall_at_k_fused_matches_loop(spark, sf_dir):
    """ivfpq_recall_at_k (now one fused multi-query scan) must be
    row-identical to the historical per-query ivfpq_topk loop."""
    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_topk,
    )
    from udacitycapstonedataengineer_spark.operators.recall_eval import (
        exact_topk_multi,
        ivfpq_recall_at_k,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents, books, index = ivfpq_build(emb, nlist=8, m=8, k=16, iters=2)
    qids, k, nprobe = [3, 7, 11, 19], 10, 2

    fused = ivfpq_recall_at_k(
        index, cents, books, emb, qids, k=k, nprobe=nprobe
    )
    got = [
        (r["query_vec_id"], r["hits"], r["recall"]) for r in fused.collect()
    ]

    id_rows = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    exact = exact_topk_multi(emb, [(q, id_rows[q]) for q in qids], k)
    ref = []
    for q in qids:
        top = ivfpq_topk(index, cents, books, id_rows[q], nprobe, k)
        truth = exact.filter(F.col("query_vec_id") == q).select("vec_id")
        hits = (
            top.join(F.broadcast(truth), "vec_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("hits"))
            .head()["hits"]
        )
        ref.append((q, hits, hits / float(k)))
    assert got == ref
    sch = {f.name: f.dataType.simpleString() for f in fused.schema.fields}
    assert sch == {
        "query_vec_id": "bigint",
        "hits": "bigint",
        "recall": "double",
    }


def test_recall_at_k_query_ids_are_bigint(spark, sf_dir):
    """Query ids share vec_id's bigint width end to end: an id at or
    above 2^31 probes and scores like any other, and the fused result
    is keyed with exact_topk_multi's type."""
    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.operators.ivfpq import ivfpq_build
    from udacitycapstonedataengineer_spark.operators.recall_eval import (
        exact_topk_multi,
        ivfpq_recall_at_k,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    base = 2**31
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "vec_id", F.col("vec_id") + F.lit(base)
    )
    cents, books, index = ivfpq_build(emb, nlist=4, m=8, k=16, iters=2)
    qids = [base + 3, base + 7]
    fused = ivfpq_recall_at_k(index, cents, books, emb, qids, k=5, nprobe=2)
    rows = fused.collect()
    assert [r["query_vec_id"] for r in rows] == qids
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)

    row = emb.filter(F.col("vec_id") == qids[0]).head()
    vec = [float(x) for x in row["embedding"]]
    exact = exact_topk_multi(emb, [(qids[0], vec)], 5)
    key = fused.schema["query_vec_id"].dataType
    assert key == exact.schema["query_vec_id"].dataType
