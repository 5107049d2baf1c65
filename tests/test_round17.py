"""Round-17 pins: the printed-line measurement contract (VERDICT r16
next #1 — 11 adjudication rulings consumed the whole tail budget and
the driver's PERF got an empty per_query map two rounds running) and
salvage transparency (VERDICT r16 next #10).

No Spark session needed: every target is a pure function, exercised
the way tests/test_round15.py established.
"""

from __future__ import annotations

import json
import os


def _bench_mod():
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod_r17", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --- per-query quota on the printed line (VERDICT r16 next #1) --------


def _r16_shaped_out(b, n_regressions: int) -> dict:
    """Replay of the r16 driver line: 121 timings + full adjudication
    rows (contamination context, canary brackets, isolated pins)."""
    queries = {f"query_family_{i:03d}_long_name": 0.5 + i / 100 for i in range(121)}
    regressions = {}
    for i in range(n_regressions):
        name = f"query_family_{i:03d}_long_name"
        regressions[name] = b.adjudicate_flag(
            {
                "sec": 2.0 + i,
                "baseline_sec": 1.0,
                "contaminated": True,
                "segment_hot": True,
                "canary_before": 0.296,
                "canary_after": 0.317,
            },
            2.665 if i % 2 else None,
        )
    return {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "n_queries": len(queries),
        "canary": {"query": "global_counts", "hot_readings": 11},
        "sat_canary": {"best_sec": 0.3, "baseline_sec": 0.26},
        "salvaged_delta_sec": 0.0,
        "shared_ratio": 0.934,
        "regressions": regressions,
    }


def test_fit_line_keeps_query_quota_under_heavy_rulings():
    """The exact r16 failure: 11 full rulings left room for ZERO of
    121 timings. The quota now wins: the line must carry at least
    _MIN_LINE_QUERIES heaviest-first timings, stay under budget, and
    keep the omitted counts visible."""
    b = _bench_mod()
    out = _r16_shaped_out(b, n_regressions=11)
    line = b._fit_line(out)
    assert len(json.dumps(line)) <= b._TAIL_BUDGET
    assert len(line["queries"]) >= b._MIN_LINE_QUERIES
    # heaviest-first: every kept timing >= every omitted one
    kept = set(line["queries"])
    omitted_max = max(
        v for n, v in out["queries"].items() if n not in kept
    )
    assert min(line["queries"].values()) >= omitted_max
    assert line["queries_omitted"] == 121 - len(line["queries"])
    # regressions compressed to top-N, each row name+3 fields only
    assert len(line["regressions"]) <= b._MAX_LINE_REGRESSIONS
    for row in line["regressions"].values():
        if isinstance(row, dict):
            assert set(row) <= {"sec", "baseline_sec", "ruling"}
    assert line["regressions_omitted"] == 11 - len(line["regressions"])
    # the compressed rows are the most severe ones (ratio = sec/baseline)
    worst = max(out["regressions"], key=lambda n: out["regressions"][n]["sec"])
    assert worst in line["regressions"]


def test_fit_line_unchanged_when_everything_fits():
    b = _bench_mod()
    out = _r16_shaped_out(b, n_regressions=1)
    out["queries"] = {"q1": 1.0, "q2": 2.0}
    out["n_queries"] = 2
    line = b._fit_line(out)
    assert line["queries"] == {"q1": 1.0, "q2": 2.0}
    # nothing was trimmed, so the full adjudication row survives
    assert "canary_before" in next(iter(line["regressions"].values()))


def test_fit_line_salvaged_delta_survives_trimming():
    """VERDICT r16 next #10: the salvage total must reach the driver's
    recorded line even when timings are being trimmed for budget."""
    b = _bench_mod()
    out = _r16_shaped_out(b, n_regressions=11)
    out["salvaged_delta_sec"] = 4.321
    line = b._fit_line(out)
    assert line["salvaged_delta_sec"] == 4.321
    assert len(json.dumps(line)) <= b._TAIL_BUDGET


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
