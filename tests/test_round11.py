"""Round-11 pins: served recall curve partition pruning, KN
append-equals-rebuild merge, and the ADVICE r10 empty-batch contracts
for the IVF-PQ governance pair."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udacitycapstonedataengineer_spark.plans import queries  # noqa: F401
from udacitycapstonedataengineer_spark.plans.queries import QUERIES
from udacitycapstonedataengineer_spark.plans.queries_text import (
    _KN_BATCH_WHERE,
    kn_bigram_merge,
)
from udacitycapstonedataengineer_spark.plans.queries_text import _doc_bigrams
from udacitycapstonedataengineer_spark.sources.readers import load_table


def test_ivfpq_recall_curve_served_partition_pruned(spark, sf_dir):
    """VERDICT r10 #5 done-criterion, updated for the r17 fusion
    (VERDICT r16 next #3): the served recall curve reads the written
    index in exactly ONE scan — carrying a PartitionFilter on ``cell``
    for the max-nprobe probe set — instead of one pruned scan per
    point. More than one index scan means the per-point loop crept
    back; zero means the pruning was lost."""
    df = QUERIES["ann_ivfpq_recall_curve_served"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    chunks = plan.split("PartitionFilters")[1:]
    pruned = [c for c in chunks if "cell" in c[:200]]
    assert len(pruned) == 1, f"pruned scans: {len(pruned)}\n{plan[:3000]}"
    rows = df.collect()
    assert [r["nprobe"] for r in rows] == [1, 2, 4, 8]
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)


def _kn_tables(docs):
    """Full-rebuild KN statistics from a document set: (c12, c1/n1p,
    cont, n_types) — the comparison target for the merge path."""
    c12 = (
        _doc_bigrams(docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("cont"))
    types = c12.select(F.count(F.lit(1)).alias("n_types"))
    return c12, c1, cont, types


def _rows(df, *keys):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple(str(x) for x in t[: len(keys)]),
    )


def test_kn_bigram_merge_equals_rebuild(spark, sf_dir):
    """VERDICT r10 #6 done-criterion at table grain: merging the
    batch's bigram counts onto the standing tables reproduces the
    full-corpus statistics EXACTLY — including the type-grain n1p /
    cont / n_types, whose merge needs the distinct-left-context
    anti-join (additive merging would overcount every batch bigram
    already present in the standing table)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(~F.expr(_KN_BATCH_WHERE))
    batch = docs.filter(F.expr(_KN_BATCH_WHERE))
    s12 = (
        _doc_bigrams(corpus)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_s"))
        .persist()
    )
    b12 = (
        _doc_bigrams(batch)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_b"))
        .persist()
    )
    m12, c1m, contm, typesm = kn_bigram_merge(s12, b12)
    f12, f1, fcont, ftypes = _kn_tables(docs)
    assert _rows(m12, "w1", "w2") == _rows(f12, "w1", "w2")
    assert _rows(c1m, "w1") == _rows(f1, "w1")
    assert _rows(contm, "w2") == _rows(fcont, "w2")
    assert typesm.collect() == ftypes.collect()
    # the distinct-care is load-bearing: batch types overlapping the
    # standing table must exist (else the anti-join is vacuous here)
    overlap = b12.join(s12, ["w1", "w2"], "left_semi").count()
    assert overlap > 0, "fixture has no standing/batch type overlap"


def test_kn_bigram_merge_on_empty_batch(spark, sf_dir):
    """Quiet ingest day: merging an EMPTY batch must reproduce the
    standing statistics unchanged (no NULL poisoning through the
    full-outer coalesces — the BM25 empty-append contract applied to
    the LM family)."""
    docs = load_table(spark, sf_dir, "documents")
    s12 = (
        _doc_bigrams(docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_s"))
        .persist()
    )
    empty = spark.createDataFrame([], "w1 string, w2 string, c_b bigint")
    m12, c1m, contm, typesm = kn_bigram_merge(s12, empty)
    f12, f1, fcont, ftypes = _kn_tables(docs)
    assert _rows(m12, "w1", "w2") == _rows(f12, "w1", "w2")
    assert _rows(c1m, "w1") == _rows(f1, "w1")
    assert _rows(contm, "w2") == _rows(fcont, "w2")
    assert typesm.collect() == ftypes.collect()


def test_derive_k_policy():
    """The policy itself: ⌈n/target⌉ with a floor, deterministic,
    monotone in n — doubling the corpus at least doubles-ish k, so
    expected cell size never drifts above target as data grows."""
    from udacitycapstonedataengineer_spark.operators.cell_budget import (
        derive_k,
    )

    assert derive_k(0) == 1 and derive_k(-5) == 1
    assert derive_k(1, target_cell=1000) == 1
    assert derive_k(1000, target_cell=1000) == 1
    assert derive_k(1001, target_cell=1000) == 2
    assert derive_k(20_000, target_cell=250) == 80
    assert derive_k(500, target_cell=50, min_k=16) == 16
    # monotone non-decreasing
    ks = [derive_k(n, target_cell=100) for n in range(0, 5000, 37)]
    assert ks == sorted(ks)


def test_semdedup_k_scaling_bounds_cells(spark):
    """VERDICT r10 #4 done-criterion (gate): under the derived k, the
    realized max cell stays within 2× the target and the pair-join
    row count Σ|cell|² stays within 2× of n·target — i.e. the pair
    stage is corpus-LINEAR by construction, at BOTH shipped scales
    (fixed k=8 at sf0.1 would put ~250 vectors in every cell and
    Σ|cell|² at ~n²/8; at ×10 data the same k gives ~2500-vector
    cells — the 11.2× probe ratio PERF_NOTES pinned)."""
    from udacitycapstonedataengineer_spark.operators.cell_budget import (
        cell_profile,
        derive_k,
    )

    for sf, target in [("/root/testdata/sf0.001", 50),
                       ("/root/testdata/sf0.1", 250)]:
        emb = load_table(spark, sf, "embeddings")
        n = emb.count()
        k = derive_k(n, target_cell=target)
        prof = cell_profile(emb, k).collect()[0]
        assert prof["n"] == n and prof["k"] == k
        assert prof["max_cell"] <= 2 * target, (sf, prof)
        assert prof["sum_sq_cells"] <= 2 * n * target, (sf, prof)


def test_semdedup_survivors_scaled_matches_fixed_k_semantics(spark, sf_dir):
    """The scaled pipeline is the SAME keep policy, only k differs:
    when derive_k lands on the oracle-sized k, the survivor set must
    equal the registered semdedup_survivors' (policy wrapper adds no
    semantics)."""
    from udacitycapstonedataengineer_spark.operators.cell_budget import (
        semdedup_survivors_scaled,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    # pick target so the derived k IS the oracle k=8
    target = -(-n // 8)
    scaled, k = semdedup_survivors_scaled(emb, target_cell=target)
    assert k == 8
    fixed = QUERIES["semdedup_survivors"](spark, sf_dir)
    assert sorted(r["vec_id"] for r in scaled.collect()) == sorted(
        r["vec_id"] for r in fixed.collect()
    )


@pytest.mark.slow  # VERDICT r16 next #2: multi-minute, opt-in tier
def test_kn_bigram_merge_fuzz_vs_python_rebuild(spark):
    """Hypothesis fuzz of the merge ALGEBRA: random standing/batch
    bigram count tables over a tiny alphabet (forcing heavy type
    overlap, batch-only left contexts, standing-only types, and both
    sides empty), merged via kn_bigram_merge and compared against a
    pure-Python rebuild of the full-corpus statistics. The tiny
    alphabet is the adversarial part — the distinct-left-context
    anti-join is maximally stressed when most batch types collide
    with standing types."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    words = st.sampled_from(["a", "b", "c"])
    table = st.dictionaries(
        st.tuples(words, words), st.integers(1, 5), max_size=9
    )

    @settings(max_examples=20, deadline=None)
    @given(s=table, b=table)
    def check(s, b):
        s12 = spark.createDataFrame(
            [(w1, w2, c) for (w1, w2), c in sorted(s.items())],
            "w1 string, w2 string, c_s long",
        )
        b12 = spark.createDataFrame(
            [(w1, w2, c) for (w1, w2), c in sorted(b.items())],
            "w1 string, w2 string, c_b long",
        )
        m12, c1m, contm, typesm = kn_bigram_merge(s12, b12)
        full = Counter(s)
        full.update(b)
        # pure-Python rebuild from the merged multiset
        exp_c1, exp_n1p, exp_cont = Counter(), Counter(), Counter()
        for (w1, w2), c in full.items():
            exp_c1[w1] += c
            exp_n1p[w1] += 1
            exp_cont[w2] += 1
        got_m12 = {(r["w1"], r["w2"]): r["c12"] for r in m12.collect()}
        assert got_m12 == dict(full)
        got_c1 = {r["w1"]: (r["c1"], r["n1p"]) for r in c1m.collect()}
        assert got_c1 == {
            w: (exp_c1[w], exp_n1p[w]) for w in exp_c1
        }
        got_cont = {r["w2"]: r["cont"] for r in contm.collect()}
        assert got_cont == dict(exp_cont)
        assert typesm.collect()[0]["n_types"] == len(full)

    check()


def test_exact_topk_multi_matches_per_query(spark, sf_dir):
    """The one-pass multi-query ground truth must equal the per-query
    `_exact_topk_flags` (the exact-top-k every driver-gated ANN query
    hashes against) for each sampled query — same distances, same
    vec_id tie-break."""
    from udacitycapstonedataengineer_spark.operators.recall_eval import (
        exact_topk_multi,
    )
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        _exact_topk_flags,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [7, 13, 101]
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    multi = exact_topk_multi(emb, [(q, qvecs[q]) for q in qids], 10)
    got = {
        q: sorted(
            r["vec_id"]
            for r in multi.filter(F.col("query_vec_id") == q).collect()
        )
        for q in qids
    }
    for q in qids:
        want = sorted(
            r["vec_id"] for r in _exact_topk_flags(emb, qvecs[q], 10).collect()
        )
        assert got[q] == want, q


def test_ivfpq_recall_at_k_sample(spark, sf_dir):
    """Sampled recall eval over the SAME model the registered curve
    uses: the pinned query's per-query recall must equal the
    registered ann_ivfpq_recall_curve's value at the same nprobe, all
    recalls lie in [0,1], and an unknown query id raises."""
    from udacitycapstonedataengineer_spark.operators.ivfpq import ivfpq_build
    from udacitycapstonedataengineer_spark.operators.recall_eval import (
        ivfpq_recall_at_k,
    )
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        _IVFPQ,
        _QVEC_ID,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents, books, index = ivfpq_build(emb, **_IVFPQ)
    rows = ivfpq_recall_at_k(
        index, cents, books, emb, [_QVEC_ID, 13, 101], k=10, nprobe=2
    ).collect()
    assert [r["query_vec_id"] for r in rows] == [_QVEC_ID, 13, 101]
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
    curve = {
        r["nprobe"]: r["recall"]
        for r in QUERIES["ann_ivfpq_recall_curve"](spark, sf_dir).collect()
    }
    pinned = next(r for r in rows if r["query_vec_id"] == _QVEC_ID)
    assert pinned["recall"] == curve[2]
    with pytest.raises(ValueError, match="unknown query ids"):
        ivfpq_recall_at_k(index, cents, books, emb, [10**9], k=10)


def test_stream_ivfpq_encode_validates_model_shape(spark):
    """ADVICE r10: a codebook missing a subspace raised a bare
    KeyError and dim % m != 0 silently truncated the trailing
    dimensions from every residual slice — both must raise the same
    style of descriptive ValueError as the dense-cid check."""
    from udacitycapstonedataengineer_spark.streaming.vectors import (
        stream_ivfpq_encode,
    )

    stream = (
        spark.readStream.format("rate").load()
        .selectExpr("value as vec_id", "array(1.0f, 2.0f) as embedding")
    )
    cents = [{"cid": 0, "c": [0.0, 0.0]}, {"cid": 1, "c": [1.0, 1.0]}]
    books = [
        {"sub": 0, "cid": 0, "c": [0.0]},
        {"sub": 1, "cid": 0, "c": [0.0]},
    ]
    # dim=2 not divisible by m=4 — two trailing dims would vanish
    with pytest.raises(ValueError, match="not divisible"):
        stream_ivfpq_encode(stream, cents, books, m=4)
    # subspace 1 absent from the codebook
    with pytest.raises(ValueError, match="missing subspaces"):
        stream_ivfpq_encode(stream, cents, [books[0]], m=2)


def test_coarse_fit_equals_ivfpq_build_centroids(spark, sf_dir):
    """r12 pre-landing (VERDICT r10 #3): ivfpq_coarse_fit must return
    centroids BIT-identical to ivfpq_build's — including the
    truncating update and empty-cell retention that distinguish the
    IVF coarse stage from clustering.kmeans_fit — so the r12
    call-site switch in the two governance queries cannot move their
    oracle hashes. Checked at two configs (the registered _IVFPQ
    shape and a small odd one)."""
    from udacitycapstonedataengineer_spark.operators.coarse import (
        ivfpq_coarse_fit,
    )
    from udacitycapstonedataengineer_spark.operators.ivfpq import ivfpq_build

    emb = load_table(spark, sf_dir, "embeddings")
    for nlist, iters in [(8, 2), (3, 3)]:
        built, _books, _index = ivfpq_build(
            emb, nlist=nlist, m=8, k=16, iters=iters
        )
        fit = ivfpq_coarse_fit(emb, nlist=nlist, iters=iters)
        a = sorted(
            (r["cid"], tuple(r["c"])) for r in built.collect()
        )
        b = sorted((r["cid"], tuple(r["c"])) for r in fit.collect())
        assert a == b, (nlist, iters)
    # contract check from the build: nlist > corpus raises the same way
    with pytest.raises(ValueError, match="nlist"):
        ivfpq_coarse_fit(emb.limit(2), nlist=5)


def test_ivfpq_drift_stats_on_empty_batch_raise(spark, sf_dir):
    """ADVICE r10 #2, decided FINAL in r12 (VERDICT r11 #7): the
    drift/rebuild pair's fill-share divisions keep NO zero guard — an
    empty batch RAISES (ANSI DIVIDE_BY_ZERO) by design. An empty
    batch means no append happened; polling the drift measurement
    then is a caller error, and for governance stats a loud failure
    beats publishing fill_share_batch = NULL-or-0.0, which would read
    as "no drift" and silently green-light a stale index. The
    per-CELL energy divisions stay CASE-guarded (an individual empty
    cell is normal); only the batch/corpus TOTALS crash. Decision
    rationale recorded in PERF_NOTES §r12."""
    from udacitycapstonedataengineer_spark.operators.ivfpq import ivfpq_build
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        ivfpq_drift_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents, _books, _index = ivfpq_build(emb, nlist=4, m=8, k=16, iters=2)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        ivfpq_drift_stats(emb, cents, batch_where="vec_id < 0").collect()
