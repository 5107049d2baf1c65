"""Round-12 pins: the IVF-PQ governance pair runs coarse-only (no PQ
training jobs — VERDICT r11 wrong #1 done-criterion) and the rebuild
trigger's fill-skew threshold tracks ``_IVFPQ['nlist']`` (ADVICE r10
#1)."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from udacitycapstonedataengineer_spark.plans import queries  # noqa: F401
from udacitycapstonedataengineer_spark.plans.queries import QUERIES


def test_governance_pair_runs_no_pq_training(spark, sf_dir, monkeypatch):
    """VERDICT r11 #1 done-criterion: ``ivfpq_index_drift`` and
    ``ivfpq_rebuild_decision`` consume only the frozen coarse
    quantizer — if either still reaches ``pq_train`` (the seed collect
    + codebook training whose output both queries used to discard),
    this gate goes red. Both patch points covered: the name bound into
    operators.ivfpq at import time AND the defining module."""
    import udacitycapstonedataengineer_spark.operators.ivfpq as ivfpq_mod
    import udacitycapstonedataengineer_spark.operators.pq as pq_mod

    def _boom(*a, **k):
        raise AssertionError(
            "pq_train reached from a coarse-only governance query"
        )

    monkeypatch.setattr(ivfpq_mod, "pq_train", _boom)
    monkeypatch.setattr(pq_mod, "pq_train", _boom)

    drift = QUERIES["ivfpq_index_drift"](spark, sf_dir).collect()
    assert len(drift) > 0 and all(r["corpus_n"] >= 0 for r in drift)
    decision = QUERIES["ivfpq_rebuild_decision"](spark, sf_dir).collect()
    assert len(decision) == 1
    assert isinstance(decision[0]["rebuild"], bool)


def test_rebuild_fill_skew_threshold_tracks_nlist():
    """ADVICE r10 #1 done-criterion: the fill-skew branch's
    ``batch_n * nlist > total_batch * 2`` comparison must interpolate
    the configured ``_IVFPQ['nlist']`` in BOTH engines' query text —
    a hardcoded 8 silently mis-gates any future nlist change."""
    import inspect

    from udacitycapstonedataengineer_spark.plans import queries_sim

    nlist = queries_sim._IVFPQ["nlist"]
    oracle = queries_sim._ivfpq_rebuild_decision_oracle_sql()
    assert f"batch_n * {nlist} > tbx.tb2 * 2" in oracle
    src = inspect.getsource(queries_sim._ivfpq_rebuild_decision)
    assert '_IVFPQ["nlist"]' in src
    assert "* 8 >" not in src


def _bench_mod():
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod_r12", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_canary_reading_hot_levels():
    """VERDICT r11 #3: per-reading level rulings. The first reading
    gets 2× slack (idle sessions structurally read ~2× baseline at
    position 0 — r11 calibration first 0.396 / baseline 0.199), every
    later reading is judged at the plain 1.5× limit; no baseline →
    no absolute ruling."""
    b = _bench_mod()
    base = 0.2
    # idle endpoints (r11 calibration values) must NOT flag
    assert not b.canary_reading_hot(0.396, base, is_first=True)
    assert not b.canary_reading_hot(0.188, base)
    # a mid-session reading at 2× baseline IS hot
    assert b.canary_reading_hot(0.4, base)
    assert not b.canary_reading_hot(0.29, base)
    # first-reading slack: hot only past 3× baseline
    assert b.canary_reading_hot(0.65, base, is_first=True)
    # no baseline → never an absolute ruling
    assert not b.canary_reading_hot(5.0, None)
    assert not b.canary_reading_hot(5.0, 0.0)


def test_canary_segment_context_adjudicates_mid_session_spike():
    """The r11 parts_copurchase_triangles shape: endpoints clean, one
    hot reading in the middle — queries inside the hot segment rule
    contaminated, queries elsewhere stay clean."""
    b = _bench_mod()
    base = 0.2
    readings = [
        {"after_n": 0, "sec": 0.40},   # endpoint first (structural 2×)
        {"after_n": 25, "sec": 0.21},
        {"after_n": 50, "sec": 0.66},  # mid-session spike
        {"after_n": 75, "sec": 0.20},
        {"after_n": 100, "sec": 0.19},  # endpoint last — ratio clean
    ]
    # endpoint signatures all pass: the old canary is blind here
    assert not b.canary_verdict(0.40, 0.19, base)
    spiked = b.canary_segment_context(readings, 40, base)
    assert spiked["segment_hot"]
    assert spiked["canary_before"] == 0.21
    assert spiked["canary_after"] == 0.66
    also = b.canary_segment_context(readings, 60, base)
    assert also["segment_hot"] and also["canary_before"] == 0.66
    clean = b.canary_segment_context(readings, 80, base)
    assert not clean["segment_hot"]
    early = b.canary_segment_context(readings, 10, base)
    assert not early["segment_hot"]  # first-reading slack holds
    # position past the last reading: only the 'before' side exists
    tail = b.canary_segment_context(readings, 100, base)
    assert "canary_after" not in tail and not tail["segment_hot"]


def test_governance_pair_parity_fast(spark, sf_dir):
    """Direct oracle parity for the two re-earned queries (they also
    run in the full test_oracle_parity sweep; this pins the r12 switch
    in a module-local gate so a coarse_fit regression is attributable
    without the sweep)."""
    from tests.oracle_check import assert_parity

    for name in ("ivfpq_index_drift", "ivfpq_rebuild_decision"):
        assert_parity(spark, name, sf_dir)


def test_batch_bigram_counts_matches_doc_bigrams(spark, sf_dir):
    """ADVICE r11 #4: the streamed landing path re-implements
    _doc_bigrams' tokenize/explode pipeline — if the round-8
    tokenization ever changes, the streamed counts must diverge HERE
    (red), not silently against the driver-gated batch/oracle path."""
    from udacitycapstonedataengineer_spark.plans.queries_text import (
        _doc_bigrams,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table
    from udacitycapstonedataengineer_spark.streaming.text import (
        _batch_bigram_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    streamed = {
        (r["w1"], r["w2"]): r["c"]
        for r in _batch_bigram_counts(docs).collect()
    }
    batch = {
        (r["w1"], r["w2"]): r["c"]
        for r in _doc_bigrams(docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_recall_at_k_rejects_duplicate_query_ids(spark, sf_dir):
    """ADVICE r11 #3: duplicate ids would collapse into one
    row_number partition in exact_topk_multi (corrupting that query's
    ground truth) and double-emit its row — entry must raise."""
    import pytest

    from udacitycapstonedataengineer_spark.operators.recall_eval import (
        ivfpq_recall_at_k,
    )

    with pytest.raises(ValueError, match="duplicate query ids"):
        ivfpq_recall_at_k(None, None, None, None, [7, 11, 7], k=10)


def test_tmpindex_lifecycle(monkeypatch, tmp_path):
    """ADVICE r11 #1: the served queries' pid-scoped temp index dirs
    must not accumulate — this process's dirs are registered for
    atexit removal (cleanup_own), and dirs left by dead pids are
    swept on import (sweep_stale). Live foreign pids are never
    touched."""
    import os

    from udacitycapstonedataengineer_spark import tmpindex

    monkeypatch.setattr(
        tmpindex.tempfile, "gettempdir", lambda: str(tmp_path)
    )
    mine = tmp_path / f"spark_graft_ivfpq_curve_served_{os.getpid()}"
    dead = tmp_path / "spark_graft_ivfpq_served_999999999"
    live = tmp_path / f"spark_graft_ivfpq_served_{os.getppid()}"
    notdir = tmp_path / "spark_graft_file_999999998"
    nonpid = tmp_path / "spark_graft_ivfpq_served_manual"
    for d in (mine, dead, live, nonpid):
        d.mkdir()
    notdir.write_text("x")

    assert tmpindex.own_dirs() == [str(mine)]
    removed = tmpindex.sweep_stale()
    assert removed == [str(dead)]
    assert live.exists() and nonpid.exists() and notdir.exists()
    assert mine.exists()  # own pid is atexit's job, not the sweep's

    tmpindex.cleanup_own()  # what atexit fires at process teardown
    assert not mine.exists()
    assert live.exists() and nonpid.exists()


def test_kn_compaction_policy_over_simulated_week(spark, sf_dir, tmp_path):
    """VERDICT r11 #6 done-criterion: across a simulated week of daily
    appends the trigger FIRES (amplification crosses 2×), the rewrite
    shrinks the partial table to one row per type, serving
    (kn_counts_compact) is bit-unchanged by the swap, and the
    re-measured trigger disarms. Appends land via the same
    _batch_bigram_counts path the stream's foreachBatch uses."""
    from udacitycapstonedataengineer_spark.sources.readers import load_table
    from udacitycapstonedataengineer_spark.streaming.text import (
        _batch_bigram_counts,
        kn_compact_due,
        kn_compact_if_due,
        kn_compaction_stats,
        kn_counts_compact,
    )

    docs = load_table(spark, sf_dir, "documents")
    table = str(tmp_path / "kn_partials")
    fired_day = None
    for day in range(7):
        batch = docs.filter(F.col("doc_id") % 7 == day)
        _batch_bigram_counts(batch).write.mode("append").parquet(table)
        if fired_day is None:
            row = kn_compaction_stats(spark, table).head()
            if kn_compact_due(row["partial_rows"], row["distinct_types"]):
                fired_day = day
    assert fired_day is not None, "trigger never fired across the week"
    assert fired_day >= 1, "trigger must not fire on a fresh table"

    served_before = sorted(
        tuple(r) for r in kn_counts_compact(spark, table).collect()
    )
    stats = kn_compaction_stats(spark, table).head()
    did, rows_before, types_before = kn_compact_if_due(spark, table)
    assert did
    assert (rows_before, types_before) == (
        stats["partial_rows"],
        stats["distinct_types"],
    )
    # post-swap: one partial row per type, serving unchanged, disarmed
    after = kn_compaction_stats(spark, table).head()
    assert after["partial_rows"] == after["distinct_types"] == types_before
    served_after = sorted(
        tuple(r) for r in kn_counts_compact(spark, table).collect()
    )
    assert served_after == served_before
    did2, *_ = kn_compact_if_due(spark, table)
    assert not did2
    # and appends continue over the swapped table (schema unchanged)
    _batch_bigram_counts(docs.limit(5)).write.mode("append").parquet(table)
    assert kn_counts_compact(spark, table).count() == types_before


def test_kn_trigram_merge_equals_rebuild(spark, sf_dir):
    """The r13 draft's core claim at real-data scale: merging the
    batch's trigram counts onto the standing tables reproduces EVERY
    full-rebuild statistic exactly — both recursion grains included
    (trigram-type stats via the trigram anti-join, pair stats via the
    (w2,w3) anti-join)."""
    from udacitycapstonedataengineer_spark.plans.queries_text import (
        _KN_BATCH_WHERE,
        _doc_trigrams,
        kn_trigram_merge,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    s123 = (
        _doc_trigrams(docs.filter(~F.expr(_KN_BATCH_WHERE)))
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c_s"))
        .persist()
    )
    b123 = (
        _doc_trigrams(docs.filter(F.expr(_KN_BATCH_WHERE)))
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c_b"))
        .persist()
    )
    m123, c12m, nc23m, nc2m, cont3m, typesm = kn_trigram_merge(s123, b123)

    full = (
        _doc_trigrams(docs)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
        .persist()
    )
    assert sorted(map(tuple, m123.collect())) == sorted(
        map(tuple, full.collect())
    )
    r_c12 = full.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"), F.count(F.lit(1)).alias("n3p")
    )
    assert sorted(map(tuple, c12m.collect())) == sorted(
        map(tuple, r_c12.collect())
    )
    r_nc23 = full.groupBy("w2", "w3").agg(
        F.count(F.lit(1)).alias("nc23")
    ).persist()
    assert sorted(map(tuple, nc23m.collect())) == sorted(
        map(tuple, r_nc23.collect())
    )
    r_nc2 = r_nc23.groupBy("w2").agg(
        F.sum("nc23").alias("nc2"), F.count(F.lit(1)).alias("n2p")
    )
    assert sorted(map(tuple, nc2m.collect())) == sorted(
        map(tuple, r_nc2.collect())
    )
    r_cont3 = r_nc23.groupBy("w3").agg(F.count(F.lit(1)).alias("cont3"))
    assert sorted(map(tuple, cont3m.collect())) == sorted(
        map(tuple, r_cont3.collect())
    )
    assert typesm.head()["n_types"] == r_nc23.count()
    for df in (s123, b123, full, r_nc23):
        df.unpersist()


def test_kn_trigram_merge_on_empty_batch(spark):
    """An empty batch must leave every statistic at its standing
    value (no spurious type bumps from the anti-join grains)."""
    from udacitycapstonedataengineer_spark.plans.queries_text import (
        kn_trigram_merge,
    )

    s123 = spark.createDataFrame(
        [("a", "b", "c", 2), ("a", "b", "d", 1), ("x", "b", "c", 3)],
        "w1 string, w2 string, w3 string, c_s long",
    )
    b123 = spark.createDataFrame(
        [], "w1 string, w2 string, w3 string, c_b long"
    )
    m123, c12m, nc23m, nc2m, cont3m, typesm = kn_trigram_merge(s123, b123)
    assert sorted(map(tuple, m123.collect())) == [
        ("a", "b", "c", 2),
        ("a", "b", "d", 1),
        ("x", "b", "c", 3),
    ]
    assert sorted(map(tuple, c12m.collect())) == [
        ("a", "b", 3, 2),
        ("x", "b", 3, 1),
    ]
    assert sorted(map(tuple, nc23m.collect())) == [
        ("b", "c", 2),
        ("b", "d", 1),
    ]
    assert sorted(map(tuple, nc2m.collect())) == [("b", 3, 2)]
    # cont3 counts distinct (w2,w3) PAIRS per w3 — "c" appears in the
    # single pair (b,c) even though two trigram types end in it
    assert sorted(map(tuple, cont3m.collect())) == [("c", 1), ("d", 1)]
    assert typesm.head()["n_types"] == 2


@pytest.mark.slow  # VERDICT r16 next #2: multi-minute, opt-in tier
def test_kn_trigram_merge_fuzz_vs_python_rebuild(spark):
    """Hypothesis fuzz of the merge ALGEBRA over a tiny alphabet —
    maximal type collision stresses BOTH anti-join grains: batch
    trigrams colliding with standing types (must not bump n3p/nc23/
    nc2) and new trigram types whose (w2,w3) pair already stands
    (must bump nc23/nc2 but NOT n2p/cont3/n_types)."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from udacitycapstonedataengineer_spark.plans.queries_text import (
        kn_trigram_merge,
    )

    words = st.sampled_from(["a", "b"])
    table = st.dictionaries(
        st.tuples(words, words, words), st.integers(1, 5), max_size=8
    )

    @settings(max_examples=15, deadline=None)
    @given(s=table, b=table)
    def check(s, b):
        s123 = spark.createDataFrame(
            [(w1, w2, w3, c) for (w1, w2, w3), c in sorted(s.items())],
            "w1 string, w2 string, w3 string, c_s long",
        )
        b123 = spark.createDataFrame(
            [(w1, w2, w3, c) for (w1, w2, w3), c in sorted(b.items())],
            "w1 string, w2 string, w3 string, c_b long",
        )
        m123, c12m, nc23m, nc2m, cont3m, typesm = kn_trigram_merge(
            s123, b123
        )
        full = Counter(s)
        full.update(b)
        exp_c12, exp_n3p = Counter(), Counter()
        exp_nc23 = Counter()
        for (w1, w2, w3), c in full.items():
            exp_c12[(w1, w2)] += c
            exp_n3p[(w1, w2)] += 1
            exp_nc23[(w2, w3)] += 1
        exp_nc2, exp_n2p, exp_cont3 = Counter(), Counter(), Counter()
        for (w2, w3), n in exp_nc23.items():
            exp_nc2[w2] += n
            exp_n2p[w2] += 1
            exp_cont3[w3] += 1
        got = {(r["w1"], r["w2"], r["w3"]): r["c123"] for r in m123.collect()}
        assert got == dict(full)
        got12 = {(r["w1"], r["w2"]): (r["c12"], r["n3p"]) for r in c12m.collect()}
        assert got12 == {k: (exp_c12[k], exp_n3p[k]) for k in exp_c12}
        got23 = {(r["w2"], r["w3"]): r["nc23"] for r in nc23m.collect()}
        assert got23 == dict(exp_nc23)
        got2 = {r["w2"]: (r["nc2"], r["n2p"]) for r in nc2m.collect()}
        assert got2 == {w: (exp_nc2[w], exp_n2p[w]) for w in exp_nc2}
        got3 = {r["w3"]: r["cont3"] for r in cont3m.collect()}
        assert got3 == dict(exp_cont3)
        assert typesm.head()["n_types"] == len(exp_nc23)

    check()


def test_compaction_policy_over_simulated_appends(spark, tmp_path):
    """compact_parquet gains the kn_compact_due discipline: across
    simulated per-batch appends the file-count trigger FIRES once
    amplification crosses 2× ideal, the rewrite preserves rows, the
    re-measured trigger disarms, and a fresh single-append directory
    never fires."""
    from udacitycapstonedataengineer_spark.operators.compaction import (
        compact_due,
        compact_if_due,
        compaction_stats,
    )

    path = str(tmp_path / "cell_0")
    fired_at = None
    for batch in range(6):
        # one file per simulated micro-batch (a foreachBatch sink
        # coalesces its tiny batch; unrepartitioned, the local test
        # session would write 4 parts per append and amplification
        # would legitimately fire on the very first batch)
        spark.range(batch * 100, batch * 100 + 100).repartition(
            1
        ).write.mode("append").parquet(path)
        st = compaction_stats(path)
        if fired_at is None and compact_due(
            st["file_count"], st["bytes_total"]
        ):
            fired_at = batch
    assert fired_at is not None, "trigger never fired across appends"
    assert fired_at >= 1, "trigger must not fire on a fresh directory"

    rows_before = spark.read.parquet(path).count()
    did, stats = compact_if_due(spark, path)
    assert did and stats["result"]["rows"] == rows_before
    assert stats["result"]["files_after"] < stats["file_count"]
    assert spark.read.parquet(path).count() == rows_before
    # disarmed: the compacted layout is at the ideal count
    did2, _ = compact_if_due(spark, path)
    assert not did2
    # tiny-table floor: one file is never due regardless of multiplier
    assert not compact_due(1, 1 << 40)
    # and appends continue over the swapped directory
    spark.range(5).write.mode("append").parquet(path)
    assert spark.read.parquet(path).count() == rows_before + 5


def test_batch_trigram_counts_matches_doc_trigrams(spark, sf_dir):
    """The trigram landing path re-implements the _doc_trigrams
    tokenize/explode pipeline (itself pinned to the registered
    text_kn_trigram_prob extraction by the draft's oracle parity) —
    any tokenization drift must turn red HERE, not silently against
    the batch path (the ADVICE r11 #4 discipline at trigram grain)."""
    from udacitycapstonedataengineer_spark.plans.queries_text import (
        _doc_trigrams,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table
    from udacitycapstonedataengineer_spark.streaming.text import (
        _batch_trigram_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    streamed = {
        (r["w1"], r["w2"], r["w3"]): r["c"]
        for r in _batch_trigram_counts(docs).collect()
    }
    batch = {
        (r["w1"], r["w2"], r["w3"]): r["c"]
        for r in _doc_trigrams(docs)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_stream_kn_trigram_counts_matches_rebuild(spark, sf_dir, tmp_path):
    """The trigram ingest loop end-to-end: documents streamed in
    multiple micro-batches land append-only partial trigram counts;
    the compacted standing table must equal a full batch rebuild
    EXACTLY, the compaction policy must fire over the partials and
    leave serving bit-unchanged, and the swapped table must be a
    drop-in standing side for kn_trigram_merge (empty batch →
    full-corpus statistics). Restart over the same checkpoint lands
    nothing new (exactly-once)."""
    from udacitycapstonedataengineer_spark.plans.queries_text import (
        _doc_trigrams,
        kn_trigram_merge,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table
    from udacitycapstonedataengineer_spark.streaming.text import (
        kn3_compact_if_due,
        kn3_compaction_stats,
        kn3_counts_compact,
        stream_kn_trigram_counts,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    landing = str(tmp_path / "kn3_landing")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode(
        "overwrite"
    ).parquet(landing)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        landing
    )

    table = str(tmp_path / "kn3_counts")
    ckpt = str(tmp_path / "kn3_ckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = stream_kn_trigram_counts(stream, table, ckpt)
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1

    want = {
        (r["w1"], r["w2"], r["w3"], r["c123"])
        for r in _doc_trigrams(docs)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
        .collect()
    }
    standing = kn3_counts_compact(spark, table)
    got = {
        (r["w1"], r["w2"], r["w3"], r["c123"]) for r in standing.collect()
    }
    assert got == want

    # compaction policy over the streamed partials: the two
    # micro-batches overlap heavily in types, so amplification > 2×
    st = kn3_compaction_stats(spark, table).head()
    did, rows_before, types_before = kn3_compact_if_due(spark, table)
    assert did == (st["partial_rows"] > 2.0 * st["distinct_types"])
    after = {
        (r["w1"], r["w2"], r["w3"], r["c123"])
        for r in kn3_counts_compact(spark, table).collect()
    }
    assert after == want  # serving bit-unchanged by the swap

    # drop-in standing side for the merge: empty batch → rebuild stats
    empty = spark.createDataFrame(
        [], "w1 string, w2 string, w3 string, c_b long"
    )
    m123, c12m, nc23m, nc2m, cont3m, typesm = kn_trigram_merge(
        kn3_counts_compact(spark, table).withColumnRenamed("c123", "c_s"),
        empty,
    )
    assert {
        (r["w1"], r["w2"], r["w3"], r["c123"]) for r in m123.collect()
    } == want
    n_pairs = (
        _doc_trigrams(docs).select("w2", "w3").distinct().count()
    )
    assert typesm.head()["n_types"] == n_pairs

    # restart over the same checkpoint: offset log replays nothing
    n_rows = spark.read.parquet(table).count()
    stream2 = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q2 = stream_kn_trigram_counts(stream2, table, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(table).count() == n_rows


def test_saturating_canary(spark):
    """The round-12 throughput canary: a fixed all-core arithmetic
    fold (no I/O, no shuffle) whose seconds give cross-round bench
    comparisons a machine-speed denominator — the r12 anchor showed a
    VM at per-query baseline on every sub-second query while the
    32-thread-saturating families read ~1.1-1.3×. Shrunk row count
    here: only the mechanism is under test."""
    b = _bench_mod()
    sec = b.saturating_canary_sec(spark, cpus=4, rows=1 << 20)
    assert sec > 0
    # baseline loader never raises; (best_sec, cpus, stat) or Nones
    base, cpus, stat = b._load_sat_baseline()
    assert base is None or (isinstance(base, float) and base > 0)
    assert cpus is None or (isinstance(cpus, int) and cpus > 0)
    assert stat is None or isinstance(stat, str)


def test_lm_quality_score_draft_oracle_parity(spark, sf_dir):
    """LM-scored quality filtering (the perplexity-filter shape over
    the KN bigram model, fixed-point per-doc aggregation so the score
    is hash-exact) scores every document it emits; oracle parity is
    test_oracle_parity[docs_lm_quality_score]."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    df = QUERIES["docs_lm_quality_score"](spark, sf_dir).toPandas()
    assert len(df) > 0 and (df["n_bigrams"] > 0).all()


def test_kn_compaction_swap_preserves_concurrent_appends(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-12 review finding (streaming/text.py): a micro-batch that
    lands between the compaction's snapshot and the directory swap
    must SURVIVE — the first rename sweeps it into __old and the core
    carries it into the compacted directory (partial rows are
    additive, so no reconciliation is needed). Deterministically
    reproduced by landing an append at the moment of the first
    rename."""
    import shutil

    from udacitycapstonedataengineer_spark.sources.readers import load_table
    from udacitycapstonedataengineer_spark.streaming.text import (
        _batch_bigram_counts,
        kn_compact_if_due,
        kn_counts_compact,
    )

    docs = load_table(spark, sf_dir, "documents").limit(40)
    table = str(tmp_path / "kn_race")
    _batch_bigram_counts(docs).write.mode("append").parquet(table)
    _batch_bigram_counts(docs).write.mode("append").parquet(table)
    _batch_bigram_counts(docs).write.mode("append").parquet(table)

    extra_docs = load_table(spark, sf_dir, "documents").filter(
        "doc_id >= 40 and doc_id < 45"
    )
    base = {
        (r["w1"], r["w2"]): r["c12"]
        for r in kn_counts_compact(spark, table).collect()
    }
    extra = {
        (r["w1"], r["w2"]): r["c"]
        for r in _batch_bigram_counts(extra_docs).collect()
    }
    want = dict(base)
    for k, c in extra.items():
        want[k] = want.get(k, 0) + c

    real_move = shutil.move
    landed = {"n": 0}

    def race_move(src, dst, *a, **kw):
        if landed["n"] == 0 and str(src).rstrip("/") == table:
            landed["n"] = 1  # land an append just before table -> old
            _batch_bigram_counts(extra_docs).write.mode("append").parquet(
                table
            )
        return real_move(src, dst, *a, **kw)

    monkeypatch.setattr(shutil, "move", race_move)
    did, rows, types = kn_compact_if_due(spark, table)
    monkeypatch.setattr(shutil, "move", real_move)
    assert did and landed["n"] == 1
    got = {
        (r["w1"], r["w2"]): r["c12"]
        for r in kn_counts_compact(spark, table).collect()
    }
    assert got == want, "concurrently appended counts were lost"


def test_kn_compaction_crash_recovery(spark, sf_dir, tmp_path):
    """Residue from a swap that crashed between the two renames (live
    path missing, __old + __compacting present) must roll BACK on the
    next maintenance call — serving sees the original counts, then the
    rerun compaction proceeds normally."""
    import shutil

    from udacitycapstonedataengineer_spark.sources.readers import load_table
    from udacitycapstonedataengineer_spark.streaming.text import (
        _batch_bigram_counts,
        kn_compact_if_due,
        kn_counts_compact,
    )

    docs = load_table(spark, sf_dir, "documents").limit(30)
    table = str(tmp_path / "kn_crash")
    for _ in range(3):
        _batch_bigram_counts(docs).write.mode("append").parquet(table)
    want = {
        (r["w1"], r["w2"]): r["c12"]
        for r in kn_counts_compact(spark, table).collect()
    }
    # simulate the crash window: tmp written, table renamed away,
    # second rename never happened
    tmp = table + "__compacting"
    kn_counts_compact(spark, table).selectExpr(
        "w1", "w2", "c12 as c"
    ).write.parquet(tmp)
    shutil.move(table, table + "__old")
    assert not os.path.isdir(table)

    did, rows, types = kn_compact_if_due(spark, table)
    # recovery restored the original partials (rows == pre-crash
    # partial count), then the due trigger compacted them
    assert did and rows == 3 * len(want)
    got = {
        (r["w1"], r["w2"]): r["c12"]
        for r in kn_counts_compact(spark, table).collect()
    }
    assert got == want
    assert not os.path.isdir(table + "__old")
    assert not os.path.isdir(tmp)
