"""Round-15 pins: the orphan sweep's re-stat-before-rmtree + audit log
(ADVICE r14 #1), and checks on the corpus pipeline report, the
budgeted incremental SemDeDup survivors and the filtered served
recall curve.

No Spark session needed for the sweep pins: they are filesystem-only
paths, exercised on tmp_path trees the way tests/test_round14.py
established.
"""

from __future__ import annotations

import os
import time

import pytest

from udacitycapstonedataengineer_spark.streaming.text import (
    _sweep_orphan_dir,
)


# --- orphan sweep re-stat + audit log (ADVICE r14 #1) -------------------


def _backdate(path, ago_sec=3600.0):
    t = time.time() - ago_sec
    for dirpath, dirs, files in os.walk(path, topdown=False):
        for n in files + dirs:
            os.utime(os.path.join(dirpath, n), (t, t))
    os.utime(path, (t, t))


def test_sweep_aborts_when_tree_freshens_between_walks(
    tmp_path, monkeypatch
):
    """A writer stalled past stale_sec that wakes between the
    staleness walk and the rmtree must NOT lose its staging: the
    re-stat sees the fresh mtime and the sweep aborts."""
    orphan = tmp_path / "_temporary"
    orphan.mkdir()
    (orphan / "task_1.parquet").write_bytes(b"x")
    _backdate(str(orphan))

    real_getmtime = os.path.getmtime
    calls = {"n": 0}
    # first walk (2 stat'd entries: dir + file) sees the backdated
    # tree; every later call reports NOW — the writer woke up
    first_walk_entries = 2

    def fake_getmtime(p):
        calls["n"] += 1
        if calls["n"] <= first_walk_entries:
            return real_getmtime(p)
        return time.time()

    monkeypatch.setattr(os.path, "getmtime", fake_getmtime)
    _sweep_orphan_dir(str(orphan), stale_sec=300.0)
    assert orphan.exists(), "sweep deleted a tree that freshened"
    assert calls["n"] > first_walk_entries, "re-stat walk never ran"


def test_sweep_keeps_tree_on_zero_evidence_recheck(tmp_path, monkeypatch):
    """Post-review fix: a recheck walk where EVERY getmtime fails
    (writer restructuring underneath — the zero-evidence signature
    the FIRST walk already fails live on) must be treated as live,
    not as confirmation of staleness."""
    orphan = tmp_path / "_temporary"
    orphan.mkdir()
    (orphan / "task_1.parquet").write_bytes(b"x")
    _backdate(str(orphan))

    real_getmtime = os.path.getmtime
    calls = {"n": 0}
    first_walk_entries = 2  # dir + file

    def fake_getmtime(p):
        calls["n"] += 1
        if calls["n"] <= first_walk_entries:
            return real_getmtime(p)
        raise OSError("renamed underneath")

    monkeypatch.setattr(os.path, "getmtime", fake_getmtime)
    _sweep_orphan_dir(str(orphan), stale_sec=300.0)
    assert orphan.exists(), "sweep deleted on a zero-evidence recheck"


def test_sweep_logs_what_it_swept(tmp_path, caplog):
    import logging

    orphan = tmp_path / "_temporary"
    orphan.mkdir()
    (orphan / "task_1.parquet").write_bytes(b"x")
    _backdate(str(orphan))
    with caplog.at_level(
        logging.WARNING, logger="udacitycapstonedataengineer_spark"
    ):
        _sweep_orphan_dir(str(orphan), stale_sec=300.0)
    assert not orphan.exists()
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        "swept orphan dir" in m and str(orphan) in m for m in msgs
    ), msgs


def test_sweep_still_removes_cold_tree_without_monkeypatch(tmp_path):
    """The re-stat must not break the sweep's core job: a genuinely
    cold tree (both walks agree) is removed."""
    orphan = tmp_path / "_temporary"
    orphan.mkdir()
    sub = orphan / "attempt_0"
    sub.mkdir()
    (sub / "task_1.parquet").write_bytes(b"x")
    _backdate(str(orphan))
    _sweep_orphan_dir(str(orphan), stale_sec=300.0)
    assert not orphan.exists()


# --- r16 staging drafts: sf0.001 oracle parity (VERDICT r14 next #5/#7)


def test_corpus_pipeline_report_draft_oracle_parity(spark, sf_dir):
    """The end-to-end corpus pipeline (quality gates → exact dedup →
    budgeted SemDeDup → temperature mixture → packing counts) keeps a
    monotone, non-degenerate funnel; oracle parity is
    test_oracle_parity[corpus_pipeline_report]."""
    from udacitycapstonedataengineer_spark.operators.cell_budget import (
        derive_k,
    )
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES
    from udacitycapstonedataengineer_spark.plans.queries_corpus2 import (
        _PIPE_TARGET_CELL,
    )

    df = QUERIES["corpus_pipeline_report"](spark, sf_dir).toPandas()
    # the funnel must be monotone per source and non-degenerate: the
    # half-budget mixture always drops documents
    for _, r in df.iterrows():
        assert (
            r.n_raw >= r.n_quality >= r.n_exact >= r.n_sem >= r.n_mix
        ), r
    assert df.n_mix.sum() < df.n_sem.sum()
    # k derives from the SemDeDup INPUT (exact-dedup survivors), not
    # the raw corpus
    assert df["derived_k"].unique().tolist() == [
        derive_k(int(df.n_exact.sum()), target_cell=_PIPE_TARGET_CELL)
    ]


@pytest.mark.slow  # multi-minute, opt-in tier
def test_semdedup_survivors_incremental_budgeted_parity(spark, sf_dir):
    """The incremental keep policy under the derived-k budget takes k
    from the CORPUS count (the fit set); oracle parity, which derives
    the same k in SQL, is
    test_oracle_parity[semdedup_survivors_incremental_budgeted]."""
    from udacitycapstonedataengineer_spark.operators.cell_budget import (
        derive_k,
    )
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        _BATCH_WHERE,
        _INC_TARGET_CELL,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    name = "semdedup_survivors_incremental_budgeted"
    df = QUERIES[name](spark, sf_dir).toPandas()
    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus = emb.filter(f"NOT ({_BATCH_WHERE})").count()
    assert df["derived_k"].unique().tolist() == [
        derive_k(n_corpus, target_cell=_INC_TARGET_CELL)
    ]
    assert set(df["reason"]) <= {"corpus_dup", "batch_dup", "novel"}


@pytest.mark.slow  # multi-minute, opt-in tier
def test_recall_curve_served_filtered_draft_oracle_parity(spark, sf_dir):
    """The filtered serving recall-vs-nprobe curve, measured from the
    written post-append index, has one recall in [0, 1] per nprobe;
    oracle parity is
    test_oracle_parity[ann_ivfpq_recall_curve_served_filtered]."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    name = "ann_ivfpq_recall_curve_served_filtered"
    df = QUERIES[name](spark, sf_dir).toPandas()
    assert df["nprobe"].tolist() == [1, 2, 4, 8]
    # NOT asserted monotone: the CANDIDATE set grows with nprobe, but
    # the ADC top-k ranks by quantized distance, so a newly probed
    # cell can push a true neighbor out of the approximate top-k
    # (observed at sf0.001: 0.3, 0.5, 0.4, 0.4)
    assert ((df["recall"] >= 0) & (df["recall"] <= 1)).all()
