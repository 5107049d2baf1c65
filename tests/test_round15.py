"""Round-15 pins: the certification start gate (VERDICT r14 next #6 —
bench refuses to START a builder run on a loaded machine instead of
self-diagnosing 200 s in), escalation surfacing on the printed line
(ADVICE r14 #3), custom-writer-stamp sidecars as baselines (ADVICE
r14 #2), and the orphan sweep's re-stat-before-rmtree + audit log
(ADVICE r14 #1).

No Spark session needed: every target is a pure function or a
filesystem-only path, exercised on tmp_path trees the way
tests/test_round14.py established.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from udacitycapstonedataengineer_spark.streaming.text import (
    _sweep_orphan_dir,
)


def _bench_mod():
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod_r15", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --- certification start gate (VERDICT r14 next #6) -------------------


def test_start_gate_refuses_on_load():
    b = _bench_mod()
    reason = b.start_gate_verdict(b._GATE_MAX_LOAD + 0.5, None, None)
    assert reason and "load average" in reason
    assert b.start_gate_verdict(b._GATE_MAX_LOAD - 0.5, None, None) is None
    # unreadable load (None) alone never refuses
    assert b.start_gate_verdict(None, None, None) is None


def test_start_gate_canary_uses_first_reading_slack():
    """A flat 1.5x level test would false-refuse every idle run (an
    idle session's FIRST canary reading sits ~2x its last — the
    _CANARY_FIRST_SLACK calibration); the gate must apply the same
    first-reading slack the session verdict does."""
    b = _bench_mod()
    base = 0.2
    limit = b._CANARY_LIMIT * b._CANARY_FIRST_SLACK  # 3.0x
    ok_sec = base * (limit - 0.1)
    hot_sec = base * (limit + 0.1)
    assert b.start_gate_verdict(0.1, ok_sec, base) is None
    reason = b.start_gate_verdict(0.1, hot_sec, base)
    assert reason and "start canary" in reason
    # no committed baseline -> no absolute reference, never refuses
    assert b.start_gate_verdict(0.1, hot_sec, None) is None


def test_gate_checks_matrix():
    """Per-check bypass (post-review fix): FORCE=load skips only the
    load-average check (a back-to-back rerun sees its OWN decaying
    load), never the canary checkpoint; FORCE=1/all/true bypasses
    both; non-builder stamps are never gated."""
    b = _bench_mod()
    assert b.gate_checks("builder", "0") == (True, True)
    assert b.gate_checks("builder", "load") == (False, True)
    for f in ("1", "all", "true"):
        assert b.gate_checks("builder", f) == (False, False)
    for stamp in ("driver", "smoke", "laptop2"):
        assert b.gate_checks(stamp, "0") == (False, False)


def test_refuse_prints_parseable_line_and_exits_nonzero(capsys):
    b = _bench_mod()
    with pytest.raises(SystemExit) as exc:
        b._refuse("machine not idle")
    assert exc.value.code == 2
    out = capsys.readouterr()
    line = json.loads(out.out.strip().splitlines()[0])
    assert line["metric"] == "bench_refused"
    assert "machine not idle" in line["reason"]
    assert "machine not idle" in out.err


# --- escalation surfacing (ADVICE r14 #3) ------------------------------


def test_escalated_names_extracts_session_repeat_rulings():
    b = _bench_mod()
    regs = {
        "q_repeat": {"ruling": "session-repeat-run-scripts/isolated_query.py"},
        "q_session": {"ruling": "session"},
        "q_pinned": {"ruling": "isolated-baseline-pinned"},
        "q_mangled": "not-a-dict",
        "q_repeat2": {"ruling": "session-repeat-run-scripts/isolated_query.py"},
    }
    assert b.escalated_names(regs) == ["q_repeat", "q_repeat2"]
    assert b.escalated_names({}) == []


def test_escalations_survive_the_fitted_line():
    """The whole point is reaching the driver-parsed stdout line: the
    tail-budget trimmer must keep the escalations field while it
    drops per-query timings."""
    b = _bench_mod()
    out = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "queries": {f"q{i:03d}": 0.5 for i in range(300)},
        "escalations": ["q_repeat"],
    }
    fitted = b._fit_line(out)
    assert fitted["escalations"] == ["q_repeat"]
    assert len(json.dumps(fitted)) <= b._TAIL_BUDGET


# --- custom writer stamps as baselines (ADVICE r14 #2) ------------------


def _sidecar(clean: bool, marker: str) -> str:
    data = {
        "queries": {marker: 1.0},
        "canary": {"hot_readings": 0},
    }
    if not clean:
        data["canary_contaminated"] = True
    return json.dumps(data)


def test_detail_candidates_include_custom_stamps(tmp_path):
    """A sidecar written under any SPARK_GRAFT_BENCH_WRITER value must
    be loadable as a baseline — builder/driver stay preferred, a
    custom stamp beats only the legacy unstamped file."""
    b = _bench_mod()
    (tmp_path / "BENCH_r09.json").write_text("{}")
    b.__dict__["__file__"] = str(tmp_path / "bench.py")

    (tmp_path / "BENCH_DETAIL_after_r08_laptop2.json").write_text(
        _sidecar(True, "laptop2")
    )
    data, path = b._load_prev_detail()
    assert "laptop2" in data["queries"] and path.endswith("_laptop2.json")

    # a clean builder anchor still wins over the custom stamp
    (tmp_path / "BENCH_DETAIL_after_r08_builder.json").write_text(
        _sidecar(True, "builder")
    )
    data, _path = b._load_prev_detail()
    assert "builder" in data["queries"]

    # rulings merge across custom stamps too
    regs = {
        "queries": {},
        "canary": {"hot_readings": 0},
        "regressions": {"qx": {"ruling": "session"}},
    }
    (tmp_path / "BENCH_DETAIL_after_r08_laptop2.json").write_text(
        json.dumps(regs)
    )
    assert b._load_prev_rulings()["qx"] == "session"


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
