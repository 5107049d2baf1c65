"""Round-14 pins: the reclaim loop's orphan-subdirectory sweep
(ADVICE r13 #1 — a dead writer's ``_temporary/`` must not wedge
recovery forever), its in-flight-writer safety, the empty-dir rename
hole documented in ADVICE r13 #2, the writer-stamped bench detail
sidecars (VERDICT r13 wrong #2 / next #4), and the sat-canary
statistic-kind annotation (ADVICE r13 #3).

No Spark session needed: ``_reclaim_live_path`` is pure-filesystem by
design (the swap's last window must stay JVM-free), and the bench
loaders are exercised on tmp_path sidecar trees.
"""

from __future__ import annotations

import os
import time

import pytest

from udacitycapstonedataengineer_spark.streaming.text import (
    _reclaim_live_path,
    _sweep_orphan_dir,
)


def _bench_mod():
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod_r14", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _mk_swap_state(tmp_path):
    """A mid-reclaim layout: src (the compacted tmp) waiting to take
    the live name, fold_home (__old) holding the snapshot, and the
    live path recreated by a concurrent append."""
    src = tmp_path / "kn__compacting"
    fold = tmp_path / "kn__old"
    live = tmp_path / "kn"
    src.mkdir()
    (src / "part-compacted.parquet").write_bytes(b"compacted")
    fold.mkdir()
    live.mkdir()
    (live / "part-late.parquet").write_bytes(b"late-append")
    return str(live), str(src), str(fold)


def _backdate(path, ago_sec=3600.0):
    """Freeze a tree's mtimes in the past — a crashed writer's
    ``_temporary/`` gone cold."""
    t = time.time() - ago_sec
    for dirpath, dirs, files in os.walk(path, topdown=False):
        for n in files + dirs:
            os.utime(os.path.join(dirpath, n), (t, t))
    os.utime(path, (t, t))


def test_reclaim_clears_stale_orphan_temporary(tmp_path):
    """ADVICE r13 #1: an orphaned ``_temporary/`` from a dead writer
    used to make os.rmdir fail forever — every reclaim/rollback spun
    to the deadline and raised, leaving the table unreadable in __old.
    A cold tree (whole-tree mtime stale) is now swept, its
    UNCOMMITTED task files deleted (never folded — the checkpoint
    replays the batch), and the swap completes."""
    live, src, fold = _mk_swap_state(tmp_path)
    orphan = os.path.join(live, "_temporary", "0", "task_0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-uncommitted.parquet"), "wb") as f:
        f.write(b"uncommitted")
    _backdate(os.path.join(live, "_temporary"))

    _reclaim_live_path(
        live, src_dir=src, fold_home=fold, deadline_sec=10.0,
        orphan_stale_sec=5.0,
    )
    # src took the live name; the committed late part was folded; the
    # orphan's uncommitted file was dropped, not folded
    assert os.path.isfile(os.path.join(live, "part-compacted.parquet"))
    assert os.path.isfile(os.path.join(fold, "part-late.parquet"))
    assert not os.path.exists(os.path.join(fold, "part-uncommitted.parquet"))
    assert not os.path.exists(src)
    assert not os.path.isdir(os.path.join(live, "_temporary"))


def test_reclaim_clears_empty_subdir_immediately(tmp_path):
    """An EMPTY subdirectory (a writer that mkdir'd staging and died
    before landing anything) is removable at once — no staleness wait."""
    live, src, fold = _mk_swap_state(tmp_path)
    os.makedirs(os.path.join(live, "_temporary"))  # fresh mtime, empty

    _reclaim_live_path(
        live, src_dir=src, fold_home=fold, deadline_sec=10.0,
        orphan_stale_sec=3600.0,
    )
    assert os.path.isfile(os.path.join(live, "part-compacted.parquet"))
    assert os.path.isfile(os.path.join(fold, "part-late.parquet"))


def test_reclaim_leaves_fresh_temporary_and_deadlines(tmp_path):
    """The safety half of the sweep: a FRESH ``_temporary/`` (mtimes
    current — an in-flight writer) is never rmtree'd; the loop spins
    to the deadline, raises, and leaves the writer's staging intact
    with every committed part safe in fold_home for the next call's
    rollback."""
    live, src, fold = _mk_swap_state(tmp_path)
    staging = os.path.join(live, "_temporary", "0")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-inflight.parquet"), "wb") as f:
        f.write(b"inflight")

    with pytest.raises(RuntimeError, match="could not reclaim"):
        _reclaim_live_path(
            live, src_dir=src, fold_home=fold, deadline_sec=0.3,
            orphan_stale_sec=3600.0,
        )
    assert os.path.isfile(os.path.join(staging, "part-inflight.parquet"))
    assert os.path.isfile(os.path.join(fold, "part-late.parquet"))
    assert os.path.exists(src)  # never nested into the live path


def test_sweep_orphan_dir_respects_deep_fresh_file(tmp_path):
    """Staleness is whole-tree: one fresh file deep inside an
    otherwise-cold tree marks the writer alive and blocks the sweep."""
    d = tmp_path / "_temporary"
    deep = d / "0" / "task_3"
    deep.mkdir(parents=True)
    (deep / "part-x.parquet").write_bytes(b"x")
    _backdate(str(d))
    fresh = deep / "part-y.parquet"
    fresh.write_bytes(b"y")  # current mtime

    _sweep_orphan_dir(str(d), stale_sec=5.0)
    assert d.is_dir(), "fresh tree must survive the sweep"

    os.utime(fresh, (time.time() - 3600, time.time() - 3600))
    os.utime(deep, (time.time() - 3600, time.time() - 3600))
    _sweep_orphan_dir(str(d), stale_sec=5.0)
    assert not d.exists(), "cold tree must be swept"


def test_reclaim_rename_replaces_empty_recreated_dir(tmp_path, monkeypatch):
    """ADVICE r13 #2, now documented in the reclaim docstring: POSIX
    rename(2) silently REPLACES an existing EMPTY directory. Pin the
    raw platform behavior first (a direct rename onto an existing
    empty dir — no fold loop in front to rmdir it away), then that
    the reclaim loop ends correctly when the live path is recreated
    EMPTY inside the rename window (a writer that mkdir'd the live
    path but staged nothing yet gets its dir swapped for src —
    benign: its parts then land inside the live compacted table)."""
    # 1. the raw rename(2) semantics the docstring asserts
    a = tmp_path / "raw_src"
    b = tmp_path / "raw_dst"
    a.mkdir()
    (a / "payload").write_bytes(b"x")
    b.mkdir()  # existing and EMPTY
    os.rename(str(a), str(b))  # POSIX: replaces, no error
    assert (b / "payload").is_file() and not a.exists()

    # 2. the same hole through the reclaim loop: recreate the live
    # path EMPTY between the fold's rmdir and the rename
    live, src, fold = _mk_swap_state(tmp_path)
    for f in os.listdir(live):
        os.remove(os.path.join(live, f))
    os.rmdir(live)
    real_rename = os.rename
    raced = {"n": 0}

    def race_rename(s, d, *args, **kw):
        if raced["n"] == 0 and str(s) == src:
            raced["n"] = 1
            os.mkdir(live)  # writer recreates the live path, empty
        return real_rename(s, d, *args, **kw)

    monkeypatch.setattr(os, "rename", race_rename)
    _reclaim_live_path(live, src_dir=src, fold_home=fold, deadline_sec=5.0)
    monkeypatch.setattr(os, "rename", real_rename)
    assert raced["n"] == 1
    assert os.path.isfile(os.path.join(live, "part-compacted.parquet"))
    assert not os.path.exists(src)


def test_detail_path_is_writer_stamped(tmp_path, monkeypatch):
    """VERDICT r13 wrong #2 / next #4: the driver's per-round bench
    run used to clobber the builder's canary-certified anchor — the
    sidecar path now carries the writer stamp so both coexist."""
    b = _bench_mod()
    (tmp_path / "BENCH_r13.json").write_text("{}")
    b.__dict__["__file__"] = str(tmp_path / "bench.py")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_WRITER", raising=False)
    assert b._detail_path().endswith("BENCH_DETAIL_after_r13_driver.json")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WRITER", "builder")
    assert b._detail_path().endswith("BENCH_DETAIL_after_r13_builder.json")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WRITER", "We?ird//")
    assert b._detail_path().endswith("BENCH_DETAIL_after_r13_weird.json")


def _sidecar(clean: bool, tag: str) -> str:
    import json

    return json.dumps(
        {
            "queries": {tag: 1.0},
            "canary": {"hot_readings": 0 if clean else 2},
            "canary_transient": None if clean else True,
            "sat_canary": {
                "best_sec": 0.3,
                "cpus": 32,
                "stat": "median3",
                "readings": {"first": [0.3], "last": [0.31]},
            },
        }
    )


def test_prev_detail_prefers_clean_then_builder(tmp_path):
    """Baseline anchoring: a canary-clean sidecar beats a hot one
    regardless of writer; among equally-(un)clean candidates the
    builder's certified-anchor slot wins; the legacy unstamped name
    (pre-r14 files) is the last fallback."""
    b = _bench_mod()
    (tmp_path / "BENCH_r09.json").write_text("{}")
    b.__dict__["__file__"] = str(tmp_path / "bench.py")

    # legacy only
    (tmp_path / "BENCH_DETAIL_after_r08.json").write_text(
        _sidecar(False, "legacy")
    )
    data, path = b._load_prev_detail()
    assert "legacy" in data["queries"] and path.endswith("r08.json")

    # hot builder + clean driver → the CLEAN run wins
    (tmp_path / "BENCH_DETAIL_after_r08_builder.json").write_text(
        _sidecar(False, "builder")
    )
    (tmp_path / "BENCH_DETAIL_after_r08_driver.json").write_text(
        _sidecar(True, "driver")
    )
    data, path = b._load_prev_detail()
    assert "driver" in data["queries"]

    # both clean → builder preferred
    (tmp_path / "BENCH_DETAIL_after_r08_builder.json").write_text(
        _sidecar(True, "builder")
    )
    data, path = b._load_prev_detail()
    assert "builder" in data["queries"]

    # both hot → first existing in preference order (builder)
    (tmp_path / "BENCH_DETAIL_after_r08_builder.json").write_text(
        _sidecar(False, "builder")
    )
    (tmp_path / "BENCH_DETAIL_after_r08_driver.json").write_text(
        _sidecar(False, "driver")
    )
    data, path = b._load_prev_detail()
    assert "builder" in data["queries"]

    # the per-query baseline loader rides the same chooser
    merged, src, _swp = b._load_baseline()
    assert "builder" in merged and "r08_builder" in src


def test_sat_stat_recorded_and_mismatch_skips_ratio(tmp_path):
    """ADVICE r13 #3: best_sec's statistic changed min→median in r13;
    a ratio across unlike statistics is biased (median ≥ min), so the
    sidecar records the statistic kind and the loader surfaces it —
    explicit ``stat`` field where written, inferred for older files
    (readings ⇒ median3, bare ⇒ single)."""
    b = _bench_mod()
    assert b.sat_stat_of({"stat": "median3"}) == "median3"
    assert b.sat_stat_of({"stat": "min5"}) == "min5"
    assert b.sat_stat_of({"readings": {"first": [1]}}) == "median3"
    assert b.sat_stat_of({}) == "single"

    (tmp_path / "BENCH_r09.json").write_text("{}")
    b.__dict__["__file__"] = str(tmp_path / "bench.py")
    (tmp_path / "BENCH_DETAIL_after_r08.json").write_text(
        _sidecar(True, "anchor")
    )
    base, cpus, stat = b._load_sat_baseline()
    assert base == 0.3 and cpus == 32 and stat == "median3"


def test_adjudicate_flag_repeat_session_escalates():
    """VERDICT r13 wrong #1: a query that regresses while the session
    happens to be hot would be session-ruled round after round with
    nothing ever forcing the isolated measurement. A second
    consecutive session ruling on an unpinned query now escalates to
    an explicit run-the-protocol ruling; a pinned query keeps the
    plain session ruling (the pin already enables a mechanical
    isolated-vs-isolated check next time it flags clean)."""
    b = _bench_mod()
    hot = {"sec": 2.0, "baseline_sec": 1.0, "segment_hot": True}
    first = b.adjudicate_flag(dict(hot), None, prev_ruling=None)
    assert first["ruling"] == "session"
    second = b.adjudicate_flag(dict(hot), None, prev_ruling="session")
    assert second["ruling"] == "session-repeat-run-scripts/isolated_query.py"
    third = b.adjudicate_flag(dict(hot), None, prev_ruling=second["ruling"])
    assert third["ruling"].startswith("session-repeat")
    # pinned → no escalation needed; the session ruling stands
    pinned = b.adjudicate_flag(dict(hot), 1.4, prev_ruling="session")
    assert pinned["ruling"] == "session"
    assert pinned["isolated_baseline_sec"] == 1.4
    # clean-segment paths unchanged
    clean = {"sec": 2.0, "baseline_sec": 1.0}
    assert b.adjudicate_flag(dict(clean), 1.4)["ruling"] == (
        "isolated-baseline-pinned"
    )
    assert b.adjudicate_flag(dict(clean), None)["ruling"].startswith(
        "unadjudicated"
    )


def test_repeat_flag_targets_now_pinned():
    """VERDICT r13 next #2: the three r13 session-ruled flags carry
    isolated pins, so their next flag is mechanically adjudicable."""
    b = _bench_mod()
    for q in (
        "orders_cohort_ltv_incremental",
        "events_linear_attribution_daygrain",
        "events_session_duration_stats",
    ):
        assert q in b.ISOLATED_BASELINE and b.ISOLATED_BASELINE[q] > 0


# --- r15 staging drafts (VERDICT r13 next #6/#7) ----------------------


def test_semdedup_survivors_budgeted_draft_oracle_parity(spark, sf_dir):
    """The survivors keep policy under the CELL-BUDGET derived k: the
    derived_k column must respond to the corpus count (the fixed-k
    rows would emit 8 here regardless). Oracle parity, which pins the
    same derivation in SQL, is
    test_oracle_parity[semdedup_survivors_budgeted]."""
    from udacitycapstonedataengineer_spark.operators.cell_budget import (
        derive_k,
    )
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        _BUDGET_TARGET_CELL,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    df = QUERIES["semdedup_survivors_budgeted"](spark, sf_dir).toPandas()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert df["derived_k"].unique().tolist() == [
        derive_k(n, target_cell=_BUDGET_TARGET_CELL)
    ]


def test_corpus_mixture_temperature_alpha_draft_oracle_parity(spark, sf_dir):
    """The alpha sweep {0.25, 0.5, 0.75} emits one row per source and
    alpha; oracle parity is
    test_oracle_parity[corpus_mixture_temperature_alpha]."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    df = QUERIES["corpus_mixture_temperature_alpha"](spark, sf_dir).toPandas()
    assert set(df["alpha_pct"]) == {25, 50, 75}


def test_corpus_mixture_temperature_alpha_flattens_by_alpha(spark):
    """The sweep's point, pinned on a constructed skewed corpus:
    lower alpha flattens harder — the small curated source keeps a
    HIGHER rate and the big crawl source a LOWER rate at alpha=0.25
    than at 0.75, with alpha=0.5 reproducing the registered sqrt
    row's exact rates (same corpus as the r13 skew test)."""
    import udacitycapstonedataengineer_spark.plans.queries  # noqa: F401
    from udacitycapstonedataengineer_spark.plans.queries_corpus2 import (
        _corpus_mixture_temperature_alpha,
    )

    rows = [(i, f"doc {i}", "crawl") for i in range(900)] + [
        (1000 + i, f"doc c{i}", "curated") for i in range(100)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )
    out = {
        (r["source"], r["alpha_pct"]): r.asDict()
        for r in _corpus_mixture_temperature_alpha.__wrapped__(
            spark, {"documents": docs}
        ).collect()
    }
    # hand-derived: w = floor(n^alpha * 1000), B = 500
    assert out[("crawl", 25)]["rate_bp"] == 3511
    assert out[("crawl", 50)]["rate_bp"] == 4166
    assert out[("crawl", 75)]["rate_bp"] == 4655
    assert out[("curated", 25)]["rate_bp"] == 10000
    assert out[("curated", 50)]["rate_bp"] == 10000
    assert out[("curated", 75)]["rate_bp"] == 8000
    # monotone: flattening weakens as alpha rises
    assert (
        out[("crawl", 25)]["rate_bp"]
        < out[("crawl", 50)]["rate_bp"]
        < out[("crawl", 75)]["rate_bp"]
    )


def test_recall_at_k_served_filtered_draft_partition_pruned(spark, sf_dir):
    """The filtered probes still read the written index under cell
    PartitionFilters (the label predicate must ride the pruned scan,
    not replace it) — asserted on the plan TREE (the
    maxPlanStringLength-capped string truncates scans)."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    from tests.plan_utils import scan_partition_filters

    df = QUERIES["ann_ivfpq_recall_at_k_served_filtered"](spark, sf_dir)
    filters = scan_partition_filters(df)
    cell_pruned = [f for f in filters if "cell" in f]
    assert cell_pruned, f"no cell PartitionFilters on any scan: {filters}"


def test_prev_rulings_read_across_all_sidecars(tmp_path):
    """Escalation reachability (code-review r14 #1): prev rulings must
    NOT come through the clean-preferring sidecar chooser — a clean
    sidecar can by construction never carry a session ruling, so the
    repeat-session escalation would never fire. The rulings reader
    merges across builder+driver+legacy, session-family winning."""
    import json

    b = _bench_mod()
    (tmp_path / "BENCH_r09.json").write_text("{}")
    b.__dict__["__file__"] = str(tmp_path / "bench.py")
    # clean builder anchor (no regressions) + hot driver run that
    # session-ruled query X — the steady-state shape
    (tmp_path / "BENCH_DETAIL_after_r08_builder.json").write_text(
        _sidecar(True, "builder")
    )
    hot = json.loads(_sidecar(False, "driver"))
    hot["regressions"] = {
        "x": {"sec": 2.0, "baseline_sec": 1.0, "ruling": "session"},
        "y": {"sec": 2.0, "baseline_sec": 1.0, "ruling": "unadjudicated"},
    }
    (tmp_path / "BENCH_DETAIL_after_r08_driver.json").write_text(
        json.dumps(hot)
    )
    # the baseline chooser still prefers the clean builder…
    data, path = b._load_prev_detail()
    assert "builder" in data["queries"]
    # …but the rulings reader sees the driver's session ruling
    rulings = b._load_prev_rulings()
    assert rulings["x"] == "session"
    assert rulings["y"] == "unadjudicated"
    # end-to-end: that ruling escalates the next flag on x
    flag = b.adjudicate_flag(
        {"sec": 2.2, "baseline_sec": 1.0, "segment_hot": True},
        None,
        prev_ruling=rulings.get("x"),
    )
    assert flag["ruling"] == "session-repeat-run-scripts/isolated_query.py"
    # session-family ruling wins a collision across sidecars
    legacy = json.loads(_sidecar(False, "legacy"))
    legacy["regressions"] = {"y": {"ruling": "session"}}
    (tmp_path / "BENCH_DETAIL_after_r08.json").write_text(
        json.dumps(legacy)
    )
    assert b._load_prev_rulings()["y"] == "session"


def test_detail_loaders_degrade_on_mangled_sidecars(tmp_path):
    """ADVICE r12 #3 discipline extended to the r14 loaders
    (code-review r14 #3): a sidecar with "canary": null (or a whole
    file that parses to a non-dict) must degrade — treated as
    not-clean / skipped — never crash the bench at startup."""
    import json

    b = _bench_mod()
    assert b._detail_clean({"canary": None}) is False
    assert b._detail_clean({}) is False
    assert b._detail_clean({"canary": {"hot_readings": 0}}) is True

    (tmp_path / "BENCH_r09.json").write_text("{}")
    b.__dict__["__file__"] = str(tmp_path / "bench.py")
    (tmp_path / "BENCH_DETAIL_after_r08_builder.json").write_text(
        json.dumps({"canary": None, "sat_canary": {"best_sec": 0.3,
                                                   "cpus": 32}})
    )
    (tmp_path / "BENCH_DETAIL_after_r08_driver.json").write_text("[1, 2]")
    data, path = b._load_prev_detail()  # must not raise
    assert path.endswith("_builder.json")  # non-dict driver skipped
    base, cpus, stat = b._load_sat_baseline()
    assert base == 0.3 and cpus == 32 and stat == "single"
    assert b._load_prev_rulings() == {}


def test_sweep_orphan_dir_fails_live_on_unreadable_tree(tmp_path, monkeypatch):
    """code-review r14 #2: if every getmtime races a rename (OSError
    everywhere — the signature of a writer actively restructuring),
    newest stays 0.0; the sweep must treat that as FRESH and keep the
    tree, not delete a provably-live writer's staging on zero
    evidence."""
    d = tmp_path / "_temporary" / "0"
    d.mkdir(parents=True)
    (d / "part-x.parquet").write_bytes(b"x")

    def raise_mtime(_p):
        raise OSError("raced a rename")

    monkeypatch.setattr(os.path, "getmtime", raise_mtime)
    _sweep_orphan_dir(str(tmp_path / "_temporary"), stale_sec=0.0)
    assert (d / "part-x.parquet").is_file(), "live tree must survive"


def test_reclaim_default_staleness_exceeds_deadline():
    """code-review r14 #2: the staleness default must sit far above
    the reclaim deadline — a deadline-scale threshold would rmtree a
    live task's staging during a long compute gap between part-file
    create and first flush (data destruction, strictly worse than
    the wedge ADVICE r13 #1 reported)."""
    import inspect

    sig = inspect.signature(_reclaim_live_path)
    stale = sig.parameters["orphan_stale_sec"].default
    deadline = sig.parameters["deadline_sec"].default
    assert stale >= 5 * deadline
