"""Round-16 pins: bench attempt-archiving before sidecar overwrite
(VERDICT r15 next #3 — a rerun used to DESTROY the previous attempt's
full per-query map), the scale-factor guard on baseline candidates
(ADVICE r15 #1 — a canary-clean sf0.01 smoke sidecar must never
anchor an sf0.1 run ~10× low), and the mid-run burst salvage's
suspect selection (VERDICT r15 next #7).

No Spark session needed: every target is a pure function or a
filesystem-only path, exercised on tmp_path trees the way
tests/test_round15.py established.
"""

from __future__ import annotations

import json
import os

import pytest


def _bench_mod():
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod_r16", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --- attempt archiving (VERDICT r15 next #3) --------------------------


def test_archive_attempt_preserves_prior_map(tmp_path):
    b = _bench_mod()
    path = str(tmp_path / "BENCH_DETAIL_after_r14_builder.json")
    with open(path, "w") as f:
        json.dump({"queries": {"q1": 1.0}, "attempt": "A"}, f)
    aside = b._archive_attempt(path)
    assert aside and aside.endswith(".attempt1.json")
    assert not os.path.exists(path)
    with open(aside) as f:
        assert json.load(f)["attempt"] == "A"
    # a second rerun archives to attempt2, not over attempt1
    with open(path, "w") as f:
        json.dump({"attempt": "B"}, f)
    aside2 = b._archive_attempt(path)
    assert aside2 and aside2.endswith(".attempt2.json")
    with open(aside) as f:
        assert json.load(f)["attempt"] == "A"
    with open(aside2) as f:
        assert json.load(f)["attempt"] == "B"


def test_archive_attempt_noop_without_existing(tmp_path):
    b = _bench_mod()
    assert b._archive_attempt(str(tmp_path / "nope.json")) is None


def test_detail_candidates_exclude_archived_attempts(tmp_path):
    """A hot attempt A archived aside must never become a baseline
    candidate — only the final (current) sidecar per writer stamp,
    plus other writer stamps and the legacy name, qualify."""
    b = _bench_mod()
    for name in (
        "BENCH_DETAIL_after_r14_builder.json",
        "BENCH_DETAIL_after_r14_builder.attempt1.json",
        "BENCH_DETAIL_after_r14_builder.attempt2.json",
        "BENCH_DETAIL_after_r14_smoke.json",
    ):
        (tmp_path / name).write_text("{}")
    cands = b._detail_candidates(14, root=str(tmp_path))
    names = [os.path.basename(p) for p in cands]
    assert "BENCH_DETAIL_after_r14_builder.json" in names
    assert "BENCH_DETAIL_after_r14_smoke.json" in names
    assert not [n for n in names if ".attempt" in n], names


# --- scale-factor guard on baselines (ADVICE r15 #1) ------------------


def test_sf_mismatch_rules():
    b = _bench_mod()
    assert b._sf_mismatch({"sf": 0.01}, 0.1) is True
    assert b._sf_mismatch({"sf": 0.1}, 0.1) is False
    # either side missing → no opinion (legacy sidecars predate 'sf')
    assert b._sf_mismatch({}, 0.1) is False
    assert b._sf_mismatch({"sf": None}, 0.1) is False
    assert b._sf_mismatch({"sf": 0.01}, None) is False


def test_run_sf_parses_env(monkeypatch):
    b = _bench_mod()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    assert b._run_sf() == pytest.approx(0.01)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/custom")
    assert b._run_sf() is None
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR")
    assert b._run_sf() == pytest.approx(0.1)


def _clean_sidecar(sf: float, tag: str) -> dict:
    return {
        "sf": sf,
        "queries": {"q1": 1.0},
        "tag": tag,
        "canary": {"first_sec": 0.2, "last_sec": 0.2, "hot_readings": 0},
    }


def test_smoke_scale_sidecar_never_anchors(tmp_path, monkeypatch):
    """The documented smoke recipe writes a canary-clean sf0.01
    sidecar; at sf0.1 the loader must skip it entirely — even as the
    exists-at-all fallback — and fall through to the matching-scale
    candidate."""
    b = _bench_mod()
    n = b._newest_round()
    assert n >= 1  # repo carries committed BENCH_r files
    base = tmp_path / f"BENCH_DETAIL_after_r{n - 1:02d}"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # builder-stamped smoke leftover at sf0.01 (preference slot 1)
    with open(f"{base}_builder.json", "w") as f:
        json.dump(_clean_sidecar(0.01, "smoke"), f)
    # matching-scale driver sidecar (preference slot 2)
    with open(f"{base}_driver.json", "w") as f:
        json.dump(_clean_sidecar(0.1, "real"), f)
    data, path = b._load_prev_detail(root=str(tmp_path))
    assert data.get("tag") == "real", (data.get("tag"), path)
    # with ONLY the smoke sidecar on disk, nothing anchors at all
    os.remove(f"{base}_driver.json")
    data, path = b._load_prev_detail(root=str(tmp_path))
    assert data == {} and path == ""
    # at the smoke scale itself the smoke sidecar is a fine baseline
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    data, _ = b._load_prev_detail(root=str(tmp_path))
    assert data.get("tag") == "smoke"


def test_smoke_scale_rulings_do_not_feed_escalations(tmp_path, monkeypatch):
    b = _bench_mod()
    n = b._newest_round()
    base = tmp_path / f"BENCH_DETAIL_after_r{n - 1:02d}"
    side = _clean_sidecar(0.01, "smoke")
    side["regressions"] = {"q1": {"ruling": "session-transient"}}
    with open(f"{base}_driver.json", "w") as f:
        json.dump(side, f)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    assert b._load_prev_rulings(root=str(tmp_path)) == {}
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    assert b._load_prev_rulings(root=str(tmp_path)) == {
        "q1": "session-transient"
    }


# --- mid-run burst salvage (VERDICT r15 next #7) ----------------------


def test_salvage_suspects_selects_hot_segment_regressions():
    """Eligible = flagged vs baseline AND inside a hot canary
    segment. A clean-segment regression is a REAL finding (no
    salvage); an in-budget query inside a hot segment needs none."""
    b = _bench_mod()
    base = {"slow_hot": 1.0, "slow_cool": 1.0, "fast_hot": 1.0}
    canary_base = 0.2
    # readings: hot segment spans positions 0-10 (the 0.9 reading
    # bounds it); positions 12-20 are bracketed by cool readings
    readings = [
        {"after_n": 0, "sec": 0.2},
        {"after_n": 10, "sec": 0.9},  # hot (> 1.5 * 0.2)
        {"after_n": 12, "sec": 0.2},
        {"after_n": 20, "sec": 0.2},
    ]
    timings = {"slow_hot": 2.0, "slow_cool": 2.0, "fast_hot": 1.1}
    qpos = {"slow_hot": 5, "slow_cool": 15, "fast_hot": 7}
    got = b.salvage_suspects(timings, base, qpos, readings, canary_base)
    assert got == ["slow_hot"]
    # no canary baseline → no absolute hot reference → no salvage
    assert b.salvage_suspects(timings, base, qpos, readings, None) == []


def test_salvage_skips_unpositioned_and_unbaselined():
    b = _bench_mod()
    readings = [{"after_n": 0, "sec": 0.9}, {"after_n": 5, "sec": 0.9}]
    timings = {"no_base": 9.0, "no_pos": 9.0}
    got = b.salvage_suspects(
        timings, {"no_pos": 1.0}, {"no_base": 1}, readings, 0.2
    )
    assert got == []


def test_wrapper_baselines_respect_scale(tmp_path, monkeypatch):
    """ADVICE r15 #1 extended to the driver wrappers: a BENCH_r line
    recorded at sf0.1 must not baseline an sf0.01 smoke run (it
    flagged every smoke query as a fake regression)."""
    b = _bench_mod()
    with open(tmp_path / "BENCH_r03.json", "w") as f:
        json.dump(
            {"parsed": {"sf": 0.1, "queries": {"q1": 5.0}}}, f
        )
    real_dirname = os.path.dirname

    def _fake_dirname(p):
        if os.path.basename(p) == "bench.py":
            return str(tmp_path)
        return real_dirname(p)

    monkeypatch.setattr(b.os.path, "dirname", _fake_dirname)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    merged, src, _ = b._load_baseline()
    assert "q1" not in merged
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    merged, src, _ = b._load_baseline()
    assert merged.get("q1") == 5.0
