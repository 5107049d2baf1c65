"""bench.py: the printed-line contract, the detail sidecar, the
baseline loaders and the builder start gate, plus one end-to-end run
of ``bench.main()`` at sf0.001.

Every test but the last needs no Spark session: the loaders are pure
file reads, exercised on tmp_path trees by pointing a fresh copy of
the module's ``__file__`` (or its ``root=`` argument) at them.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pytest

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def bench():
    """A fresh bench module per test, so tests may repoint __file__."""
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _in_tree(bench, tmp_path, newest_round: int = 9) -> None:
    """Point ``bench`` at tmp_path with BENCH_r<newest_round>.json as
    the newest committed round."""
    (tmp_path / f"BENCH_r{newest_round:02d}.json").write_text("{}")
    bench.__dict__["__file__"] = str(tmp_path / "bench.py")


def _write(path, data) -> None:
    with open(path, "w") as f:
        json.dump(data, f)


# --- detail sidecar: writer stamp, candidates, archived attempts -------


def test_detail_path_is_writer_stamped(bench, tmp_path, monkeypatch):
    """The driver's per-round run and a builder's anchor run write
    separate sidecars, so neither clobbers the other."""
    _in_tree(bench, tmp_path, 13)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_WRITER", raising=False)
    assert bench._detail_path().endswith("BENCH_DETAIL_after_r13_driver.json")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WRITER", "builder")
    assert bench._detail_path().endswith("BENCH_DETAIL_after_r13_builder.json")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WRITER", "We?ird//")
    assert bench._detail_path().endswith("BENCH_DETAIL_after_r13_weird.json")


def test_detail_candidates_include_custom_stamps(bench, tmp_path):
    """A sidecar written under any SPARK_GRAFT_BENCH_WRITER value can
    anchor a baseline. Preference order: builder, driver, custom
    stamps, then the legacy unstamped name."""
    _in_tree(bench, tmp_path)
    base = tmp_path / "BENCH_DETAIL_after_r08"
    order = ["", "_laptop2", "_driver", "_builder"]  # worst first
    for suffix in order:
        _write(f"{base}{suffix}.json", {"queries": {suffix or "legacy": 1.0}})
        data, path = bench._load_prev_detail()
        assert path.endswith(f"r08{suffix}.json")
        assert (suffix or "legacy") in data["queries"]
    # the per-query baseline loader rides the same chooser
    merged, src, _sweep = bench._load_baseline()
    assert "_builder" in merged and "r08_builder" in src


def test_archive_attempt_preserves_prior_map(bench, tmp_path):
    path = str(tmp_path / "BENCH_DETAIL_after_r14_builder.json")
    _write(path, {"queries": {"q1": 1.0}, "attempt": "A"})
    aside = bench._archive_attempt(path)
    assert aside and aside.endswith(".attempt1.json")
    assert not os.path.exists(path)
    with open(aside) as f:
        assert json.load(f)["attempt"] == "A"
    # a second rerun archives to attempt2, not over attempt1
    _write(path, {"attempt": "B"})
    aside2 = bench._archive_attempt(path)
    assert aside2 and aside2.endswith(".attempt2.json")
    with open(aside) as f:
        assert json.load(f)["attempt"] == "A"
    with open(aside2) as f:
        assert json.load(f)["attempt"] == "B"


def test_archive_attempt_noop_without_existing(bench, tmp_path):
    assert bench._archive_attempt(str(tmp_path / "nope.json")) is None


def test_detail_candidates_exclude_archived_attempts(bench, tmp_path):
    """An archived attempt is never a baseline candidate: only the
    final sidecar per writer stamp, plus the legacy name, qualify."""
    for name in (
        "BENCH_DETAIL_after_r14_builder.json",
        "BENCH_DETAIL_after_r14_builder.attempt1.json",
        "BENCH_DETAIL_after_r14_builder.attempt2.json",
        "BENCH_DETAIL_after_r14_smoke.json",
    ):
        (tmp_path / name).write_text("{}")
    cands = bench._detail_candidates(14, root=str(tmp_path))
    names = [os.path.basename(p) for p in cands]
    assert "BENCH_DETAIL_after_r14_builder.json" in names
    assert "BENCH_DETAIL_after_r14_smoke.json" in names
    assert not [n for n in names if ".attempt" in n], names


def test_detail_loaders_degrade_on_mangled_sidecars(bench, tmp_path):
    """A sidecar that parses to a non-dict, or does not parse at all,
    is skipped; it never crashes the bench at startup."""
    _in_tree(bench, tmp_path)
    (tmp_path / "BENCH_DETAIL_after_r08_builder.json").write_text("[1, 2]")
    (tmp_path / "BENCH_DETAIL_after_r08_driver.json").write_text("{trunc")
    _write(tmp_path / "BENCH_DETAIL_after_r08.json", {"queries": {"q": 1.0}})
    data, path = bench._load_prev_detail()
    assert path.endswith("BENCH_DETAIL_after_r08.json")
    assert data["queries"] == {"q": 1.0}


# --- scale factor and core count scope the baselines -------------------


def test_sf_mismatch_rules(bench):
    m = bench._mismatch
    assert m({"sf": 0.01}, "sf", 0.1) is True
    assert m({"sf": 0.1}, "sf", 0.1) is False
    assert m({"cpus": 8}, "cpus", 32) is True
    assert m({"cpus": 32}, "cpus", 32) is False
    # either side missing → no opinion (legacy files predate the field)
    assert m({}, "sf", 0.1) is False
    assert m({"sf": None}, "sf", 0.1) is False
    assert m({"sf": True}, "sf", 1.0) is False
    assert m({"sf": 0.01}, "sf", None) is False


def test_run_sf_parses_env(bench, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.01")
    assert bench._run_sf() == pytest.approx(0.01)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/custom")
    assert bench._run_sf() is None
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR")
    assert bench._run_sf() == pytest.approx(0.1)


def test_smoke_scale_sidecar_never_anchors(bench, tmp_path, monkeypatch):
    """An sf0.01 smoke sidecar must never anchor an sf0.1 run (it
    would read ~10× low and flag every query), not even as the last
    resort; at the smoke scale itself it is a fine baseline."""
    n = bench._newest_round()
    assert n >= 1  # the repo carries committed BENCH_r files
    base = tmp_path / f"BENCH_DETAIL_after_r{n - 1:02d}"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    # builder-stamped smoke leftover at sf0.01 (preference slot 1)
    _write(f"{base}_builder.json", {"sf": 0.01, "queries": {}, "tag": "smoke"})
    # matching-scale driver sidecar (preference slot 2)
    _write(f"{base}_driver.json", {"sf": 0.1, "queries": {}, "tag": "real"})
    data, path = bench._load_prev_detail(root=str(tmp_path))
    assert data.get("tag") == "real", (data.get("tag"), path)
    # with ONLY the smoke sidecar on disk, nothing anchors at all
    os.remove(f"{base}_driver.json")
    assert bench._load_prev_detail(root=str(tmp_path)) == ({}, "")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.01")
    data, _ = bench._load_prev_detail(root=str(tmp_path))
    assert data.get("tag") == "smoke"


def test_wrapper_baselines_respect_scale(bench, tmp_path, monkeypatch):
    """A BENCH_r line recorded at sf0.1 must not baseline an sf0.01
    smoke run (it flagged every smoke query as a fake regression)."""
    _write(tmp_path / "BENCH_r03.json", {"parsed": {"sf": 0.1, "queries": {"q1": 5.0}}})
    bench.__dict__["__file__"] = str(tmp_path / "bench.py")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.01")
    assert "q1" not in bench._load_baseline()[0]
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    assert bench._load_baseline()[0].get("q1") == 5.0


def test_baselines_respect_core_count(bench, tmp_path, monkeypatch):
    """Two wrappers of one round at different core counts (the
    committed BENCH_r17.json / BENCH_r17_c8.json pair): each run reads
    only the one at its own core count, whatever the glob order, and a
    sidecar from another core count never anchors."""
    _write(tmp_path / "BENCH_r09.json", {"cpus": 32, "parsed": {"sf": 0.1, "queries": {"q1": 7.0}}})
    _write(tmp_path / "BENCH_r09_c8.json", {"cpus": 8, "parsed": {"sf": 0.1, "queries": {"q1": 4.0}}})
    _write(tmp_path / "BENCH_DETAIL_after_r08_builder.json", {"cpus": 8, "queries": {"q2": 1.0}})
    _write(tmp_path / "BENCH_DETAIL_after_r08_driver.json", {"queries": {"q2": 2.0}})
    bench.__dict__["__file__"] = str(tmp_path / "bench.py")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    merged, src, _ = bench._load_baseline()
    assert merged == {"q1": 7.0, "q2": 2.0}
    assert src == "BENCH_DETAIL_after_r08_driver.json+BENCH_r09.json"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    merged, src, _ = bench._load_baseline()
    assert merged == {"q1": 4.0, "q2": 1.0}
    assert src == "BENCH_DETAIL_after_r08_builder.json+BENCH_r09_c8.json"


def test_legacy_sidecar_core_count_scopes_baselines(bench, tmp_path, monkeypatch):
    """The committed r16 sidecar predates the top-level ``cpus`` field;
    its ``sat_canary.cpus`` says it is a 32-core run. A 4-core run must
    not anchor to it; a 32-core run still does."""
    shutil.copy(
        os.path.join(ROOT, "BENCH_DETAIL_after_r16_driver.json"),
        tmp_path / "BENCH_DETAIL_after_r16_driver.json",
    )
    with open(tmp_path / "BENCH_DETAIL_after_r16_driver.json") as f:
        legacy = json.load(f)
    assert "cpus" not in legacy and legacy["sat_canary"]["cpus"] == 32
    _in_tree(bench, tmp_path, newest_round=17)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert bench._load_prev_detail() == ({}, "")
    assert bench._load_baseline()[:2] == ({}, "")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    merged, src, _ = bench._load_baseline()
    assert src == "BENCH_DETAIL_after_r16_driver.json"
    assert set(legacy["queries"]) <= set(merged)


def test_committed_baselines_are_query_names(bench, monkeypatch):
    """The baseline map built from the committed files holds only
    registered query names: no meta keys read out of a truncated
    line's recorded tail."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    merged, src, _ = bench._load_baseline()
    assert merged and src
    assert set(merged) <= set(QUERIES), sorted(set(merged) - set(QUERIES))


# --- builder start gate ------------------------------------------------


def test_start_gate_refuses_on_load(bench):
    reason = bench.start_gate_verdict(bench._GATE_MAX_LOAD + 0.5)
    assert reason and "load average" in reason
    assert bench.start_gate_verdict(bench._GATE_MAX_LOAD - 0.5) is None
    # unreadable load (None) never refuses
    assert bench.start_gate_verdict(None) is None


def test_start_gate_matrix(bench):
    """Only builder runs are gated; any SPARK_GRAFT_BENCH_FORCE value
    but "0" bypasses, so the older settings (1, all, true, load)
    still do."""
    assert bench.start_gated("builder", "0") is True
    for force in ("1", "all", "true", "load"):
        assert bench.start_gated("builder", force) is False
    for stamp in ("driver", "smoke", "laptop2"):
        assert bench.start_gated(stamp, "0") is False


def test_refuse_prints_parseable_line_and_exits_nonzero(bench, capsys):
    with pytest.raises(SystemExit) as exc:
        bench._refuse("machine not idle")
    assert exc.value.code == 2
    out = capsys.readouterr()
    line = json.loads(out.out.strip().splitlines()[0])
    assert line["metric"] == "bench_refused"
    assert "machine not idle" in line["reason"]
    assert "machine not idle" in out.err


# --- the printed line ---------------------------------------------------


def _out(n_queries: int, n_regressions: int, sweep: int = 0) -> dict:
    """A main()-shaped result: n timings, the first n_regressions of
    them flagged, and an optional sweep map."""
    queries = {f"query_family_{i:03d}_long_name": 0.5 + i / 100 for i in range(n_queries)}
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpus": 32,
        "n_queries": len(queries),
    }
    if sweep:
        out["sweep_queries"] = {f"sweep_{i:03d}_long_query_name": 1.0 for i in range(sweep)}
        out["sweep_n"] = sweep
        out["sweep_total"] = float(sweep)
        out["bench_coverage"] = f"{n_queries + sweep}/{n_queries + sweep}"
    out.update(
        shared_total=50.0,
        prev_shared_total=48.0,
        shared_ratio=1.042,
        shared_n=n_queries,
        prev_bench="BENCH_DETAIL_after_r16_driver.json+BENCH_r17.json",
    )
    if n_regressions:
        out["regressions"] = {
            f"query_family_{i:03d}_long_name": {"sec": 2.0 + i, "baseline_sec": 1.0}
            for i in range(n_regressions)
        }
    return out


def test_fit_line_keeps_query_quota_under_many_regressions(bench):
    """Regression rows once consumed the whole budget and left no
    timings on the line. The heaviest _MIN_LINE_QUERIES timings come
    first, the most severe regressions next; the line stays under
    budget and the omitted counts stay visible."""
    out = _out(121, n_regressions=40)
    line = bench._fit_line(out)
    assert len(json.dumps(line)) <= bench._TAIL_BUDGET
    assert len(line["queries"]) >= bench._MIN_LINE_QUERIES
    # heaviest-first: every kept timing >= every omitted one
    kept = set(line["queries"])
    omitted_max = max(v for n, v in out["queries"].items() if n not in kept)
    assert min(line["queries"].values()) >= omitted_max
    assert line["queries_omitted"] == 121 - len(line["queries"])
    assert 0 < len(line["regressions"]) < 40
    assert line["regressions_omitted"] == 40 - len(line["regressions"])
    # the kept rows are the most severe ones (ratio = sec/baseline)
    assert "query_family_039_long_name" in line["regressions"]
    assert "query_family_000_long_name" not in line["regressions"]


def test_fit_line_unchanged_when_everything_fits(bench):
    out = _out(2, n_regressions=1, sweep=3)
    line = bench._fit_line(out)
    assert line["queries"] == out["queries"]
    assert line["regressions"] == out["regressions"]
    assert "sweep_queries" not in line and line["sweep_n"] == 3
    assert "queries_omitted" not in line
    assert "sweep_queries" in out  # the sidecar's dict is untouched


def test_fit_line_full_registry_keeps_summary_keys(bench):
    """A whole-registry run (121 headline + 128 sweep = 249 queries)
    with a handful of regressions fits the budget and keeps every
    summary key."""
    out = _out(121, n_regressions=3, sweep=128)
    line = bench._fit_line(out)
    assert len(json.dumps(line)) <= bench._TAIL_BUDGET
    for key in (
        "metric", "value", "unit", "queries", "n_queries", "sf", "cpus",
        "sweep_n", "sweep_total", "bench_coverage", "shared_total",
        "prev_shared_total", "shared_ratio", "shared_n", "prev_bench",
        "regressions",
    ):
        assert key in line, key
    assert line["regressions"] == out["regressions"]
    assert line["bench_coverage"] == "249/249"


# --- end to end ---------------------------------------------------------


def test_bench_main_smoke(tmp_path):
    """One real run of bench.main() on two headline queries at
    sf0.001, from a copy of bench.py in tmp_path so the sidecar and the
    baseline glob stay out of the repo. A committed-style wrapper in
    tmp_path supplies the baselines: one query is flagged, both are in
    the shared set."""
    shutil.copy(os.path.join(ROOT, "bench.py"), tmp_path / "bench.py")
    names = ["tpch_q1_pricing_summary", "groupby_avg"]
    _write(
        tmp_path / "BENCH_r01.json",
        {
            "cpus": 2,
            "sf": 0.001,
            "parsed": {"sf": 0.001, "queries": {names[0]: 1000.0, names[1]: 0.001}},
        },
    )
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_BENCH_WRITER", None)
    env.update(
        PYTHONPATH=ROOT,
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_SWEEP="0",
    )
    proc = subprocess.run(
        [sys.executable, "-c", f"import bench; bench.HEADLINE = {names!r}; bench.main()"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["metric"] == "headline_queries_total" and line["unit"] == "sec"
    assert set(line["queries"]) == set(names) and line["n_queries"] == 2
    assert line["value"] == pytest.approx(sum(line["queries"].values()), abs=1e-3)
    assert line["sf"] == 0.001 and line["cpus"] == 2
    assert "sweep_n" not in line
    assert line["shared_n"] == 2 and line["prev_bench"] == "BENCH_r01.json"
    assert set(line["regressions"]) == {"groupby_avg"}
    sidecar = tmp_path / "BENCH_DETAIL_after_r01_driver.json"
    assert sidecar.exists()
    assert json.loads(sidecar.read_text())["queries"] == line["queries"]
