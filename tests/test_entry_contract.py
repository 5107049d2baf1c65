"""Driver-contract invariants for __spark_entry__ (the ordering IS the
contract: the correctness driver checks a fixed ~50-row prefix)."""

from __future__ import annotations

import __spark_entry__ as E
from udacitycapstonedataengineer_spark.plans.queries import ORACLE, QUERIES


def test_priority_names_are_registered():
    unknown = [n for n in E._PRIORITY if n not in QUERIES]
    assert not unknown, f"_PRIORITY references unregistered queries: {unknown}"


def test_priority_has_no_duplicates():
    assert len(E._PRIORITY) == len(set(E._PRIORITY))


def test_driver_window_is_exactly_50_and_oracled():
    """The checked prefix must stay exactly 50 entries, every one
    oracled — an unoracled query in the window burns a slot on a
    rows-only check."""
    window = E._DRIVER_WINDOW
    assert len(window) == 50
    assert window == E._PRIORITY[:50]
    unoracled = [n for n in window if n not in ORACLE]
    assert not unoracled, unoracled


def test_must_check_tiers_fit_inside_window():
    """ADVICE r5: the round-5 boundary comment drifted to slot 51 and
    silently dropped a query from driver verification. The never-
    checked / re-earn / new-this-round tiers must ALL land inside the
    50-row window — if they outgrow it, the rotation must split across
    rounds explicitly, not truncate silently."""
    must = list(E._NEW_THIS_ROUND) + list(E._REEARN_THIS_ROUND)
    window = set(E._DRIVER_WINDOW)
    dropped = [n for n in must if n not in window]
    assert not dropped, f"must-check queries outside driver window: {dropped}"


def test_no_registered_query_starves():
    """Every registered query is either already driver-green in a
    committed CORRECTNESS_r*.json or sits inside this round's window —
    the invariant the round-5 miscount broke."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: set[str] = set()
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        for name, row in json.load(open(f)).items():
            if row.get("rows_match") and row.get("schema_match"):
                green.add(name)
    if not green:  # fresh clone without driver artifacts
        return
    window = set(E._DRIVER_WINDOW)
    starved = [n for n in QUERIES if n not in green and n not in window]
    assert not starved, f"never-checked and outside window: {starved}"


def test_stalest_cohort_rotates():
    """VERDICT r7 #1/#3 (wrong #: flaw 3): the rotation backlog was
    hand-counted in a comment and drifted (said 9, data said 16). The
    count is now DERIVED: compute each query's latest driver-green
    round from the raw committed CORRECTNESS_r*.json files; every
    query in the STALEST cohort (minimum latest-green round) must sit
    inside this round's driver window — the stalest queries can never
    be skipped by a mis-counted comment again.

    Only rounds BELOW E._ROUND count (ADVICE r8): the driver commits
    CORRECTNESS_r{_ROUND}.json at round CLOSE, but the window only
    rotates at the NEXT round open — without the exclusion this gate
    is guaranteed-red between those two moments for a reason the
    window already documents."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        if rnd >= E._ROUND:
            continue
        for name, row in json.load(open(f)).items():
            if row.get("rows_match") and row.get("schema_match"):
                last[name] = max(last.get(name, 0), rnd)
    stale = {n: r for n, r in last.items() if n in QUERIES}
    if not stale:
        return
    oldest = min(stale.values())
    cohort = sorted(n for n, r in stale.items() if r == oldest)
    exempt = {"star_revenue_by_region_year"}
    exempt |= set(getattr(E, "_NEW_THIS_ROUND", []))
    exempt |= set(getattr(E, "_REEARN_THIS_ROUND", []))
    err = rotation_violation(E._DRIVER_WINDOW, last, cohort, exempt)
    assert err is None, f"(stalest = r{oldest:02d}) {err}"


def rotation_violation(
    window_list: list[str],
    last: dict[str, int],
    cohort: list[str],
    exempt: set[str],
) -> str | None:
    """None = the window rotates the stalest cohort legally; else the
    violation. The full cohort in-window always passes. An EXPLICIT
    SPLIT (round 15+: every remaining cohort is 49 wide, so flagship
    + new registrations + full cohort can exceed 50 — the "split
    across rounds explicitly" the gate's docstring has always
    promised) passes only when it is principled, not a silent
    truncation:
      1. no slot is wasted on a FRESHER query: every window member
         with a green history belongs to the stalest cohort — the
         only exemptions are the flagship (re-greened every round by
         design) and the declared new/re-earn tiers;
      2. the included subset is the deterministic alphabetical prefix
         of the cohort, so WHICH members wait is mechanical;
      3. the remainder needs no bookkeeping: its latest-green round
         stays the minimum, so it IS the next round's stalest cohort
         and this same gate forces it through then."""
    window = set(window_list)
    missed = [n for n in cohort if n not in window]
    if not missed:
        return None
    cohort_set = set(cohort)
    fresher = sorted(
        n
        for n in window_list
        if n not in exempt and n in last and n not in cohort_set
    )
    if fresher:
        return (
            "stalest cohort split while fresher queries hold window "
            f"slots: {fresher}"
        )
    # ADVICE r15 #2: a no-history window member that is NOT declared
    # in the new/re-earn tiers is a violation too — a registration
    # forgotten from _NEW_THIS_ROUND must not silently displace a
    # cohort member; the declared tiers are the single source of
    # slot exemptions.
    undeclared = sorted(
        n
        for n in window_list
        if n not in exempt and n not in last and n not in cohort_set
    )
    if undeclared:
        return (
            "stalest cohort split while undeclared no-history queries "
            f"hold window slots (declare them in _NEW_THIS_ROUND / "
            f"_REEARN_THIS_ROUND): {undeclared}"
        )
    included = [n for n in cohort if n in window]
    if not included or included != cohort[: len(included)]:
        return (
            "a cohort split must take the alphabetical prefix "
            f"(deterministic); got {included[:5]} vs {cohort[:5]}"
        )
    return None


def test_rotation_split_semantics():
    """The split validator itself (inert on this round's real data —
    the r15 window holds its full cohort — but load-bearing from r16
    on, when 49-wide cohorts leave no room for new registrations):
    full rotation passes, a principled prefix split passes, a split
    that wastes a slot on a fresher query or skips a prefix member
    fails."""
    last = {"a": 11, "b": 11, "c": 11, "d": 12, "flag": 14}
    cohort = ["a", "b", "c"]
    exempt = {"flag", "new1"}

    # full cohort in window
    assert rotation_violation(
        ["flag", "new1", "a", "b", "c"], last, cohort, exempt
    ) is None
    # principled split: prefix {a, b} included, c waits
    assert rotation_violation(
        ["flag", "new1", "a", "b"], last, cohort, exempt
    ) is None
    # fresher query d holds a slot while c waits — violation
    err = rotation_violation(
        ["flag", "new1", "a", "b", "d"], last, cohort, exempt
    )
    assert err and "fresher" in err
    # non-prefix split (skipped a while taking b) — violation
    err = rotation_violation(
        ["flag", "new1", "b", "c"], last, cohort, exempt
    )
    assert err and "prefix" in err
    # an undeclared new query (not in exempt, no green history)
    # displacing a cohort member is a violation too (ADVICE r15 #2):
    # a registration forgotten from _NEW_THIS_ROUND must not silently
    # burn a rotation slot
    err = rotation_violation(
        ["flag", "brand_new", "a", "b"], last, cohort, exempt
    )
    assert err and "undeclared" in err
    # ...but the same query DECLARED (in exempt) passes
    assert rotation_violation(
        ["flag", "brand_new", "a", "b"], last, cohort,
        exempt | {"brand_new"},
    ) is None


def test_queries_covers_every_registered_query():
    q = E.queries()
    assert set(q) == set(QUERIES)
    # oracle_sql is a subset keyed identically
    o = E.oracle_sql()
    assert set(o) <= set(q)
    assert set(o) == set(ORACLE)


def test_every_registered_query_is_oracled():
    """Round-4 invariant: 100% oracle coverage (interval-assertion
    oracles included). A new rows-only query is a regression."""
    missing = [n for n in QUERIES if n not in ORACLE]
    assert not missing, f"queries without oracles: {missing}"


def test_oracle_comparator_detects_drift():
    """The gate's own sensitivity: one changed value, one float ulp,
    one extra row, one renamed column — each must fail the compare.
    (A comparator that silently passes drift would make every green
    row above meaningless.)"""
    import math

    import pandas as pd
    import pytest

    from tests.oracle_check import compare_frames

    base = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    compare_frames(base.copy(), base.copy(), "same")  # sanity

    changed = base.copy()
    changed.loc[1, "v"] = 2.6
    with pytest.raises(AssertionError):
        compare_frames(base, changed, "value")

    ulp = base.copy()
    ulp.loc[0, "v"] = math.nextafter(1.5, 2.0)
    with pytest.raises(AssertionError):
        compare_frames(base, ulp, "ulp")

    extra = pd.concat([base, base.iloc[[0]]], ignore_index=True)
    with pytest.raises(AssertionError):
        compare_frames(base, extra, "rows")

    renamed = base.rename(columns={"v": "w"})
    with pytest.raises(AssertionError):
        compare_frames(base, renamed, "cols")


def test_bench_and_probe_names_are_registered():
    """bench.py skips unknown names silently and the probe would
    KeyError at runtime — a typo in either list must fail here, not
    drop a benchmark on the floor."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def load(name, path):
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    bench = load("bench_mod", os.path.join(root, "bench.py"))
    probe = load(
        "probe_mod", os.path.join(root, "scripts", "scale_probe.py")
    )
    missing_b = [n for n in bench.HEADLINE if n not in QUERIES]
    missing_p = [n for n in probe.PROBE_QUERIES if n not in QUERIES]
    assert not missing_b, f"bench names not registered: {missing_b}"
    assert not missing_p, f"probe names not registered: {missing_p}"
    # and no duplicates padding the lists
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    assert len(probe.PROBE_QUERIES) == len(set(probe.PROBE_QUERIES))
    # perfbench/run.py runs these by name in the index_build workload;
    # read them with ast so the benchmark's module is never imported
    index_queries = _module_constant(
        os.path.join(root, "perfbench", "run.py"), "INDEX_QUERIES"
    )
    assert index_queries, "INDEX_QUERIES not found in perfbench/run.py"
    missing_i = [n for n in index_queries if n not in QUERIES]
    unoracled_i = [n for n in index_queries if n not in ORACLE]
    assert not missing_i, f"benchmark names not registered: {missing_i}"
    assert not unoracled_i, f"benchmark names without oracles: {unoracled_i}"


def _module_constant(path: str, name: str):
    """The literal value assigned to ``name`` at the top level of the
    Python file at ``path`` (None when absent)."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == name for t in node.targets
        ):
            return ast.literal_eval(node.value)
    return None


def test_script_engine_imports_resolve():
    """Every ``from udacitycapstonedataengineer_spark... import x`` in
    scripts/*.py names a module that exists and an attribute it
    defines — a moved or deleted symbol must fail here, not when
    someone next runs the script."""
    import ast
    import glob
    import importlib
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    broken = []
    for path in sorted(glob.glob(os.path.join(root, "scripts", "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and node.module.split(".")[0]
                == "udacitycapstonedataengineer_spark"
            ):
                continue
            where = f"{os.path.basename(path)}:{node.lineno}"
            try:
                mod = importlib.import_module(node.module)
            except ImportError as e:
                broken.append(f"{where} {node.module}: {e}")
                continue
            for alias in node.names:
                if alias.name == "*" or hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    broken.append(f"{where} {node.module}.{alias.name}")
    assert not broken, f"unresolved engine imports in scripts: {broken}"
