"""Plan doctor — static scale-hazard diagnostics for Spark plans.

The repo enforces its 100-TB plan discipline through pytest plan-shape
assertions; this module productizes those checks so ANY DataFrame can
be screened before it ships to a cluster:

    from udacitycapstonedataengineer_spark.plans.doctor import diagnose
    for f in diagnose(df):
        print(f.severity, f.rule, f.detail)

Rules (each encodes a scale contract stated in PERF_NOTES/VERDICT):

- ``global-window``  — a ``windowspecdefinition`` with no PARTITION BY
  funnels its entire input through ONE task. Accepted only above a
  Limit/TakeOrdered, when ordering by the ``__pid`` offset column
  (operators/ranking.py), or when the caller vouches the input is
  bounded (``assume_bounded=True``).
- ``broadcast-of-fact`` — an EXPLICIT broadcast hint (``F.broadcast``/
  ``hint("broadcast")``) whose subtree reads a fact-proportional table
  without first collapsing it (global aggregate or Limit). Detected in
  the ANALYZED logical plan: at toy test scale AQE legitimately turns
  many shuffle joins into broadcasts from observed sizes (those adapt
  back at 100 TB and are fine); a pinned hint does not adapt — the q21
  OOM precedent.
- ``nested-loop-join`` — BroadcastNestedLoopJoin/CartesianProduct not
  fed by a ≤1-row aggregate or Limit: O(n·m) comparisons.
- ``python-udf`` — BatchEvalPython (row-at-a-time Python) in the plan;
  the repo's relational paths are UDF-free by policy (Arrow-batched
  pandas surfaces show as ArrowEvalPython/MapInPandas and are allowed).
- ``interval-join-unbanded`` — an equi-join whose residual condition
  is a two-sided time range (``ts >= lo AND ts < hi``) while NO equi
  key is a calendar/bucket column: the join is quadratic in per-key
  event density (every probe row pairs with every candidate in the
  interval). The bounded rewrite keys on a day/bucket grain and keeps
  the range residual only inside each band (the
  events_linear_attribution_daygrain pattern; VERDICT r6 #2).

``tests/test_window_sweep.py`` runs the global-window rule over every
registered query, and ``tests/test_doctor.py`` pins each rule against
known-bad plans.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

# SF-proportional tables of the test catalog: broadcasting any of
# these is a scale hazard (nation/region/supplier stay broadcastable)
DEFAULT_FACT_TABLES = (
    "customer",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# logical-plan Relations print column lists, not paths — identify a
# fact table by a signature column unique to it
_FACT_SIGNATURES = {
    "customer": "c_custkey#",
    "orders": "o_orderkey#",
    "lineitem": "l_linenumber#",
    "events": "event_id#",
    "documents": "doc_id#",
    "embeddings": "vec_id#",
}


@dataclass
class Finding:
    rule: str
    severity: str  # "fatal" | "warn"
    detail: str


# ---------------------------------------------------------------- plans


def _optimized(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _indent(line: str) -> int:
    """Tree depth of a plan line: the column of its ``+-``/``:-``
    marker. A line without one is a plan root, at depth 0, or the first
    line under "== Final Plan ==" / "== Initial Plan ==" of a plan
    nested deeper, such as the AdaptiveSparkPlan a materialized
    InMemoryRelation prints; its depth is then that of the marker its
    indent stands for, so a subtree walk passes over the nested text
    instead of ending at it."""
    m = re.search(r"[+:]-", line)
    if m:
        return m.start()
    return max(len(line) - len(line.lstrip()) - 3, 0)


def _subtree(lines: list[str], i: int) -> list[str]:
    """Lines of the plan-tree subtree rooted at line ``i``."""
    d = _indent(lines[i])
    out = [lines[i]]
    for j in range(i + 1, len(lines)):
        if _indent(lines[j]) <= d:
            break
        out.append(lines[j])
    return out


# ------------------------------------------------------- window rule


def unpartitioned_windows(lines: list[str]) -> list[int]:
    """Line indexes whose windowspecdefinition has no partition cols
    (first argument is an ORDER expression, i.e. carries ASC/DESC)."""
    out = []
    for i, line in enumerate(lines):
        for m in re.finditer(r"windowspecdefinition\(([^)]*)", line):
            first = m.group(1).split(",")[0].strip()
            if re.search(r"(ASC|DESC) NULLS", first):
                out.append(i)
                break
    return out


def has_limit_below(lines: list[str], i: int) -> bool:
    return any(
        "Limit" in ln or "TakeOrdered" in ln for ln in _subtree(lines, i)[1:]
    )


def orders_by_pid(line: str) -> bool:
    m = re.search(r"windowspecdefinition\(([^,)]*)", line)
    return bool(m) and m.group(1).strip().startswith("__pid")


def _check_global_windows(lines: list[str]) -> list[Finding]:
    out = []
    for i in unpartitioned_windows(lines):
        if has_limit_below(lines, i):
            continue
        if orders_by_pid(lines[i]):
            continue
        out.append(
            Finding(
                "global-window",
                "fatal",
                "unpartitioned window funnels its whole input through one "
                "task — rewrite via operators/ranking.py or bound the "
                f"input: {lines[i].strip()[:160]}",
            )
        )
    return out


# ---------------------------------------------- broadcast / join rules


def _collapsed_before_broadcast(sub: list[str]) -> bool:
    """True if a global aggregate or a Limit sits between the
    broadcast and whatever it reads — the subtree output is
    rows-bounded regardless of input scale."""
    for ln in sub[1:]:
        # physical: HashAggregate(keys=[] ...); logical: an Aggregate
        # with ONE bracket group (no grouping exprs)
        if re.search(r"HashAggregate\(keys=\[\]", ln):
            return True
        m = re.search(r"\bAggregate \[", ln)
        if m and "], [" not in ln:
            return True
        if "Limit" in ln or "TakeOrdered" in ln:
            return True
    return False


def _relation_facts(sub: list[str], fact_tables: tuple[str, ...]) -> set[str]:
    found = set()
    for ln in sub:
        for t in fact_tables:
            sig = _FACT_SIGNATURES.get(t)
            if sig and sig in ln and ("Relation" in ln or "FileScan" in ln):
                found.add(t)
    return found


def _grouped_aggregate_in(sub: list[str]) -> bool:
    return any(
        re.search(r"\bAggregate \[", ln) and "], [" in ln for ln in sub[1:]
    )


def _check_broadcast_hints(
    analyzed_lines: list[str], fact_tables: tuple[str, ...]
) -> list[Finding]:
    out = []
    for i, ln in enumerate(analyzed_lines):
        if "ResolvedHint (strategy=broadcast" not in ln:
            continue
        sub = _subtree(analyzed_lines, i)
        if _collapsed_before_broadcast(sub):
            continue
        facts = _relation_facts(sub, fact_tables)
        if not facts:
            continue
        if _grouped_aggregate_in(sub):
            # bounded iff the grouping-key domain is bounded — a
            # judgment the static plan can't make; surface for review
            out.append(
                Finding(
                    "broadcast-of-fact",
                    "info",
                    "broadcast hint over a GROUPED aggregate of "
                    f"SF-proportional {sorted(facts)} — safe only if the "
                    "grouping-key domain is bounded (event types, days); "
                    "unsafe if it grows with the data (users, keys)",
                )
            )
        else:
            out.append(
                Finding(
                    "broadcast-of-fact",
                    "warn",
                    "explicit broadcast hint over SF-proportional "
                    f"{sorted(facts)} without collapsing it first — a "
                    "pinned hint cannot adapt at scale (q21 OOM "
                    "precedent); use SHUFFLE_HASH, or justify the bound "
                    "(e.g. a selective predicate) where the hint is set",
                )
            )
    return out


def _broadcast_side_is_local(lines: list[str], i: int) -> bool:
    """True when the join's broadcast side reads no files at all —
    a literal parameter dim (LocalTableScan), bounded by definition."""
    sub = lines[i + 1 :]
    d = _indent(lines[i])
    for j, ln in enumerate(sub):
        if _indent(ln) <= d:
            break
        if "BroadcastExchange" in ln or "BroadcastQueryStage" in ln:
            bsub = _subtree(sub, j)
            return not any(
                "FileScan" in x or "Scan parquet" in x for x in bsub
            )
    return False


def _check_nested_loops(lines: list[str]) -> list[Finding]:
    out = []
    for i, ln in enumerate(lines):
        if "CartesianProduct" in ln:
            out.append(
                Finding(
                    "nested-loop-join",
                    "fatal",
                    "CartesianProduct: O(n·m) row comparisons",
                )
            )
        elif "BroadcastNestedLoopJoin" in ln:
            if _collapsed_before_broadcast(_subtree(lines, i)):
                continue
            if _broadcast_side_is_local(lines, i):
                continue  # literal parameter dim — bounded
            out.append(
                Finding(
                    "nested-loop-join",
                    "warn",
                    "BroadcastNestedLoopJoin whose broadcast side is not "
                    "a ≤1-row aggregate/limit/literal dim — add an "
                    "equi-key or bucketize the range predicate "
                    "(operators/rangejoin.py)",
                )
            )
    return out


# physical-plan equi-join line: strategy [left keys], [right keys],
# type, <residual condition and build hints>
_EQUI_JOIN_RE = re.compile(
    r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
    r"(?:\(skew=true\))? \[(.*?)\], \[(.*?)\], (\w+)(.*)"
)
# a calendar/bucket-grain key name (day#12, a_day#417, month_band#3,
# __cell#7 — the operators/rangejoin.py bucketized-range-join key)
_BANDED_KEY_RE = re.compile(
    r"\b\w*(?:day|date|week|month|hour|minute|band|bucket|window|grid"
    r"|cell)\w*#",
    re.IGNORECASE,
)
# one comparison inside a residual condition
_CMP_RE = re.compile(r"\(([^()]*?) (<=?|>=?) ([^()]*?)\)")
_TIMEY_RE = re.compile(r"\b\w*(?:ts|time|date)\w*#", re.IGNORECASE)


def _check_interval_joins(lines: list[str]) -> list[Finding]:
    out = []
    for ln in lines:
        m = _EQUI_JOIN_RE.search(ln)
        if not m:
            continue
        left_keys, right_keys, residual = m.group(2), m.group(3), m.group(5)
        if _BANDED_KEY_RE.search(left_keys) or _BANDED_KEY_RE.search(
            right_keys
        ):
            continue  # banded: the range residual is bounded per band
        time_cmps = sum(
            1
            for c in _CMP_RE.finditer(residual)
            if _TIMEY_RE.search(c.group(1))
            or _TIMEY_RE.search(c.group(3))
            or "INTERVAL" in c.group(3)
        )
        if time_cmps >= 2:
            out.append(
                Finding(
                    "interval-join-unbanded",
                    "warn",
                    "equi-join with a two-sided time-range residual and "
                    "no calendar/bucket equi key — quadratic in per-key "
                    "event density; band the interval (day-grain anchors "
                    "+ boundary terms, the *_daygrain pattern): "
                    f"{ln.strip()[:160]}",
                )
            )
    return out


def _check_python_udf(lines: list[str]) -> list[Finding]:
    return [
        Finding(
            "python-udf",
            "warn",
            "BatchEvalPython: row-at-a-time Python in the plan — use "
            "native expressions or an Arrow-batched pandas surface",
        )
        for ln in lines
        if "BatchEvalPython" in ln
    ]


def _analyzed(df: DataFrame) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def diagnose(
    df: DataFrame,
    *,
    fact_tables: tuple[str, ...] = DEFAULT_FACT_TABLES,
    assume_bounded: bool = False,
) -> list[Finding]:
    """Screen a DataFrame's plan for the scale hazards above.

    ``assume_bounded=True`` suppresses the global-window and
    nested-loop rules for plans whose inputs the caller KNOWS are
    small by construction (surrogate keys over low-cardinality dims,
    calendar spines, predicate-bounded query sets) — the same judgment
    call as tests/test_window_sweep.ALLOWED_BOUNDED_INPUT.
    """
    opt_lines = _optimized(df).splitlines()
    exe_lines = _executed(df).splitlines()
    ana_lines = _analyzed(df).splitlines()
    findings: list[Finding] = []
    if not assume_bounded:
        findings += _check_global_windows(opt_lines)
        findings += _check_nested_loops(exe_lines)
        findings += _check_interval_joins(exe_lines)
    findings += _check_broadcast_hints(ana_lines, fact_tables)
    findings += _check_python_udf(exe_lines)
    return findings
