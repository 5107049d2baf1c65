"""Driver contract for spark-graft (PySpark target).

``entry`` runs the flagship star-schema query on sf0.001; ``queries`` /
``oracle_sql`` expose the engine's operator inventory (SURVEY.md §2 +
training-data-pipeline extensions) for the DuckDB correctness gate.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from udacitycapstonedataengineer_spark.plans.queries import ORACLE, QUERIES

SF_SMOKE = "/root/testdata/sf0.001"

# The round this registry targets. Staleness is derived from the
# committed CORRECTNESS_r*.json files of rounds BELOW this one: a
# round's results file is committed when the round closes, so counting
# it would rotate the window before that round's checks have run.
_ROUND = 17

_FLAGSHIP = "star_revenue_by_region_year"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES[_FLAGSHIP](spark, SF_SMOKE)


def _last_green_rounds() -> dict[str, int]:
    """Latest round in which each query passed the correctness gate
    (rows and schema match), over the committed results of rounds
    below _ROUND."""
    root = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        if rnd >= _ROUND:
            continue
        with open(path) as f:
            for name, row in json.load(f).items():
                if row.get("rows_match") and row.get("schema_match"):
                    last[name] = max(last.get(name, 0), rnd)
    return last


_LAST_GREEN = _last_green_rounds()
# oracled queries never checked green: they must be checked this round
_NEW_THIS_ROUND = sorted(
    n for n in ORACLE if n != _FLAGSHIP and n not in _LAST_GREEN
)
# queries whose committed oracle text changed since they last passed
_REEARN_THIS_ROUND: list[str] = []

# The correctness driver checks a fixed 50-name prefix of queries(), so
# the order is part of the contract: the flagship, the never-checked
# and re-earn tiers, then every other oracled query stalest first (by
# last green round, then name). A cohort wider than the remaining
# slots is split on its alphabetical prefix; the rest stays stalest
# and leads the next round's window.
_PRIORITY = (
    [_FLAGSHIP]
    + _NEW_THIS_ROUND
    + _REEARN_THIS_ROUND
    + sorted(
        (
            n
            for n in ORACLE
            if n in _LAST_GREEN
            and n != _FLAGSHIP
            and n not in _REEARN_THIS_ROUND
        ),
        key=lambda n: (_LAST_GREEN[n], n),
    )
)
_DRIVER_WINDOW = _PRIORITY[:50]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, oracled
    queries first in _PRIORITY order."""
    ordered = _PRIORITY + [n for n in QUERIES if n not in ORACLE]
    return {n: QUERIES[n] for n in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each hash-checkable query."""
    return dict(ORACLE)
