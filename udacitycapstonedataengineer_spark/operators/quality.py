"""Data-quality gates (SURVEY.md §2.10 Q1-Q3).

The reference's quality_checks (etl_functions.py:136-147) prints
"NOK" per empty table and always returns 0 — nothing fails. Here the
gates RAISE, return their evidence as data, and run as few Spark jobs
as possible: FK coverage is one broadcast anti-join count, not a
per-key loop, and the star gate reads the row counts its pipeline's
writes already observed instead of counting each table again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class QualityError(AssertionError):
    """A quality gate failed; message carries the metric evidence."""


def require_rows(counts: dict[str, int]) -> dict[str, int]:
    """Q1 on known row counts: every table must have rows. Returns the
    counts."""
    empty = [name for name, n in counts.items() if n == 0]
    if empty:
        raise QualityError(f"empty output tables: {empty} (counts={counts})")
    return counts


def assert_nonempty(tables: dict[str, DataFrame]) -> dict[str, int]:
    """Q1: every output table must have rows. Returns the counts (one
    action per table)."""
    return require_rows({name: df.count() for name, df in tables.items()})


def fk_coverage(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> dict[str, int]:
    """Every non-null fact FK must resolve in the dim (the check the
    reference never made — its left joins silently null the key).
    One broadcast LEFT ANTI join; no fact shuffle."""
    unresolved = (
        fact.filter(F.col(fact_key).isNotNull())
        .join(
            F.broadcast(dim.select(F.col(dim_key).alias(fact_key)).distinct()),
            fact_key,
            "left_anti",
        )
        .count()
    )
    if unresolved:
        raise QualityError(
            f"{unresolved} fact rows have {fact_key} not present in dim.{dim_key}"
        )
    return {"unresolved_fks": unresolved}


def check_star(
    counts: dict[str, int], fact: DataFrame, priority_dim: DataFrame
) -> dict[str, int]:
    """Full gate for the star pipeline (plans/star.py outputs): every
    table's row count (observed by its write) is non-zero, and every
    fact→priority_dim FK resolves. Pass the fact and dim as written, so
    the gate audits what gets published."""
    return {
        **require_rows(counts),
        **fk_coverage(fact, priority_dim, "priority_key", "priority_key"),
    }


# ---- declarative expectations ---------------------------------------------


def expect(name: str, condition: F.Column) -> tuple[str, F.Column]:
    """One named row-level rule. Null condition results count as
    violations (a rule you can't evaluate is not a pass)."""
    return name, F.coalesce(condition, F.lit(False))


def expectation_report(df: DataFrame, rules: list[tuple[str, F.Column]]) -> DataFrame:
    """Violation counts for every rule in ONE aggregate pass over the
    data (no per-rule jobs — at 100 TB each extra pass is a full
    scan). Returns (rule, n_rows, n_violations, violation_rate)."""
    total = F.count(F.lit(1))
    agg = df.agg(
        total.alias("__n"),
        *[
            F.sum(F.when(~cond, 1).otherwise(0)).alias(f"__v_{i}")
            for i, (_, cond) in enumerate(rules)
        ],
    )
    stacked = ", ".join(
        f"'{name}', __v_{i}" for i, (name, _) in enumerate(rules)
    )
    return agg.selectExpr(
        f"stack({len(rules)}, {stacked}) AS (rule, n_violations)", "__n AS n_rows"
    ).selectExpr(
        "rule",
        "n_rows",
        "n_violations",
        "CAST(n_violations AS DOUBLE) / n_rows AS violation_rate",
    )


def expectation_split(
    df: DataFrame, rules: list[tuple[str, F.Column]]
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): rows failing ANY rule are quarantined with
    a ``failed_rules`` array naming which — replayable evidence, the
    same contract as read_csv_quarantine. One projection, no shuffle;
    the caller fork reuses one scan under whole-stage codegen."""
    flagged = df.withColumn(
        "failed_rules",
        F.filter(
            F.array(
                *[
                    F.when(~cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in rules
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    clean = flagged.filter(F.size("failed_rules") == 0).drop("failed_rules")
    quarantine = flagged.filter(F.size("failed_rules") > 0)
    return clean, quarantine
