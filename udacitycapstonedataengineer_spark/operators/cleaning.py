"""Cleaning operators (SURVEY.md §2.3 F1-F6, §2.5 A3, §2.10 Q2-Q3).

The reference's cleaning functions (utility.py:45-124) drop columns,
drop null rows, dedup, and *print* before/after counts, re-running the
source scan for every count. Here cleaning is declarative and metrics
come back as data: one job for the whole null profile, one cached pass
for row accounting.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType


def null_profile(df: DataFrame) -> DataFrame:
    """Per-column null count in ONE job (utility.py:27 idiom, A3/Q2).

    ``isnan`` only applies to float/double columns; for every other type
    null-ness is the whole story.
    """
    float_cols = {
        f.name for f in df.schema.fields if isinstance(f.dataType, (DoubleType, FloatType))
    }
    aggs = []
    for c in df.columns:
        miss = F.col(c).isNull()
        if c in float_cols:
            miss = miss | F.isnan(F.col(c))
        aggs.append(F.count(F.when(miss, c)).alias(c))
    return df.select(aggs)


def drop_nulls(
    df: DataFrame, how: str = "any", subset: list[str] | None = None
) -> DataFrame:
    """F1/F2: dropna(how='all') (utility.py:55) and dropna(subset=...)
    (utility.py:89,115)."""
    return df.na.drop(how=how, subset=subset)


def dedup_by_key(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """F6 made deterministic. The reference's
    ``drop_duplicates(subset=...)`` (utility.py:92,120) keeps an
    *arbitrary* row per key — partition-layout-dependent, so neither
    reproducible on a cluster nor oracle-checkable. We keep the first
    row per key under an explicit total order instead (row_number over
    the key partition — a single shuffle on the keys, no global sort).
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def row_accounting(df_before: DataFrame, df_after: DataFrame) -> dict[str, int]:
    """Q3: the reference prints counts around each cleaning step
    (utility.py:50-57,87-94,117-124); we return them. Caller should
    cache ``df_before`` if it is also consumed downstream."""
    before = df_before.count()
    after = df_after.count()
    return {"rows_before": before, "rows_after": after, "rows_dropped": before - after}


def observe(df: DataFrame, obs: Observation, *metrics: Column) -> DataFrame:
    """``df.observe(obs, *metrics)``, keeping the aggregate that
    ``observed_metrics`` falls back to."""
    obs._graft_fallback = df.agg(*metrics)
    return df.observe(obs, *metrics)


def observed_metrics(obs: Observation) -> dict[str, Any]:
    """The metrics of an Observation attached by ``observe``, read after
    the action that carried it.

    Under AQE, a plan whose observed input turns out empty (a cached
    filter that keeps no row) can be replaced by an empty relation; the
    Observation then completes with an empty row and ``obs.get`` raises
    from Py4J. In that case the metrics are recomputed with one aggregate
    over the observed input, so the counts are never zeros for rows
    that exist.
    """
    if obs._jo.getRow().length():
        return obs.get
    return obs._graft_fallback.first().asDict()


def observed_clean(
    df: DataFrame,
    subset: list[str],
) -> tuple[DataFrame, Observation]:
    """Null-drop with metrics collected IN the same pass via the
    Observation API: rows-seen and per-subset-column null counts ride
    along with whatever action first consumes the returned DataFrame —
    zero extra jobs, zero extra scans. The scale-correct version of
    row accounting: the two-count form re-scans the source, which at
    100 TB means reading the table twice to learn one number.

    Returns (cleaned_df, observation); read it with ``observed_metrics``
    AFTER an action has run. rows_after = rows_seen − sum of dropped (a
    row drops if ANY subset col is null, so track that predicate
    directly).
    """
    obs = Observation("clean_metrics")
    any_null = None
    for c in subset:
        p = F.col(c).isNull()
        any_null = p if any_null is None else (any_null | p)
    observed = observe(
        df,
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.count(F.when(any_null, 1)).alias("rows_dropped"),
    )
    return observed.filter(~any_null), obs
