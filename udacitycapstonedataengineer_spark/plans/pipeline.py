"""End-to-end batch ETL runner — the reference's ``etl.py main()``
(etl.py:82-94, SURVEY.md §3.1) re-expressed as write → audit → publish.

- **Write.** The cleaned fact source is cached once and every dim/fact
  builder reads the in-memory plan. Each star table is written once,
  under ``out_dir/_staging/<table>`` (Spark skips ``_``-prefixed paths
  when reading a parent directory), with an ``observe``d row count that
  rides along with the write. The null-drop's row accounting is
  observed under the cache and reports when the first write fills it.
  That first write runs alone; the other tables only read the filled
  cache and small dims, so they are written at once, one thread per
  table, and overlap their job and commit latency instead of queueing
  behind each other.
- **Audit.** ``check_star`` gates on the observed counts (Q1) and runs
  the FK gate on the staged fact and priority dim read back with the
  schemas they were written with, so it audits the bytes that get
  published and starts no schema-inference job.
- **Publish.** Only after every gate passes is each staged table
  renamed to ``out_dir/<table>``, through the Hadoop ``FileSystem`` of
  the path. A failed gate publishes nothing and leaves previously
  published tables intact; ``_staging`` and the cache are released
  either way.

The reference re-ran its source scan for every count() it printed and
every check it made, and its quality gates printed "NOK" instead of
raising; here row accounting and gate metrics come back as data.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.cleaning import observe, observed_clean, observed_metrics
from ..operators.quality import check_star
from ..sources.readers import load_tables
from ..sources.writers import write_parquet
from .star import build_star

STAR_READS = ("orders", "customer", "nation", "region")
# the calendar dim partitions by y/m/w exactly as the reference does
# (etl_functions.py:129-130)
PARTITION_BY = {"calendar_dim": ["arrival_year", "arrival_month", "arrival_week"]}


def _stage(star: dict[str, DataFrame], staging: str, name: str) -> int:
    """Write ``star[name]`` once under ``staging/name`` and return the row
    count observed on the write."""
    obs = Observation()
    write_parquet(
        observe(star[name], obs, F.count(F.lit(1)).alias("rows")),
        os.path.join(staging, name),
        partition_by=PARTITION_BY.get(name),
    )
    return observed_metrics(obs)["rows"]


def run_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, int]:
    """read → clean → dims → fact → staged parquet → quality → publish.

    Returns the quality/accounting metrics. Sinks land under
    ``out_dir/<table>``; raises ``QualityError`` (publishing nothing)
    when a gate fails.
    """
    tables = load_tables(spark, sf_dir, names=STAR_READS)
    orders, clean_obs = observed_clean(tables["orders"], ["o_orderkey", "o_orderdate"])
    # cached: four downstream builders consume it, one scan pays for all
    orders = orders.cache()
    star = build_star({**tables, "orders": orders})

    staging = os.path.join(out_dir, "_staging")
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs = Path(staging).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())

    def staged(name: str) -> DataFrame:
        return spark.read.schema(star[name].schema).parquet(os.path.join(staging, name))

    try:
        # the first table reads every cleaned order, so its write fills
        # the cache whole and completes clean_obs; writes that each filled
        # part of the cache would each observe only part of it
        first, *rest = star
        counts = {first: _stage(star, staging, first)}
        with ThreadPoolExecutor(len(rest)) as pool:
            # one wrapper per task: each worker gets its own copy of the
            # caller's local properties (job group, tags), which every SQL
            # execution then edits in place
            futures = {
                name: pool.submit(
                    inheritable_thread_target(spark)(_stage), star, staging, name
                )
                for name in rest
            }
        counts.update((name, f.result()) for name, f in futures.items())
        metrics = check_star(counts, staged("fact"), staged("priority_dim"))
        clean = observed_metrics(clean_obs)
        metrics.update(
            rows_before=clean["rows_seen"],
            rows_after=clean["rows_seen"] - clean["rows_dropped"],
            rows_dropped=clean["rows_dropped"],
        )
        for name in star:
            dst = Path(out_dir, name)
            fs.delete(dst, True)
            if not fs.rename(Path(staging, name), dst):
                raise OSError(f"could not publish {name} to {dst}")
    finally:
        fs.delete(Path(staging), True)
        orders.unpersist()
    return metrics
