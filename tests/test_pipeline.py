"""End-to-end star pipeline: build → partitioned parquet sinks →
re-read → quality gates (the reference's etl.py lifecycle, S5/S6/Q1 +
FK coverage made real)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from udacitycapstonedataengineer_spark.operators.quality import (
    QualityError,
    assert_nonempty,
    check_star,
    fk_coverage,
)
from udacitycapstonedataengineer_spark.plans import pipeline
from udacitycapstonedataengineer_spark.plans.pipeline import STAR_READS, run_pipeline
from udacitycapstonedataengineer_spark.plans.star import build_star
from udacitycapstonedataengineer_spark.sources.readers import load_tables
from udacitycapstonedataengineer_spark.sources.writers import write_parquet


def test_star_pipeline_roundtrip(spark, sf_dir, tmp_path):
    star = build_star(load_tables(spark, sf_dir))
    counts = {t: df.count() for t, df in star.items()}
    metrics = check_star(counts, star["fact"], star["priority_dim"])
    assert metrics["unresolved_fks"] == 0
    assert all(metrics[t] > 0 for t in star)

    # partitioned sink (S6: reference partitions calendar by y/m/w)
    cal_path = str(tmp_path / "calendar_dim")
    write_parquet(
        star["calendar_dim"],
        cal_path,
        partition_by=["arrival_year", "arrival_month", "arrival_week"],
    )
    assert any(d.startswith("arrival_year=") for d in os.listdir(cal_path))

    fact_path = str(tmp_path / "fact")
    write_parquet(star["fact"], fact_path)

    # re-read: round-trip preserves rows and partition pruning works
    cal_back = spark.read.parquet(cal_path)
    assert cal_back.count() == star["calendar_dim"].count()
    one_year = cal_back.filter(F.col("arrival_year") == 1995)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert one_year.count() > 0
    # partition filter must prune at the source, not post-scan
    assert "PartitionFilters: [isnotnull(arrival_year" in plan

    fact_back = spark.read.parquet(fact_path)
    assert fact_back.count() == star["fact"].count()


def _catalog_copy(sf_dir, dst, orders_fn):
    """The star pipeline's input tables copied to ``dst``, with
    ``orders`` passed through ``orders_fn`` (a pyarrow table → table)."""
    import pyarrow.parquet as pq

    for t in STAR_READS:
        table = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        if t == "orders":
            table = orders_fn(table)
        pq.write_table(table, str(dst / f"{t}.parquet"))
    return str(dst)


def _parquet_rows(spark, path):
    return spark.read.parquet(path).count()


def test_run_pipeline_accounts_dropped_rows(spark, sf_dir, tmp_path):
    """Rows with a null o_orderdate are dropped by the clean step and
    accounted for: rows_dropped is exactly the injected count, and the
    published fact holds rows_after rows."""
    import pyarrow as pa

    n_null = 7

    def null_dates(orders):
        i = orders.schema.get_field_index("o_orderdate")
        col = orders.column(i).to_pylist()
        col[:n_null] = [None] * n_null
        return orders.set_column(
            i, orders.field(i), pa.array(col, orders.field(i).type)
        )

    src = _catalog_copy(sf_dir, tmp_path, null_dates)
    out = str(tmp_path / "out")
    metrics = run_pipeline(spark, src, out)
    assert metrics["rows_dropped"] == n_null
    assert metrics["rows_before"] - n_null == metrics["rows_after"]
    assert metrics["rows_after"] == metrics["fact"]
    assert _parquet_rows(spark, os.path.join(out, "fact")) == metrics["fact"]


def test_run_pipeline_failed_gate_publishes_nothing(spark, sf_dir, tmp_path):
    """Write–audit–publish: a run whose gate fails raises, publishes
    nothing over the previous run's tables, removes its staging
    directory and releases its cache."""
    out = str(tmp_path / "out")
    first = run_pipeline(spark, sf_dir, out)
    tables = ("priority_dim", "country_dim", "calendar_dim", "fact")
    assert {t: _parquet_rows(spark, os.path.join(out, t)) for t in tables} == {
        t: first[t] for t in tables
    }

    empty = _catalog_copy(sf_dir, tmp_path, lambda orders: orders.slice(0, 0))
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(QualityError):
        run_pipeline(spark, empty, out)
    assert {t: _parquet_rows(spark, os.path.join(out, t)) for t in tables} == {
        t: first[t] for t in tables
    }
    assert not os.path.exists(os.path.join(out, "_staging"))
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted


def test_run_pipeline_failed_write_publishes_nothing(
    spark, sf_dir, tmp_path, monkeypatch
):
    """One of the concurrently staged writes fails: its error reaches
    the caller once every write has returned, nothing is published,
    ``_staging`` is gone, the cache is released and no writer thread is
    left running."""
    write = pipeline.write_parquet
    writers = []

    def write_or_fail(df, path, **kw):
        writers.append(threading.current_thread())
        if os.path.basename(path) == "fact":
            raise OSError("fact sink failed")
        write(df, path, **kw)

    monkeypatch.setattr(pipeline, "write_parquet", write_or_fail)
    out = str(tmp_path / "out")
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(OSError, match="fact sink failed"):
        run_pipeline(spark, sf_dir, out)
    # the first write runs on the caller's thread, the other three on
    # worker threads
    caller = threading.current_thread()
    assert len(writers) == 4 and writers[0] is caller and caller not in writers[1:]
    assert not [t.name for t in writers[1:] if t.is_alive()]
    assert not os.path.exists(out) or os.listdir(out) == []
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted


def test_run_pipeline_job_count(spark, sf_dir, tmp_path):
    """The gates read the counts the writes observe and audit the staged
    tables, so a run starts 19 jobs at these settings (37 when each gate
    and count recomputed the star tables). 3 jobs of margin absorb a
    plan change such as one more broadcast stage. Every job runs in the
    caller's job group, also those of the writes staged on worker
    threads: no job without a group appears, and the group holds at
    least one job per staged table plus the FK audit."""
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("pipeline-job-count", "run_pipeline job count")
    try:
        run_pipeline(spark, sf_dir, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("pipeline-job-count")
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
    assert 4 + 1 <= len(jobs) <= 19 + 3


def test_observed_metrics_survive_aqe_empty_output(spark, sf_dir, tmp_path):
    """With AQE on, a cached null-drop that keeps no row is replaced by
    an empty relation, and its Observation completes with an empty row.
    observed_metrics still reports every row seen and dropped."""
    import pyarrow as pa

    from udacitycapstonedataengineer_spark.operators.cleaning import (
        observed_clean,
        observed_metrics,
    )

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    def all_null_dates(orders):
        i = orders.schema.get_field_index("o_orderdate")
        field = orders.field(i)
        return orders.set_column(i, field, pa.nulls(orders.num_rows, field.type))

    src = _catalog_copy(sf_dir, tmp_path, all_null_dates)
    orders = load_tables(spark, src, names=("orders",))["orders"]
    n = orders.count()
    cleaned, obs = observed_clean(orders, ["o_orderkey", "o_orderdate"])
    cleaned = cleaned.cache()
    try:
        write_parquet(
            cleaned.groupBy("o_orderpriority").count(), str(tmp_path / "out")
        )
        assert n > 0
        assert observed_metrics(obs) == {"rows_seen": n, "rows_dropped": n}
    finally:
        cleaned.unpersist()


def test_row_accounting(spark, sf_dir):
    from udacitycapstonedataengineer_spark.operators.cleaning import (
        drop_nulls,
        row_accounting,
    )

    ev = load_tables(spark, sf_dir, names=("events",))["events"]
    cleaned = drop_nulls(ev, subset=["user_id", "event_type"])
    m = row_accounting(ev, cleaned)
    assert m["rows_before"] == ev.count()
    assert m["rows_before"] - m["rows_dropped"] == m["rows_after"]
    assert m["rows_after"] == cleaned.count()


def test_quality_gates_raise(spark):
    empty = spark.range(0).select(F.col("id").alias("k"))
    full = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(QualityError):
        assert_nonempty({"t": empty})
    # FK 5 in fact, dim only has 0..4
    fact = spark.range(6).select(F.col("id").alias("k"))
    with pytest.raises(QualityError):
        fk_coverage(fact, full, "k", "k")
    assert fk_coverage(full, full, "k", "k") == {"unresolved_fks": 0}


def test_prepare_corpus_chain(spark, sf_dir):
    """The composed corpus pipeline: monotone row accounting, chunk
    counts consistent with kept docs, and run-to-run determinism."""
    from udacitycapstonedataengineer_spark.plans.corpus import prepare_corpus
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    chunks, m = prepare_corpus(docs)
    assert (
        m["raw"] >= m["after_quality"] >= m["after_lang"]
        >= m["after_exact_dedup"] >= m["after_near_dedup"]
    )
    assert m["after_near_dedup"] > 0
    assert m["chunks"] >= m["after_near_dedup"]  # ≥1 chunk per kept doc
    # kept docs are unique
    assert chunks.select("doc_id").distinct().count() == m["after_near_dedup"]
    # deterministic end to end
    chunks2, m2 = prepare_corpus(docs)
    assert m2 == m
    assert sorted(map(tuple, chunks.collect())) == sorted(
        map(tuple, chunks2.collect())
    )


def test_observed_clean_single_pass(spark):
    """Observation metrics must match the data and cost no extra job."""
    from udacitycapstonedataengineer_spark.operators.cleaning import observed_clean

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c"), (4, "d"), (None, None)],
        "k int, v string",
    )
    cleaned, obs = observed_clean(df, ["k", "v"])
    kept = cleaned.count()  # the ONE action; metrics ride along
    assert kept == 2
    m = obs.get
    assert m["rows_seen"] == 5
    assert m["rows_dropped"] == 3
    assert m["rows_seen"] - m["rows_dropped"] == kept


def test_expectation_split_quarantines_with_evidence(spark):
    """Failing rows land in quarantine with the names of the rules
    they broke; clean + quarantine partitions the input exactly."""
    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.operators.quality import (
        expect,
        expectation_split,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "A"), (3, 7.0, "X"), (4, None, "R")],
        "id long, price double, flag string",
    )
    rules = [
        expect("price_positive", F.col("price") > 0),
        expect("flag_domain", F.col("flag").isin("A", "N", "R")),
    ]
    clean, quarantine = expectation_split(df, rules)
    assert {r.id for r in clean.collect()} == {1}
    bad = {r.id: sorted(r.failed_rules) for r in quarantine.collect()}
    assert bad == {
        2: ["price_positive"],
        3: ["flag_domain"],
        4: ["price_positive"],  # null price = unevaluable = violation
    }
    assert clean.count() + quarantine.count() == df.count()
