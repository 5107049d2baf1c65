"""Round-13 pins: the compaction swap's last-rename window + lossless
crash rollback (VERDICT r12 wrong #1, ADVICE r12 #1/#2)."""

from __future__ import annotations

import os

import pytest


def _bigram_table(spark, sf_dir, tmp_path, name, n_appends=3, limit=40):
    from udacitycapstonedataengineer_spark.sources.readers import load_table
    from udacitycapstonedataengineer_spark.streaming.text import (
        _batch_bigram_counts,
    )

    docs = load_table(spark, sf_dir, "documents").limit(limit)
    table = str(tmp_path / name)
    for _ in range(n_appends):
        _batch_bigram_counts(docs).write.mode("append").parquet(table)
    return table


def _served(spark, table):
    from udacitycapstonedataengineer_spark.streaming.text import (
        kn_counts_compact,
    )

    return {
        (r["w1"], r["w2"]): r["c12"]
        for r in kn_counts_compact(spark, table).collect()
    }


def _extra(spark, sf_dir):
    from udacitycapstonedataengineer_spark.sources.readers import load_table
    from udacitycapstonedataengineer_spark.streaming.text import (
        _batch_bigram_counts,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        "doc_id >= 40 and doc_id < 45"
    )
    return {
        (r["w1"], r["w2"]): r["c"]
        for r in _batch_bigram_counts(docs).collect()
    }, docs


def test_kn_compaction_last_rename_window_append_survives(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r12 wrong #1: an append that recreates the live path
    AFTER the fold check but BEFORE the final rename used to make
    shutil.move nest tmp INSIDE the recreated directory — a corrupted
    layout. The reclaim is now an os.rename fold-retry loop: the
    recreate surfaces as a rename failure, the parts are folded, and
    the swap completes with every count intact. Reproduced by landing
    the append inside the first os.rename(tmp, live) call."""
    from udacitycapstonedataengineer_spark.streaming.text import (
        _batch_bigram_counts,
        kn_compact_if_due,
    )

    table = _bigram_table(spark, sf_dir, tmp_path, "kn_last_rename")
    extra, extra_docs = _extra(spark, sf_dir)
    want = _served(spark, table)
    for k, c in extra.items():
        want[k] = want.get(k, 0) + c

    real_rename = os.rename
    landed = {"n": 0}
    tmp_dir = table + "__compacting"

    def race_rename(src, dst, *a, **kw):
        if landed["n"] == 0 and str(src).rstrip("/") == tmp_dir:
            landed["n"] = 1  # recreate the live path inside the window
            _batch_bigram_counts(extra_docs).write.mode("append").parquet(
                table
            )
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", race_rename)
    did, _rows, _types = kn_compact_if_due(spark, table)
    monkeypatch.setattr(os, "rename", real_rename)
    assert did and landed["n"] == 1
    # no nested residue, no leftovers, counts exactly base + extra
    assert not os.path.isdir(os.path.join(table, "kn_last_rename__compacting"))
    assert not os.path.isdir(table + "__old")
    assert not os.path.isdir(tmp_dir)
    assert _served(spark, table) == want, "window append was lost"


def test_kn_compaction_crash_after_carryover_rolls_back_lossless(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r12 #1: the carry-over used to MOVE post-snapshot
    partials out of __old, so a crash before the final rename rolled
    back an __old that was missing them and rmtree'd the only copy.
    Carry-over now COPIES (the original stays in __old until the
    rename succeeds): crash + concurrent-append, then the next call's
    rollback serves base + extra, and the rerun compaction still
    equals it."""
    import shutil

    from udacitycapstonedataengineer_spark.streaming.text import (
        _batch_bigram_counts,
        kn_compact_if_due,
    )

    table = _bigram_table(spark, sf_dir, tmp_path, "kn_crash_carry")
    extra, extra_docs = _extra(spark, sf_dir)
    want = _served(spark, table)
    for k, c in extra.items():
        want[k] = want.get(k, 0) + c

    # land the append just before the first rename (table -> old), so
    # its partial rides the carry-over path
    real_move = shutil.move
    landed = {"n": 0}

    def race_move(src, dst, *a, **kw):
        if landed["n"] == 0 and str(src).rstrip("/") == table:
            landed["n"] = 1
            _batch_bigram_counts(extra_docs).write.mode("append").parquet(
                table
            )
        return real_move(src, dst, *a, **kw)

    # crash at the final rename
    real_rename = os.rename

    class _Crash(RuntimeError):
        pass

    def crash_rename(src, dst, *a, **kw):
        if str(src).rstrip("/") == table + "__compacting":
            raise _Crash("simulated crash before the final rename")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(shutil, "move", race_move)
    monkeypatch.setattr(os, "rename", crash_rename)
    with pytest.raises(_Crash):
        kn_compact_if_due(spark, table)
    monkeypatch.setattr(shutil, "move", real_move)
    monkeypatch.setattr(os, "rename", real_rename)
    assert landed["n"] == 1
    assert os.path.isdir(table + "__old")  # crash residue

    # next maintenance call: rollback restores EVERY partial (incl.
    # the carried one), then the rerun compaction proceeds
    did, rows, _types = kn_compact_if_due(spark, table)
    assert did
    assert _served(spark, table) == want, "carried partial lost in rollback"
    assert not os.path.isdir(table + "__old")
    assert not os.path.isdir(table + "__compacting")


def test_kn_compaction_midswap_rollback_folds_recreated_live_path(
    spark, sf_dir, tmp_path
):
    """Crash residue where appends RECREATED the live path after the
    crash (old + tmp + live all present): recovery folds the live
    parts into __old, rolls back, drops tmp — then the rerun
    compaction serves base + the post-crash appends."""
    import shutil

    from udacitycapstonedataengineer_spark.streaming.text import (
        _batch_bigram_counts,
        kn_compact_if_due,
        kn_counts_compact,
    )

    table = _bigram_table(spark, sf_dir, tmp_path, "kn_midswap")
    extra, extra_docs = _extra(spark, sf_dir)
    want = _served(spark, table)
    for k, c in extra.items():
        want[k] = want.get(k, 0) + c

    # construct the mid-swap crash state by hand: tmp written, live
    # renamed to old, final rename never happened…
    kn_counts_compact(spark, table).selectExpr(
        "w1", "w2", "c12 as c"
    ).write.parquet(table + "__compacting")
    shutil.move(table, table + "__old")
    # …then a micro-batch recreates the live path
    _batch_bigram_counts(extra_docs).write.mode("append").parquet(table)

    did, _rows, _types = kn_compact_if_due(spark, table)
    assert did
    assert _served(spark, table) == want
    assert not os.path.isdir(table + "__old")
    assert not os.path.isdir(table + "__compacting")


def test_session_caps_plan_string_length():
    """Round-13: composed-index plans (IVF-PQ recall@k unions over the
    unrolled build tree) stringify combinatorially; SQLExecutionStart
    builds that string per action and the UI retains one per
    execution — an unbounded cap OOM'd the bench driver JVM. The
    session factory must bound both."""
    from udacitycapstonedataengineer_spark.session import _DEFAULTS

    assert int(_DEFAULTS["spark.sql.maxPlanStringLength"]) <= 8 * 1024 * 1024
    assert int(_DEFAULTS["spark.sql.ui.retainedExecutions"]) <= 200


def test_recall_at_k_served_draft_partition_pruned(spark, sf_dir):
    """The served recall@k probes must read the APPENDED written index
    under PartitionFilters on the cell column — the post-append
    serving path prunes to nprobe/nlist of the files.

    This is exactly the plan family the session's maxPlanStringLength
    cap truncates (scans print LAST in treeString), so the gate walks
    the JVM plan tree instead of grepping a capped string."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    from tests.plan_utils import scan_partition_filters

    df = QUERIES["ann_ivfpq_recall_at_k_served"](spark, sf_dir)
    filters = scan_partition_filters(df)
    cell_pruned = [f for f in filters if "cell" in f]
    assert cell_pruned, f"no cell PartitionFilters on any scan: {filters}"


def test_corpus_mixture_temperature_draft_oracle_parity(spark, sf_dir):
    """Temperature-scaled source mixture (alpha=0.5 via IEEE-exact
    sqrt, integer-quantized weights, pure integer division for the
    rate derivation) must thin something and keep something; oracle
    parity is test_oracle_parity[corpus_mixture_temperature]."""
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    df = QUERIES["corpus_mixture_temperature"](spark, sf_dir).toPandas()
    assert (df["n_kept"] > 0).any() and (df["n_kept"] < df["n_total"]).any()


def test_corpus_mixture_temperature_flattens_skew(spark):
    """The policy's point: under alpha = 0.5, a small curated source
    is kept at a HIGHER rate than a large crawl source (testdata
    sources are uniform, so this pins the skew behavior on a
    constructed corpus)."""
    import udacitycapstonedataengineer_spark.plans.queries  # noqa: F401
    from udacitycapstonedataengineer_spark.plans.queries_corpus2 import (
        _corpus_mixture_temperature,
    )

    rows = [(i, f"doc {i}", "crawl") for i in range(900)] + [
        (1000 + i, f"doc c{i}", "curated") for i in range(100)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {
        r["source"]: r.asDict()
        for r in _corpus_mixture_temperature.__wrapped__(
            spark, {"documents": docs}
        ).collect()
    }
    # sqrt weights 30:10 on a 500-doc budget -> crawl thinned to
    # 375/900 (rate 4166 bp), curated capped at its full 100 docs
    # (rate 10000 bp)
    assert out["crawl"]["rate_bp"] == 4166
    assert out["curated"]["rate_bp"] == 10000
    assert out["curated"]["n_kept"] == 100
    assert 0 < out["crawl"]["n_kept"] < 900
