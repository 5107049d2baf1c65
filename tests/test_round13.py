"""Round-13 pins: the compaction swap's last-rename window + lossless
crash rollback (VERDICT r12 wrong #1, ADVICE r12 #1/#2), the
median-of-3 saturating canary + normalized round ratio (VERDICT r12
wrong #2 / next #3), and the pre-adjudicated regression flags
(VERDICT r12 next #6)."""

from __future__ import annotations

import json
import os

import pytest


def _bench_mod():
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod_r13", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


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


def test_saturating_canary_median(spark):
    """VERDICT r12 wrong #2: single endpoint readings spread 33% on a
    busy VM; the endpoint statistic is now median-of-3 with the raw
    readings recorded for the sidecar."""
    b = _bench_mod()
    med, reads = b.saturating_canary_median(spark, cpus=4, rows=1 << 20)
    assert len(reads) == 3 and all(r > 0 for r in reads)
    assert med == sorted(reads)[1]


def test_load_sat_baseline_never_raises_on_bad_sidecar(tmp_path):
    """ADVICE r12 #3: a hand-edited sidecar with a non-numeric
    best_sec used to TypeError at `val > 0` and crash the bench at
    startup; it must degrade to no-baseline instead."""
    b = _bench_mod()
    (tmp_path / "BENCH_r09.json").write_text("{}")
    for bad in ('"oops"', "[1, 2]", "null", "true"):
        (tmp_path / "BENCH_DETAIL_after_r08.json").write_text(
            '{"sat_canary": {"best_sec": %s, "cpus": 32}}' % bad
        )
        b.__dict__["__file__"] = str(tmp_path / "bench.py")
        base, cpus, stat = b._load_sat_baseline()
        assert base is None and cpus is None and stat is None
    # and a good sidecar still loads (no readings/stat field → the
    # pre-median single-reading statistic is inferred, ADVICE r13 #3)
    (tmp_path / "BENCH_DETAIL_after_r08.json").write_text(
        '{"sat_canary": {"best_sec": 0.307, "cpus": 32}}'
    )
    base, cpus, stat = b._load_sat_baseline()
    assert base == 0.307 and cpus == 32 and stat == "single"


def test_adjudicate_flag_rulings():
    """VERDICT r12 next #6: lenient flags arrive in the detail sidecar
    pre-adjudicated — session rulings beat isolated rows, pinned rows
    make the isolated protocol mechanical, unpinned flags say exactly
    what to run."""
    b = _bench_mod()
    # hot segment → session, even with a pinned row attached
    row = b.adjudicate_flag(
        {"sec": 2.0, "baseline_sec": 1.0, "segment_hot": True}, 1.4
    )
    assert row["ruling"] == "session"
    assert row["isolated_baseline_sec"] == 1.4
    # contaminated session → session
    row = b.adjudicate_flag(
        {"sec": 2.0, "baseline_sec": 1.0, "contaminated": True}, None
    )
    assert row["ruling"] == "session"
    # clean + pinned → mechanical isolated-vs-isolated comparison
    row = b.adjudicate_flag({"sec": 2.0, "baseline_sec": 1.0}, 1.4)
    assert row["ruling"] == "isolated-baseline-pinned"
    assert row["isolated_baseline_sec"] == 1.4
    # clean + unpinned → names the protocol to run
    row = b.adjudicate_flag({"sec": 2.0, "baseline_sec": 1.0}, None)
    assert "isolated_query" in row["ruling"]
    assert "isolated_baseline_sec" not in row
    # the pinned table only names registered queries
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES

    unknown = [n for n in b.ISOLATED_BASELINE if n not in QUERIES]
    assert not unknown, unknown


def test_fit_line_strips_sat_readings():
    """Raw sat-canary readings are sidecar-only; the printed line
    keeps the medians and stays under the driver's tail buffer."""
    b = _bench_mod()
    out = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "queries": {"q": 1.0},
        "canary": {"first_sec": 0.2, "readings": [{"after_n": 0, "sec": 0.2}]},
        "sat_canary": {
            "first_sec": 0.3,
            "last_sec": 0.31,
            "best_sec": 0.3,
            "readings": {"first": [0.3, 0.31, 0.3], "last": [0.31]},
        },
    }
    line = b._fit_line(out)
    assert "readings" not in line["canary"]
    assert "readings" not in line["sat_canary"]
    assert line["sat_canary"]["best_sec"] == 0.3
    assert len(json.dumps(line)) <= b._TAIL_BUDGET
    # the original dict (what the sidecar gets) is untouched
    assert "readings" in out["sat_canary"]


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
