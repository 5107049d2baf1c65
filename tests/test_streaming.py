"""Structured Streaming twin: the readStream → watermark → window →
memory-sink path must agree with the batch tumbling-window plan on the
same finite input (SURVEY.md §2.7 extension surface)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from udacitycapstonedataengineer_spark.sources.readers import load_table
from udacitycapstonedataengineer_spark.streaming.events import (
    streaming_user_stats_stateful,
    streaming_window_counts,
    tumbling_window_agg,
    windowed_append_stream,
)


def test_streaming_matches_batch(spark, sf_dir):
    batch = (
        tumbling_window_agg(load_table(spark, sf_dir, "events"), minutes=5)
        .select("window_start", "event_type", "n_events")
        .collect()
    )
    stream = streaming_window_counts(
        spark, sf_dir, minutes=5, query_name="t_stream_counts"
    ).collect()
    key = lambda r: (r.window_start, r.event_type)  # noqa: E731
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))
    assert {key(r): r.n_events for r in stream} == {
        key(r): r.n_events for r in batch
    }


def test_watermark_drops_late_data(spark, tmp_path):
    """The watermark contract, end to end: a row arriving after the
    watermark passed its window must be dropped, and an append-mode
    window is emitted exactly once, finalized. 5-min windows, 10-min
    watermark, one file per trigger."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    src = tmp_path / "landing"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, offsets_min):
        tbl = pa.table(
            {
                "ts": pa.array(
                    [t0 + dt.timedelta(minutes=m) for m in offsets_min],
                    pa.timestamp("us"),
                ),
                "event_type": pa.array(["click"] * len(offsets_min)),
            }
        )
        pq.write_table(tbl, src / name)

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    # batch 1: two rows in window [00:00, 00:05) + one at 00:20 that
    # advances the watermark to 00:10 (> window end → finalized)
    write_batch("b1.parquet", [0, 3, 20])
    agg = windowed_append_stream(
        spark, str(src), schema, minutes=5, watermark="10 minutes"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late_drop")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for the finalized window (00:01 < watermark
        # 00:10 → must be dropped) + a fresh row pushing time forward
        write_batch("b2.parquet", [1, 40])
        q.processAllAvailable()
        # batch 3: advance once more so [00:20, 00:25) also finalizes
        write_batch("b3.parquet", [60])
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = {
        r.window_start: r.n_events
        for r in spark.sql("SELECT * FROM t_late_drop").collect()
    }
    w0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    # window A holds ONLY the two on-time rows — the late row vanished
    assert emitted[w0] == 2
    # and it was emitted exactly once (dict build would mask dupes)
    rows = spark.sql(
        f"SELECT count(*) AS n FROM t_late_drop WHERE window_start = {w0}"
    ).collect()
    assert rows[0].n == 1
    # the 00:20 row's window finalized too, without the late row
    assert emitted[w0 + 20 * 60] == 1


def test_stateful_operator_matches_batch(spark, sf_dir):
    """applyInPandasWithState running per-user aggregates must equal
    the batch groupBy on the same finite input."""
    got = {
        r.user_id: (r.n_events, r.max_value)
        for r in streaming_user_stats_stateful(
            spark, sf_dir, query_name="t_user_stats"
        ).collect()
    }
    want = {
        r.user_id: (r.n_events, r.max_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert got == want


def test_stream_static_join_matches_batch(spark, sf_dir):
    """Broadcast stream–static enrichment must equal the same join+agg
    run in batch."""
    from udacitycapstonedataengineer_spark.streaming.events import (
        stream_static_enrich,
    )

    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0),
         ("signup", 5.0), ("error", 0.0)],
        "event_type string, type_weight double",
    )
    got = {
        (r.event_type, r.type_weight): r.n_events
        for r in stream_static_enrich(
            spark, sf_dir, dim, query_name="t_enrich"
        ).collect()
    }
    want = {
        (r.event_type, r.type_weight): r.n_events
        for r in load_table(spark, sf_dir, "events")
        .join(F.broadcast(dim), "event_type", "left")
        .groupBy("event_type", "type_weight")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want


def test_foreach_batch_upsert_sink(spark, sf_dir, tmp_path):
    """foreachBatch parquet sink: the landed table equals the source
    (modulo per-batch dedup), partitioned by event_type."""
    from udacitycapstonedataengineer_spark.streaming.events import (
        foreach_batch_upsert,
    )

    out = str(tmp_path / "events_sink")
    foreach_batch_upsert(spark, sf_dir, out)
    landed = spark.read.parquet(out)
    src = load_table(spark, sf_dir, "events")
    assert landed.count() == src.count()
    assert sorted(r.event_id for r in landed.select("event_id").collect()) == (
        sorted(r.event_id for r in src.select("event_id").collect())
    )
    # partition pruning works on the landed layout
    plan = (
        landed.filter(F.col("event_type") == "click")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_foreach_batch_checkpoint_restart_idempotent(spark, sf_dir, tmp_path):
    """Restart semantics: re-running the same stream over the same
    checkpoint must process nothing new — the source offset log makes
    replays no-ops, so the sink stays exactly-once across restarts."""
    from udacitycapstonedataengineer_spark.streaming.events import (
        foreach_batch_upsert,
    )

    out = str(tmp_path / "events_sink")
    foreach_batch_upsert(spark, sf_dir, out)
    n1 = spark.read.parquet(out).count()
    foreach_batch_upsert(spark, sf_dir, out)  # same checkpoint dir
    assert spark.read.parquet(out).count() == n1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: same-batch and within-watermark
    duplicates are admitted once; a duplicate arriving AFTER the
    fingerprint's state was evicted (event clock passed first-seen +
    watermark) re-emits — the documented bounded-state trade."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from udacitycapstonedataengineer_spark.streaming.events import (
        streaming_dedup_within_watermark,
    )

    src = tmp_path / "docs_landing"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, rows):  # rows: (doc_id, minutes, text)
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [t0 + dt.timedelta(minutes=r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "text": pa.array([r[2] for r in rows]),
            }
        )
        pq.write_table(tbl, src / name)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
        ]
    )
    # batch 1: "alpha" twice in-batch (one admitted), "beta" once
    write_batch("b1.parquet", [(1, 0, "alpha"), (2, 1, "Alpha  "), (3, 2, "beta")])
    dedup = streaming_dedup_within_watermark(
        spark, str(src), schema, watermark="30 minutes"
    )
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2 (clock at ~00:10): "alpha" again within watermark →
        # suppressed; "gamma" new → admitted
        write_batch("b2.parquet", [(4, 10, "alpha"), (5, 11, "gamma")])
        q.processAllAvailable()
        # batch 3: a fresh doc at 02:00 advances the event clock; at
        # batch end the watermark (02:00 - 30min) evicts alpha's state
        # (first seen 00:00)
        write_batch("b3.parquet", [(6, 120, "delta")])
        q.processAllAvailable()
        # batch 4: "alpha" after eviction → re-emits (bounded state)
        write_batch("b4.parquet", [(7, 125, "alpha")])
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT doc_id, text FROM t_stream_dedup").collect()
    admitted = sorted(r.doc_id for r in out)
    # normalization: doc 2 ("Alpha  ") deduped against doc 1 ("alpha")
    assert 2 not in admitted and 4 not in admitted
    assert 1 in admitted and 3 in admitted and 5 in admitted and 6 in admitted
    # bounded state: the post-eviction duplicate re-emitted
    assert 7 in admitted


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream–stream interval join (click→purchase attribution within
    10 min, watermarks both sides for bounded state) produces exactly
    the batch join's pairs."""
    from udacitycapstonedataengineer_spark.streaming.events import (
        batch_click_purchase,
        stream_stream_click_purchase,
    )

    batch = batch_click_purchase(
        load_table(spark, sf_dir, "events"), minutes=10
    ).collect()
    stream = stream_stream_click_purchase(
        spark, sf_dir, minutes=10, query_name="t_ss_join"
    ).collect()
    assert len(batch) > 0  # degenerate-empty would prove nothing
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))


def test_transform_with_state_matches_batch(spark, sf_dir):
    """Spark-4 transformWithStateInPandas (RocksDB state store): final
    per-user purchase totals equal the batch aggregate, in exact
    cents.

    The TWS worker<->JVM state protocol is protobuf-serialized; where
    no protobuf distribution is installed, get_spark's bootstrap
    (compat.ensure_protobuf_runtime + pbshim/sitecustomize.py) makes a
    vendored pure-python runtime importable in the driver AND the
    forked Python workers. The importorskip is the last-resort gate
    for machines where neither a real install nor the vendored
    fallback exists."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import functions as F

    from udacitycapstonedataengineer_spark.streaming.events import (
        streaming_user_totals_tws,
    )

    batch = {
        r.user_id: (r.n, r.cents)
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    # update-mode memory sink: the LAST row per user is the final state
    rows = streaming_user_totals_tws(
        spark, sf_dir, query_name="t_tws_totals"
    ).collect()
    final = {}
    for r in rows:  # memory sink preserves batch order; later wins
        final[r.user_id] = (r.n_purchases, r.cents)
    assert len(final) > 0
    assert final == batch


def test_tws_recent_k_matches_batch(spark, sf_dir):
    """ListState TWS (bounded per-user recent-history): final last-3
    purchases per user equal the batch top-3 by (ts, event_id) desc.
    State is bounded at k rows per key by construction — the pattern
    that caps state size at large key cardinality."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")

    from udacitycapstonedataengineer_spark.streaming.events import (
        batch_user_recent_k,
        streaming_user_recent_k_tws,
    )

    batch = {
        (r.user_id, r.recency_rank): (r.event_id, r.ts_us)
        for r in batch_user_recent_k(
            load_table(spark, sf_dir, "events"), k=3
        ).collect()
    }
    rows = streaming_user_recent_k_tws(
        spark, sf_dir, k=3, query_name="t_tws_recent_k"
    ).collect()
    final = {}
    for r in rows:  # memory sink preserves batch order; later wins
        final[(r.user_id, r.recency_rank)] = (r.event_id, r.ts_us)
    assert len(final) > 0
    assert final == batch


def test_statestore_reader_exposes_tws_state(spark, sf_dir, tmp_path):
    """The statestore batch reader must surface the TWS ValueState
    as a DataFrame matching the query's own final output — state is
    queryable data, not a black box inside the checkpoint."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")

    from udacitycapstonedataengineer_spark.streaming.events import (
        read_tws_value_state,
        streaming_user_totals_tws,
    )

    ckpt = str(tmp_path / "tws_ckpt")
    rows = streaming_user_totals_tws(
        spark, sf_dir, query_name="t_tws_ckpt", checkpoint_dir=ckpt
    ).collect()
    final = {}
    for r in rows:  # memory sink preserves batch order; later wins
        final[r.user_id] = (r.n_purchases, r.cents)

    state = read_tws_value_state(spark, ckpt, "totals").collect()
    got = {
        r.key.user_id: (r.value.n, r.value.cents) for r in state
    }
    assert len(got) > 0
    assert got == final


def test_streaming_hll_rollup_equals_batch_sketch(spark, sf_dir):
    """Streaming sketch algebra: the per-day HLL estimates from the
    streaming aggregation (partial sketches merged in micro-batch
    order) must EXACTLY equal the batch one-pass build — register-max
    merge is order-insensitive, so equality is exact, not approximate."""
    from udacitycapstonedataengineer_spark.operators.sketches import (
        hll_daily_distinct,
    )
    from udacitycapstonedataengineer_spark.streaming.events import (
        streaming_daily_distinct_hll,
    )

    batch = {
        r.day: r.est_distinct
        for r in hll_daily_distinct(load_table(spark, sf_dir, "events"))
        .select("day", "est_distinct")
        .collect()
    }
    stream = {
        r.day: r.est_distinct
        for r in streaming_daily_distinct_hll(
            spark, sf_dir, query_name="t_stream_hll"
        ).collect()
    }
    assert len(stream) > 0
    assert stream == batch


def test_tws_session_timeout_timers_match_batch(spark, sf_dir, tmp_path):
    """MapState + event-time timers (the last two TWS primitives):
    timer-driven gap sessionization equals the batch twin exactly —
    session bounds, event counts, DISTINCT-TYPE counts (MapState), and
    the close reason ('event' for sessions superseded by later
    activity, 'timer' for each user's final session, fired when the
    watermark passed last_event + gap)."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from udacitycapstonedataengineer_spark.streaming.events import (
        batch_session_timeout,
        streaming_session_timeout_tws,
    )

    events = load_table(spark, sf_dir, "events")
    # a sliver of users keeps the memory-sink result small while still
    # producing multi-session users at the 2-minute gap
    ev = events.filter(F.col("user_id") % 97 == 0)
    pdf = (
        ev.select("event_id", "user_id", "event_type", "ts")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert len(pdf) > 50
    # time-ordered chunks -> one micro-batch each, so the watermark
    # advances between batches and timers actually fire; two far-future
    # sentinel chunks push the final watermark past every real expiry
    chunk_dir = tmp_path / "chunks"
    chunk_dir.mkdir()
    n_chunks = 4
    per = (len(pdf) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        part = pdf.iloc[i * per : (i + 1) * per]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            str(chunk_dir / f"chunk-{i:03d}.parquet"),
        )
    t_max = pdf["ts"].max()
    for j, days in enumerate((10, 20)):
        sentinel = pd.DataFrame(
            {
                "event_id": [10**9 + j],
                "user_id": [-1],
                "event_type": ["sentinel"],
                "ts": [t_max + pd.Timedelta(days=days)],
            }
        )
        pq.write_table(
            pa.Table.from_pandas(sentinel, preserve_index=False),
            str(chunk_dir / f"chunk-{n_chunks + j:03d}.parquet"),
        )

    rows = streaming_session_timeout_tws(
        spark, str(chunk_dir), gap_minutes=2, query_name="t_tws_sessions"
    ).collect()
    got = {
        (r.user_id, r.session_start_us): (
            r.session_end_us,
            r.n_events,
            r.n_types,
            r.closed_by,
        )
        for r in rows
        if r.user_id != -1
    }
    want = {
        (r.user_id, r.session_start_us): (
            r.session_end_us,
            r.n_events,
            r.n_types,
            r.closed_by,
        )
        for r in batch_session_timeout(ev, gap_minutes=2).collect()
    }
    assert len(want) > 5
    assert got == want
    # both close paths must actually be exercised
    reasons = {v[3] for v in got.values()}
    assert reasons == {"event", "timer"}, reasons


def test_tws_mg_candidates_superset_and_exact_verify(spark, sf_dir):
    """Streaming MG shards must (a) stay bounded, (b) be a candidate
    superset of every ≥1.05%-share item, and (c) reproduce the batch
    two-pass heavy-hitter output exactly after the verify pass."""
    from udacitycapstonedataengineer_spark.operators.heavyhitters import (
        heavy_hitters_exact,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table
    from udacitycapstonedataengineer_spark.streaming.events import (
        streaming_heavy_hitter_candidates_tws,
    )

    shards, capacity = 8, 128
    cand = streaming_heavy_hitter_candidates_tws(
        spark, sf_dir, shards=shards, capacity=capacity,
        query_name="t_mg_candidates",
    )
    cand_items = {r["item"] for r in cand.collect()}
    assert cand.count() <= shards * capacity

    events = load_table(spark, sf_dir, "events")
    item = F.get_json_object("props", "$.k").cast("long").cast("string")
    exact = (
        events.select(item.alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    n_total = events.count()
    heavy = {
        r["item"]
        for r in exact.filter(F.col("n") * 10000 >= 105 * n_total).collect()
    }
    assert heavy, "degenerate fixture: no heavy items at 1.05%"
    assert heavy <= cand_items

    # verify pass over the streaming candidates == batch two-pass
    verified = {
        (r["item"], r["n"])
        for r in exact.filter(F.col("item").isin(list(cand_items)))
        .filter(F.col("n") * 10000 >= 105 * n_total)
        .collect()
    }
    batch = {
        (r["item"], r["n"])
        for r in heavy_hitters_exact(
            events, item, share_bp=105
        ).collect()
    }
    assert verified == batch


def test_tws_state_ttl_expires_and_retains(spark, sf_dir, tmp_path):
    """State TTL end-to-end across a checkpoint restart: with a short
    TTL, users seen in batch 1 read as NEW again in a batch delivered
    after the TTL elapsed (the store forgot them on its own); with a
    long TTL the same replay reads as returning. Margins are wide
    (0.5 s TTL vs 2 s sleep vs 1 h TTL) so the assertion is about
    SEMANTICS, not timing precision."""
    import shutil
    import time

    from udacitycapstonedataengineer_spark.streaming.events import (
        streaming_seen_users_ttl_tws,
    )

    src = f"{sf_dir}/events.parquet"
    cases = {"short": 500, "long": 3_600_000}
    landing = {}
    for tag in cases:
        d = tmp_path / f"landing_{tag}"
        d.mkdir()
        shutil.copy(src, d / "batch1.parquet")
        landing[tag] = d

    # batch 1: everyone is new under either TTL
    for tag, ttl in cases.items():
        rows = streaming_seen_users_ttl_tws(
            spark, str(landing[tag]), ttl,
            query_name=f"t_ttl_{tag}_b1",
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            out_dir=str(tmp_path / f"out_{tag}_b1"),
        ).collect()
        assert rows and all(r["is_new"] for r in rows), tag

    time.sleep(2.0)  # >> short TTL, << long TTL

    # batch 2: same users arrive again on the SAME checkpoint
    for tag, ttl in cases.items():
        shutil.copy(src, landing[tag] / "batch2.parquet")
        rows = streaming_seen_users_ttl_tws(
            spark, str(landing[tag]), ttl,
            query_name=f"t_ttl_{tag}_b2",
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            out_dir=str(tmp_path / f"out_{tag}_b2"),
        ).collect()
        assert rows, tag
        if tag == "short":
            assert all(r["is_new"] for r in rows), "short TTL must expire"
        else:
            assert not any(r["is_new"] for r in rows), "long TTL must retain"


def test_tws_mg_candidates_multibatch_merge(spark, sf_dir, tmp_path):
    """The MG summaries must MERGE correctly across micro-batches:
    deliver the corpus as two files at one file per trigger, then
    exact-verify the union of emitted candidates — it must reproduce
    the batch two-pass heavy hitters over the COMBINED data."""
    import shutil

    from udacitycapstonedataengineer_spark.operators.heavyhitters import (
        heavy_hitters_exact,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table
    from udacitycapstonedataengineer_spark.streaming.events import (
        streaming_heavy_hitter_candidates_tws,
    )

    land = tmp_path / "mg_landing"
    land.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", land / "half1.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", land / "half2.parquet")

    cand = streaming_heavy_hitter_candidates_tws(
        spark, sf_dir, shards=8, capacity=128,
        query_name="t_mg_multibatch",
        landing_dir=str(land), max_files_per_trigger=1,
    )
    # two triggers ran: the memory sink holds both batches' emissions
    cand_items = {r["item"] for r in cand.collect()}

    events = load_table(spark, sf_dir, "events")
    doubled = events.unionByName(events)
    item = F.get_json_object("props", "$.k").cast("long").cast("string")
    n_total = doubled.count()
    exact = (
        doubled.select(item.alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    batch = {
        (r["item"], r["n"])
        for r in heavy_hitters_exact(doubled, item, share_bp=105).collect()
    }
    assert batch, "degenerate fixture"
    verified = {
        (r["item"], r["n"])
        for r in exact.filter(F.col("item").isin(list(cand_items)))
        .filter(F.col("n") * 10000 >= 105 * n_total)
        .collect()
    }
    assert verified == batch


def test_stream_stream_leftouter_null_emission(spark, sf_dir, tmp_path):
    """Left-outer stream-stream join: unmatched clicks emit with null
    purchase ids only after the watermark proves no match can arrive.
    A far-future sentinel batch flushes all pending state; the final
    table must equal the batch LEFT join (sentinels excluded)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from udacitycapstonedataengineer_spark.streaming.events import (
        stream_stream_click_purchase_leftouter,
    )

    land = tmp_path / "lo_landing"
    land.mkdir()
    import shutil

    shutil.copy(f"{sf_dir}/events.parquet", land / "b1.parquet")

    events = load_table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    far = max_ts + dt.timedelta(hours=6)
    # match b1's physical ts type exactly (timestamp[us] at this SF)
    sentinel = pa.table(
        {
            "event_id": pa.array([10**12, 10**12 + 1]),
            "ts": pa.array([far, far], pa.timestamp("us")),
            "user_id": pa.array([-1, -1]),
            "event_type": pa.array(["click", "purchase"]),
            "value": pa.array([0.0, 0.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(sentinel, land / "b2.parquet")

    got = {
        (r["click_id"], r["purchase_id"])
        for r in stream_stream_click_purchase_leftouter(
            spark, str(land), minutes=10, query_name="t_ss_lo"
        ).collect()
        if r["c_user"] != -1
    }
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = {
        (r["click_id"], r["purchase_id"])
        for r in clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
            "leftOuter",
        ).collect()
    }
    assert got == want
    # the null-emission path actually fired
    assert any(p is None for _, p in got)


def test_foreach_batch_crash_replay_does_not_double_apply(
    spark, sf_dir, tmp_path
):
    """VERDICT r6 #6: crash-recovery proof for the foreachBatch upsert
    sink. Deliver batch 0 and let it commit; then simulate a crash
    BETWEEN the sink write and the commit-log record by deleting the
    checkpoint's commit marker; restart. The engine re-runs the same
    epoch (the sink really fires again — asserted), and the per-batch
    overwrite lands it idempotently: the table holds each event
    exactly once. A blind append sink would hold them twice."""
    import os

    from udacitycapstonedataengineer_spark.streaming.events import (
        foreach_batch_upsert,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "upsert_sink")
    src = load_table(spark, sf_dir, "events").limit(500)
    src.coalesce(1).write.mode("overwrite").parquet(landing)
    n_src = spark.read.parquet(landing).select("event_id").distinct().count()

    # a real crash loses the JVM's in-memory commit-log cache along
    # with everything else; in-process the cache survives and would
    # (correctly) flag our behind-its-back commit deletion as
    # concurrent modification — disable it so the restart reads the
    # checkpoint from disk exactly as a post-crash JVM would
    prev_cache = spark.conf.get(
        "spark.sql.streaming.metadataCache.enabled", None
    )
    spark.conf.set("spark.sql.streaming.metadataCache.enabled", "false")

    applied1 = foreach_batch_upsert(spark, sf_dir, out, landing_dir=landing)
    assert applied1 >= 1
    assert (
        spark.read.parquet(out).select("event_id").distinct().count() == n_src
    )
    n_rows_after_run1 = spark.read.parquet(out).count()
    assert n_rows_after_run1 == n_src  # per-batch dedup held

    # crash simulation: offsets/N exists (batch planned + sink wrote)
    # but commits/N is gone (never recorded as durable). The sidecar
    # .N.crc must go too — a stale Hadoop checksum file makes the
    # replay's commit re-write fail as a concurrent-writer conflict
    commits_dir = os.path.join(out + "_ckpt", "commits")
    last = [
        c for c in sorted(os.listdir(commits_dir)) if not c.startswith(".")
    ][-1]
    os.remove(os.path.join(commits_dir, last))
    crc = os.path.join(commits_dir, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    applied2 = foreach_batch_upsert(spark, sf_dir, out, landing_dir=landing)
    assert applied2 >= 1, "replay did not fire — the crash sim is broken"
    # exactly-once effect: replayed batch overwrote its own directory,
    # so neither row count nor distinct count moved
    assert spark.read.parquet(out).count() == n_rows_after_run1
    assert (
        spark.read.parquet(out).select("event_id").distinct().count() == n_src
    )

    # clean restart (commit log intact, no new files): nothing replays
    applied3 = foreach_batch_upsert(spark, sf_dir, out, landing_dir=landing)
    assert applied3 == 0
    assert spark.read.parquet(out).count() == n_rows_after_run1

    if prev_cache is None:
        spark.conf.unset("spark.sql.streaming.metadataCache.enabled")
    else:
        spark.conf.set(
            "spark.sql.streaming.metadataCache.enabled", prev_cache
        )


def test_stream_semdedup_matches_batch_incremental(spark, sf_dir, tmp_path):
    """Streaming semantic dedup (streaming/vectors.py): arriving
    vectors assigned to corpus-fitted standing cells by a STATELESS
    argmin projection (array_min over (dist2, cid) structs — no
    window, no state) and compared against same-cell corpus members
    via a stream-static join. Across multiple micro-batches the union
    of emissions must equal the batch incremental path EXACTLY,
    cosine doubles included (same folds, same tie-breaks)."""
    from udacitycapstonedataengineer_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from udacitycapstonedataengineer_spark.operators.semdedup import (
        semdedup_incremental_pairs,
    )
    from udacitycapstonedataengineer_spark.streaming.vectors import (
        build_corpus_index,
        stream_semdedup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    new_batch = emb.filter("vec_id % 10 = 7")
    corpus = emb.filter("vec_id % 10 != 7")

    want = {
        (r["cluster"], r["new_vec_id"], r["corpus_vec_id"], r["cosine"])
        for r in semdedup_incremental_pairs(
            corpus, new_batch, k=8, iters=2, dim=64, threshold=0.2
        ).collect()
    }
    assert want, "no batch pairs at this sf — test would prove nothing"

    vectors, centroids = kmeans_fit(corpus, k=8, iters=2, dim=64)
    centroid_rows = centroids.collect()
    corpus_index = build_corpus_index(
        corpus, kmeans_assign(vectors, centroids)
    )

    landing = str(tmp_path / "vec_landing")
    # two files → maxFilesPerTrigger=1 forces multiple micro-batches
    new_batch.filter("vec_id % 20 = 7").coalesce(1).write.mode(
        "overwrite"
    ).parquet(landing)
    new_batch.filter("vec_id % 20 = 17").coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    stream = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .select("vec_id", "embedding")
    )
    q = (
        stream_semdedup_pairs(
            stream, corpus_index, centroid_rows, threshold=0.2
        )
        .writeStream.format("memory")
        .queryName("t_semdedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1  # really ran >1 micro-batch
    got = {
        (r["cluster"], r["new_vec_id"], r["corpus_vec_id"], r["cosine"])
        for r in spark.sql("SELECT * FROM t_semdedup_stream").collect()
    }
    assert got == want


def test_stream_ivfpq_encode_matches_batch(spark, sf_dir, tmp_path):
    """Streaming IVF-PQ encode (streaming/vectors.py, VERDICT r9 #6):
    arriving vectors encoded against the FROZEN corpus model by
    stateless argmin projections (cell, residual lookup, per-subspace
    codes — no window, no state), appended onto a cell-partitioned
    index via foreachBatch. The read-back union across multiple
    micro-batches must equal ``ivfpq_encode_batch`` EXACTLY — cells
    and code arrays included (same folds, same tie-breaks)."""
    from udacitycapstonedataengineer_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_encode_batch,
    )
    from udacitycapstonedataengineer_spark.streaming.vectors import (
        stream_ivfpq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    new_batch = emb.filter("vec_id % 10 = 7")
    corpus = emb.filter("vec_id % 10 != 7")

    cents, books, _index = ivfpq_build(corpus, nlist=8, m=8, k=16, iters=2)
    want = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in ivfpq_encode_batch(new_batch, cents, books, m=8).collect()
    }
    assert want, "no batch rows at this sf — test would prove nothing"

    landing = str(tmp_path / "ivfpq_landing")
    # two files → maxFilesPerTrigger=1 forces multiple micro-batches
    new_batch.filter("vec_id % 20 = 7").coalesce(1).write.mode(
        "overwrite"
    ).parquet(landing)
    new_batch.filter("vec_id % 20 = 17").coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    index_dir = str(tmp_path / "ivfpq_index_append")
    stream = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .select("vec_id", "embedding")
    )
    encoded = stream_ivfpq_encode(
        stream, cents.collect(), books.collect(), m=8
    )
    q = (
        encoded.writeStream.foreachBatch(
            lambda df, _bid: df.write.partitionBy("cell")
            .mode("append")
            .parquet(index_dir)
        )
        .option(
            "checkpointLocation", str(tmp_path / "ivfpq_encode_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1  # really ran >1 micro-batch
    got = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(index_dir)
        .select("vec_id", F.col("cell").cast("long").alias("cell"), "codes")
        .collect()
    }
    assert got == want


def test_stream_ivfpq_drift_matches_batch(spark, sf_dir, tmp_path):
    """Streaming drift evidence (streaming/vectors.py): arriving
    vectors' frozen-model cells and fixed-point residual energies as a
    stateless projection, appended via foreachBatch; the per-cell
    aggregation over the appended stats across multiple micro-batches
    must equal the batch drift query's batch-side stats EXACTLY
    (exact-BIGINT energies — no float tolerance needed)."""
    from udacitycapstonedataengineer_spark.operators.ivfpq import ivfpq_build
    from udacitycapstonedataengineer_spark.plans import queries  # noqa: F401
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        _BATCH_WHERE,
        ivfpq_drift_stats,
    )
    from udacitycapstonedataengineer_spark.streaming.vectors import (
        stream_ivfpq_drift_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(f"NOT ({_BATCH_WHERE})")
    batch = emb.filter(_BATCH_WHERE)
    cents, _books, _index = ivfpq_build(corpus, nlist=8, m=8, k=16, iters=2)

    want = {
        r["cell"]: (r["batch_n"], r["batch_energy"])
        for r in ivfpq_drift_stats(emb, cents).collect()
        if r["batch_n"] > 0
    }
    assert want, "no batch rows at this sf — test would prove nothing"

    landing = str(tmp_path / "drift_landing")
    batch.filter("vec_id % 20 = 7").coalesce(1).write.mode(
        "overwrite"
    ).parquet(landing)
    batch.filter("vec_id % 20 = 17").coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    stats_dir = str(tmp_path / "drift_stats_append")
    stream = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .select("vec_id", "embedding")
    )
    q = (
        stream_ivfpq_drift_stats(stream, cents.collect())
        .writeStream.foreachBatch(
            lambda df, _bid: df.write.mode("append").parquet(stats_dir)
        )
        .option("checkpointLocation", str(tmp_path / "drift_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1
    got = {
        r["cell"]: (r["n"], r["energy"])
        for r in spark.read.parquet(stats_dir)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum("energy").alias("energy")
        )
        .collect()
    }
    assert got == want


def test_stream_semdedup_survivor_pipeline_sequential(spark, sf_dir, tmp_path):
    """The production ingest loop for incremental SemDeDup survivors:
    each micro-batch is decided against the STANDING survivor table
    (frozen model), and its kept rows are appended into that table
    before the next micro-batch — so a duplicate arriving after its
    exemplar dies as corpus_dup even across micro-batch boundaries.
    The streamed decisions must equal applying the batch operator
    sequentially (B1 then B2 with the survivor append in between) —
    the sequencing-honest contract, exactly."""
    from udacitycapstonedataengineer_spark.operators.clustering import (
        _as_double_vec,
        kmeans_assign,
        kmeans_fit,
    )
    from udacitycapstonedataengineer_spark.operators.graph import (
        connected_components,
    )
    from udacitycapstonedataengineer_spark.operators.similarity import (
        cosine_prenorm,
        norm,
    )
    from udacitycapstonedataengineer_spark.plans import queries  # noqa: F401
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        _BATCH_WHERE,
        _cell_members,
        _decide_batch,
    )

    threshold = 0.2
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(f"NOT ({_BATCH_WHERE})")
    b1 = emb.filter("vec_id % 20 = 7")
    b2 = emb.filter("vec_id % 20 = 17")

    # standing tables (the corpus-refresh job), persisted as parquet
    vectors, centroids = kmeans_fit(corpus, k=8, iters=2, dim=64)
    cm = _cell_members(corpus, centroids.collect(), "vec_a", "e_a", "n_a")
    cos = cosine_prenorm("e_a", "e_b", "n_a", "n_b")
    cpairs = (
        cm.join(
            cm.select(
                "cluster",
                F.col("vec_a").alias("vec_b"),
                F.col("e_a").alias("e_b"),
                F.col("n_a").alias("n_b"),
            ),
            "cluster",
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= threshold)
        .select("vec_a", "vec_b")
    )
    comp = connected_components(cpairs, a="vec_a", b="vec_b")
    dropped = comp.filter("node != comp").select(F.col("node").alias("vec_a"))
    cent_path = str(tmp_path / "pipe_centroids")
    surv_path = str(tmp_path / "pipe_survivors")
    centroids.write.mode("overwrite").parquet(cent_path)
    cm.join(dropped, "vec_a", "left_anti").write.mode("overwrite").parquet(
        surv_path
    )

    def survivor_members(batch, decisions):
        kept = decisions.filter("kept").select("vec_id")
        kb = batch.join(kept, "vec_id")
        assign = kmeans_assign(
            _as_double_vec(kb, "embedding"),
            spark.read.parquet(cent_path),
        )
        return kb.join(assign, "vec_id").select(
            "cluster",
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("e_a"),
            norm("embedding").alias("n_a"),
        )

    # ---- want: the batch operator applied sequentially ----
    want_rows = []
    standing = spark.read.parquet(surv_path)
    d1 = _decide_batch(b1, spark.read.parquet(cent_path), standing, threshold)
    d1p = str(tmp_path / "want_d1")
    d1.write.mode("overwrite").parquet(d1p)
    want_rows += [
        r.asDict() for r in spark.read.parquet(d1p).collect()
    ]
    survivor_members(b1, spark.read.parquet(d1p)).write.mode(
        "append"
    ).parquet(surv_path)
    d2 = _decide_batch(
        b2,
        spark.read.parquet(cent_path),
        spark.read.parquet(surv_path),
        threshold,
    )
    d2p = str(tmp_path / "want_d2")
    d2.write.mode("overwrite").parquet(d2p)
    want_rows += [r.asDict() for r in spark.read.parquet(d2p).collect()]
    want = {r["vec_id"]: (r["label"], r["reason"], r["kept"]) for r in want_rows}

    # ---- got: the STREAMING loop over a fresh standing table ----
    surv2_path = str(tmp_path / "pipe_survivors_stream")
    cm.join(dropped, "vec_a", "left_anti").write.mode("overwrite").parquet(
        surv2_path
    )
    landing = str(tmp_path / "pipe_landing")
    decisions_path = str(tmp_path / "pipe_decisions")

    def decide_and_append(batch_df, _bid):
        if batch_df.isEmpty():
            return
        dec = _decide_batch(
            batch_df,
            spark.read.parquet(cent_path),
            spark.read.parquet(surv2_path),
            threshold,
        )
        dec.write.mode("append").parquet(decisions_path)
        survivor_members(
            batch_df, spark.read.parquet(decisions_path)
        ).join(
            batch_df.select("vec_id").withColumnRenamed("vec_id", "vec_a"),
            "vec_a",
        ).write.mode("append").parquet(surv2_path)

    schema = b1.schema
    for piece in (b1, b2):  # one file per ingest wave, decided in order
        piece.coalesce(1).write.mode("append").parquet(landing)
        q = (
            spark.readStream.schema(schema)
            .parquet(landing)
            .writeStream.foreachBatch(decide_and_append)
            .option("checkpointLocation", str(tmp_path / "pipe_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    got = {
        r["vec_id"]: (r["label"], r["reason"], r["kept"])
        for r in spark.read.parquet(decisions_path).collect()
    }
    assert set(got) == set(want)
    assert got == want
    # the cross-micro-batch contract is actually exercised: some B2
    # row must have died against a B1-appended survivor OR the split
    # must at least produce kept B1 rows that B2 was compared against
    assert any(r["kept"] for r in want_rows), "no survivors at all?"


def test_stream_kn_bigram_counts_matches_rebuild(spark, sf_dir, tmp_path):
    """Streaming KN count maintenance (streaming/text.py, round 11):
    documents streamed in MULTIPLE micro-batches land append-only
    partial bigram counts; the compacted standing table must equal a
    full batch rebuild EXACTLY, and feeding it (plus an empty batch)
    through kn_bigram_merge must reproduce the full-corpus derived
    statistics — the streamed table is a drop-in standing side for
    text_kn_bigram_incremental. Restart over the same checkpoint must
    land nothing new (exactly-once)."""
    from udacitycapstonedataengineer_spark.plans import queries  # noqa: F401
    from udacitycapstonedataengineer_spark.plans.queries_text import (
        _doc_bigrams,
    )
    from udacitycapstonedataengineer_spark.plans.queries_text import (
        kn_bigram_merge,
    )
    from udacitycapstonedataengineer_spark.streaming.text import (
        kn_counts_compact,
        stream_kn_bigram_counts,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    landing = str(tmp_path / "kn_landing")
    # two files → maxFilesPerTrigger=1 forces multiple micro-batches
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode(
        "overwrite"
    ).parquet(landing)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    table = str(tmp_path / "kn_counts")
    ckpt = str(tmp_path / "kn_ckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = stream_kn_bigram_counts(stream, table, ckpt)
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1  # really ran >1 micro-batch

    want = {
        (r["w1"], r["w2"], r["c12"])
        for r in _doc_bigrams(docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .collect()
    }
    standing = kn_counts_compact(spark, table)
    got = {(r["w1"], r["w2"], r["c12"]) for r in standing.collect()}
    assert got == want

    # the streamed table is a valid standing side for the merge: with
    # an empty batch the derived statistics equal the full rebuild's
    empty = spark.createDataFrame([], "w1 string, w2 string, c_b long")
    m12, c1m, contm, typesm = kn_bigram_merge(
        standing.withColumnRenamed("c12", "c_s"), empty
    )
    assert {(r["w1"], r["w2"], r["c12"]) for r in m12.collect()} == want
    n_types = typesm.collect()[0]["n_types"]
    assert n_types == len(want)

    # restart over the same checkpoint: offset log replays nothing
    n_rows = spark.read.parquet(table).count()
    stream2 = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q2 = stream_kn_bigram_counts(stream2, table, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(table).count() == n_rows


@pytest.mark.slow  # VERDICT r16 next #2: multi-minute, opt-in tier
def test_recall_curve_served_from_streamed_appends(spark, sf_dir, tmp_path):
    """The full production ANN loop, end-to-end (round 11): the corpus
    index is WRITTEN cell-partitioned, a new batch arrives as a STREAM
    (multiple micro-batches, frozen-model encode, foreachBatch append
    into the same cell-partitioned table), and the recall curve is
    then probed from the appended table — every probe point must (a)
    equal the batch-append path exactly (codes, cells, ADC distances)
    and (b) still carry a PartitionFilter on cell, i.e. streaming
    appends preserve the pruned serving layout the curve relies on."""
    from udacitycapstonedataengineer_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_encode_batch,
        ivfpq_topk,
    )
    from udacitycapstonedataengineer_spark.streaming.vectors import (
        stream_ivfpq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id % 10 != 7")
    batch = emb.filter("vec_id % 10 = 7")
    cents, books, corpus_index = ivfpq_build(
        corpus, nlist=8, m=8, k=16, iters=2
    )
    index_dir = str(tmp_path / "ivfpq_index_loop")
    corpus_index.write.partitionBy("cell").mode("overwrite").parquet(
        index_dir
    )

    landing = str(tmp_path / "loop_landing")
    batch.filter("vec_id % 20 = 7").coalesce(1).write.mode(
        "overwrite"
    ).parquet(landing)
    batch.filter("vec_id % 20 = 17").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    stream = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .select("vec_id", "embedding")
    )
    q = (
        stream_ivfpq_encode(stream, cents.collect(), books.collect(), m=8)
        .writeStream.foreachBatch(
            lambda df, _bid: df.write.partitionBy("cell")
            .mode("append")
            .parquet(index_dir)
        )
        .option("checkpointLocation", str(tmp_path / "loop_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1

    back = spark.read.parquet(index_dir).withColumn(
        "cell", F.col("cell").cast("long")
    )
    batch_appended = corpus_index.unionByName(
        ivfpq_encode_batch(batch, cents, books, m=8)
    )
    qvec = [float(x) for x in emb.filter("vec_id = 7").head()["embedding"]]
    for np_ in (1, 2, 4, 8):
        served = ivfpq_topk(back, cents, books, qvec, nprobe=np_, topk=10)
        plan = served._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "cell" in plan.split(
            "PartitionFilters"
        )[1][:200], (np_, plan[:2000])
        want = [
            (r["vec_id"], r["adc_dist2"])
            for r in ivfpq_topk(
                batch_appended, cents, books, qvec, nprobe=np_, topk=10
            ).collect()
        ]
        got = [(r["vec_id"], r["adc_dist2"]) for r in served.collect()]
        assert sorted(got) == sorted(want), np_


def test_ivfpq_index_cell_compaction_preserves_serving(
    spark, sf_dir, tmp_path
):
    """The maintenance job behind the streamed-append index (round
    11): appends accrete small files per cell partition;
    compact_parquet applied PER CELL DIRECTORY (the unit the module
    docstring prescribes) must shrink the file count while leaving
    every probe's results and the PartitionFilters pruning intact —
    append ingest + periodic per-partition compaction is the standing
    index's full lifecycle."""
    import glob
    import os

    from udacitycapstonedataengineer_spark.operators.compaction import (
        compact_parquet,
    )
    from udacitycapstonedataengineer_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_encode_batch,
        ivfpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id % 10 != 7")
    batch = emb.filter("vec_id % 10 = 7")
    cents, books, corpus_index = ivfpq_build(
        corpus, nlist=8, m=8, k=16, iters=2
    )
    path = str(tmp_path / "ivfpq_compact")
    corpus_index.write.partitionBy("cell").mode("overwrite").parquet(path)
    # two append rounds (≡ the streamed micro-batches the stream-encode
    # test pins) — each adds files to the touched cell partitions
    for where in ("vec_id % 20 = 7", "vec_id % 20 = 17"):
        ivfpq_encode_batch(
            batch.filter(where), cents, books, m=8
        ).write.partitionBy("cell").mode("append").parquet(path)

    def read_back():
        return spark.read.parquet(path).withColumn(
            "cell", F.col("cell").cast("long")
        )

    qvec = [float(x) for x in emb.filter("vec_id = 7").head()["embedding"]]
    want = [
        (r["vec_id"], r["adc_dist2"])
        for r in ivfpq_topk(
            read_back(), cents, books, qvec, nprobe=8, topk=10
        ).collect()
    ]

    cell_dirs = sorted(glob.glob(os.path.join(path, "cell=*")))
    assert cell_dirs, path
    before = sum(
        len(glob.glob(os.path.join(d, "*.parquet"))) for d in cell_dirs
    )
    stats = [compact_parquet(spark, d) for d in cell_dirs]
    after = sum(s["files_after"] for s in stats)
    assert after < before, (before, after)
    assert after == len(cell_dirs)  # tiny cells → one file each

    served = ivfpq_topk(read_back(), cents, books, qvec, nprobe=2, topk=10)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:200]
    got = [
        (r["vec_id"], r["adc_dist2"])
        for r in ivfpq_topk(
            read_back(), cents, books, qvec, nprobe=8, topk=10
        ).collect()
    ]
    assert sorted(got) == sorted(want)
