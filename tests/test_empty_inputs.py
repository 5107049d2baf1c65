"""Degenerate-input behavior: operators must return EMPTY results (not
crash) on empty inputs — the shape every incremental pipeline hits on
a quiet day (no new docs, no new events)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_dedup_tiers_on_empty_corpus(spark):
    from udacitycapstonedataengineer_spark.operators.dedup import (
        exact_dedup_groups,
        lsh_bucket_profile,
        minhash_band_buckets,
        minhash_candidates,
        minhash_candidates_incremental,
        simhash_near_dups,
    )

    docs = _empty_docs(spark)
    assert exact_dedup_groups(docs).count() == 0
    assert minhash_candidates(docs).count() == 0
    assert simhash_near_dups(docs).count() == 0
    assert lsh_bucket_profile(docs).count() == 0
    empty_bk = minhash_band_buckets(docs)
    assert minhash_candidates_incremental(empty_bk, empty_bk).count() == 0


def test_connected_components_empty_edges(spark):
    from udacitycapstonedataengineer_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(edges).count() == 0


def test_global_rank_and_cms_on_empty(spark):
    from udacitycapstonedataengineer_spark.operators.ranking import (
        with_global_rank,
    )
    from udacitycapstonedataengineer_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    empty = spark.createDataFrame([], "v long, k long")
    assert with_global_rank(empty, ["v", "k"]).count() == 0
    ev = spark.createDataFrame([], "user_id long")
    sketch = cms_build(ev, "user_id")
    assert sketch.count() == 0
    assert cms_estimate(sketch, ev, "user_id").count() == 0


def test_heavy_hitters_on_empty(spark):
    from udacitycapstonedataengineer_spark.operators.heavyhitters import (
        heavy_hitters_exact,
        mg_partition_candidates,
    )

    empty = spark.createDataFrame([], "item string")
    assert mg_partition_candidates(empty, "item", capacity=8).count() == 0
    assert heavy_hitters_exact(empty, F.col("item"), share_bp=100).count() == 0


def test_schema_drift_detects_changes(spark, tmp_path):
    """add / remove / retype each produce one finding; identical
    snapshots produce none. Footer-only — no data scan. Spark-written
    snapshot DIRECTORIES are accepted directly (ADVICE r6): all part
    footers are unioned, and parts that disagree on a type raise."""
    from udacitycapstonedataengineer_spark.operators.diff import schema_drift

    a, b = str(tmp_path / "a_dir"), str(tmp_path / "b_dir")
    spark.createDataFrame(
        [(1, "x", 1.5)], "id long, name string, score double"
    ).repartition(3).write.mode("overwrite").parquet(a)
    spark.createDataFrame(
        [(1, 2, 1)], "id long, score int, added long"
    ).write.mode("overwrite").parquet(b)
    got = {
        r["column"]: (r["change_type"], r["old_type"], r["new_type"])
        for r in schema_drift(spark, a, b).collect()
    }
    assert got == {
        "name": ("removed", "string", None),
        "added": ("added", None, "int64"),
        "score": ("type_changed", "double", "int32"),
    }
    assert schema_drift(spark, a, a).count() == 0

    # a single part file still works (the pre-r7 calling convention)
    import glob

    part = glob.glob(str(tmp_path / "a_dir" / "*.parquet"))[0]
    assert schema_drift(spark, part, part).count() == 0

    # intra-snapshot type disagreement is corruption, not drift
    import shutil

    mixed = tmp_path / "mixed_dir"
    mixed.mkdir()
    shutil.copy(part, mixed / "part-00000.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": pa.array([1], type=pa.int32())}),
        mixed / "part-00001.parquet",
    )
    import pytest

    with pytest.raises(ValueError, match="internally inconsistent"):
        schema_drift(spark, str(mixed), a)


def test_round7_operators_on_empty_inputs(spark):
    """Round-7 surfaces degrade cleanly at zero rows: empty media →
    empty roundtrip frame; empty embeddings → empty Gram; moments
    raise (an eigensolve on nothing is a caller bug); z-key on empty
    writes an empty-but-readable layout."""
    import pytest
    from pyspark.sql import types as T

    from udacitycapstonedataengineer_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        png_roundtrip,
    )
    from udacitycapstonedataengineer_spark.operators.pca import (
        embedding_moments,
    )
    from udacitycapstonedataengineer_spark.operators.similarity import (
        gram_matrix_int8,
    )

    media = spark.createDataFrame([], MEDIA_SCHEMA)
    assert png_roundtrip(media).count() == 0

    emb = spark.createDataFrame(
        [], T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
            ]
        )
    )
    assert gram_matrix_int8(emb).count() == 0
    with pytest.raises(ValueError, match="empty"):
        embedding_moments(emb)


def test_compact_parquet_binpacks_and_swaps(spark, sf_dir, tmp_path):
    """Small-file compaction: 64 tiny files → size-targeted few,
    identical rows, crash residue cleaned, clear error on non-tables."""
    import glob
    import os

    import pytest

    from udacitycapstonedataengineer_spark.operators.compaction import (
        compact_parquet,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    path = str(tmp_path / "orders_small")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(64).write.parquet(path)
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 64
    want = orders.count()
    total = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.parquet"))
    )

    # plant residue from a "crashed" previous run — must be cleaned
    os.makedirs(path + ".compact-tmp")

    stats = compact_parquet(spark, path, target_bytes=total // 4 + 1)
    assert stats["rows"] == want
    assert stats["files_before"] == 64
    assert stats["files_after"] <= 8
    assert not os.path.exists(path + ".compact-tmp")
    assert not os.path.exists(path + ".pre-compact")
    after = spark.read.parquet(path)
    assert after.count() == want
    assert sorted(after.columns) == sorted(orders.columns)

    with pytest.raises(FileNotFoundError):
        compact_parquet(spark, str(tmp_path / "nothing"))


def _toy_emb(spark, n=6, dim=4):
    rows = [
        (i, [float((i * 7 + j * 3) % 5 - 2) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_semdedup_incremental_on_empty_batch(spark):
    """A quiet ingest day: an EMPTY new batch against a real corpus
    must produce zero pairs without error (and never touch the corpus
    pair-side)."""
    from udacitycapstonedataengineer_spark.operators.semdedup import (
        semdedup_incremental_pairs,
    )

    corpus = _toy_emb(spark)
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert semdedup_incremental_pairs(
        corpus, empty, k=2, iters=2, dim=4, threshold=0.0
    ).count() == 0


def test_bm25_on_empty_corpus_and_missing_terms(spark):
    """Empty corpus → empty index (stats row still present with zero
    counters); querying an index for terms it has never seen returns
    empty, not an error."""
    from udacitycapstonedataengineer_spark.operators.retrieval import (
        bm25_search_topk,
        build_bm25_index,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    postings, stats = build_bm25_index(empty)
    assert postings.count() == 0
    # total_tokens must be 0, not NULL: merge_bm25_stats is additive
    # and NULL would poison every append onto an initially-empty index
    # (ADVICE r8 — append-equals-rebuild broke in this edge)
    srow = stats.collect()[0]
    assert srow["n_docs"] == 0 and srow["total_tokens"] == 0
    assert bm25_search_topk(postings, stats, ["anything"], k=5).count() == 0
    # appending a first real batch onto the empty index must serve
    # identically to a fresh build (the invariant NULL stats violated)
    from udacitycapstonedataengineer_spark.operators.retrieval import (
        merge_bm25_stats,
    )

    batch = spark.createDataFrame(
        [(1, "alpha beta alpha", "en", "s", 16)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    bp, bs = build_bm25_index(batch)
    merged_post = postings.unionByName(bp)
    merged_stats = merge_bm25_stats(stats, bs)
    got = bm25_search_topk(merged_post, merged_stats, ["alpha"], k=5).collect()
    want = bm25_search_topk(bp, bs, ["alpha"], k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want] and got

    real = spark.createDataFrame(
        [(1, "alpha beta", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    p2, s2 = build_bm25_index(real)
    assert bm25_search_topk(p2, s2, ["never_seen_term"], k=5).count() == 0
    # an empty terms list is a caller bug — clear error, not IndexError
    import pytest

    with pytest.raises(ValueError, match="at least one"):
        bm25_search_topk(p2, s2, [], k=5)


def test_int8_ann_on_zero_vectors(spark):
    """All-zero vectors quantize to all-zero codes (qnorm 0) and are
    excluded from ranking on BOTH sides instead of dividing by zero."""
    from udacitycapstonedataengineer_spark.operators.similarity import (
        ann_topk_int8,
    )

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.5]), (2, [0.9, 0.6]), (3, [0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    rows = ann_topk_int8(emb, F.col("vec_id") < 2, k=5).collect()
    ids = {(r["query_id"], r["cand_id"]) for r in rows}
    assert ids == {(1, 2)}  # zero-norm queries and candidates dropped
    assert all(r["qcosine"] == r["qcosine"] for r in rows)  # no NaN


def test_semdedup_incremental_survivors_on_empty_batch(spark):
    """Quiet ingest day at the SURVIVOR layer: an empty batch against
    a real standing corpus must return an empty, correctly-shaped
    decision table (both closures run on empty edge sets) — no error,
    no rows."""
    from udacitycapstonedataengineer_spark.plans import queries  # noqa: F401
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        semdedup_incremental_survivors,
    )

    corpus = _toy_emb(spark).withColumn("label", F.lit("a"))
    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>, label string"
    )
    out = semdedup_incremental_survivors(
        corpus, empty, k=2, iters=2, dim=4, threshold=0.0
    )
    assert out.columns == ["vec_id", "label", "reason", "kept"]
    assert out.count() == 0
