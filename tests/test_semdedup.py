"""SemDeDup (operators/semdedup.py): within-cluster candidate
restriction, threshold semantics, planted-duplicate recall. The
full-pipeline DuckDB replay is pinned by the oracled
``semdedup_pairs`` query (test_oracle_parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from udacitycapstonedataengineer_spark.operators.clustering import kmeans
from udacitycapstonedataengineer_spark.operators.semdedup import (
    semdedup_pairs,
)
from udacitycapstonedataengineer_spark.sources.readers import load_table


def _toy_embeddings(spark):
    # two tight groups around orthogonal axes + one exact duplicate
    # pair inside the first group
    vecs = [
        (0, [1.0, 0.02, 0.0, 0.0]),
        (1, [1.0, 0.02, 0.0, 0.0]),  # exact dup of 0
        (2, [0.9, -0.05, 0.1, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.03]),
        (4, [0.05, 0.0, 0.95, -0.02]),
        (5, [0.0, 0.1, 1.0, 0.0]),
    ]
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id bigint, embedding array<float>",
    )


def test_semdedup_finds_planted_duplicate(spark):
    emb = _toy_embeddings(spark)
    pairs = semdedup_pairs(emb, k=2, iters=2, dim=4, threshold=0.99)
    got = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in pairs.collect()}
    assert (0, 1) in got
    assert abs(got[(0, 1)] - 1.0) < 1e-12


def test_semdedup_pairs_never_cross_clusters(spark, sf_dir):
    """Candidate restriction is real: every emitted pair shares a
    k-means cell (the SemDeDup contract — cost is Σ|cell|², never
    all-pairs), and every cosine clears the threshold."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = semdedup_pairs(
        emb, k=8, iters=2, dim=64, threshold=0.2
    ).collect()
    assert rows
    cluster_of = {
        r["vec_id"]: r["cluster"]
        for r in kmeans(emb, k=8, iters=2, dim=64).collect()
    }
    for r in rows:
        assert r["cosine"] >= 0.2
        assert cluster_of[r["vec_a"]] == r["cluster"]
        assert cluster_of[r["vec_b"]] == r["cluster"]


def test_semdedup_incremental_matches_batch_pairs(spark, sf_dir):
    """The incremental path (batch assigned to corpus-fitted standing
    cells) finds exactly the batch↔corpus near-dups: a planted
    batch duplicate of a corpus vector comes back at cosine 1, and no
    emitted pair is corpus↔corpus or batch↔batch."""
    from udacitycapstonedataengineer_spark.operators.semdedup import (
        semdedup_incremental_pairs,
    )

    corpus = _toy_embeddings(spark)
    new_batch = spark.createDataFrame(
        [
            (100, [1.0, 0.02, 0.0, 0.0]),  # dup of corpus vec 0 and 1
            (101, [0.0, 0.0, -1.0, 0.0]),  # novel direction
        ],
        "vec_id bigint, embedding array<float>",
    )
    rows = semdedup_incremental_pairs(
        corpus, new_batch, k=2, iters=2, dim=4, threshold=0.99
    ).collect()
    got = {(r["new_vec_id"], r["corpus_vec_id"]): r["cosine"] for r in rows}
    assert (100, 0) in got and (100, 1) in got
    assert abs(got[(100, 0)] - 1.0) < 1e-12
    assert abs(got[(100, 1)] - 1.0) < 1e-12
    assert all(c >= 0.99 for c in got.values())
    assert all(nv in (100, 101) for nv, _ in got)  # batch side only
    assert all(cv in range(6) for _, cv in got)  # corpus side only


def test_semdedup_plan_is_cluster_equijoin(spark, sf_dir):
    """The pair stage must be an equi-join on the cluster id (shuffle
    or broadcast hash join) — never a cartesian over the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    plan = (
        semdedup_pairs(emb, k=8, iters=2, dim=64, threshold=0.2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan[:2000]


def test_semdedup_incremental_survivors_standing_tables(
    spark, sf_dir, tmp_path
):
    """VERDICT r9 #8 done-criterion (append ≡ recompute): the
    production shape persists the frozen model (k×dim centroids) and
    the standing survivor-member table as parquet; a daily batch is
    decided by reading those tables back — no corpus refit, no corpus
    reclosure. The persisted-standing-tables decision must equal the
    registered one-shot query EXACTLY (reason strings included)."""
    from udacitycapstonedataengineer_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from udacitycapstonedataengineer_spark.operators.graph import (
        connected_components,
    )
    from udacitycapstonedataengineer_spark.operators.similarity import (
        cosine_prenorm,
    )
    from udacitycapstonedataengineer_spark.plans.queries import QUERIES
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        _BATCH_WHERE,
        _cell_members,
        _decide_batch,
    )
    from udacitycapstonedataengineer_spark.sources.readers import load_table

    want = [
        r.asDict()
        for r in QUERIES["semdedup_survivors_incremental"](
            spark, sf_dir
        ).collect()
    ]
    assert any(not r["kept"] for r in want), (
        "no batch row dropped at this sf — equality would prove nothing"
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(f"NOT ({_BATCH_WHERE})")
    batch = emb.filter(_BATCH_WHERE)

    # build + PERSIST the standing tables (the corpus-refresh job)
    vectors, centroids = kmeans_fit(corpus, k=8, iters=2, dim=64)
    assign_check = kmeans_assign(vectors, centroids)  # exercised below
    cm = _cell_members(corpus, centroids.collect(), "vec_a", "e_a", "n_a")
    # the map-side member table must agree with the kmeans_assign
    # surface row-for-row (the r16 internals change: assignment became
    # a collected-model projection instead of a join-back)
    got_assign = {
        (r["vec_a"], r["cluster"])
        for r in cm.select("vec_a", "cluster").collect()
    }
    want_assign = {
        (r["vec_id"], r["cluster"]) for r in assign_check.collect()
    }
    assert got_assign == want_assign
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
        .filter(cos >= 0.2)
        .select("vec_a", "vec_b")
    )
    comp = connected_components(cpairs, a="vec_a", b="vec_b")
    dropped = comp.filter("node != comp").select(F.col("node").alias("vec_a"))
    cent_path = str(tmp_path / "standing_centroids")
    surv_path = str(tmp_path / "standing_survivors")
    centroids.write.mode("overwrite").parquet(cent_path)
    cm.join(dropped, "vec_a", "left_anti").write.mode("overwrite").parquet(
        surv_path
    )

    # the daily-batch job: decide against the READ-BACK standing tables
    got = [
        r.asDict()
        for r in _decide_batch(
            batch,
            spark.read.parquet(cent_path),
            spark.read.parquet(surv_path),
            0.2,
        ).collect()
    ]
    assert got == want
