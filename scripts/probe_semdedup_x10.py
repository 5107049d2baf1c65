"""×10 scale probe for the SemDeDup survivors family (VERDICT r12
next #5): per-stage attribution at sf0.1 vs the SF-proportional ×10
replica, same harness as the r11/r12 probes (scale_probe's
build_scaled — documents salted, embeddings component-shifted, so
near-dup structure grows with data instead of densifying).

Stages (derived-k scale path, target_cell=250 — the r11 policy):
  fit_assign — k-means fit + corpus assignment
  pairs      — within-cell pair join + threshold (reports edge count)
  closure    — connected components over the pair edges (reports
               component count; cell-local by construction — edges
               only ever connect same-cell rows)
  survivors  — the full pipeline through the exemplar anti-join
Plus the registered fixed-k queries end-to-end and the incremental
decision measured the PRODUCTION way: standing tables (centroids +
survivor members) WRITTEN to parquet once, the per-batch decision
timed reading them back.

Usage: python scripts/probe_semdedup_x10.py [factor]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from udacitycapstonedataengineer_spark.operators.cell_budget import (  # noqa: E402
    derive_k,
)
from udacitycapstonedataengineer_spark.operators.clustering import (  # noqa: E402
    kmeans,
)
from udacitycapstonedataengineer_spark.operators.graph import (  # noqa: E402
    connected_components,
)
from udacitycapstonedataengineer_spark.operators.semdedup import (  # noqa: E402
    semdedup_pairs,
)
from udacitycapstonedataengineer_spark.plans.queries import QUERIES  # noqa: E402
from udacitycapstonedataengineer_spark.session import get_spark  # noqa: E402
from udacitycapstonedataengineer_spark.sources.readers import (  # noqa: E402
    load_table,
)

from scale_probe import build_scaled  # noqa: E402

_TARGET_CELL = 250
_THRESHOLD = 0.2


def _sweep(spark) -> None:
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist()


def _t(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def probe_scale(spark, sf_dir: str, tmp_root: str) -> dict:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = derive_k(n, target_cell=_TARGET_CELL)
    out: dict = {"n": n, "k_derived": k}

    # per-stage attribution (cumulative prefixes of the same lazy
    # plan — each stage time INCLUDES its upstream recompute, so the
    # increments are upper bounds on the stage's own cost)
    out["fit_assign_sec"] = _t(lambda: kmeans(emb, k=k, iters=2, dim=64).count())
    _sweep(spark)
    pairs = semdedup_pairs(
        emb, k=k, iters=2, dim=64, threshold=_THRESHOLD
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    t0 = time.perf_counter()
    out["n_edges"] = pairs.count()
    out["pairs_sec"] = round(time.perf_counter() - t0, 3)
    _sweep(spark)
    comp = connected_components(pairs)
    t0 = time.perf_counter()
    out["n_nodes_in_components"] = comp.count()
    out["closure_sec"] = round(time.perf_counter() - t0, 3)
    _sweep(spark)

    # registered fixed-k queries end-to-end (2 runs, warm second)
    for name in ("semdedup_survivors", "semdedup_survivors_incremental"):
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.perf_counter() - t0, 3))
            _sweep(spark)
        out[name] = runs

    # incremental decision the PRODUCTION way: standing tables
    # persisted to parquet once, per-batch decision reads them back
    from udacitycapstonedataengineer_spark.operators.clustering import (
        kmeans_fit,
        model_rows,
    )
    from udacitycapstonedataengineer_spark.plans.queries_sim import (
        _cell_members,
        _decide_batch,
    )

    corpus = emb.filter(~F.expr("vec_id % 10 = 7"))
    batch = emb.filter(F.expr("vec_id % 10 = 7"))
    cdir = os.path.join(tmp_root, "cents")
    sdir = os.path.join(tmp_root, "surv")
    t0 = time.perf_counter()
    vectors, centroids = kmeans_fit(corpus, k=k, iters=2, dim=64)
    centroids.write.mode("overwrite").parquet(cdir)
    cback = spark.read.parquet(cdir)
    # ADVICE r16 #1: _cell_members takes collected centroid ROWS since
    # the r16 map-only rewrite (the read-back DataFrame goes through
    # model_rows, one collect)
    cm = _cell_members(
        corpus, model_rows(cback), "vec_a", "e_a", "n_a"
    ).persist()
    from udacitycapstonedataengineer_spark.operators.similarity import (
        cosine_prenorm,
    )

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
        .filter(cos >= _THRESHOLD)
        .select("vec_a", "vec_b")
    )
    ccomp = connected_components(cpairs, a="vec_a", b="vec_b")
    dropped = ccomp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_a")
    )
    cm.join(dropped, "vec_a", "left_anti").write.mode("overwrite").parquet(
        sdir
    )
    out["standing_build_sec"] = round(time.perf_counter() - t0, 3)
    _sweep(spark)
    surv_back = spark.read.parquet(sdir)
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        _decide_batch(batch, cback, surv_back, _THRESHOLD).write.format(
            "noop"
        ).mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 3))
        _sweep(spark)
    out["incremental_decision_standing_read_sec"] = runs
    return out


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = "/root/testdata/sf0.1"
    scaled = f"/tmp/scale_probe_v2_x{factor}"
    spark = get_spark(
        app_name="probe-semdedup",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
        # 10× data in ONE local JVM (driver = all executors): size the
        # heap like one real executor's, as scale_probe does
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark, src, scaled, factor)
    out = {"factor": factor, "target_cell": _TARGET_CELL}
    out["sf0_1"] = probe_scale(spark, src, "/tmp/probe_semdedup_sf01")
    out[f"x{factor}"] = probe_scale(
        spark, scaled, f"/tmp/probe_semdedup_x{factor}"
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
