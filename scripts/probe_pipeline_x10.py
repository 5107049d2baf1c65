"""×10 scale probe for three composed queries (the same method as
scripts/probe_budgeted_x10.py):

- ``corpus_pipeline_report`` — the end-to-end corpus row. Expected
  shape: dominated by its budgeted-SemDeDup stage, so the ×10 ratio
  should track the budgeted-survivors probe (~2-3×), NOT the
  fixed-k family's ~10×; the gates/dedup/mixture stages add
  corpus-linear projections and one fingerprint shuffle.
- ``semdedup_survivors_incremental_budgeted`` — derived-k at the
  incremental layer; the batch decision is O(batch×cell), the fit is
  the same derived-k kmeans as the batch row.
- ``ann_ivfpq_recall_curve_served_filtered`` — build+write+append
  once, 4 pruned probes; expected build-dominated (~linear in n).

Runs each registered query body at sf0.1 and at the SF-proportional
×``factor`` replica (scale_probe.build_scaled: ids shifted in aligned
domains so the vec_id=doc_id join is preserved; replica text
token-salted so shingle/fingerprint structure grows with data).

Usage: python scripts/probe_pipeline_x10.py [factor]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from udacitycapstonedataengineer_spark.plans.queries import QUERIES  # noqa: E402
from udacitycapstonedataengineer_spark.session import get_spark  # noqa: E402
from udacitycapstonedataengineer_spark.sources.readers import (  # noqa: E402
    load_tables,
)

from scale_probe import build_scaled  # noqa: E402


def _sweep(spark) -> None:
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist()


def _run(spark, sf_dir: str) -> dict:
    t = load_tables(spark, sf_dir)
    out: dict = {"n_docs": t["documents"].count()}

    t0 = time.perf_counter()
    rows = QUERIES["corpus_pipeline_report"].__wrapped__(spark, t).collect()
    out["pipeline_sec"] = round(time.perf_counter() - t0, 3)
    out["pipeline_derived_k"] = rows[0]["derived_k"] if rows else None
    out["pipeline_funnel"] = {
        "raw": sum(r["n_raw"] for r in rows),
        "quality": sum(r["n_quality"] for r in rows),
        "exact": sum(r["n_exact"] for r in rows),
        "sem": sum(r["n_sem"] for r in rows),
        "mix": sum(r["n_mix"] for r in rows),
        "chunks": sum(r["n_chunks"] for r in rows),
    }
    _sweep(spark)

    t0 = time.perf_counter()
    inc = QUERIES["semdedup_survivors_incremental_budgeted"].__wrapped__
    rows = inc(spark, t).collect()
    out["inc_budgeted_sec"] = round(time.perf_counter() - t0, 3)
    out["inc_budgeted_kept"] = sum(1 for r in rows if r["kept"])
    out["inc_derived_k"] = rows[0]["derived_k"] if rows else None
    _sweep(spark)

    t0 = time.perf_counter()
    served = QUERIES["ann_ivfpq_recall_curve_served_filtered"].__wrapped__
    curve = served(spark, t).collect()
    out["curve_filtered_sec"] = round(time.perf_counter() - t0, 3)
    out["curve_filtered_recall"] = {
        int(r["nprobe"]): round(float(r["recall"]), 2) for r in curve
    }
    _sweep(spark)
    return out


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scaled = f"/tmp/scale_probe_v2_x{factor}"
    spark = get_spark(
        app_name="probe-pipeline-x10",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark, base, scaled, factor)

    res = {"factor": factor}
    # warm the JVM once so the base reading isn't codegen-dominated
    _run(spark, base)
    res["base"] = _run(spark, base)
    res["scaled"] = _run(spark, scaled)
    for key in ("pipeline", "inc_budgeted", "curve_filtered"):
        res[f"{key}_ratio"] = round(
            res["scaled"][f"{key}_sec"] / res["base"][f"{key}_sec"], 2
        )
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
