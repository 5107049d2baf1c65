"""×10 scale probe for ``semdedup_survivors_budgeted``: its scale
behavior should follow the derived-k path, ~2-3× at ×10, not the
fixed-k family's ~10×.

Runs the registered query body (target_cell=100) at sf0.1 and at the
SF-proportional ×10 replica (scale_probe's build_scaled: embeddings
component-shifted so near-dup structure grows with data instead of
densifying), reporting derived_k, survivor count, and wall seconds per
scale. ``corpus_mixture_temperature_alpha`` rides along
(histogram-bounded — expected flat-ish; its corpus-grain work is one
aggregate).

Usage: python scripts/probe_budgeted_x10.py [factor]
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
    out: dict = {"n_vectors": t["embeddings"].count()}

    t0 = time.perf_counter()
    surv = QUERIES["semdedup_survivors_budgeted"].__wrapped__(spark, t)
    rows = surv.collect()
    out["budgeted_survivors_sec"] = round(time.perf_counter() - t0, 3)
    out["survivors"] = len(rows)
    out["derived_k"] = rows[0]["derived_k"] if rows else None
    _sweep(spark)

    t0 = time.perf_counter()
    out["mixture_alpha_rows"] = (
        QUERIES["corpus_mixture_temperature_alpha"].__wrapped__(spark, t).count()
    )
    out["mixture_alpha_sec"] = round(time.perf_counter() - t0, 3)
    _sweep(spark)
    return out


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scaled = f"/tmp/scale_probe_v2_x{factor}"
    spark = get_spark(
        app_name="probe-budgeted-x10",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark, base, scaled, factor)

    res = {"factor": factor}
    # warm the JVM once so the base reading isn't codegen-dominated
    _run(spark, base)
    res["base"] = _run(spark, base)
    res["scaled"] = _run(spark, scaled)
    res["budgeted_survivors_ratio"] = round(
        res["scaled"]["budgeted_survivors_sec"]
        / res["base"]["budgeted_survivors_sec"],
        2,
    )
    res["mixture_alpha_ratio"] = round(
        res["scaled"]["mixture_alpha_sec"] / res["base"]["mixture_alpha_sec"],
        2,
    )
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
