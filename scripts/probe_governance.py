"""Phase profiler for the IVF-PQ governance pair: where do
ivfpq_index_drift (3.5 s) / ivfpq_rebuild_decision (4.1 s) spend
their time — the coarse-fit driver actions, the drift
residual pass, or the decision tail?

Usage: python scripts/probe_governance.py [runs]
Prints one JSON line per phase with wall seconds and the Spark job
count the phase issued (statusTracker delta — every job is a driver
action round-trip).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from udacitycapstonedataengineer_spark.operators.coarse import (  # noqa: E402
    ivfpq_coarse_fit,
)
from udacitycapstonedataengineer_spark.plans.queries import QUERIES  # noqa: E402
from udacitycapstonedataengineer_spark.plans.queries_sim import (  # noqa: E402
    _BATCH_WHERE,
    _IVFPQ,
    ivfpq_drift_stats,
)
from udacitycapstonedataengineer_spark.session import get_spark  # noqa: E402
from udacitycapstonedataengineer_spark.sources.readers import (  # noqa: E402
    load_table,
)


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="probe-governance",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    def jobs() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    # warmup
    QUERIES["star_revenue_by_region_year"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    def sweep() -> None:
        spark.catalog.clearCache()
        for jrdd in list(
            spark.sparkContext._jsc.getPersistentRDDs().values()
        ):
            jrdd.unpersist()

    for run in range(runs):
        out = {"run": run}
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(~F.expr(_BATCH_WHERE))

        j0, t0 = jobs(), time.perf_counter()
        cents = ivfpq_coarse_fit(
            corpus, nlist=_IVFPQ["nlist"], iters=_IVFPQ["iters"]
        )
        out["coarse_fit"] = {
            "sec": round(time.perf_counter() - t0, 3),
            "jobs": jobs() - j0,
        }

        j0, t0 = jobs(), time.perf_counter()
        ivfpq_drift_stats(emb, cents).write.format("noop").mode(
            "overwrite"
        ).save()
        out["drift_tail"] = {
            "sec": round(time.perf_counter() - t0, 3),
            "jobs": jobs() - j0,
        }
        sweep()

        for name in ("ivfpq_index_drift", "ivfpq_rebuild_decision"):
            j0, t0 = jobs(), time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            out[name] = {
                "sec": round(time.perf_counter() - t0, 3),
                "jobs": jobs() - j0,
            }
            sweep()
        print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
