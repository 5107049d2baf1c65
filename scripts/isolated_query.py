"""Isolated single-query timing harness.

Fresh JVM, one generic warmup, then the target query N times with a
persisted-block sweep between runs — the query executes FIRST in its
own session, so no cumulative-session state can touch it. Isolated
medians read ~1.5× above the warmed in-suite bench (JVM tiered
compilation), so compare isolated-vs-isolated or use them
one-directionally: a bench regression flag that does NOT reproduce
here was session state, not a plan.

Usage: python scripts/isolated_query.py <query_name> [runs]
Prints one JSON line {"query", "runs", "median"}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from udacitycapstonedataengineer_spark.plans.queries import (  # noqa: E402
    QUERIES,
)
from udacitycapstonedataengineer_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="isolated",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["star_revenue_by_region_year"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    runs = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        runs.append(round(time.perf_counter() - t0, 3))
        spark.catalog.clearCache()
        for jrdd in list(
            spark.sparkContext._jsc.getPersistentRDDs().values()
        ):
            jrdd.unpersist()
    print(
        json.dumps(
            {
                "query": name,
                "runs": runs,
                # statistics.median interpolates even run counts
                # (ADVICE r11 #2: the upper-middle element reads
                # biased-high for runs=4)
                "median": round(statistics.median(runs), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
