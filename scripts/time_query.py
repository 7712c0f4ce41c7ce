"""Time individual registered queries with bench.py's methodology
(warmup run, clearCache, then min-of-2 timed runs), without paying for
the full 174-query sweep. Usage:

    python scripts/time_query.py name1 name2 ...          # time queries
    python scripts/time_query.py --explain name           # plan to stdout

Each timed run is its own Spark job group; the TIMED line gives the
job count of the fastest run next to its wall time. The last line is
the JSON of {name: seconds}.

Honors $SPARK_GRAFT_SF_DIR and $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    explain = "--explain" in sys.argv
    runs = 2

    from bigdatasmallprice_spark.registry import all_queries
    from bigdatasmallprice_spark.session import get_spark

    spark = get_spark("bdsp-time-query")
    specs = all_queries()
    out: dict[str, float] = {}
    for name in args:
        spec = specs[name]
        if explain:
            print(f"===== {name} =====")
            print(spec.fn(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            ))
            continue
        from bigdatasmallprice_spark.caching import released_caches

        sc = spark.sparkContext
        sc.setJobGroup(f"warmup:{name}", f"warmup: {name}")
        with released_caches(spark):
            spec.fn(spark, sf_dir).collect()
        spark.catalog.clearCache()
        wall, jobs = float("inf"), 0
        for i in range(runs):
            group = f"timed{i}:{name}"
            sc.setJobGroup(group, f"timed{i}: {name}")
            with released_caches(spark):
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).collect()
                dt = time.perf_counter() - t0
            if dt < wall:
                wall = dt
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            spark.catalog.clearCache()
        out[name] = round(wall, 3)
        print(f"TIMED {name}: {out[name]}s ({jobs} jobs)", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
