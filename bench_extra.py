"""Supplementary benchmark probes (guide §1.4): time individual
registry queries in isolation against $SPARK_GRAFT_SF_DIR with the
noop sink, min over $SPARK_GRAFT_BENCH_TRIALS trials (default 3).
The frozen driver bench is bench.py; this file exists so optimization
work can measure single queries without re-running the whole suite.

Usage: python bench_extra.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def min_noop_seconds(make_df, trials: int) -> float:
    """Best wall time, over `trials` runs, of building make_df() and
    writing it to the noop sink."""
    best = float("inf")
    for _ in range(trials):
        t0 = time.perf_counter()
        make_df().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    from cadastral_map_ocr_system_spark.plans.queries import REGISTRY
    from cadastral_map_ocr_system_spark.session import get_spark
    from cadastral_map_ocr_system_spark.sources.tables import load

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    trials = max(int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3")), 1)
    names = sys.argv[1:] or list(REGISTRY)
    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]")
    # same warmup as bench.py
    load(spark, sf_dir, "lineitem").groupBy("l_returnflag").count().write.format(
        "noop"
    ).mode("overwrite").save()
    out = {}
    for name in names:
        fn, _sql = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        out[name] = round(min_noop_seconds(lambda: fn(spark, sf_dir), trials), 3)
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "queries_min": out}))


if __name__ == "__main__":
    main()
