"""Incremental-dedup cost probe at the 10x corpus: fold a 10% ingest
batch into a prebuilt index and compare against a full recompute over
the combined corpus — the number that justifies the index's existence.
`incremental_batch_sec` is the min of BATCHES folds of the same batch,
each into a fresh copy of the built index, after one untimed fold that
runs while the JVM is still compiling the batch's code paths.
`incremental_jobs` counts the Spark jobs of the slowest-counted batch
and `build_jobs` those of the full index build over the other 90%
(each its job group in the status tracker).

Also verifies exactness on the spot: the incremental cluster map must
equal the full-recompute map row for row. The index lives at a file:
URI in a temp dir that is removed on exit.

Usage: python tools/bench_incremental.py [/tmp/sf1]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# timed folds of the batch, each into a fresh copy of the built index
BATCHES = 3


def main() -> None:
    from pyspark.sql import functions as F

    from bench_extra import min_noop_seconds
    from cadastral_map_ocr_system_spark.operators.components import dedup_clusters
    from cadastral_map_ocr_system_spark.operators.dedup_index import (
        build_dedup_index,
        incremental_dedup,
    )
    from cadastral_map_ocr_system_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    spark = get_spark(app_name="bench_incremental", master=f"local[{cpus}]")
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cut = docs.approxQuantile("doc_id", [0.9], 0.0)[0]
    old = docs.filter(F.col("doc_id") <= cut)
    new = docs.filter(F.col("doc_id") > cut)
    n_old, n_new = old.count(), new.count()

    tmp = tempfile.mkdtemp(prefix="dedup_idx_")
    built = os.path.join(tmp, "built")
    try:
        sc.setJobGroup("build", "build_dedup_index")
        t0 = time.perf_counter()
        build_dedup_index(old, Path(built).as_uri())
        build_sec = time.perf_counter() - t0

        batch_secs, batch_jobs = [], []
        # fold -1 is the untimed warm-up
        for i in range(-1, BATCHES):
            idx = os.path.join(tmp, f"batch{i}")
            shutil.copytree(built, idx)
            sc.setJobGroup(f"incremental{i}", "incremental_dedup batch")
            t0 = time.perf_counter()
            updated = incremental_dedup(spark, Path(idx).as_uri(), new, old)
            if i >= 0:
                batch_secs.append(time.perf_counter() - t0)
                batch_jobs.append(
                    len(sc.statusTracker().getJobIdsForGroup(f"incremental{i}"))
                )
        sc.setLocalProperty("spark.jobGroup.id", None)
        build_jobs = len(sc.statusTracker().getJobIdsForGroup("build"))
        incremental_sec = min(batch_secs)

        full_sec = min_noop_seconds(lambda: dedup_clusters(docs), 1)
        full = dedup_clusters(docs)
        mismatches = (
            updated.withColumnRenamed("cluster", "c_inc")
            .join(full.withColumnRenamed("cluster", "c_full"), "doc_id", "full")
            .filter(
                F.col("c_inc").isNull()
                | F.col("c_full").isNull()
                | (F.col("c_inc") != F.col("c_full"))
            )
            .count()
        )
        print(
            json.dumps(
                {
                    "metric": "incremental_vs_full_dedup",
                    "sf_dir": sf_dir,
                    "n_indexed": n_old,
                    "n_batch": n_new,
                    "build_index_sec": round(build_sec, 3),
                    "build_jobs": build_jobs,
                    "incremental_batch_sec": round(incremental_sec, 3),
                    "incremental_batch_secs": [round(t, 3) for t in batch_secs],
                    "incremental_jobs": max(batch_jobs),
                    "full_recompute_sec": round(full_sec, 3),
                    "speedup_vs_full": round(full_sec / incremental_sec, 2),
                    "cluster_mismatches": mismatches,
                    "cpus": cpus,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
