"""Run the documents/embeddings query family at a scaled corpus (the
sf1 bench point) and compare against linear-scaled sf0.1 timings.

The pass bar (VERDICT r4 next-round #7): no query may exceed 2x its
linearly scaled sf0.1 time — a quadratic bucket expansion or an
accidental all-pairs join would blow straight through that.

Usage:
  python tools/gen_scaled_docs.py 10 /tmp/sf1
  python tools/bench_scaled.py /tmp/sf1 10 > BENCH/sf1.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALED_QUERIES = [
    "token_counts",
    "quality_scores",
    "field_classify",
    "exact_dup_groups",
    "span_dedup",
    "ngram_jaccard",
    "minhash_lsh",
    "simhash",
    "dedup_clusters",
    "ann_brute_force",
    "ann_lsh",
    "pq_search",
    "pq_refined",
    "ann_ivf",
    "embedding_near_dups",
    # round-6 additions (VERDICT r5 next-round #5): the round-5 corpus
    # operators that previously had no 10x point
    "decontaminate",
    "repetition_scores",
    "pii_redact",
    "stratified_sample",
    "pack_shards",
    "jsonl_ingest",
]

TRIALS = max(int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3")), 1)


def main() -> None:
    from bench_extra import min_noop_seconds
    from cadastral_map_ocr_system_spark.plans.queries import REGISTRY
    from cadastral_map_ocr_system_spark.session import get_spark

    scaled_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    spark = get_spark(app_name="bench_scaled", master=f"local[{cpus}]")

    def run(sf_dir: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in SCALED_QUERIES:
            fn, _ = REGISTRY[name]
            out[name] = round(min_noop_seconds(lambda: fn(spark, sf_dir), TRIALS), 3)
        return out

    # warmup + the sf0.1 reference in the SAME process/session so the
    # ratio is apples-to-apples (shared JIT, shared Python workers)
    base = run("/root/testdata/sf0.1")
    scaled = run(scaled_dir)

    ratios = {
        name: round(scaled[name] / (base[name] * factor), 3)
        for name in SCALED_QUERIES
    }
    result = {
        "metric": "scaled_vs_linear",
        "factor": factor,
        "unit": "sec",
        "sf01_sec": base,
        "scaled_sec": scaled,
        "scaled_over_linear": ratios,
        "worst_ratio": max(ratios.values()),
        "cpus": cpus,
        "trials": TRIALS,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
