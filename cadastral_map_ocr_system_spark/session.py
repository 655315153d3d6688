"""SparkSession construction tuned for the extraction workload.

Local-mode knobs mirror what a 1000-executor deployment would set
cluster-wide: AQE on (skew splits + partition coalescing), Arrow
enabled end-to-end, shuffle partitions sized to the parallelism.
The partition overwrite mode stays Spark's static default; the commit
writes set dynamic mode per write (checkpoint.overwrite_partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cadastral_map_ocr_system_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session with the engine's standard configuration.

    At cluster scale the same confs apply; only master/memory change.
    AQE handles post-shuffle skew (north_rule: explicit skew handling),
    and Arrow batch size bounds per-batch Python memory in mapInArrow.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or f"local[{cpus}]"
    # parse parallelism out of local[N] for shuffle sizing
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]) * 2, 8)
        else:
            shuffle_partitions = 2 * cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Python-dense stages (mapInArrow/applyInPandas) cost far more
        # CPU per byte than AQE's size heuristics assume: keep
        # post-shuffle partitions small enough that all cores stay busy
        # (SURVEY.md §4.3b), and split small parquet inputs so the scan
        # side parallelizes instead of packing into one task.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "8m")
        # InferFiltersFromGenerate copies the generator's child
        # expression into a pre-Generate filter; predicate pushdown
        # then substitutes projection aliases into that copy, so an
        # explode over a derived array (shingles, chunks, bigrams)
        # re-evaluates its construction — with the materialized token
        # split inlined PER LAMBDA ELEMENT, i.e. O(tokens^2) per
        # document (measured 3.7x on lsh_candidate_pairs at sf1.0:
        # 14.3s -> 3.9s). The inferred filter only prunes empty arrays,
        # which Generate skips anyway.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
