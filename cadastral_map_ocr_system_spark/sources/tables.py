"""Parquet/Iceberg table access.

The engine's canonical catalog format is Iceberg (north_rule); this
sandbox has no Iceberg runtime jar, so the same call sites read/write
parquet directories with dynamic partition overwrite — which preserves
the property the design needs (idempotent partition-grain rewrite).
Swapping in Iceberg is a format string change, not a plan change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _path_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def spread_small_scan(df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive parallelism repair for compute-dense scans.

    Small parquet tables often carry ONE row group per file, so the
    scan — and every narrow stage chained to it (tokenize, regex, md5,
    cosine folds) — runs in a single task no matter how many cores the
    cluster has (a byte-range split cannot cut inside a row group).
    When the table is small enough that a round-robin redistribution is
    trivially cheap (< spread_max_bytes, default 1 GiB), repartition to
    the cluster parallelism so the compute-dense stage uses every core.
    Above the cap the scan parallelizes naturally from its own file/
    row-group count and this is a no-op — the rule self-disables at
    scale, so it is data-size-adaptive rather than a local-mode tune.

    Conf knobs (production values belong in the deployment conf):
      spark_graft.scan.spread_max_bytes   cap on table size (def 1 GiB)
      spark_graft.scan.spread_partitions  target (def defaultParallelism)
    """
    spark = df.sparkSession
    cap = int(spark.conf.get("spark_graft.scan.spread_max_bytes", str(1 << 30)))
    try:
        size = _path_bytes(path)
    except OSError:
        return df
    if size > cap:
        return df
    n = int(
        spark.conf.get("spark_graft.scan.spread_partitions", "0")
    ) or spark.sparkContext.defaultParallelism
    return df.repartition(n)


def table_path(sf_dir: str, name: str) -> str:
    """Filesystem path of a driver table (for size-gated helpers)."""
    return os.path.join(sf_dir, f"{name}.parquet")


def keyed_spread(df: DataFrame, path: str, *cols: str) -> DataFrame:
    """Size-gated HASH repartition on `cols` — the mid-plan sibling of
    `spread_small_scan` for aggregation-bound plans whose scan packs
    into few tasks (single-row-group parquet).

    Repartitioning by the upcoming groupBy key parallelizes the
    expensive aggregation work AND satisfies the aggregation's
    distribution requirement, so no second exchange appears (guide
    §2.4: two operations keyed the same way share one exchange). A
    keyed repartition also avoids round-robin's local sort
    (spark.sql.execution.sortBeforeRepartition), which was measured to
    erase the win on this shape. Same conf gates as spread_small_scan:
    above spread_max_bytes the scan parallelizes naturally from its
    own row groups and this is a no-op, so the rule self-disables at
    production scale."""
    spark = df.sparkSession
    cap = int(spark.conf.get("spark_graft.scan.spread_max_bytes", str(1 << 30)))
    try:
        size = _path_bytes(path)
    except OSError:
        return df
    if size > cap:
        return df
    n = int(
        spark.conf.get("spark_graft.scan.spread_partitions", "0")
    ) or spark.sparkContext.defaultParallelism
    return df.repartition(n, *cols)


def load(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one driver-provided table (TESTDATA.md).

    spread=True opts a compute-dense consumer into the small-scan
    redistribution above; leave it off where scan-level predicate
    pushdown matters (the repartition would sit between filter and
    scan) or where the first operation is itself a wide shuffle of
    comparable cost."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    return spread_small_scan(df, path) if spread else df
