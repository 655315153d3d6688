"""Parquet/Iceberg table access.

The engine's canonical catalog format is Iceberg (north_rule); this
sandbox has no Iceberg runtime jar, so the same call sites read/write
parquet directories; commits set dynamic partition overwrite per write
(checkpoint.overwrite_partitions), which preserves the property the
design needs (idempotent partition-grain rewrite).
Swapping in Iceberg is a format string change, not a plan change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: tables up to this size are small enough that a redistribution to
#: the cluster parallelism is trivially cheap (keyed_spread)
SPREAD_MAX_BYTES = 1 << 30


def _path_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def table_path(sf_dir: str, name: str) -> str:
    """Filesystem path of a driver table (for size-gated helpers)."""
    return os.path.join(sf_dir, f"{name}.parquet")


def keyed_spread(df: DataFrame, path: str, *cols: str) -> DataFrame:
    """Scale-adaptive parallelism repair for compute-dense scans:
    repartition to the cluster parallelism when the table at `path` is
    at most SPREAD_MAX_BYTES, HASH-keyed on `cols` (round-robin when
    there are none); a no-op above the cap.

    Small parquet tables often carry ONE row group per file, so the
    scan — and every narrow stage chained to it (tokenize, regex, md5,
    cosine folds) — runs in a single task no matter how many cores the
    cluster has (a byte-range split cannot cut inside a row group).
    Above the cap the scan parallelizes naturally from its own file/
    row-group count, so the rule self-disables at scale: it is
    data-size-adaptive rather than a local-mode tune.

    For aggregation-bound plans, keying on the upcoming groupBy key
    parallelizes the expensive aggregation work AND satisfies the
    aggregation's distribution requirement, so no second exchange
    appears (guide §2.4: two operations keyed the same way share one
    exchange). A keyed repartition also avoids round-robin's local sort
    (spark.sql.execution.sortBeforeRepartition), which was measured to
    erase the win on that shape."""
    try:
        size = _path_bytes(path)
    except OSError:
        return df
    if size > SPREAD_MAX_BYTES:
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)


def load(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one driver-provided table (TESTDATA.md).

    spread=True opts a compute-dense consumer into the size-gated
    round-robin `keyed_spread`; leave it off where scan-level predicate
    pushdown matters (the repartition would sit between filter and
    scan) or where the first operation is itself a wide shuffle of
    comparable cost."""
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    return keyed_spread(df, path) if spread else df
