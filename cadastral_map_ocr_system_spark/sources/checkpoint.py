"""Resumable, idempotent extraction runs with per-partition lineage.

north_rule: every partition writes lineage + extraction-metrics rows to
a checkpoint table so the job resumes idempotently mid-run.

Design (SURVEY.md §4.5, FIXTURES.md §3):
  - documents are hash-bucketed on doc_id into n_buckets partitions;
  - one per-bucket stats aggregate over the docs runs per call; the
    pending buckets are its buckets minus the checkpoint table's
    committed (run_id, partition_id) rows, and each commit group reads
    only its own buckets;
  - output is written partitioned by bucket with dynamic partition
    overwrite, so re-running a half-written bucket REPLACES it (no
    duplicate rows possible);
  - the lineage row for a bucket (its output counts are observed by
    the write, never read back) is appended only AFTER its data
    commit; a crash between the two leaves the bucket uncommitted and
    it is simply redone (idempotent by the overwrite above);
  - buckets are processed in groups (buckets_per_commit) so a long run
    has many commit points, 4 Spark jobs each.

The checkpoint table is parquet here (Iceberg-shaped schema; see
sources/tables.py on the format choice). The streaming sink
(streaming/stream.write_epoch) commits each micro-batch through
run_extraction, so batch and streaming share this one crash contract.
The persisted dedup index (operators/dedup_index.py) shares its code:
both write partitions through `overwrite_partitions`, then commit
through `append_ledger`, and both ledgers are read by `read_ledger`.
"""

from __future__ import annotations

import shutil
import time
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.mediapath import read_tile_metrics
from ..plans.pipeline import extract
from ..schema import CHECKPOINT, local_frame


class SimulatedFailure(RuntimeError):
    """Raised by run_extraction(fail_after_commits=k) for resume tests."""


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of `path`, any Hadoop URI."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def read_ledger(spark: SparkSession, path: str, schema) -> DataFrame:
    """The rows of the append-only ledger at `path`, read with the
    declared `schema` (StructType or DDL), never inferred: a driver
    killed inside the first append leaves only `_temporary/`, an empty
    ledger with no schema to infer. A missing path is empty too,
    checked through Hadoop first because reading it would log a stack
    trace."""
    fs, p = hadoop_path(spark, path)
    if not fs.exists(p):
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(path)


def overwrite_partitions(df: DataFrame, path: str, by: str, *stats: str) -> dict:
    """Replace the partitions (column `by`) of the parquet table at
    `path` that `df`'s rows fall in. Resume REQUIRES the dynamic
    overwrite: a static one would wipe every partition the ledger marks
    committed. Per-write, so it holds under any session setting.
    Returns `stats` (SQL-text aggregates) over the rows written, {} for
    none: the Observation sits after the write's last exchange, in the
    result stage, whose task accumulators Spark merges once per
    partition, so a task retry or speculative copy cannot double-count."""
    obs = Observation()
    if stats:
        df = df.observe(obs, *map(F.expr, stats))
    w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    w.partitionBy(by).parquet(path)
    return obs.get if stats else {}


def append_ledger(spark: SparkSession, path: str, rows: list[dict], schema) -> None:
    """Append `rows` to the ledger at `path` as one part file, after the
    partitions they commit. Rows hold every field of the declared
    `schema` but committed_at: one current_timestamp() stamps them all."""
    df = local_frame(spark, rows, schema)
    df = df.withColumn("committed_at", F.current_timestamp()).coalesce(1)
    df.write.mode("append").parquet(path)


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    output_path: str,
    checkpoint_path: str,
    run_id: str,
    n_buckets: int = 32,
    buckets_per_commit: int = 8,
    fail_after_commits: int | None = None,
) -> None:
    """Extract docs -> output_path, resumably.

    Safe to re-run with the same run_id after any crash: committed
    buckets are never read again; partially written buckets are
    overwritten whole.

    Both paths may be Hadoop URIs, but the tile-metric files go to
    `{checkpoint_path}_tiles` through the per-attempt channel
    (mediapath.write_tile_metrics), which is POSIX-only: a checkpoint
    URI with a scheme other than `file:` is a ValueError, raised first.
    """
    url = urlparse(f"{checkpoint_path}_tiles")
    if url.scheme not in ("", "file"):
        raise ValueError(f"checkpoint {checkpoint_path!r}: the per-attempt "
                         "metric channel is POSIX-only (a path or file: URI)")
    tiles_root = url.path if url.scheme else f"{checkpoint_path}_tiles"
    docs_b = docs.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))

    # one input-stats job per call: every non-empty bucket's lineage
    # inputs (an empty bucket gets no row)
    in_stats = {
        r["bucket"]: r.asDict()
        for r in docs_b.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("n_spans"),
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
        )
        .collect()
    }
    ledger = read_ledger(spark, checkpoint_path, CHECKPOINT)
    committed = {
        r["partition_id"]
        for r in ledger.filter(F.col("run_id") == run_id)
        .select("partition_id")
        .collect()
    }
    pending_buckets = sorted(set(in_stats) - committed)

    for done, lo in enumerate(range(0, len(pending_buckets), buckets_per_commit), 1):
        group = pending_buckets[lo : lo + buckets_per_commit]
        t0 = time.perf_counter()
        # E3 tiling lineage: per-attempt metric files (one dir per
        # group), MAX-deduped per (stage, partition) at read; the span
        # stage is a shuffle-map stage, whose accumulators a retry would
        # over-count. A crashed attempt's files would survive that dedup
        # (a new SparkContext assigns new stage IDs), so each
        # (re-)processing of a group starts from an empty dir.
        tile_metrics_dir = f"{tiles_root}/{run_id}/g{group[0]}"
        shutil.rmtree(tile_metrics_dir, ignore_errors=True)
        sub = docs_b.filter(F.col("bucket").isin(group))

        result = extract(
            sub.drop("bucket"), tile_metrics_dir=tile_metrics_dir
        ).withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))
        out_stats = overwrite_partitions(result, output_path, "bucket", *(
            s
            for b in group
            for s in (
                f"count_if(bucket = {b}) AS n_output_rows_{b}",
                f"coalesce(sum(if(bucket = {b}, size(spans), 0)), 0) AS n_regions_{b}",
            )
        ))
        wall_ms = int((time.perf_counter() - t0) * 1000)
        tiles = read_tile_metrics(tile_metrics_dir)

        # Tiling counts are commit-group-grain and stored on the group's
        # FIRST bucket row only, so SUM(n_tiles) over the checkpoint
        # table equals the run total instead of overstating by
        # buckets_per_commit.
        lineage = [
            {
                **in_stats[b],
                "n_output_rows": out_stats[f"n_output_rows_{b}"],
                "n_regions": out_stats[f"n_regions_{b}"],
                "run_id": run_id,
                "partition_id": b,
                "n_tiles": tiles["n_tiles"] if b == group[0] else 0,
                "n_tiles_skipped": tiles["n_tiles_skipped"] if b == group[0] else 0,
                "wall_ms": wall_ms,
                "attempt": tiles["max_attempt"] + 1,
            }
            for b in group
        ]
        append_ledger(spark, checkpoint_path, lineage, CHECKPOINT)
        if fail_after_commits is not None and done >= fail_after_commits:
            raise SimulatedFailure(
                f"simulated crash after {done} commit(s); "
                f"{len(pending_buckets) - lo - len(group)} buckets left"
            )


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(output_path).drop("bucket")
