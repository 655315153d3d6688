"""Resumable, idempotent extraction runs with per-partition lineage.

north_rule: every partition writes lineage + extraction-metrics rows to
a checkpoint table so the job resumes idempotently mid-run.

Design (SURVEY.md §4.5, FIXTURES.md §3):
  - documents are hash-bucketed on doc_id into n_buckets partitions;
  - resume = LEFT-ANTI JOIN of docs against the checkpoint table's
    committed (run_id, partition_id) rows — already-done buckets are
    never rescanned past the join;
  - output is written partitioned by bucket with dynamic partition
    overwrite, so re-running a half-written bucket REPLACES it (no
    duplicate rows possible);
  - the lineage row for a bucket is appended only AFTER its data
    commit; a crash between the two leaves the bucket uncommitted and
    it is simply redone (idempotent by the overwrite above);
  - buckets are processed in groups (buckets_per_commit) so a long run
    has many commit points.

The checkpoint table is parquet here (Iceberg-shaped schema; see
sources/tables.py on the format choice).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import extract


class SimulatedFailure(RuntimeError):
    """Raised by run_extraction(fail_after_commits=k) for resume tests."""


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def committed_partitions(
    spark: SparkSession, checkpoint_path: str, run_id: str
) -> DataFrame:
    """Distinct committed (partition_id) rows for run_id (empty if none)."""
    if not os.path.exists(checkpoint_path):
        return spark.createDataFrame([], "partition_id int")
    return (
        spark.read.parquet(checkpoint_path)
        .filter(F.col("run_id") == run_id)
        .select("partition_id")
        .distinct()
    )


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
    buckets are skipped via anti-join; partially written buckets are
    overwritten whole.
    """
    # resume correctness REQUIRES dynamic partition overwrite: with the
    # static default, the per-group overwrite below would wipe every
    # previously committed bucket while the checkpoint table still marks
    # them committed. Set it here so sessions not built via get_spark()
    # are safe too.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    docs_b = docs.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))

    committed = committed_partitions(spark, checkpoint_path, run_id)
    # resume anti-join (north_rule): drop documents of committed buckets
    pending_docs = docs_b.join(
        committed.withColumnRenamed("partition_id", "bucket"),
        "bucket",
        "left_anti",
    )
    pending_buckets = sorted(
        r["bucket"] for r in pending_docs.select("bucket").distinct().collect()
    )
    committed_ids = {r["partition_id"] for r in committed.collect()}

    from ..operators.mediapath import read_tile_metrics

    commits_done = 0
    for lo in range(0, len(pending_buckets), buckets_per_commit):
        group = pending_buckets[lo : lo + buckets_per_commit]
        t0 = time.perf_counter()
        # E3 tiling lineage: RETRY-EXACT per-attempt metric files (one
        # dir per commit group), MAX-deduped per (stage, partition) at
        # read (Spark accumulators would over-count on task
        # retries/speculation)
        tile_metrics_dir = f"{checkpoint_path}_tiles/{run_id}/g{group[0]}"
        # crash-resume correctness for the metrics channel: a prior
        # attempt of this UNCOMMITTED group may have left metric files
        # behind, and the new SparkContext assigns different stage IDs —
        # the per-(stage, partition) MAX-dedup would then double-count.
        # Each (re-)processing of a group starts from an empty dir.
        shutil.rmtree(tile_metrics_dir, ignore_errors=True)
        sub = pending_docs.filter(F.col("bucket").isin(group))

        in_stats = {
            r["bucket"]: r
            for r in sub.groupBy("bucket")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.size("spans")).alias("n_spans"),
                F.min("doc_id").alias("doc_id_min"),
                F.max("doc_id").alias("doc_id_max"),
            )
            .collect()
        }

        result = extract(
            sub.drop("bucket"), tile_metrics_dir=tile_metrics_dir
        ).withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))
        # dynamic partition overwrite: replaces exactly these buckets
        result.write.mode("overwrite").partitionBy("bucket").parquet(output_path)

        out_stats = {
            r["bucket"]: r
            for r in spark.read.parquet(output_path)
            .filter(F.col("bucket").isin(group))
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_output_rows"),
                F.sum(F.size("spans")).alias("n_regions"),
            )
            .collect()
        }
        wall_ms = int((time.perf_counter() - t0) * 1000)
        tiles = read_tile_metrics(tile_metrics_dir)
        n_tiles_group = tiles["n_tiles"]
        n_skips_group = tiles["n_tiles_skipped"]

        # Tiling counts are commit-group-grain (one metrics dir per
        # group) and are stored on the group's FIRST bucket row only,
        # so SUM(n_tiles) over the checkpoint table equals the run
        # total instead of overstating by buckets_per_commit. They are
        # EXACT under task retries/speculation: each task attempt
        # writes its own (stage, partition, attempt) metric file and
        # the reader keeps one attempt per partition.
        lineage = [
            {
                "run_id": run_id,
                "partition_id": int(b),
                "doc_id_min": in_stats[b]["doc_id_min"] if b in in_stats else None,
                "doc_id_max": in_stats[b]["doc_id_max"] if b in in_stats else None,
                "n_docs": int(in_stats[b]["n_docs"]) if b in in_stats else 0,
                "n_spans": int(in_stats[b]["n_spans"] or 0) if b in in_stats else 0,
                "n_regions": int(out_stats[b]["n_regions"] or 0) if b in out_stats else 0,
                "n_output_rows": int(out_stats[b]["n_output_rows"]) if b in out_stats else 0,
                "n_tiles": int(n_tiles_group) if b == group[0] else 0,
                "n_tiles_skipped": int(n_skips_group) if b == group[0] else 0,
                "wall_ms": wall_ms,
                "attempt": int(tiles["max_attempt"]) + 1,
            }
            for b in group
        ]
        from ..schema import CHECKPOINT

        lineage_df = (
            spark.createDataFrame(
                lineage,
                schema="run_id string, partition_id int, doc_id_min string, "
                "doc_id_max string, n_docs long, n_spans long, n_regions long, "
                "n_output_rows long, n_tiles long, n_tiles_skipped long, "
                "wall_ms long, attempt int",
            )
            .withColumn("committed_at", F.current_timestamp())
            .select([f.name for f in CHECKPOINT.fields])
        )
        lineage_df.write.mode("append").parquet(checkpoint_path)
        committed_ids.update(group)
        commits_done += 1
        if fail_after_commits is not None and commits_done >= fail_after_commits:
            raise SimulatedFailure(
                f"simulated crash after {commits_done} commit(s); "
                f"{len(pending_buckets) - lo - len(group)} buckets left"
            )


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(output_path).drop("bucket")
