"""Resume test (SURVEY.md §5 step 5): kill after k commits, re-run,
final output identical and committed partitions not recomputed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cadastral_map_ocr_system_spark import oracle, synth
from cadastral_map_ocr_system_spark.schema import DOCS
from cadastral_map_ocr_system_spark.sources.checkpoint import (
    SimulatedFailure,
    bucket_of,
    read_extracted,
    run_extraction,
)

N_DOCS = 120


def _collect(df):
    return {
        row["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]
        ]
        for row in df.collect()
    }


def test_resume_idempotent(spark, tmp_path):
    docs_py = synth.synth_docs_pylist(N_DOCS, seed=21)
    docs = spark.createDataFrame(docs_py, schema=DOCS)
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "checkpoint")

    with pytest.raises(SimulatedFailure):
        run_extraction(
            spark, docs, out, ckpt, run_id="r1",
            n_buckets=8, buckets_per_commit=3, fail_after_commits=1,
        )

    ck = spark.read.parquet(ckpt)
    committed_before = {r["partition_id"] for r in ck.select("partition_id").collect()}
    assert len(committed_before) == 3  # exactly one commit group landed

    # resume: finishes the remaining buckets
    run_extraction(
        spark, docs, out, ckpt, run_id="r1", n_buckets=8, buckets_per_commit=3
    )

    ck2 = spark.read.parquet(ckpt)
    per_part = (
        ck2.groupBy("partition_id").count().collect()
    )
    assert {r["partition_id"] for r in per_part} == set(range(8))
    # committed partitions were NOT recomputed: still exactly one lineage row
    assert all(r["count"] == 1 for r in per_part)

    got = _collect(read_extracted(spark, out))
    golden = oracle.extract_corpus(docs_py)
    assert got == golden

    # lineage metrics add up
    totals = ck2.agg(
        F.sum("n_docs").alias("d"), F.sum("n_output_rows").alias("o"),
        F.sum("n_tiles").alias("t"),
    ).first()
    assert totals["d"] == N_DOCS
    assert totals["o"] == N_DOCS  # one output row per doc
    # E3 tiling lineage: skew docs (media://big payloads) were tiled
    assert totals["t"] > 0

    # per-bucket input stats equal a direct aggregate over the input,
    # for the buckets committed before the crash and after the resume
    want = {
        r["bucket"]: (r["n_docs"], r["n_spans"], r["doc_id_min"], r["doc_id_max"])
        for r in docs.groupBy(bucket_of(F.col("doc_id"), 8).alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
        )
        .collect()
    }
    lineage = {
        r["partition_id"]: (
            r["n_docs"], r["n_spans"], r["doc_id_min"], r["doc_id_max"]
        )
        for r in ck2.collect()
    }
    assert lineage == want


def test_rerun_after_success_is_noop(spark, tmp_path):
    docs_py = synth.synth_docs_pylist(40, seed=3)
    docs = spark.createDataFrame(docs_py, schema=DOCS)
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "checkpoint")
    run_extraction(spark, docs, out, ckpt, run_id="r1", n_buckets=4)
    before = _collect(read_extracted(spark, out))
    run_extraction(spark, docs, out, ckpt, run_id="r1", n_buckets=4)
    ck = spark.read.parquet(ckpt)
    assert ck.count() == 4  # nothing re-attempted
    assert _collect(read_extracted(spark, out)) == before


def test_resume_after_crash_inside_first_lineage_commit(spark, tmp_path):
    """A driver killed inside the FIRST lineage append leaves the
    checkpoint directory holding only `_temporary/` (no part file, so
    no schema to infer). That is an empty committed set: the next run
    must extract and commit every bucket once, not fail to read it."""
    import os

    docs_py = synth.synth_docs_pylist(40, seed=3)
    docs = spark.createDataFrame(docs_py, schema=DOCS)
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(ckpt, "_temporary", "0"))

    run_extraction(spark, docs, out, ckpt, run_id="r1", n_buckets=4)

    non_empty = {
        r["bucket"]
        for r in docs.select(bucket_of(F.col("doc_id"), 4).alias("bucket"))
        .distinct()
        .collect()
    }
    per_part = spark.read.parquet(ckpt).groupBy("partition_id").count().collect()
    assert {r["partition_id"] for r in per_part} == non_empty
    assert all(r["count"] == 1 for r in per_part)
    assert _collect(read_extracted(spark, out)) == oracle.extract_corpus(docs_py)


def test_resume_after_torn_partition_write(spark, tmp_path):
    """Crash-injection under a TORN WRITE (VERDICT r4 next-round #4):
    the crash leaves partial parquet part files inside an UNCOMMITTED
    bucket's partition dir. Resume must replace the torn bucket whole
    (dynamic partition overwrite), not append to it, and must not
    recompute committed buckets — final output identical to golden."""
    import os

    docs_py = synth.synth_docs_pylist(N_DOCS, seed=21)
    docs = spark.createDataFrame(docs_py, schema=DOCS)
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "checkpoint")

    with pytest.raises(SimulatedFailure):
        run_extraction(
            spark, docs, out, ckpt, run_id="r1",
            n_buckets=8, buckets_per_commit=3, fail_after_commits=1,
        )
    committed = {
        r["partition_id"]
        for r in spark.read.parquet(ckpt).select("partition_id").collect()
    }
    torn_bucket = min(set(range(8)) - committed)

    # simulate the torn write: a schema-valid part file with bogus rows
    # (a half-flushed task output) inside the uncommitted bucket's dir
    torn_dir = os.path.join(out, f"bucket={torn_bucket}")
    os.makedirs(torn_dir, exist_ok=True)
    bogus = spark.createDataFrame(
        [{"doc_id": "TORN-GARBAGE", "spans": []}], schema=DOCS
    )
    bogus.write.mode("overwrite").parquet(str(tmp_path / "bogus"))
    part = next(
        f for f in os.listdir(str(tmp_path / "bogus")) if f.endswith(".parquet")
    )
    os.replace(
        os.path.join(str(tmp_path / "bogus"), part),
        os.path.join(torn_dir, "part-99999-torn.snappy.parquet"),
    )

    run_extraction(
        spark, docs, out, ckpt, run_id="r1", n_buckets=8, buckets_per_commit=3
    )

    got = _collect(read_extracted(spark, out))
    assert "TORN-GARBAGE" not in got  # torn file was replaced, not merged
    assert got == oracle.extract_corpus(docs_py)
    per_part = spark.read.parquet(ckpt).groupBy("partition_id").count().collect()
    assert {r["partition_id"] for r in per_part} == set(range(8))
    assert all(r["count"] == 1 for r in per_part)  # no recomputation


def test_resume_clears_stale_tile_metrics(spark, tmp_path):
    """A crashed attempt's metric files must not leak into the resumed
    attempt's lineage: the new SparkContext assigns different stage
    IDs, so stale files would survive the per-(stage, partition) MAX
    dedup and double the tile counts (ADVICE r4). run_extraction clears
    each group's metrics dir before (re-)processing it."""
    import json
    import os

    docs_py = synth.synth_docs_pylist(N_DOCS, seed=21)
    docs = spark.createDataFrame(docs_py, schema=DOCS)

    # clean baseline run
    out_a = str(tmp_path / "out_a")
    ckpt_a = str(tmp_path / "ckpt_a")
    run_extraction(spark, docs, out_a, ckpt_a, run_id="r1",
                   n_buckets=8, buckets_per_commit=3)
    baseline = spark.read.parquet(ckpt_a).agg(
        F.sum("n_tiles").alias("t"), F.sum("n_tiles_skipped").alias("s")
    ).first()
    assert baseline["t"] > 0

    # crashed run + stale metric files from the dead attempt in the
    # NEXT pending group's dir (as if the crash hit mid-extraction)
    out_b = str(tmp_path / "out_b")
    ckpt_b = str(tmp_path / "ckpt_b")
    with pytest.raises(SimulatedFailure):
        run_extraction(spark, docs, out_b, ckpt_b, run_id="r1",
                       n_buckets=8, buckets_per_commit=3, fail_after_commits=1)
    committed = {
        r["partition_id"]
        for r in spark.read.parquet(ckpt_b).select("partition_id").collect()
    }
    next_group_head = min(set(range(8)) - committed)
    stale_dir = f"{ckpt_b}_tiles/r1/g{next_group_head}"
    os.makedirs(stale_dir, exist_ok=True)
    json.dump(
        {"stage_id": 999999, "partition_id": 0, "attempt": 0,
         "n_tiles": 10_000, "n_tiles_skipped": 10_000},
        open(os.path.join(stale_dir, "s999999_p0_a0.json"), "w"),
    )

    run_extraction(spark, docs, out_b, ckpt_b, run_id="r1",
                   n_buckets=8, buckets_per_commit=3)
    resumed = spark.read.parquet(ckpt_b).agg(
        F.sum("n_tiles").alias("t"), F.sum("n_tiles_skipped").alias("s")
    ).first()
    assert resumed["t"] == baseline["t"]
    assert resumed["s"] == baseline["s"]


def test_tile_metrics_dedup_on_retries(tmp_path):
    """Retry-exact lineage (VERDICT r3 #8): per-attempt metric files are
    MAX-deduped per (stage, partition), so a retried/speculative task
    attempt can never double-count its tiles."""
    import json

    from cadastral_map_ocr_system_spark.operators.mediapath import (
        read_tile_metrics,
    )

    d = str(tmp_path / "tiles")
    import os

    os.makedirs(d)
    rows = [
        {"stage_id": 5, "partition_id": 0, "attempt": 0, "n_tiles": 7, "n_tiles_skipped": 1},
        {"stage_id": 5, "partition_id": 1, "attempt": 0, "n_tiles": 3, "n_tiles_skipped": 0},
        # partition 1 retried: same work, higher attempt — must replace,
        # not add
        {"stage_id": 5, "partition_id": 1, "attempt": 1, "n_tiles": 3, "n_tiles_skipped": 0},
    ]
    for r in rows:
        name = f"s{r['stage_id']}_p{r['partition_id']}_a{r['attempt']}.json"
        json.dump(r, open(os.path.join(d, name), "w"))
    got = read_tile_metrics(d)
    assert got == {"n_tiles": 10, "n_tiles_skipped": 1, "max_attempt": 1}
    assert read_tile_metrics(str(tmp_path / "missing")) == {
        "n_tiles": 0, "n_tiles_skipped": 0, "max_attempt": 0,
    }


def test_tile_metrics_carry_every_counter(spark, tmp_path):
    """Every counter of a task's stats dict leaves the task, including
    n_oversized_fallback, and reads back exactly."""
    from cadastral_map_ocr_system_spark.operators.mediapath import (
        read_tile_metrics,
        write_tile_metrics,
    )

    d = str(tmp_path / "tiles")
    stats = {"n_tiles": 9, "n_tiles_skipped": 4, "n_oversized_fallback": 1}
    spark.sparkContext.parallelize([0], 1).foreach(
        lambda _: write_tile_metrics(d, stats)
    )
    assert read_tile_metrics(d) == {**stats, "max_attempt": 0}


def test_resume_over_file_uris(spark, tmp_path):
    """Resume works on a Hadoop URI, not only a plain path: the
    committed set is read through Spark, so a second run over file://
    paths skips every committed bucket, and the tile-metric files land
    at the URI's local path, not in a relative `file:` dir under the
    working directory. A scheme the POSIX metric channel cannot write
    fails before any job runs."""
    import os

    docs = spark.createDataFrame(synth.synth_docs_pylist(40, seed=3), schema=DOCS)
    out = (tmp_path / "extracted").as_uri()
    ckpt = (tmp_path / "checkpoint").as_uri()
    stray = os.path.join(os.getcwd(), "file:")
    for _ in range(2):
        run_extraction(spark, docs, out, ckpt, run_id="r1", n_buckets=4)

    per_part = spark.read.parquet(ckpt).groupBy("partition_id").count().collect()
    assert len(per_part) == 4
    assert all(r["count"] == 1 for r in per_part)
    assert os.path.isdir(tmp_path / "checkpoint_tiles" / "r1")
    assert not os.path.exists(stray)

    with pytest.raises(ValueError, match="POSIX-only"):
        run_extraction(spark, docs, out, "hdfs://namenode/ckpt", run_id="r1")


# A session of its own: local[2,2] lets every task fail once and retry.
# The wrapper is defined in __main__, so cloudpickle ships it by value
# inside span_detections' closure; the engine itself is unchanged.
FORCED_RETRY_SCRIPT = """
import json, os, sys
from pyspark import TaskContext
from cadastral_map_ocr_system_spark import synth
from cadastral_map_ocr_system_spark.operators import mediapath
from cadastral_map_ocr_system_spark.schema import DOCS
from cadastral_map_ocr_system_spark.session import get_spark
from cadastral_map_ocr_system_spark.sources.checkpoint import (
    read_extracted, run_extraction,
)

span_batches = mediapath.span_batches


def fail_first_attempt(*args, **kwargs):
    yield from span_batches(*args, **kwargs)
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("forced failure of a first task attempt")


def run(base, stage):
    mediapath.span_batches = stage
    run_extraction(spark, docs, f"{base}/out", f"{base}/ckpt", run_id="r",
                   n_buckets=2, buckets_per_commit=2)
    (group,) = os.listdir(f"{base}/ckpt_tiles/r")
    rows = read_extracted(spark, f"{base}/out").collect()
    ckpt = spark.read.parquet(f"{base}/ckpt")
    lineage = ckpt.drop("committed_at", "wall_ms", "attempt").collect()
    return {
        "tiles": mediapath.read_tile_metrics(f"{base}/ckpt_tiles/r/{group}"),
        "rows": sorted(json.dumps(r.asDict(recursive=True)) for r in rows),
        "lineage": sorted(json.dumps(r.asDict()) for r in lineage),
    }


spark = get_spark(app_name="forced-retry", master="local[2,2]")
docs = spark.createDataFrame(
    synth.synth_docs_pylist(40, seed=21, skew_frac=0.1), schema=DOCS
)
base = sys.argv[1]
print(json.dumps({
    "clean": run(f"{base}/clean", span_batches),
    "retried": run(f"{base}/retried", fail_first_attempt),
}))
spark.stop()
"""


def test_forced_task_retry_keeps_counts_exact(tmp_path):
    """Every span-stage task fails after its first attempt's body ran
    (and wrote its metric file); the retried run's tile metrics, output
    rows and lineage rows equal a run with no retry. The span stage is
    a shuffle-map stage before the write's observed result stage."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    env = {**os.environ, "PYTHONPATH": root, "SPARK_DRIVER_MEMORY": "2g"}
    proc = subprocess.run(
        [sys.executable, "-c", FORCED_RETRY_SCRIPT, str(tmp_path)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    clean, retried = got["clean"], got["retried"]
    assert clean["tiles"]["n_tiles"] > 0
    assert clean["tiles"].pop("max_attempt") == 0
    assert retried["tiles"].pop("max_attempt") == 1  # the retry happened
    assert retried["tiles"] == clean["tiles"]
    assert len(clean["rows"]) == 40
    assert retried["rows"] == clean["rows"]
    assert len(clean["lineage"]) == 2
    assert retried["lineage"] == clean["lineage"]
