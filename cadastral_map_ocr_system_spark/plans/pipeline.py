"""The flagship extraction plan (reference EP1, OCR/src/detect.py:1466-1571,
re-expressed as one lazy DataFrame graph — SURVEY.md §3).

    docs ──posexplode_outer(spans)
         ── repartition(doc_id, offset)          [skew spread, 1 shuffle]
         ── mapInArrow span stage                [media extract + dedup;
                                                  text/sentinel columnar
                                                  passthrough]
         ── strip_boilerplate on text rows       [whole-stage codegen]
         ── groupBy(doc_id) re-zip               [1 shuffle]
         ── extracted(doc_id, spans[(kind,text,media_ref,order)])

Plan-shape invariants (kept deliberately, verified in
tests/test_plan_shape.py):
  - ONE scan of the docs table. A union-of-branches plan re-reads the
    full spans column per branch (parquet does not prune struct fields
    through posexplode), doubling IO at corpus scale.
  - TWO shuffles total: the per-span spread and the per-doc re-zip.
    Empty documents ride through as posexplode_outer sentinel rows and
    are dropped inside the re-zip transform — no corpus-wide join to
    re-attach them.
  - Text cleanup is built-in column expressions AFTER the Arrow stage,
    so it stays inside codegen; the Arrow stage passes text through
    columnar (no per-row Python on the text path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import strip_boilerplate
from ..operators.mediapath import span_detections
from ..operators.rezip import rezip


def explode_spans(docs: DataFrame, keep_empty_docs: bool = False) -> DataFrame:
    """docs -> one row per span (narrow; no shuffle).

    keep_empty_docs: use posexplode_outer so a document with zero spans
    yields one null-kind sentinel row (consumed by rezip).
    """
    explode = F.posexplode_outer if keep_empty_docs else F.posexplode
    return docs.select("doc_id", explode("spans").alias("pos", "span")).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def extract(docs: DataFrame, tile_metrics_dir: str | None = None) -> DataFrame:
    """Full pipeline: docs -> extracted(doc_id, spans).

    Exploded spans are repartitioned on (doc_id, offset) before the
    per-span work. This is the skew/salting stage (SURVEY.md §4.3): it
    spreads a 10k-span document across tasks instead of pinning one,
    and it decouples processing parallelism from input-split count.

    tile_metrics_dir: optional directory for the E3 tiling counts
    (tiles processed / skipped), written as retry-exact per-attempt
    metric files (mediapath.write_tile_metrics) and read back with
    mediapath.read_tile_metrics.
    """
    spark = docs.sparkSession
    # ONE task wave for the Python-dense Arrow stage: partition count =
    # cluster parallelism, not the 2x shuffle-partition default. Python
    # workers pay per-task spin-up/IPC that JVM tasks don't, and
    # per-span spreading already bounds skew, so a second wave only
    # adds stragglers — measured ~20% faster at 12k docs on local[32]
    # (min-of-trials 3.9s vs 5.0s).
    #
    # defaultParallelism is evaluated at PLAN time and can be tiny under
    # dynamic allocation (e.g. 2 before executors register), which
    # would collapse the extraction stage to a few tasks on a real
    # cluster — so an explicit conf always wins when set.
    conf_n = spark.conf.get("spark_graft.extract.partitions", None)
    n = int(conf_n) if conf_n else spark.sparkContext.defaultParallelism
    spans = explode_spans(docs, keep_empty_docs=True).repartition(n, "doc_id", "offset")
    rows = span_detections(spans, tile_metrics_dir=tile_metrics_dir)
    cleaned = rows.withColumn(
        "text",
        F.when(F.col("kind") == "text", strip_boilerplate(F.col("text"))).otherwise(
            F.col("text")
        ),
    ).withColumn(
        # text spans whose cleaned content is empty become sentinels:
        # they keep the doc_id alive through the groupBy (the reference
        # drops empty hits, detect.py:366-368; the document itself must
        # still appear in the output) and are dropped inside rezip.
        "kind",
        F.when(
            (F.col("kind") == "text")
            & (F.col("text").isNull() | (F.length("text") == 0)),
            F.lit(None).cast("string"),
        ).otherwise(F.col("kind")),
    )
    return rezip(cleaned)
