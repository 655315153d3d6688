"""Deterministic corpus sampling and training-shard packing.

Two operations every large-scale training-data pipeline runs after
dedup/quality filtering (the reference's pipeline ends at per-map CSV
rows, OCR/src/main.py:60-103; a corpus engine must also hand the kept
documents to a trainer):

  stratified_sample  pick exactly n documents per language stratum,
                     reproducibly — the eval holdout / human-audit
                     draw.
  pack_shards        assign every document to a training shard such
                     that each shard holds ~budget tokens, with W
                     independent writers — the "write me 2048-doc
                     x 1M-token files" step before a training run.

Both are pure DataFrame plans (no UDFs) and deterministic given the
input: ordering comes from md5 of stable keys, never from partition
layout or RNG state, so any engine reproduces them bit-for-bit (the
registry oracles re-run them in DuckDB).

100 TB shapes:
  - stratified_sample is the classic skew-proof two-phase top-n: a
    giant stratum (half the crawl is English) never lands on one
    reducer. Phase 1 ranks within (stratum, salt) — S bounded windows
    per stratum — and keeps n each; phase 2 ranks the <= S*n
    survivors per stratum. Exact: the global per-stratum top-n by any
    total order is contained in the union of per-salt top-n.
  - pack_shards never totally orders the corpus: documents hash to W
    writers (one shuffle), each writer packs ITS documents by running
    token sum independently (W parallel bounded windows). Shards are
    (writer, seq) pairs; a 1000-executor run sets W ~ executor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import token_counts

STRATUM_COL = "lang"
#: phase-1 windows per stratum of stratified_sample; bounds window size
#: only, never the result
N_SALTS = 16


def _md5_key(*cols) -> "F.Column":
    """Deterministic total-order key: md5 over ':'-joined stable
    columns. Hex-string compare is identical in Spark and DuckDB
    (binary collation both sides)."""
    return F.md5(F.concat_ws(":", *cols))


def stratified_sample(docs: DataFrame, n_per_stratum: int) -> DataFrame:
    """Exactly min(n, |stratum|) documents per STRATUM_COL value,
    chosen by the md5 total order over (stratum, doc_id) — a
    reproducible uniform draw that no reordering, repartitioning, or
    engine swap changes.

    Returns (doc_id, <STRATUM_COL>, sample_rank) with sample_rank in
    [1, n]. The salt is derived from the key itself (crc32), is not in
    the output, and only bounds window size — correctness never
    depends on its distribution, only the two-phase containment.
    """
    stratum_col = STRATUM_COL
    key = _md5_key(F.col(stratum_col), F.col("doc_id").cast("string"))
    keyed = docs.select(F.col("doc_id"), F.col(stratum_col), key.alias("k"))
    salted = keyed.withColumn("salt", F.pmod(F.crc32(F.col("k")), F.lit(N_SALTS)))
    w1 = Window.partitionBy(stratum_col, "salt").orderBy("k")
    phase1 = (
        salted.withColumn("r", F.row_number().over(w1))
        .filter(F.col("r") <= n_per_stratum)
        .drop("r", "salt")
    )
    w2 = Window.partitionBy(stratum_col).orderBy("k")
    return (
        phase1.withColumn("sample_rank", F.row_number().over(w2))
        .filter(F.col("sample_rank") <= n_per_stratum)
        .select(
            "doc_id", stratum_col, F.col("sample_rank").cast("int").alias("sample_rank")
        )
    )


def pack_shards(
    docs: DataFrame,
    budget_tokens: int,
    n_writers: int = 8,
) -> DataFrame:
    """Assign each document a training shard of ~budget_tokens tokens.

    writer   = md5(doc_id) high bits mod n_writers (stable, uniform);
    within a writer, documents pack in doc_id order and a document
    starts a new shard when the running total BEFORE it has consumed
    the budget: shard_seq = floor(exclusive_cumsum(n_tokens)/budget).
    A shard therefore overshoots the budget by at most one document —
    the standard greedy packing a sequential writer produces — and,
    for a fixed n_writers, every (writer, shard_seq) group is
    reproducible byte-for-byte.

    Sizing n_writers: each writer's exclusive-cumsum window holds
    ~corpus/W narrow rows (doc_id, n_tokens) in ONE task, so pick
    W ≈ the executor/core count (or higher until per-writer rows fit
    task memory comfortably). Any W gives a valid packing, but changing
    W reassigns documents to other writers and shards: pin W wherever
    shard contents must match across runs. 10x evidence
    (BENCH/sf1.md): W=2 vs W=8 wall 0.97 s vs 0.73 s min-of-3 — the
    window term is small and bounded, no spill at either setting.

    Returns (doc_id, n_tokens, writer, shard_seq).
    """
    toks = token_counts(docs).select("doc_id", "n_tokens")
    writer = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(n_writers),
    )
    w = (
        Window.partitionBy("writer")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        toks.withColumn("writer", writer)
        .withColumn(
            "shard_seq",
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget_tokens
            ).cast("long"),
        )
        .select("doc_id", "n_tokens", "writer", "shard_seq")
    )
