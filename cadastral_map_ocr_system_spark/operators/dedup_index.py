"""Persisted dedup index + incremental duplicate-cluster maintenance.

At 100 TB the dedup pipeline's real operating mode is incremental: a
daily ingest batch must be deduped against the corpus WITHOUT
re-shingling 100 TB (the reference recomputes per run over one
document, OCR/src/detect.py:504-575; a corpus-scale engine cannot).
The index persists three tables:

  fp_index    (fingerprint, rep)      one row per distinct content
  band_index  (doc_id, band, band_hash) BANDS rows per survivor —
              the LSH postings the next batch probes
  clusters    (doc_id, cluster)       current assignment, every doc

The build persists the frames components.dedup_clusters computes, and
an increment runs the same corpus_dedup stages on the batch: the
exact-rep aggregate (probed against fp_index), the band postings and
their capped bucket pairs, the Jaccard verify and the cluster rejoin,
all with corpus_dedup's constants (K, N_HASHES, BANDS, THRESHOLD,
DEFAULT_MAX_BUCKET) — so a batch always bands like its index.

Per increment the engine scans ONLY the new batch (plus a selective
semi-join fetch of the old candidate docs' texts for the Jaccard
verify), probes the band index with the SMALL side broadcast, and runs
connected components over the batch's OWN verified edges: `clusters`
is the old graph contracted to each component's min id, so mapping
the old ids a batch touches to their cluster gives the components of
old + new edges with the same labels (new ids exceed old ones, so new
docs never relabel). Increments APPEND to fp_index / band_index,
which `compact_dedup_index` vacuums; the clusters map is rewritten
whole. An `edges` directory left by an older build is ignored.

CRASH CONTRACT (test-pinned): an increment appends band_index, swaps
in the new clusters (`_swap_in`, repaired at the next start), then
appends fp_index. A crash before the swap leaves the index as it was
(the postings it added only add pairs that verify and CC absorb), so
the retry is exact. After the swap and before the fp_index append,
the retry raises the monotone-ingest ValueError; rebuild then.

EXACTNESS CONTRACT (test- and oracle-pinned): given monotone ingest
(every new doc_id greater than all indexed ones) and no LSH bucket
crossing the star-pair cap between increments, the incremental result
is IDENTICAL to a full recompute over the combined corpus — same
fingerprint reps (old rep ids are smaller by monotonicity), same
deterministic md5 LSH candidates, same Jaccard gate, same transitive
closure. The registry query's oracle is literally the full-recompute
SQL. When a bucket DOES cross the cap mid-life, full recompute would
star-pair the whole bucket while the index retains the finer old
clusters — clusters can only be equal-or-finer-connected, never wrong
pairs; rebuild the index (build_dedup_index) to re-canonicalize.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import corpus_dedup
from .components import _cluster_stages, _rejoin_clusters
from .corpus_dedup import (
    K,
    _bucket_pairs,
    _cap_report,
    _exact_reps,
    _jaccard_over_pair_sets,
    lsh_buckets,
    lsh_postings,
    shingle_sets,
)
from .textstats import fingerprints


def _probe(spark: SparkSession, index_path: str, new_docs: DataFrame) -> DataFrame:
    """(fingerprint, rep, text, old_rep): the batch's exact-rep
    aggregate probed against fp_index. A known fingerprint carries its
    stored rep as old_rep; where old_rep is null the content is new
    and its batch rep is a new survivor."""
    fp_index = spark.read.parquet(f"{index_path}/fp_index")
    return _exact_reps(new_docs).join(
        fp_index.select("fingerprint", F.col("rep").alias("old_rep")),
        "fingerprint",
        "left",
    )


def _new_survivors(probed: DataFrame) -> DataFrame:
    return probed.filter(F.col("old_rep").isNull()).select(
        F.col("rep").alias("doc_id"), "text"
    )


def _to_cluster(df: DataFrame, col: str, old_clusters: DataFrame) -> DataFrame:
    """`df` with every indexed doc id in `col` replaced by its stored
    cluster; ids the index does not hold (new docs, nulls) pass
    through."""
    return (
        df.join(old_clusters.withColumnRenamed("doc_id", col), col, "left")
        .withColumn(col, F.coalesce(F.col("cluster"), F.col(col)))
        .drop("cluster")
    )


def build_dedup_index(docs: DataFrame, index_path: str) -> None:
    """Full build: dedup the corpus from scratch and persist the three
    index tables — the frames `components.dedup_clusters` computes.
    This is the bootstrap (and the re-canonicalization path if the cap
    caveat in the module docstring is ever hit)."""
    reps, doc_rep, postings, edges = _cluster_stages(docs)
    clusters = _rejoin_clusters(doc_rep, edges.select("doc_a", "doc_b"))
    # a fresh build writes to a fresh dir, so plain writes suffice;
    # the gate read above has materialized reps and postings
    reps.select("fingerprint", "rep").write.mode("overwrite").parquet(
        f"{index_path}/fp_index"
    )
    postings.write.mode("overwrite").parquet(f"{index_path}/band_index")
    clusters.write.mode("overwrite").parquet(f"{index_path}/clusters")


def incremental_dedup(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    old_docs: DataFrame,
) -> DataFrame:
    """Assign every document of `new_docs` to a duplicate cluster and
    fold the batch into the index; returns the UPDATED full cluster
    map (doc_id, cluster) over old + new.

    Cost model per batch (the 100 TB property): one scan of the new
    batch, a broadcast probe of the band index with the new side
    small, a semi-join fetch of only the candidate old docs' texts,
    and connected components over the batch's own verified edges —
    never a scan or re-shingle of the old corpus. `old_docs` is used
    solely for the selective candidate-text fetch.

    Requires monotone ingest: every new doc_id must exceed every
    indexed doc_id (asserted), so stored reps and clusters stay min.
    """
    clusters_dir = f"{index_path}/clusters"
    _repair_torn_compact(clusters_dir)
    band_index = spark.read.parquet(f"{index_path}/band_index")
    old_clusters = spark.read.parquet(clusters_dir)

    # --- stage 1: exact dedup against the index -------------------
    # in-batch exact groups first (map-side-collapsible), then probe
    # the fingerprint index: a known fingerprint inherits its stored
    # rep's cluster; an unknown one makes its batch-min doc the new
    # survivor. Materialized once for every later stage and the append
    probed = _to_cluster(
        _probe(spark, index_path, new_docs), "old_rep", old_clusters
    ).localCheckpoint(eager=True)

    # both bounds in one aggregate, before anything is written; the
    # batch's min doc_id is its min exact rep, so the batch is not
    # scanned again
    max_old, min_new = (
        old_clusters.selectExpr("doc_id AS id", "true AS old")
        .union(probed.selectExpr("rep AS id", "false AS old"))
        .selectExpr(
            "max(CASE WHEN old THEN id END)", "min(CASE WHEN NOT old THEN id END)"
        )
        .first()
    )
    if max_old is not None and min_new is not None and min_new <= max_old:
        raise ValueError(
            f"monotone-ingest violation: new doc_id {min_new} <= indexed "
            f"max {max_old} — rebuild with build_dedup_index instead"
        )
    new_survivors = _new_survivors(probed)
    new_doc_rep = fingerprints(new_docs).join(
        probed.select(
            "fingerprint", F.coalesce(F.col("old_rep"), F.col("rep")).alias("rep")
        ),
        "fingerprint",
    ).select("doc_id", "rep")

    # --- stage 2: LSH candidates (new x old via index, new x new) --
    # materialized once: three consumers (old-probe, new-new buckets,
    # the index append), and the batch side is small by definition
    new_bands = lsh_postings(shingle_sets(new_survivors, K)).localCheckpoint(
        eager=True
    )
    cand_old = (
        F.broadcast(new_bands.withColumnRenamed("doc_id", "doc_b"))
        .join(
            band_index.withColumnRenamed("doc_id", "doc_a"),
            ["band", "band_hash"],
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand_new = _bucket_pairs(lsh_buckets(new_bands), corpus_dedup.DEFAULT_MAX_BUCKET)
    candidates = cand_old.union(cand_new).distinct()

    # --- stage 3: Jaccard verify over candidate texts only ---------
    # old candidate texts come from a semi-join fetch (pushdown), new
    # from the batch; shingling touches just these docs
    old_cand_docs = old_docs.join(
        candidates.select(F.col("doc_a").alias("doc_id")).distinct(), "doc_id"
    ).select("doc_id", "text")
    new_edges = _jaccard_over_pair_sets(
        candidates, shingle_sets(old_cand_docs.union(new_survivors), K)
    ).select("doc_a", "doc_b")

    # --- stage 4: components over the batch's edges ----------------
    # doc_b is always a new survivor; an old doc_a becomes its stored
    # cluster (the contracted old graph), which merges old clusters a
    # batch bridges. Edges into one old cluster collapse, so distinct()
    batch_edges = _to_cluster(new_edges, "doc_a", old_clusters).distinct()
    all_doc_rep = old_clusters.select(
        "doc_id", F.col("cluster").alias("rep")
    ).union(new_doc_rep)
    # materialized BEFORE any write touches the index: its plan reads
    # clusters and band_index, both of which the fold below changes
    updated = _rejoin_clusters(all_doc_rep, batch_edges).localCheckpoint(eager=True)

    # --- fold the batch into the index ------------------------------
    # fp_index is appended LAST: the fp probe is what makes a retried
    # batch see its docs as already indexed, so a crash before it must
    # leave the batch to be re-processed (module docstring's crash
    # contract)
    new_bands.write.mode("append").parquet(f"{index_path}/band_index")
    _swap_in(updated, clusters_dir)
    new_fp = probed.filter(F.col("old_rep").isNull()).select("fingerprint", "rep")
    new_fp.write.mode("append").parquet(f"{index_path}/fp_index")
    return updated


def incremental_capped_buckets(
    spark: SparkSession, index_path: str, new_docs: DataFrame
) -> DataFrame:
    """No-silent-caps ledger for `incremental_dedup`'s new-new
    candidate buckets (the new-old probe is a join, never a pair
    expansion, so only the in-batch buckets can hit the star cap).
    Empty unless the cap engaged — run and log it alongside each
    batch, exactly like corpus_dedup.lsh_capped_buckets at full-build
    time. A non-empty ledger is also the signal that the exactness
    contract's no-cap-crossing precondition needs checking (module
    docstring)."""
    new_survivors = _new_survivors(_probe(spark, index_path, new_docs))
    return _cap_report(
        lsh_buckets(lsh_postings(shingle_sets(new_survivors, K))),
        "ids",
        corpus_dedup.DEFAULT_MAX_BUCKET,
    )


# target parquet file size for compacted index tables; postings rows
# are ~50 bytes so this lands near the 128 MB lakehouse sweet spot
_COMPACT_ROWS_PER_FILE = 2_000_000

_APPEND_TABLES = ("fp_index", "band_index")


def _repair_torn_compact(table_dir: str) -> None:
    """Make a table directory readable again after a crash in `_swap_in`.

    `_swap_in` passes through exactly two non-live states:
      1. `.compact` written, live intact      -> drop `.compact`
      2. live renamed to `.old`, `.compact`
         complete, live missing               -> promote `.compact`
    A complete `.compact` always carries _SUCCESS (Spark commits it);
    anything else is a partial write and is discarded.
    """
    tmp, old = table_dir + ".compact", table_dir + ".old"
    if not os.path.exists(table_dir):
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, table_dir)
        elif os.path.exists(old):
            os.rename(old, table_dir)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)


def _swap_in(df: DataFrame, live: str) -> None:
    """Replace table directory `live` by `df`'s rows: write `.compact`
    -> rename live to `.old` -> promote -> drop `.old`. A plain
    overwrite deletes `live` before its job runs, so a failed job would
    leave no table; `_repair_torn_compact` recovers every state here."""
    tmp, old = live + ".compact", live + ".old"
    df.write.mode("overwrite").parquet(tmp)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)


def compact_dedup_index(spark: SparkSession, index_path: str) -> dict:
    """Vacuum the append-grown index tables (_APPEND_TABLES): rewrite
    each as ceil(rows / _COMPACT_ROWS_PER_FILE) parquet files with the
    crash-safe `_swap_in`, band_index repartitioned BY (band,
    band_hash) so the next probe reads co-clustered postings. Run it on
    an OPTIMIZE cadence; results are identical with or without it (the
    dedup_incremental query compacts mid-run). Returns a per-table
    {files_before, files_after, rows} report (no silent maintenance).
    """
    report: dict[str, dict] = {}
    for table in _APPEND_TABLES:
        live = f"{index_path}/{table}"
        _repair_torn_compact(live)
        files_before = len(glob.glob(os.path.join(live, "*.parquet")))
        df = spark.read.parquet(live)
        n_rows = df.count()
        n_files = max(1, -(-n_rows // _COMPACT_ROWS_PER_FILE))
        if table == "band_index":
            out = df.repartition(n_files, "band", "band_hash")
        else:
            out = df.repartition(n_files)
        _swap_in(out, live)
        report[table] = {
            "files_before": files_before,
            "files_after": len(glob.glob(os.path.join(live, "*.parquet"))),
            "rows": n_rows,
        }
    return report
