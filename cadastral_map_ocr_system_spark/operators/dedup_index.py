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

Each table is partitioned by an int `batch`; the append-only `ledger`
(_LEDGER) holds one row per committed batch. Readers see
fp_index / band_index from the latest row's `base` on and its clusters.

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
docs never relabel). Increments add fp_index / band_index partitions,
which `compact_dedup_index` folds into one; the clusters map is
written whole. An `edges` directory left by an older build is ignored.

CRASH CONTRACT (test-pinned; run_extraction's, through its helpers):
build, increment and compaction each write the next batch's partitions
(`overwrite_partitions`), append its ledger row (`append_ledger`), then
delete what no reader sees. A crash before the append leaves nothing
visible, and the retry redoes the batch; an increment whose doc_id
range equals the latest row's returns the committed map, writing nothing.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.checkpoint import (
    append_ledger,
    hadoop_path,
    overwrite_partitions,
    read_ledger,
)
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

# fp_index and band_index gain rows every batch and are read from the
# ledger's base on; clusters is read from its latest batch only
_SCHEMAS = {
    "fp_index": "fingerprint string, rep bigint, batch int",
    "band_index": "doc_id bigint, band int, band_hash string, batch int",
    "clusters": "doc_id bigint, cluster bigint, batch int",
}
_APPEND_TABLES = ("fp_index", "band_index")
_LEDGER = (
    "batch int, base int, doc_id_min bigint, doc_id_max bigint, committed_at timestamp"
)
_NO_COMMIT = {"batch": -1, "base": 0, "doc_id_min": None, "doc_id_max": None}
# a batch's doc_id range, as its ledger row records it
_BOUNDS = ("min(doc_id) AS doc_id_min", "max(doc_id) AS doc_id_max")


def _last_commit(spark: SparkSession, index_path: str) -> dict:
    """The ledger's latest row (committed_at dropped); _NO_COMMIT before
    the first build, which makes nothing visible."""
    ledger = read_ledger(spark, f"{index_path}/ledger", _LEDGER)
    rows = [r.asDict() for r in ledger.drop("committed_at").collect()]
    return max(rows, key=lambda r: r["batch"], default=_NO_COMMIT)


def _committed(table: str, last: dict) -> range:
    """The batches of `table` that ledger row `last` commits."""
    first = last["base"] if table in _APPEND_TABLES else last["batch"]
    return range(first, last["batch"] + 1)


def _visible(
    spark: SparkSession, index_path: str, table: str, last: dict
) -> DataFrame:
    """`table`'s committed rows; the declared schema spares an inference job."""
    b = _committed(table, last)
    df = spark.read.schema(_SCHEMAS[table]).parquet(f"{index_path}/{table}")
    return df.filter(f"batch >= {b.start} AND batch < {b.stop}").drop("batch")


def _write(df: DataFrame, index_path: str, table: str, batch: int, *stats) -> dict:
    """Replace partition `batch` of `table` by `df`'s rows; returns `stats`."""
    df = df.selectExpr("*", f"{batch} AS batch")
    return overwrite_partitions(df, f"{index_path}/{table}", "batch", *stats)


def _sweep(spark: SparkSession, index_path: str, last: dict) -> None:
    """Delete every partition no reader of ledger row `last` sees: the
    batches a commit superseded and those of an uncommitted attempt.
    Each write runs it first too, since a partition a crashed attempt
    wrote and its retry leaves empty would become visible at the
    commit. Idempotent: a crash inside it leaves garbage the next sweep
    deletes."""
    for table in _SCHEMAS:
        fs, parts = hadoop_path(spark, f"{index_path}/{table}/batch=*")
        for st in fs.globStatus(parts):
            batch = int(st.getPath().getName()[len("batch=") :])
            if batch not in _committed(table, last):
                fs.delete(st.getPath(), True)


def _probe(fp_index: DataFrame, new_docs: DataFrame) -> DataFrame:
    """(fingerprint, rep, text, old_rep): the batch's exact-rep
    aggregate probed against fp_index. A known fingerprint carries its
    stored rep as old_rep; where old_rep is null the content is new
    and its batch rep is a new survivor."""
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
    index tables — the frames `components.dedup_clusters` computes —
    as the next batch, which becomes the base of every reader. This is
    the bootstrap (and the re-canonicalization path if the cap caveat
    in the module docstring is ever hit)."""
    spark = docs.sparkSession
    last = _last_commit(spark, index_path)
    batch = last["batch"] + 1
    _sweep(spark, index_path, last)
    reps, doc_rep, postings, edges = _cluster_stages(docs)
    clusters = _rejoin_clusters(doc_rep, edges.select("doc_a", "doc_b"))
    # the gate read above has materialized reps and postings
    _write(reps.select("fingerprint", "rep"), index_path, "fp_index", batch)
    _write(postings, index_path, "band_index", batch)
    # the corpus' doc_id range comes with the clusters write: every
    # doc has one clusters row
    bounds = _write(clusters, index_path, "clusters", batch, *_BOUNDS)
    row = {"batch": batch, "base": batch, **bounds}
    append_ledger(spark, f"{index_path}/ledger", [row], _LEDGER)
    _sweep(spark, index_path, row)


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
    A batch whose doc_id range equals the latest committed row's is
    that batch retried: it returns the committed map and writes
    nothing.
    """
    last = _last_commit(spark, index_path)
    old_clusters = _visible(spark, index_path, "clusters", last)
    # the batch's bounds in one aggregate, before anything is computed
    # or written; the indexed maximum comes from the ledger
    lo, hi = new_docs.selectExpr(*_BOUNDS).first()
    if lo is None or (lo, hi) == (last["doc_id_min"], last["doc_id_max"]):
        return old_clusters
    if last["doc_id_max"] is not None and lo <= last["doc_id_max"]:
        raise ValueError(
            f"monotone-ingest violation: new doc_id {lo} <= indexed "
            f"max {last['doc_id_max']} — rebuild with build_dedup_index instead"
        )
    batch = last["batch"] + 1
    _sweep(spark, index_path, last)
    band_index = _visible(spark, index_path, "band_index", last)

    # --- stage 1: exact dedup against the index -------------------
    # in-batch exact groups first (map-side-collapsible), then probe
    # the fingerprint index: a known fingerprint inherits its stored
    # rep's cluster; an unknown one makes its batch-min doc the new
    # survivor. Materialized once for every later stage and the write
    probed = _to_cluster(
        _probe(_visible(spark, index_path, "fp_index", last), new_docs),
        "old_rep",
        old_clusters,
    ).localCheckpoint(eager=True)
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
    # materialized: it is returned, and its plan reads the clusters
    # partition the commit's sweep deletes
    updated = _rejoin_clusters(all_doc_rep, batch_edges).localCheckpoint(eager=True)

    # --- commit the batch ---------------------------------------------
    new_fp = probed.filter(F.col("old_rep").isNull()).select("fingerprint", "rep")
    _write(new_bands, index_path, "band_index", batch)
    _write(updated, index_path, "clusters", batch)
    _write(new_fp, index_path, "fp_index", batch)
    row = {"batch": batch, "base": last["base"], "doc_id_min": lo, "doc_id_max": hi}
    append_ledger(spark, f"{index_path}/ledger", [row], _LEDGER)
    _sweep(spark, index_path, row)
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
    last = _last_commit(spark, index_path)
    fp_index = _visible(spark, index_path, "fp_index", last)
    new_survivors = _new_survivors(_probe(fp_index, new_docs))
    return _cap_report(
        lsh_buckets(lsh_postings(shingle_sets(new_survivors, K))),
        "ids",
        corpus_dedup.DEFAULT_MAX_BUCKET,
    )


# target parquet file size for compacted index tables; postings rows
# are ~50 bytes so this lands near the 128 MB lakehouse sweet spot
_COMPACT_ROWS_PER_FILE = 2_000_000


def _n_files(spark: SparkSession, index_path: str, table: str, last: dict) -> int:
    """Parquet files of the partitions of `table` that `last` commits."""
    n = 0
    for b in _committed(table, last):
        fs, files = hadoop_path(spark, f"{index_path}/{table}/batch={b}/*.parquet")
        n += len(fs.globStatus(files))
    return n


def compact_dedup_index(spark: SparkSession, index_path: str) -> dict:
    """Vacuum the index: rewrite the visible rows of every table into
    the next batch, which becomes the base of every reader, as
    ceil(rows / _COMPACT_ROWS_PER_FILE) parquet files; band_index is
    repartitioned BY (band, band_hash) so the next probe reads
    co-clustered postings. Run it on an OPTIMIZE cadence; results are
    identical with or without it (the dedup_incremental query compacts
    mid-run). Returns a per-table {files_before, files_after, rows}
    report (no silent maintenance)."""
    last = _last_commit(spark, index_path)
    batch = last["batch"] + 1
    _sweep(spark, index_path, last)
    # the last ingest's doc_id range is kept: its retry stays a no-op
    row = {**last, "batch": batch, "base": batch}
    report: dict[str, dict] = {}
    for table in _SCHEMAS:
        df = _visible(spark, index_path, table, last)
        n_rows = df.count()
        n_files = max(1, -(-n_rows // _COMPACT_ROWS_PER_FILE))
        if table == "band_index":
            out = df.repartition(n_files, "band", "band_hash")
        else:
            out = df.repartition(n_files)
        _write(out, index_path, table, batch)
        report[table] = {
            "files_before": _n_files(spark, index_path, table, last),
            "files_after": _n_files(spark, index_path, table, row),
            "rows": n_rows,
        }
    append_ledger(spark, f"{index_path}/ledger", [row], _LEDGER)
    _sweep(spark, index_path, row)
    return report
