"""Corpus-scale deduplication operators.

Generalizes the reference's within-payload greedy dedup
(OCR/src/detect.py:384-417, 504-575 — see mediapath.greedy_dedup_payload)
to across-document dedup over billions of rows:

  exact          hash-groupBy on a normalized-content fingerprint; the
                 min-doc_id survivor of each group is `_exact_reps`
  MinHash + LSH  shingle -> k minhashes -> b bands -> bucket groupBy
                 (the 100 TB-scale path: candidate pairs only, never
                 all-pairs), then exact word k-gram Jaccard over the
                 candidate pairs
  SimHash        per-document sign-of-weighted-bit-sums fingerprint
                 (`simhash`); no near-pair detector is built on it

Each rule has one implementation here, which the duplicate-cluster
pipeline (components.dedup_clusters) and the persisted index
(dedup_index) compose: the exact-rep aggregate (`_exact_reps`), the
band postings (`lsh_postings`) and their buckets (`lsh_buckets`), the
capped in-bucket pair expansion (`_bucket_pairs`) and the exact
Jaccard verify (`_jaccard_over_pair_sets`). The near-dup parameters
are the module constants K, N_HASHES, BANDS, THRESHOLD and
DEFAULT_MAX_BUCKET. The LSH stages take per-document shingle SETS
(`shingle_sets`), so one set table feeds both the MinHash signatures
and the Jaccard verify. The cluster pipeline
(components._cluster_stages) runs the exact-rep aggregate, the
shingling and the MinHash once per call: all three are checkpointed
(eager=False, which under AQE runs their shuffle map stages at the
call), the LSH branch stores their rows, and the rep map, the Jaccard
verify and the index's band_index write read those rows.

Projections are SQL text, one `selectExpr`/`F.expr` parse each:
DataFrame construction is part of every call, and each nested Column
call is a py4j round trip (see minhash_sig_cols).

All hashing is md5-based so any engine reproduces results bit-for-bit
(cross-engine oracle checks; at cluster scale xxhash64 is a drop-in
speed upgrade).

Scale notes: shingling and minhash signatures are narrow (per-row);
the only shuffles are band-bucket groupBys whose keys are uniform by
construction (hash values) — no skew. Candidate pairs are generated by
grouping on the bucket key and expanding in-bucket combinations with
array transforms — never a self-join, so no frame needs to be persisted
across two consumers (a self-join either persists the bucketed frame —
an executor-memory leak in a long-lived session — or recomputes the
whole signature pipeline twice).

Degenerate buckets (the 100 TB hazard): a real crawl is full of exact
boilerplate duplicates; one (band, band_hash) bucket holding 10^5-10^6
doc_ids would expand ~10^10-10^12 pairs in a single task. Two guards,
both ON by default in the scale entry points:

  1. exact-dedup FIRST — `exact_dedup_survivor_docs` collapses every
     exact-duplicate group to its min-doc_id representative BEFORE
     shingling, as a partially-aggregatable groupBy(fingerprint) MIN —
     the degenerate mass collapses map-side, before it ever crosses an
     exchange. Exact-dup pairs are the exact path's job
     (`exact_dup_groups`), not the near-dup detector's.
  2. a bucket-size cap — buckets larger than `max_bucket` emit STAR
     pairs (min id x each other member: n-1 pairs instead of n(n-1)/2)
     rather than the full expansion. The star preserves the bucket's
     connected component exactly (for dedup clustering, transitive
     closure is what matters), bounding per-bucket output to linear.
     NO SILENT CAPS: `lsh_capped_buckets` (and ann.embedding_bucket_caps
     for the embedding path) report every bucket the cap touched
     (size, pairs suppressed) — callers at scale should run and
     log/persist that report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import fingerprint, fingerprints, tokens


#: in-bucket cap of the LSH and embedding candidate generators.
#: Far above any honest near-dup bucket on the fixtures (max observed 4
#: at sf0.1) yet small enough that a degenerate boilerplate bucket can
#: never expand quadratically inside one task.
DEFAULT_MAX_BUCKET = 64

#: the near-dup rule of every LSH entry point, the duplicate-cluster
#: pipeline and the dedup index: word K-gram shingles, N_HASHES
#: minhashes in BANDS bands, exact Jaccard >= THRESHOLD. One set of
#: values, so an index and every batch probed against it band alike.
#: Read at call time (tests monkeypatch them).
K = 3
N_HASHES = 16
BANDS = 4
THRESHOLD = 0.05

#: SimHash fingerprint width, and the shingle width of the
#: decontamination rule (long n-grams: a shared 8-gram is evidence of
#: copying, a shared 3-gram is not)
SIMHASH_BITS = 32
CONTAMINATION_K = 8


def _pairs_expr(ids: str) -> str:
    """SQL for: array<T> (sorted, distinct) -> array<struct<a:T, b:T>>
    of all i<j combinations — the in-bucket pair expansion shared by
    every bucket-blocking candidate generator here. (Expression
    helpers here are SQL strings parsed by one F.expr call — see
    minhash_sig_cols on DataFrame-construction cost.)"""
    return (
        f"flatten(transform({ids}, (x, i) -> "
        f"transform(slice({ids}, i + 2, size({ids})), "
        f"y -> named_struct('a', x, 'b', y))))"
    )


def _star_expr(ids: str) -> str:
    """SQL for: array<T> (sorted) -> the n-1 (min, other) pairs: the
    linear fallback for over-cap buckets. Same connected component as
    the full expansion, O(n) output instead of O(n^2)."""
    return (
        f"transform(slice({ids}, 2, size({ids})), "
        f"y -> named_struct('a', element_at({ids}, 1), 'b', y))"
    )


def _capped_pairs(ids: str, max_bucket: int) -> str:
    """SQL for: full i<j expansion for buckets within the cap, star
    pairs above it. CaseWhen evaluates lazily, so the quadratic branch
    is never executed for an over-cap bucket. `ids` is a column NAME."""
    return (
        f"CASE WHEN size({ids}) <= {max_bucket} THEN {_pairs_expr(ids)} "
        f"ELSE {_star_expr(ids)} END"
    )


def _cap_report(buckets: DataFrame, ids_col: str, max_bucket: int) -> DataFrame:
    """The no-silent-caps ledger: one row per bucket the cap touched,
    with the bucket size and how many pairs the star fallback
    suppressed. Empty on any corpus whose buckets all fit the cap."""
    n = F.size(F.col(ids_col))
    keys = [c for c in buckets.columns if c != ids_col]
    return buckets.filter(n > max_bucket).select(
        *keys,
        n.alias("bucket_size"),
        (n.cast("long") * (n - 1) / 2).cast("long").alias("pairs_full"),
        (n - 1).cast("long").alias("pairs_emitted"),
        ((n.cast("long") * (n - 1) / 2) - (n - 1))
        .cast("long")
        .alias("pairs_suppressed"),
    )


# ------------------------------------------------------------- exact
def exact_dup_groups(df: DataFrame) -> DataFrame:
    """One row per distinct content: representative + duplicate count."""
    return (
        fingerprints(df)
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("representative"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )


def _exact_reps(df: DataFrame) -> DataFrame:
    """(fingerprint, rep, text): one row per distinct content, with the
    min-doc_id representative of its exact-duplicate group and that
    document's text.

    Deliberately a groupBy + MIN(struct) rather than a row_number
    window over the fingerprint: a window has no partial aggregation,
    so a degenerate fingerprint group (10^6 boilerplate copies on a real
    crawl) would cross the exchange whole; the groupBy MIN collapses it
    map-side — only one row per (input partition, fingerprint) is ever
    shuffled. Struct MIN orders by leading field, so this is exactly
    min-by-doc_id (doc_id is unique)."""
    return (
        df.selectExpr(f"{fingerprint()} AS fingerprint", "doc_id", "text")
        .groupBy("fingerprint")
        .agg(F.expr("min(struct(doc_id, text)) AS s"))
        .selectExpr("fingerprint", "s.doc_id AS rep", "s.text AS text")
    )


def exact_dedup_survivor_docs(df: DataFrame) -> DataFrame:
    """(doc_id, text) of the min-doc_id representative of every
    exact-duplicate group — the mandatory stage-0 of the near-dup
    detectors below."""
    return _exact_reps(df).selectExpr("rep AS doc_id", "text")


# ----------------------------------------------------------- shingles
def shingle_sets(df: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingles): the DISTINCT word k-gram set per document as
    one array column — built narrowly (array transform per row, no
    window, no shuffle, no per-doc sort). A document with fewer than k
    tokens gets an empty array.

    Plan subtlety that matters enormously: the token split is
    MATERIALIZED as a column before the lambda — Catalyst does not
    common-subexpression-eliminate expressions referenced inside
    higher-order-function lambdas, so an inline split() would
    re-tokenize the document for every element of every shingle —
    O(tokens^2) per document (measured 10x+ on the bench corpus).
    """
    words = ", ".join(f"element_at(toks, i + {j + 1})" for j in range(k))
    shingles = (
        f"CASE WHEN size(toks) >= {k} THEN transform(sequence(0, size(toks) - {k}), "
        f"i -> concat_ws(' ', {words})) ELSE CAST(array() AS array<string>) END"
    )
    return df.selectExpr("doc_id", f"{tokens()} AS toks").selectExpr(
        "doc_id", f"array_distinct({shingles}) AS shingles"
    )


def shingle_rows(sets: DataFrame) -> DataFrame:
    """(doc_id, shingle): the shingle sets `sets` (shingle_sets), one
    row per distinct shingle of a document.

    No distinct(): array_distinct already dedups within the document,
    so exploded (doc_id, shingle) rows are unique by construction and
    a corpus-wide distinct would be a pure-waste shuffle of the
    largest intermediate in the pipeline.
    """
    return sets.selectExpr("doc_id", "explode(shingles) AS shingle")


# ------------------------------------------------------ n-gram Jaccard
def _jaccard_over_pair_sets(pairs: DataFrame, sets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard): exact word K-gram Jaccard >= THRESHOLD
    for given (doc_a, doc_b) pairs over the per-document shingle SETS
    `sets` (shingle_sets(docs, K)). The one Jaccard verify: the LSH
    path and the incremental index both call it, and both hand it a
    candidate pair list that is small by construction (LSH-gated +
    capped), so the pair list is broadcast against the set table
    twice. The
    corpus-sized text is never shuffled and never self-joined on
    shingle text, and the intersection is one row-local
    array_intersect. n_common = |intersect| because the sets are
    distinct per document; pairs with no overlap are dropped by the
    n_common >= 1 filter. (A candidate-members semi-join that builds
    shingle arrays only for paired docs was measured SLOWER — the
    members broadcast re-evaluates the whole candidate subtree, which
    AQE's exchange reuse does not fully dedup — so the set table
    covers all docs, where the construction is one narrow pass.)"""
    a = sets.selectExpr("doc_id AS doc_a", "shingles AS sa")
    b = sets.selectExpr("doc_id AS doc_b", "shingles AS sb")
    n_common = "size(array_intersect(sa, sb))"
    with_a = a.join(F.broadcast(pairs), "doc_a")
    return (
        b.join(F.broadcast(with_a), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"{n_common} AS n_common",
            f"round({n_common} / (size(sa) + size(sb) - {n_common}), 6) AS jaccard",
        )
        .filter(f"n_common >= 1 AND jaccard >= {float(THRESHOLD)!r}D")
        .select("doc_a", "doc_b", "jaccard")
    )


def lsh_jaccard_pairs(df: DataFrame, pre_exact_dedup: bool = True) -> DataFrame:
    """The corpus-scale near-dup detector: exact word K-gram Jaccard >=
    THRESHOLD, computed ONLY for MinHash-LSH candidate pairs (capped at
    DEFAULT_MAX_BUCKET). Candidate count is
    ~linear in the number of near-dup clusters, so the exact-verify join
    touches a vanishing fraction of the corpus — this is the plan that
    survives 100 TB (the reference's similarity dedup is all-pairs
    within a document, detect.py:384-417; across documents that is not
    an option). Exact-duplicate groups are collapsed to representatives
    first (their pairs belong to `exact_dup_groups`, with Jaccard
    trivially 1.0) and over-cap buckets degrade to star pairs — see the
    module docstring. The exact verify runs over per-document shingle
    SETS with the candidate list broadcast (_jaccard_over_pair_sets):
    the corpus is never shuffled on shingle text."""
    docs = exact_dedup_survivor_docs(df) if pre_exact_dedup else df
    sets = shingle_sets(docs, K)
    return _verified_pairs(lsh_postings(sets), sets)


def _verified_pairs(postings: DataFrame, sets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard): the Jaccard-verified pairs of the capped
    LSH buckets of `postings`, the band postings of the shingle sets
    `sets`."""
    cand = _bucket_pairs(lsh_buckets(postings), DEFAULT_MAX_BUCKET)
    return _jaccard_over_pair_sets(cand, sets)


# -------------------------------------------------------- MinHash + LSH
def minhash_sig_cols(sets: DataFrame) -> DataFrame:
    """(doc_id, h0..h{N_HASHES-1}): the fused minhash signature of the
    shingle sets `sets` (shingle_sets(docs, K)) — one groupBy(doc_id)
    with N_HASHES MIN aggregates over the exploded shingle rows. The
    per-seed md5s run in whole-stage-codegen'd projection and collapse
    map-side via partial aggregation, so the exchange carries one
    narrow row per document. (An array-native variant — N_HASHES
    array_min(transform(md5)) folds per row — was measured 2.6x SLOWER
    at sf1: higher-order-function lambdas evaluate interpreted, and
    16 x shingles md5 calls dominate this operator; keeping them in
    codegen beats saving the already-narrow exchange.)"""
    sh = shingle_rows(sets)
    # two per-task micro-optimizations, both value-identical (verified
    # exceptAll == 0 on the bench corpus; guide §1.2 per-task work):
    #   - the "seed|" prefix is constant-folded into one literal
    #     instead of a per-row varargs concat_ws;
    #   - the MIN aggregates over the 16-byte unhexed digest rather
    #     than the 32-char hex string — hex digits are ordered like
    #     their nibbles, so min(unhex(h)) == unhex(min(h)); the agg
    #     buffer and comparisons carry half the bytes, and one
    #     hex+lower per doc restores the exact oracle string.
    # expressions are built as SQL strings (one py4j roundtrip each)
    # rather than nested Column calls (~6 roundtrips each): DataFrame
    # CONSTRUCTION time is part of every timed run, and the N_HASHES
    # generated aggregates made it material (guide §1.2; measured on
    # the bench corpus).
    mins = [
        F.expr(
            f"lower(hex(min(unhex(md5(concat('{s}|', shingle)))))) AS h{s}"
        )
        for s in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def band_hash_structs() -> str:
    """SQL for: array<struct<band, band_hash>> over signature columns
    h0..h{N_HASHES-1}, BANDS bands — row-local banding (see
    minhash_sig_cols on construction cost)."""
    rpb = N_HASHES // BANDS
    entries = ", ".join(
        "named_struct('band', {b}, 'band_hash', md5(concat_ws(',', {cols})))".format(
            b=b, cols=", ".join(f"h{b * rpb + j}" for j in range(rpb))
        )
        for b in range(BANDS)
    )
    return f"array({entries})"


def lsh_postings(sets: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash): one banded-LSH posting row per
    document of the shingle sets `sets` (shingle_sets(docs, K)) and
    band — the form the dedup index stores and probes."""
    return minhash_sig_cols(sets).selectExpr(
        "doc_id", f"inline({band_hash_structs()})"
    )


def lsh_buckets(postings: DataFrame) -> DataFrame:
    """(band, band_hash, ids): posting rows grouped into buckets, ids
    sorted — the frame the candidate generators and cap reports read."""
    return postings.groupBy("band", "band_hash").agg(
        F.expr("array_sort(collect_set(doc_id)) AS ids")
    )


def _bucket_pairs(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b: every in-bucket pair,
    star pairs for buckets over `max_bucket`."""
    return (
        buckets.filter("size(ids) >= 2")
        .selectExpr(f"inline({_capped_pairs('ids', max_bucket)}) AS (doc_a, doc_b)")
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    pre_exact_dedup: bool = True,
) -> DataFrame:
    """Banded LSH: docs agreeing on all rows of any band become a
    candidate pair. Returns distinct (doc_a, doc_b), doc_a < doc_b.

    Plan shape (what survives 100 TB): the N_HASHES per-seed minima are
    FUSED into one groupBy(doc_id) with N_HASHES MIN aggregates — the
    per-seed md5s are computed map-side and partially aggregated before
    the exchange, so the only data shuffled is one row per document
    (vs. exploding a (doc_id, seed) row per shingle-seed pair: ~N_HASHES
    x shingle-count rows). Band hashes are then row-local expressions,
    and pair generation is one groupBy(band, band_hash) + in-bucket
    array expansion — no self-join, nothing persisted (module
    docstring).

    Degenerate-bucket guards (module docstring): exact-dup groups are
    collapsed to representatives BEFORE shingling (pre_exact_dedup, a
    map-side-partial groupBy MIN — their pairs are `exact_dup_groups`'
    output, not candidates), and any bucket still larger than
    max_bucket emits star pairs (linear, same connected component)
    instead of the quadratic expansion — audit over-cap buckets with
    `lsh_capped_buckets`, which is empty unless the cap engaged.

    Values are the md5(seed|shingle) minima and band-hash
    concatenation that the DuckDB oracle reproduces independently."""
    docs = exact_dedup_survivor_docs(df) if pre_exact_dedup else df
    postings = lsh_postings(shingle_sets(docs, K))
    return _bucket_pairs(lsh_buckets(postings), max_bucket)


def lsh_capped_buckets(
    df: DataFrame,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    pre_exact_dedup: bool = True,
) -> DataFrame:
    """Every LSH bucket the star-pair cap touched, with suppressed-pair
    counts — run (and log/persist) alongside `lsh_candidate_pairs` at
    scale so the cap is never silent."""
    docs = exact_dedup_survivor_docs(df) if pre_exact_dedup else df
    return _cap_report(
        lsh_buckets(lsh_postings(shingle_sets(docs, K))), "ids", max_bucket
    )


# -------------------------------------------------------------- SimHash
def simhash(df: DataFrame) -> DataFrame:
    """Per-document SIMHASH_BITS-bit SimHash fingerprint from token md5s.

    bit_i(doc) = 1 iff sum over tokens of (bit_i(md5(tok)) ? +1 : -1)
    is positive. Integer arithmetic only — deterministic everywhere.
    """
    toks = df.selectExpr("doc_id", f"explode({tokens()}) AS tok")
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    toks = toks.select("doc_id", h.alias("h"))
    # the 2*SIMHASH_BITS generated aggregate/select expressions are built as
    # SQL strings: the nested-Column form cost ~0.5s of py4j
    # roundtrips per DataFrame CONSTRUCTION — comparable to this
    # operator's entire execution (guide §1.2; values identical).
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        )
        for i in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sig = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return agg.select(
        "doc_id", F.expr(f"CAST(0 + {sig} AS BIGINT) AS simhash")
    )


#: span_dedup's chunk width (tokens) and the occurrence count from which
#: a chunk is a repeat
SPAN_WINDOW_TOKENS = 10
SPAN_MIN_REPEATS = 2


def span_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-level exact-SPAN dedup (the C4 rule — "discard all but
    one of any three-sentence span occurring more than once",
    Raffel et al. 2020 — re-expressed over unstructured crawl text as
    fixed SPAN_WINDOW_TOKENS-token chunks): a chunk occurring
    SPAN_MIN_REPEATS+ times corpus-wide survives only at its FIRST
    occurrence (min (doc_id, position)); every other occurrence is cut
    from its document. Catches shared boilerplate that document-level
    dedup can never see.

    Scale shape: chunking is array-native per row; the global count
    and keeper election are ONE groupBy(chunk) computing COUNT and
    MIN(struct(doc_id, pos)) — partially aggregatable, so the
    boilerplate mega-chunk collapses map-side — followed by an
    equi-join back on the chunk (AQE-skew-handled). No window over the
    chunk key: a 10^9-occurrence boilerplate chunk would serialize
    through one reducer as a window partition, but aggregates merge.

    Reassembly moves DROPPED POSITIONS, not kept text (guide §2.3
    "shuffle keys and metadata instead of payloads"): the join-back
    emits only the (doc_id, pos) rows being dropped — a vanishing
    fraction of the corpus — which aggregate to one int-array row per
    affected document; clean text is then rebuilt ROW-LOCALLY on the
    original chunk array via array_except over positions (hash-set
    linear, no per-element scans). The previous shape shuttled every
    KEPT chunk's text through a groupBy(doc_id) exchange and re-sorted
    it per document; measured 2.62s -> 1.92s at the 10x corpus with
    identical output.

    Returns (doc_id, clean_text, n_spans, n_spans_dropped); a document
    whose every span is dropped keeps its row with clean_text = ''.
    """
    w = SPAN_WINDOW_TOKENS
    toks = docs.selectExpr("doc_id", f"{tokens()} AS tokens")
    with_chunks = toks.select(
        "doc_id",
        F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("tokens") / w).cast("int") - 1,
            ),
            lambda i: F.array_join(F.slice("tokens", i * w + 1, w), " "),
        ).alias("chunks"),
    )
    chunks = with_chunks.select(
        "doc_id", F.posexplode("chunks").alias("pos", "chunk")
    )
    # only chunks that can DROP anything matter to the join: keepers is
    # filtered to n_occ >= SPAN_MIN_REPEATS (a vanishing fraction of chunks
    # on a real corpus), so the join-back is against the small repeated
    # set (inner join; AQE turns it into a broadcast at runtime when it
    # fits). An unmatched chunk is unique -> kept, as before.
    keepers = (
        chunks.groupBy("chunk")
        .agg(
            F.count("*").alias("n_occ"),
            F.min(F.struct("doc_id", "pos")).alias("first_occ"),
        )
        .filter(F.col("n_occ") >= SPAN_MIN_REPEATS)
        .select("chunk", "first_occ")
    )
    drops = (
        chunks.join(keepers, "chunk")
        .filter(
            ~(
                (F.col("doc_id") == F.col("first_occ.doc_id"))
                & (F.col("pos") == F.col("first_occ.pos"))
            )
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("drop_pos"))
    )
    n = F.size("chunks")
    kept_pos = F.array_except(F.sequence(F.lit(0), n - 1), F.col("drop_pos"))
    return (
        with_chunks.join(drops, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("drop_pos").isNull(), F.array_join("chunks", " "))
            .otherwise(
                F.array_join(
                    F.transform(kept_pos, lambda p: F.element_at("chunks", p + 1)),
                    " ",
                )
            )
            .alias("clean_text"),
            n.cast("long").alias("n_spans"),
            F.coalesce(F.size("drop_pos"), F.lit(0))
            .cast("long")
            .alias("n_spans_dropped"),
        )
    )


def contamination_report(corpus: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C rule family:
    flag training documents sharing long n-grams with an evaluation
    set): count, per corpus document, its distinct word CONTAMINATION_K-gram
    shingles that also occur anywhere in `eval_docs`.

    The 100 TB shape is asymmetric by nature — eval sets are tiny, the
    corpus is not: the eval shingle set is DISTINCT'd and BROADCAST,
    so the corpus side is one narrow shingle pass (array-native, no
    shuffle — shingle_rows) feeding a broadcast-hash semi-join and a
    per-doc count. The corpus is never shuffled on shingle text.

    Returns (doc_id, n_eval_shingle_hits, contaminated) for every
    corpus document, hit or not.
    """
    ev = (
        shingle_rows(shingle_sets(eval_docs, CONTAMINATION_K))
        .select("shingle")
        .distinct()
    )
    hits = (
        # rows unique per (doc, shingle)
        shingle_rows(shingle_sets(corpus, CONTAMINATION_K))
        .join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("long")
            .alias("n_eval_shingle_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= 1).alias("contaminated"),
        )
    )
