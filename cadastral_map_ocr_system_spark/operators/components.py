"""Distributed connected components and duplicate-cluster resolution.

The corpus_dedup detectors stop at candidate/verified PAIRS; a real
dedup pipeline must resolve pairs into CLUSTERS and pick one survivor
per cluster (the reference resolves this within a document by greedy
scan order, OCR/src/detect.py:504-575 — across a corpus the same
decision needs a connected-components pass over the near-dup graph).

`connected_components` scales up when the graph fits and out when it
does not. A graph of at most LOCAL_CC_MAX_EDGES edges (the dedup
graphs of the fixtures and benchmarks are far smaller) is read to the
driver in one bounded Arrow read and labeled there by the NumPy
min-label kernel the pixel labeling uses (`mediapath._min_label`).
Above that gate runs the alternating large-star / small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", ACM SoCC 2014): O(log^2 n) rounds, each round two window-min
passes. Two properties make it THE shape that survives 100 TB:

  - no adjacency materialization: each round touches edges as rows
    (a window MIN over the rows of each node), never collect_set — a
    component of 10^8 members never becomes an array in one task (the
    degenerate-bucket hazard corpus_dedup caps; here it cannot arise);
  - monotone contraction toward min-labels: each round strictly lowers
    the potential, and at the fixed point the edge set IS the answer —
    a star from every component's min node to its members.

Driver loop notes: lineage is cut every round with localCheckpoint
(plan depth would otherwise double per round; under AQE the call runs
the round's shuffle map stages at once), and the fixed point is
detected by an exact signature (edge count + sum of xxhash64(u, v)) —
two scalar aggregates, no subtract/anti-join of the full edge set.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from . import corpus_dedup
from .mediapath import _min_label
from .textstats import fingerprints


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Canonical (u, v) edge rows in both directions, self-loops
    dropped. Input columns are (u, v)."""
    fwd = edges.filter(F.col("u") != F.col("v"))
    return fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood.

    Emits (m, v) with m = min(N(u) + {u}) for each neighbor v > u.
    Connectivity-preserving (Kiveris et al., Lemma 1).

    The per-neighborhood minimum is a WINDOW min rather than a
    groupBy+join-back: both need every (u, v) row co-located by u, but
    the window does it in ONE exchange where the join shape takes two
    (agg exchange + join alignment) — and a hub node is no worse off,
    since the join would colocate its rows identically. Output is NOT
    deduplicated here; one distinct per round (in _small_star) bounds
    the growth, and large-star output is at most one row per directed
    input edge anyway."""
    w = Window.partitionBy("u")
    m = F.least(F.col("u"), F.min("v").over(w))
    return (
        _symmetrize(edges)
        .select(m.alias("mu"), "u", "v")
        .filter((F.col("v") > F.col("u")) & (F.col("mu") != F.col("v")))
        .select(F.col("mu").alias("u"), F.col("v").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node connects itself and all its
    strictly-smaller neighbors to the smallest of them.

    Operates on edges oriented large->small (u > v); emits (m, v) for
    every v in the small neighborhood other than m itself, plus
    (m, u). Same one-exchange window-min shape as _large_star; this is
    the round's single distinct."""
    w = Window.partitionBy("u")
    directed = _symmetrize(edges).filter(F.col("v") < F.col("u"))
    # the window min must be materialized in its own projection — a
    # window expression is not allowed inside explode(array(...))
    withm = directed.select("u", "v", F.min("v").over(w).alias("m"))
    pair = F.array(
        F.struct(F.col("m").alias("a"), F.col("v").alias("b")),
        F.struct(F.col("m").alias("a"), F.col("u").alias("b")),
    )
    return (
        withm.select(F.explode(pair).alias("e"))
        .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple:
    """Fixed-point detector: (row count, sum of per-edge xxhash64).
    Two scalar aggregates per round instead of a full-set anti-join.
    Probabilistic: an equal-count equal-hashsum collision between two
    DIFFERENT consecutive edge sets (~2^-64 per round) would end the
    loop one contraction early; at that probability it is not a
    practical concern, and the anti-join alternative would cost more
    than the round it guards."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


#: diverged-input guard of the large-star/small-star loop: rounds are
#: O(log^2 n), so a graph that has not converged by then never will
MAX_CC_ROUNDS = 25


#: edge count up to which connected_components labels the graph on the
#: driver instead of running the star loop. It bounds the one driver
#: read, LOCAL_CC_MAX_EDGES + 1 rows: at 2^20 edges BIGINT ids are 17 MB
#: of Arrow and the labeling peaks near 0.1 GB of NumPy arrays on top;
#: short string ids take 0.25 GB and ~5 s (measured on a 4-core host)
LOCAL_CC_MAX_EDGES = 1 << 20


def _label_on_driver(e: DataFrame, t: pa.Table) -> DataFrame:
    """(node, component) of the (u, v) edge frame `e`, whose rows `t`
    holds, labeled in the driver process: np.unique indexes the nodes
    in id order, so the min-index label of `_min_label` is the min node
    id. The result is a local relation built from an Arrow table (even
    when empty), which plans as a LocalTableScan and starts no Python
    worker; a list-built frame plans as a Scan ExistingRDD that does."""
    # u != v as Spark evaluates it: self-loops and null ends drop out
    t = t.filter(pc.not_equal(t["u"], t["v"]))
    ids = pa.chunked_array(t["u"].chunks + t["v"].chunks, t["u"].type)
    nodes, idx = np.unique(ids.to_numpy(zero_copy_only=False), return_inverse=True)
    label = _min_label(len(nodes), idx[: t.num_rows], idx[t.num_rows :])
    nodes = pa.array(nodes, ids.type)
    out = pa.table({"node": nodes, "component": nodes.take(label)})
    t_id = e.schema["u"].dataType
    schema = StructType([StructField("node", t_id), StructField("component", t_id)])
    return e.sparkSession.createDataFrame(out, schema)


def connected_components(
    edges: DataFrame, assume_distinct: bool = False
) -> DataFrame:
    """(node, component) for every node appearing in `edges` (doc_a,
    doc_b rows), where component is the minimum node id reachable from
    it. Works for any orderable id type (the fixtures use BIGINT
    doc_ids).

    A graph of at most LOCAL_CC_MAX_EDGES edges is labeled on the
    driver (`_label_on_driver`): the read that checks the gate is its
    only Spark job, besides the adaptive stage jobs of the plan that
    computes the edges. Above the gate the edges stay distributed and
    the loop below runs.

    Alternating large-star/small-star until the edge set is a fixed
    point — at which point every edge runs from a component's min node
    to one member, and the component map is a projection. Rounds are
    O(log^2 n) in theory, 3-5 in practice on dedup graphs (near-dup
    clusters are dense, so the first large-star already stars most of
    them); MAX_CC_ROUNDS is a diverged-input guard, not a tuning knob —
    hitting it raises rather than returning a half-contracted graph.

    Singleton nodes never appear in `edges` by construction, so they
    are the CALLER's to union in (see `dedup_clusters`); emitting them
    here would require a second full pass over a node frame this
    operator does not have.
    """
    # localCheckpoint(eager=False) is not lazy under AQE: the call runs
    # every shuffle map stage of the plan, serially in the driver
    # thread; only the last stage waits for the first action, which
    # stores the rows (eager=True adds a count job). That action is the
    # gate's read here, and each round's signature aggregate.
    # assume_distinct: callers whose edge frame is distinct loop-free
    # by construction (e.g. LSH-gated jaccard pairs: one row per
    # candidate pair, doc_a < doc_b) skip the initial canonicalization
    # exchange — the loop's invariants only need the INPUT edge set to
    # be a set, which such callers already guarantee.
    e = edges.selectExpr("doc_a AS u", "doc_b AS v")
    if not assume_distinct:
        e = e.filter("u != v").distinct()
    e = e.localCheckpoint(eager=False)
    t = e.limit(LOCAL_CC_MAX_EDGES + 1).toArrow()
    if t.num_rows <= LOCAL_CC_MAX_EDGES:
        return _label_on_driver(e, t)
    del t
    sig = _signature(e)
    for _ in range(MAX_CC_ROUNDS):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        new_sig = _signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_CC_ROUNDS} rounds"
        )
    members = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    centers = e.select(F.col("u").alias("node"), F.col("u").alias("component"))
    return members.union(centers).distinct()


def _cluster_stages(
    df: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(reps, doc_rep, postings, edges): the stages of the
    duplicate-cluster pipeline that `dedup_clusters` resolves and
    `build_dedup_index` persists.

      reps      (fingerprint, rep, text) — one row per distinct
                content, rep = min doc_id of its exact-duplicate group
      doc_rep   (doc_id, rep) for every input document
      postings  (doc_id, band, band_hash) — the reps' LSH postings
      edges     (doc_a, doc_b, jaccard) — LSH-gated exact Jaccard >=
                THRESHOLD between reps (capped buckets, star fallback)

    reps, the reps' shingle sets and their postings are checkpointed
    (eager=False: under AQE the call runs their shuffle map stages);
    the edge branch, run for connected_components' gate read, stores
    their rows, so each is computed once. The rep map
    then reads the reps instead of aggregating every document's text
    again, the Jaccard verify reads the sets the MinHash stage built,
    and a band_index write reads the postings. Spark's context cleaner
    frees the blocks once the frames are garbage-collected; cache()
    would pin them for the session.
    """
    reps = corpus_dedup._exact_reps(df).localCheckpoint(eager=False)
    sets = corpus_dedup.shingle_sets(
        reps.selectExpr("rep AS doc_id", "text"), corpus_dedup.K
    ).localCheckpoint(eager=False)
    postings = corpus_dedup.lsh_postings(sets).localCheckpoint(eager=False)
    doc_rep = (
        fingerprints(df)
        .join(reps.selectExpr("fingerprint", "rep"), "fingerprint")
        .selectExpr("doc_id", "rep")
    )
    edges = corpus_dedup._verified_pairs(postings, sets)
    return reps, doc_rep, postings, edges


def _rejoin_clusters(doc_rep: DataFrame, edges: DataFrame) -> DataFrame:
    """(doc_id, cluster): every doc of `doc_rep` (doc_id, rep) labeled
    with the component of its rep in the graph of `edges` (doc_a,
    doc_b rows, no duplicates); a rep in no edge is its own cluster
    (singletons never appear in the edge graph)."""
    comp = connected_components(edges, assume_distinct=True)
    return doc_rep.join(comp, F.expr("rep = node"), "left").selectExpr(
        "doc_id", "coalesce(component, rep) AS cluster"
    )


def dedup_clusters(df: DataFrame) -> DataFrame:
    """(doc_id, cluster) for EVERY input document: the end-to-end
    duplicate-cluster map, cluster = min doc_id of the full duplicate
    class (exact and near combined).

    Composition (each stage is the already-scale-audited path):
      1. exact fingerprint groups -> every doc's min-doc_id
         representative (map-side-partial groupBy, corpus_dedup);
      2. LSH-gated exact Jaccard >= THRESHOLD over the representatives
         (capped buckets, star fallback) -> near-dup edges;
      3. connected components over the edges (on the driver up to
         LOCAL_CC_MAX_EDGES edges, else the alternating algorithm);
      4. docs rejoin through their representative; representatives in
         no edge keep themselves as cluster (singletons).

    The star-pair cap (corpus_dedup) emits the min member x others
    instead of all pairs for over-cap buckets — exactly the edges CC
    needs, since transitive closure is what this operator computes:
    the cap changes candidate PAIR sets but never the CLUSTERS, which
    is why capping is safe for dedup (module docstring there).
    """
    # the exact-rep aggregate runs once per call: the edge branch
    # fills its checkpoint, and the final plan (the rep map joined to
    # CC's LocalTableScan) reads it (_cluster_stages)
    _, doc_rep, _, edges = _cluster_stages(df)
    return _rejoin_clusters(doc_rep, edges)


def dedup_survivors(df: DataFrame) -> DataFrame:
    """One row per duplicate cluster: the surviving (min doc_id)
    document and the cluster size. Min-doc_id keep-first is this
    engine's own deterministic policy; the reference sorts candidates
    by confidence descending before its greedy keep
    (OCR/src/detect.py:504-575), i.e. it keeps the highest-confidence
    member of each fuzzy-duplicate group, not the first seen — corpus
    documents carry no confidence, so min doc_id is the deterministic
    stand-in (ADVICE r5)."""
    clusters = dedup_clusters(df)
    return clusters.groupBy(F.col("cluster").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
