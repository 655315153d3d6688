"""Connected components (driver labeling under the edge gate, the
alternating large-star/small-star loop above it) and duplicate-cluster
resolution."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from cadastral_map_ocr_system_spark.operators import components, corpus_dedup
from cadastral_map_ocr_system_spark.operators.components import (
    connected_components,
    dedup_clusters,
    dedup_survivors,
)


def _labels(out):
    return {r["node"]: r["component"] for r in out.collect()}


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return _labels(connected_components(df))


def _reference_components(edges):
    """Plain-Python union-find: the independent answer."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_two_components_and_star_shape(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (3, 1)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges_in_log_rounds(spark, monkeypatch):
    # a 200-node path is the adversarial diameter case; the alternating
    # algorithm must contract it in O(log^2 n) rounds, far under the
    # guard — a linear-propagation bug would blow a 12-round cap. The
    # edge gate is 0 so the loop, not the driver labeling, runs.
    monkeypatch.setattr(components, "LOCAL_CC_MAX_EDGES", 0)
    monkeypatch.setattr(components, "MAX_CC_ROUNDS", 12)
    n = 200
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert got == {i: 0 for i in range(n + 1)}


def test_empty_and_self_loop_edges(spark):
    assert _cc(spark, [(5, 5)]) == {}
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(df).count() == 0


def test_string_node_ids(spark):
    """The docstring promises any orderable id type: string doc_ids
    must work (min = lexicographic)."""
    df = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y")], "doc_a string, doc_b string"
    )
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_max_iters_guard_raises(spark, monkeypatch):
    monkeypatch.setattr(components, "LOCAL_CC_MAX_EDGES", 0)
    monkeypatch.setattr(components, "MAX_CC_ROUNDS", 1)
    df = spark.createDataFrame([(i, i + 1) for i in range(200)],
                               "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df)


_IDS = {
    "long": st.integers(-3, 40),
    # one non-ASCII letter: Spark orders strings by UTF-8 bytes, Python
    # and NumPy by code points, which agree
    "string": st.text(alphabet="abxyzé", max_size=2),
}


@st.composite
def _graphs(draw):
    """(id type, edges): random edge lists with self-loops, repeated
    edges and reversed repeats, the empty list included."""
    kind = draw(st.sampled_from(sorted(_IDS)))
    ids = _IDS[kind]
    edges = draw(st.lists(st.tuples(ids, ids), max_size=30))
    if edges:
        again = draw(st.lists(st.sampled_from(edges), max_size=10))
        edges += [(b, a) if i % 2 else (a, b) for i, (a, b) in enumerate(again)]
    return kind, edges


@settings(max_examples=10, deadline=None)
@example(("long", []))
@example(("string", []))
@example(("long", [(5, 5), (1, 2), (2, 1), (1, 2), (3, 3)]))
@given(_graphs())
def test_random_graphs_match_union_find(spark, graph):
    """The driver labeling, the star loop (edge gate patched to 0) and
    a union-find agree on every graph."""
    kind, edges = graph
    df = spark.createDataFrame(edges, f"doc_a {kind}, doc_b {kind}")
    want = _reference_components([(a, b) for a, b in edges if a != b])
    gated = _labels(connected_components(df))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(components, "LOCAL_CC_MAX_EDGES", 0)
        loop = _labels(connected_components(df))
    assert gated == loop == want


def test_gated_labels_are_a_worker_free_local_relation(spark):
    """Under the gate the labels come back as a LocalTableScan built
    from an Arrow table, empty or not (a list-built frame would plan as
    a Scan ExistingRDD and start a Python worker), and the call runs at
    most 2 Spark jobs: the input's distinct and the bounded edge read."""
    sc = spark.sparkContext
    for i, rows in enumerate(([(1, 2), (2, 3), (10, 11)], [])):
        edges = spark.createDataFrame(rows, "doc_a long, doc_b long")
        group = f"gated-cc-{i}"
        sc.setJobGroup(group, "gated connected_components")
        try:
            out = connected_components(edges)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
        assert _labels(out) == _reference_components(rows)


@pytest.fixture(scope="module")
def dup_docs(spark):
    """3 near-dup families (shared body, tiny unique tail), one exact-dup
    pair inside family 0, and unique solo docs."""
    body = {
        f: " ".join(f"fam{f}tok{i}" for i in range(40)) for f in range(3)
    }
    rows = [
        (f * 100 + j, f"{body[f]} tail{f}x{j}")
        for f in range(3)
        for j in range(4)
    ]
    rows.append((99, rows[0][1]))  # exact dup of doc 0
    rows += [(1000 + s, " ".join(f"solo{s}w{t}" for t in range(30)))
             for s in range(3)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_clusters_end_to_end(spark, dup_docs):
    got = {r["doc_id"]: r["cluster"] for r in dedup_clusters(dup_docs).collect()}
    # every doc present exactly once
    assert len(got) == dup_docs.count()
    # each family collapses to its min doc_id; the exact dup follows doc 0
    for f in range(3):
        for j in range(4):
            assert got[f * 100 + j] == f * 100
    assert got[99] == 0
    # solos are their own singleton clusters
    for s in range(3):
        assert got[1000 + s] == 1000 + s


def test_dedup_survivors_counts(spark, dup_docs):
    got = {r["doc_id"]: r["n_docs"] for r in dedup_survivors(dup_docs).collect()}
    assert got == {0: 5, 100: 4, 200: 4, 1000: 1, 1001: 1, 1002: 1}


def test_degenerate_all_near_dups_single_cluster(spark, monkeypatch):
    # 1500 docs sharing one body: capped star pairs must still give ONE
    # cluster (the cap preserves connected components by construction)
    body = " ".join(f"w{i}" for i in range(50))
    df = spark.createDataFrame(
        [(i, f"{body} t{i}") for i in range(1500)], "doc_id long, text string"
    )
    monkeypatch.setattr(corpus_dedup, "DEFAULT_MAX_BUCKET", 16)
    out = dedup_clusters(df)
    assert out.count() == 1500
    assert out.select("cluster").distinct().collect()[0]["cluster"] == 0
