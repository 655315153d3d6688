"""Incremental dedup against a persisted index must equal a full
recompute (the exactness contract in operators/dedup_index.py)."""

from __future__ import annotations

import os

import pytest

from cadastral_map_ocr_system_spark.operators import corpus_dedup
from cadastral_map_ocr_system_spark.operators.components import dedup_clusters
from cadastral_map_ocr_system_spark.operators.dedup_index import (
    build_dedup_index,
    incremental_dedup,
)


def _clusters(df):
    return {r["doc_id"]: r["cluster"] for r in df.collect()}


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BODY_A = " ".join(f"alpha{i} tok{i}" for i in range(30))
BODY_B = " ".join(f"beta{i} word{i}" for i in range(30))
# body chosen (offline md5-banding search) so that the merge test's
# half-A-half-C bridge document band-collides with BOTH families at
# bands=8 — at ~0.5 Jaccard per family a collision is parameter- and
# text-dependent, so the fixture pins one that provably fires
BODY_C = " ".join(f"gamma0x{i} item{i}" for i in range(30))


def corpus_rows():
    """Families spanning the old/new split at doc_id 100: near-dups of
    A and B on both sides, an exact dup crossing the split, singletons
    on both sides."""
    rows = [(i, f"{BODY_A} tail{i}") for i in range(4)]           # old A
    rows += [(10 + i, f"{BODY_B} tail{10+i}") for i in range(3)]  # old B
    rows += [(50, " ".join(f"solo50w{t}" for t in range(25)))]    # old solo
    rows += [(100 + i, f"{BODY_A} tail{100+i}") for i in range(2)]  # new A
    rows += [(110, rows[0][1])]                                   # new exact dup of 0
    rows += [(120, " ".join(f"solo120w{t}" for t in range(25)))]  # new solo
    return rows


def test_incremental_equals_full_recompute(spark, tmp_path):
    rows = corpus_rows()
    all_docs = _mk(spark, rows)
    old = all_docs.filter("doc_id < 100")
    new = all_docs.filter("doc_id >= 100")
    idx = str(tmp_path / "idx")
    build_dedup_index(old, idx)
    # the build persists exactly what the one-shot stages compute
    assert _clusters(spark.read.parquet(f"{idx}/clusters")) == _clusters(
        dedup_clusters(old)
    )
    fp_reps = sorted(r["rep"] for r in spark.read.parquet(f"{idx}/fp_index").collect())
    assert fp_reps == sorted(
        r["doc_id"] for r in corpus_dedup.exact_dedup_survivor_docs(old).collect()
    )
    got = _clusters(incremental_dedup(spark, idx, new, old))
    want = _clusters(dedup_clusters(all_docs))
    assert got == want
    # and the persisted cluster table matches too
    assert _clusters(spark.read.parquet(f"{idx}/clusters")) == want


def test_new_doc_merges_two_old_clusters(spark, tmp_path, monkeypatch):
    """The hard case: a new document near-dup to BOTH old families
    must merge their clusters into one — old docs' stored assignments
    get rewritten through the graph, not just the new docs'."""
    monkeypatch.setattr(corpus_dedup, "BANDS", 8)
    rows = [(i, f"{BODY_A} tail{i}") for i in range(3)]
    rows += [(10 + i, f"{BODY_C} tail{10+i}") for i in range(3)]
    bridge_text = f"{BODY_A} {BODY_C}"
    all_rows = rows + [(100, bridge_text)]
    old = _mk(spark, rows)
    idx = str(tmp_path / "idx")
    build_dedup_index(old, idx)
    before = _clusters(spark.read.parquet(f"{idx}/clusters"))
    assert before[10] == 10 and before[0] == 0  # two clusters pre-merge
    got = _clusters(
        incremental_dedup(spark, idx, _mk(spark, [(100, bridge_text)]), old)
    )
    want = _clusters(dedup_clusters(_mk(spark, all_rows)))
    assert got == want
    assert got[10] == 0 and got[100] == 0  # merged through the bridge


def test_two_sequential_increments(spark, tmp_path):
    rows = corpus_rows()
    extra = [(200, f"{BODY_B} tail200"), (210, rows[8][1])]  # near-dup B + exact dup of 100
    all_docs = _mk(spark, rows + extra)
    idx = str(tmp_path / "idx")
    build_dedup_index(_mk(spark, rows[:8]), idx)  # docs < 100
    incremental_dedup(spark, idx, _mk(spark, rows[8:]), _mk(spark, rows[:8]))
    got = _clusters(
        incremental_dedup(spark, idx, _mk(spark, extra), _mk(spark, rows))
    )
    want = _clusters(dedup_clusters(all_docs))
    assert got == want


def test_incremental_cap_ledger(spark, tmp_path, monkeypatch):
    """No-silent-caps: a degenerate (all-near-dup) ingest batch whose
    in-batch buckets exceed max_bucket must show up in the ledger; a
    normal batch leaves it empty."""
    from cadastral_map_ocr_system_spark.operators.dedup_index import (
        incremental_capped_buckets,
    )

    rows = corpus_rows()
    idx = str(tmp_path / "idx")
    build_dedup_index(_mk(spark, rows[:8]), idx)
    normal = _mk(spark, rows[8:])
    assert incremental_capped_buckets(spark, idx, normal).count() == 0
    body = " ".join(f"flood{i}" for i in range(50))
    degenerate = _mk(
        spark, [(5000 + i, f"{body} t{i}") for i in range(40)]
    )
    monkeypatch.setattr(corpus_dedup, "DEFAULT_MAX_BUCKET", 8)
    report = incremental_capped_buckets(spark, idx, degenerate).collect()
    assert report and all(r["bucket_size"] > 8 for r in report)
    assert all(
        r["pairs_suppressed"]
        == r["bucket_size"] * (r["bucket_size"] - 1) // 2 - (r["bucket_size"] - 1)
        for r in report
    )


def test_compact_shrinks_files_and_preserves_tables(spark, tmp_path):
    """After two append increments the index dirs hold many small part
    files; compaction must shrink each to the computed file count while
    keeping every table's ROWS exactly equal and the next increment's
    RESULT exactly equal to the uncompacted full recompute."""
    import glob as _g

    from cadastral_map_ocr_system_spark.operators.dedup_index import (
        _APPEND_TABLES,
        compact_dedup_index,
    )

    rows = corpus_rows()
    extra = [(200, f"{BODY_B} tail200"), (210, rows[8][1])]
    idx = str(tmp_path / "idx")
    build_dedup_index(_mk(spark, rows[:8]), idx)
    incremental_dedup(spark, idx, _mk(spark, rows[8:]), _mk(spark, rows[:8]))
    before = {
        t: sorted(
            map(tuple, spark.read.parquet(f"{idx}/{t}").collect())
        )
        for t in _APPEND_TABLES
    }
    n_before = {
        t: len(_g.glob(f"{idx}/{t}/*.parquet")) for t in _APPEND_TABLES
    }
    report = compact_dedup_index(spark, idx)
    for t in _APPEND_TABLES:
        after = sorted(map(tuple, spark.read.parquet(f"{idx}/{t}").collect()))
        assert after == before[t], t
        assert report[t]["files_before"] == n_before[t]
        assert report[t]["files_after"] == 1  # tiny tables -> 1 file
        assert report[t]["files_after"] < n_before[t]
        assert report[t]["rows"] == len(before[t])
    # the next increment over the compacted index is still exact
    got = _clusters(
        incremental_dedup(spark, idx, _mk(spark, extra), _mk(spark, rows))
    )
    want = _clusters(dedup_clusters(_mk(spark, rows + extra)))
    assert got == want


def test_compact_torn_swap_recovery(spark, tmp_path):
    """Crash-safety of the directory swap: every intermediate state a
    crash can leave (stale .compact beside a live dir; live renamed
    away with a COMPLETE .compact; live renamed away with only a
    PARTIAL .compact but .old present) must repair to a readable,
    row-identical table on the next compaction."""
    import os
    import shutil

    from cadastral_map_ocr_system_spark.operators.dedup_index import (
        compact_dedup_index,
    )

    rows = corpus_rows()
    idx = str(tmp_path / "idx")
    build_dedup_index(_mk(spark, rows[:8]), idx)
    incremental_dedup(spark, idx, _mk(spark, rows[8:]), _mk(spark, rows[:8]))
    want = sorted(
        map(tuple, spark.read.parquet(f"{idx}/fp_index").collect())
    )
    live = f"{idx}/fp_index"

    # state 1: crash after writing .compact, live intact
    shutil.copytree(live, live + ".compact")
    compact_dedup_index(spark, idx)
    assert not os.path.exists(live + ".compact")

    # state 2: crash between the two renames — live gone, .compact
    # complete (_SUCCESS present)
    os.rename(live, live + ".compact")
    compact_dedup_index(spark, idx)
    assert sorted(map(tuple, spark.read.parquet(live).collect())) == want

    # state 3: live renamed to .old, .compact only partially written
    # (no _SUCCESS) — must restore .old, discard the partial
    os.rename(live, live + ".old")
    os.makedirs(live + ".compact")
    with open(f"{live}.compact/part-00000.parquet", "wb") as f:
        f.write(b"torn")
    compact_dedup_index(spark, idx)
    assert sorted(map(tuple, spark.read.parquet(live).collect())) == want
    assert not os.path.exists(live + ".old")


def test_monotone_violation_raises(spark, tmp_path):
    rows = corpus_rows()
    idx = str(tmp_path / "idx")
    build_dedup_index(_mk(spark, rows[:8]), idx)
    with pytest.raises(ValueError, match="monotone-ingest"):
        incremental_dedup(
            spark, idx, _mk(spark, [(3, "whatever text here")]),
            _mk(spark, rows[:8]),
        )


def test_interrupted_clusters_swap_keeps_index_and_retry_is_exact(
    spark, tmp_path, monkeypatch
):
    """A batch whose clusters swap fails after the `.compact` write
    leaves the stored clusters rows as they were; the retried batch
    equals the full recompute although band_index already holds the
    failed attempt's postings."""
    from cadastral_map_ocr_system_spark.operators import dedup_index

    rows = corpus_rows()
    old, new = _mk(spark, rows[:8]), _mk(spark, rows[8:])
    idx = str(tmp_path / "idx")
    build_dedup_index(old, idx)
    clusters_before = sorted(map(tuple, spark.read.parquet(f"{idx}/clusters").collect()))
    n_bands_before = spark.read.parquet(f"{idx}/band_index").count()

    def crash(src, dst):
        raise OSError("crash between the .compact write and its promotion")

    with monkeypatch.context() as m:
        m.setattr(dedup_index.os, "rename", crash)
        with pytest.raises(OSError, match="crash between"):
            incremental_dedup(spark, idx, new, old)
    assert sorted(
        map(tuple, spark.read.parquet(f"{idx}/clusters").collect())
    ) == clusters_before
    assert spark.read.parquet(f"{idx}/band_index").count() > n_bands_before

    got = _clusters(incremental_dedup(spark, idx, new, old))
    assert got == _clusters(dedup_clusters(_mk(spark, rows)))
    assert _clusters(spark.read.parquet(f"{idx}/clusters")) == got


def test_batch_graph_holds_only_the_batch_edges(spark, tmp_path, monkeypatch):
    """Connected components of a second increment run over that
    batch's verified edges alone, old ends mapped to their stored
    cluster: no edge of the build or the first increment. An `edges`
    table left by an older build is neither read nor compacted."""
    from cadastral_map_ocr_system_spark.operators import dedup_index
    from cadastral_map_ocr_system_spark.operators.components import _cluster_stages

    seen = []

    def spy(doc_rep, edges):
        seen.append(sorted(map(tuple, edges.collect())))
        return real(doc_rep, edges)

    real = dedup_index._rejoin_clusters
    rows = corpus_rows()
    extra = [(200, f"{BODY_B} tail200"), (210, rows[8][1])]
    old = _mk(spark, rows[:8])
    idx = str(tmp_path / "idx")
    build_dedup_index(old, idx)
    legacy = _cluster_stages(old)[3].select("doc_a", "doc_b")
    legacy.write.parquet(f"{idx}/edges")
    legacy_files = sorted(os.listdir(f"{idx}/edges"))

    monkeypatch.setattr(dedup_index, "_rejoin_clusters", spy)
    incremental_dedup(spark, idx, _mk(spark, rows[8:]), old)
    got = _clusters(incremental_dedup(spark, idx, _mk(spark, extra), _mk(spark, rows)))
    assert got == _clusters(dedup_clusters(_mk(spark, rows + extra)))
    # family B (10, 11, 12) is stored as cluster 10; doc 210 is an
    # exact dup and adds no edge
    assert seen[1] == [(10, 200)]

    dedup_index.compact_dedup_index(spark, idx)
    assert sorted(os.listdir(f"{idx}/edges")) == legacy_files
