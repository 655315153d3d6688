"""Incremental dedup against a persisted index must equal a full
recompute (the exactness contract in operators/dedup_index.py)."""

from __future__ import annotations

import os
import shutil

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

    def rows_of(t):
        df = spark.read.parquet(f"{idx}/{t}").drop("batch")
        return sorted(map(tuple, df.collect()))

    rows = corpus_rows()
    extra = [(200, f"{BODY_B} tail200"), (210, rows[8][1])]
    idx = str(tmp_path / "idx")
    build_dedup_index(_mk(spark, rows[:8]), idx)
    incremental_dedup(spark, idx, _mk(spark, rows[8:]), _mk(spark, rows[:8]))
    before = {t: rows_of(t) for t in _APPEND_TABLES}
    n_before = {
        t: len(_g.glob(f"{idx}/{t}/batch=*/*.parquet")) for t in _APPEND_TABLES
    }
    report = compact_dedup_index(spark, idx)
    for t in _APPEND_TABLES:
        assert rows_of(t) == before[t], t
        # the compaction's own batch is the only partition left
        assert [n for n in os.listdir(f"{idx}/{t}") if n.startswith("batch=")] == [
            "batch=2"
        ], t
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


# a near-dup of family B and an exact dup of doc 100
EXTRA = [(200, f"{BODY_B} tail200"), (210, corpus_rows()[8][1])]


@pytest.fixture(scope="module")
def full_maps(spark):
    """The full-recompute cluster maps of corpus_rows() and of
    corpus_rows() + EXTRA."""
    rows = corpus_rows()
    return (
        _clusters(dedup_clusters(_mk(spark, rows))),
        _clusters(dedup_clusters(_mk(spark, rows + EXTRA))),
    )


class Crash(RuntimeError):
    pass


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """Index directories to copy: corpus_rows() below 100 built, and
    the rest folded in as one increment."""
    rows = corpus_rows()
    root = tmp_path_factory.mktemp("indexes")
    build_dedup_index(_mk(spark, rows[:8]), str(root / "built"))
    shutil.copytree(root / "built", root / "increment")
    incremental_dedup(
        spark, str(root / "increment"), _mk(spark, rows[8:]), _mk(spark, rows[:8])
    )
    return root


@pytest.mark.parametrize("point", ["band_index", "clusters", "fp_index", "ledger", "cleanup"])
@pytest.mark.parametrize("op", ["increment", "compact"])
def test_crash_after_each_write_then_retry_is_exact(
    spark, tmp_path, monkeypatch, indexes, full_maps, op, point
):
    """A crash right after one write of an increment or a compaction
    (a table's partition, the ledger append, or the sweep of the
    partitions it superseded): the retry equals the full recompute,
    and so does the next batch folded in after it."""
    from cadastral_map_ocr_system_spark.operators import dedup_index

    rows = corpus_rows()
    old, new = _mk(spark, rows[:8]), _mk(spark, rows[8:])
    idx = str(tmp_path / "idx")
    shutil.copytree(indexes / ("built" if op == "increment" else "increment"), idx)
    committed = []

    def crash_after(real, hit):
        def wrapped(*args):
            real(*args)
            if hit(*args):
                raise Crash(point)

        return wrapped

    with monkeypatch.context() as m:
        m.setattr(dedup_index, "_write", crash_after(
            dedup_index._write, lambda df, path, table, batch: table == point
        ))
        m.setattr(dedup_index, "append_ledger", crash_after(
            dedup_index.append_ledger, lambda *a: committed.append(a) or point == "ledger"
        ))
        m.setattr(dedup_index, "_sweep", crash_after(
            dedup_index._sweep, lambda *a: point == "cleanup" and bool(committed)
        ))
        with pytest.raises(Crash):
            if op == "increment":
                incremental_dedup(spark, idx, new, old)
            else:
                dedup_index.compact_dedup_index(spark, idx)
    if op == "compact":
        dedup_index.compact_dedup_index(spark, idx)
    # after a compaction this is the committed batch again: its map
    assert _clusters(incremental_dedup(spark, idx, new, old)) == full_maps[0]
    got = incremental_dedup(spark, idx, _mk(spark, EXTRA), _mk(spark, rows))
    assert _clusters(got) == full_maps[1]


def test_retry_of_a_committed_batch_writes_nothing(spark, tmp_path, indexes, full_maps):
    rows = corpus_rows()
    idx = str(tmp_path / "idx")
    shutil.copytree(indexes / "increment", idx)

    def files():
        return {p: p.stat().st_mtime_ns for p in tmp_path.rglob("*")}

    before = files()
    got = incremental_dedup(spark, idx, _mk(spark, rows[8:]), _mk(spark, rows[:8]))
    assert _clusters(got) == full_maps[0]
    assert files() == before


def test_index_at_a_file_uri(spark, tmp_path, full_maps):
    """Build, increment, compaction and a second increment over a
    file: URI: every write and delete goes through Hadoop paths."""
    from cadastral_map_ocr_system_spark.operators.dedup_index import (
        compact_dedup_index,
    )

    rows = corpus_rows()
    idx = (tmp_path / "idx").as_uri()
    assert idx.startswith("file:")
    build_dedup_index(_mk(spark, rows[:8]), idx)
    incremental_dedup(spark, idx, _mk(spark, rows[8:]), _mk(spark, rows[:8]))
    compact_dedup_index(spark, idx)
    got = incremental_dedup(spark, idx, _mk(spark, EXTRA), _mk(spark, rows))
    assert _clusters(got) == full_maps[1]


def test_monotone_violation_raises(spark, tmp_path):
    rows = corpus_rows()
    idx = str(tmp_path / "idx")
    build_dedup_index(_mk(spark, rows[:8]), idx)
    with pytest.raises(ValueError, match="monotone-ingest"):
        incremental_dedup(
            spark, idx, _mk(spark, [(3, "whatever text here")]),
            _mk(spark, rows[:8]),
        )


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


def test_commits_hold_under_a_static_overwrite_session(spark, tmp_path, full_maps):
    """Both ledgers' writers set dynamic partition overwrite per write,
    not in the session: under a STATIC session a resumed run_extraction
    keeps its committed buckets, and a batch folded into the index
    keeps the partitions of earlier batches."""
    from cadastral_map_ocr_system_spark import synth
    from cadastral_map_ocr_system_spark.schema import DOCS
    from cadastral_map_ocr_system_spark.sources.checkpoint import (
        SimulatedFailure,
        run_extraction,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        docs = spark.createDataFrame(synth.synth_docs_pylist(16, seed=3), schema=DOCS)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        kw = dict(run_id="r", n_buckets=4, buckets_per_commit=2)
        with pytest.raises(SimulatedFailure):
            run_extraction(spark, docs, out, ckpt, fail_after_commits=1, **kw)
        run_extraction(spark, docs, out, ckpt, **kw)
        assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == sorted(
            r["doc_id"] for r in docs.collect()
        )

        rows = corpus_rows()
        idx = str(tmp_path / "idx")
        build_dedup_index(_mk(spark, rows[:8]), idx)
        incremental_dedup(spark, idx, _mk(spark, rows[8:]), _mk(spark, rows[:8]))
        # the next batch finds the build's postings and fingerprints
        got = incremental_dedup(spark, idx, _mk(spark, EXTRA), _mk(spark, rows))
        assert _clusters(got) == full_maps[1]
    finally:
        spark.conf.set(key, saved)


def _plans_during(spark, run) -> list[str]:
    """The physical plans of the SQL executions `run()` starts, from
    the status store (every write and every action has one)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        return store.executionsList()  # ascending execution id

    ex = executions()
    last = ex.apply(ex.size() - 1).executionId() if ex.size() else -1
    run()
    ex, plans = executions(), []
    for i in reversed(range(ex.size())):
        if ex.apply(i).executionId() <= last:
            break
        plans.append(ex.apply(i).physicalPlanDescription())
    return plans


def _rows_per_part_file(spark, ledger: str) -> list[tuple[int, int]]:
    """(rows, distinct committed_at) of each part file of `ledger`."""
    from pyspark.sql import functions as F

    per_file = spark.read.parquet(ledger).groupBy(F.input_file_name()).agg(
        F.count("*").alias("n"), F.countDistinct("committed_at").alias("ts")
    )
    return sorted((r["n"], r["ts"]) for r in per_file.collect())


def test_commits_are_worker_free_one_file_appends(spark, tmp_path, indexes):
    """Both ledgers commit through one Arrow-built local relation: no
    plan of a run_extraction run, nor the ledger append of an index
    batch, scans an ExistingRDD (what a list-built frame plans as, with
    a Python worker), and each append is one part file whose rows share
    one committed_at. The index's own data plans do scan ExistingRDDs:
    its localCheckpoint cuts plan that way."""
    from cadastral_map_ocr_system_spark import synth
    from cadastral_map_ocr_system_spark.schema import DOCS
    from cadastral_map_ocr_system_spark.sources.checkpoint import run_extraction

    src = str(tmp_path / "docs")
    docs_py = synth.synth_docs_pylist(16, seed=3)
    spark.createDataFrame(docs_py, schema=DOCS).write.parquet(src)
    docs = spark.read.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    plans = _plans_during(spark, lambda: run_extraction(
        spark, docs, out, ckpt, run_id="r", n_buckets=4, buckets_per_commit=3
    ))
    assert plans and not [p for p in plans if "ExistingRDD" in p]
    # buckets 0-3 commit in two groups of 3 and 1: two one-file appends
    assert _rows_per_part_file(spark, ckpt) == [(1, 1), (3, 1)]

    rows = corpus_rows()
    idx = str(tmp_path / "idx")
    shutil.copytree(indexes / "built", idx)
    plans = _plans_during(spark, lambda: incremental_dedup(
        spark, idx, _mk(spark, rows[8:]), _mk(spark, rows[:8])
    ))
    appends = [p for p in plans if f"[path={idx}/ledger]" in p]
    assert len(appends) == 1, plans
    assert "LocalTableScan" in appends[0] and "ExistingRDD" not in appends[0]
    assert _rows_per_part_file(spark, f"{idx}/ledger") == [(1, 1), (1, 1)]
