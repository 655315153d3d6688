"""Stratified sampling and shard packing: exactness of the two-phase
top-n decomposition, determinism under relayout, and packing bounds."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cadastral_map_ocr_system_spark.operators import corpus_sample
from cadastral_map_ocr_system_spark.operators.corpus_sample import (
    _md5_key,
    pack_shards,
    stratified_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _skewed_rows():
    """One giant stratum (en, 400 docs), two small ones (7 and 3 docs
    — below and at the sample size)."""
    rows = [(i, f"word{i} " * (3 + i % 7), "en") for i in range(400)]
    rows += [(1000 + i, f"klein{i} text", "de") for i in range(7)]
    rows += [(2000 + i, f"tiny{i}", "zh") for i in range(3)]
    return rows


def _naive_sample(docs, n, stratum_col="lang"):
    """The definition: one window per stratum over the md5 total
    order. (Single-reducer-per-stratum — fine at test size, the shape
    the two-phase plan exists to avoid at corpus size.)"""
    key = _md5_key(F.col(stratum_col), F.col("doc_id").cast("string"))
    w = Window.partitionBy(stratum_col).orderBy("k")
    return (
        docs.select("doc_id", stratum_col, key.alias("k"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n)
        .select(
            "doc_id", stratum_col, F.col("sample_rank").cast("int").alias("sample_rank")
        )
    )


def test_two_phase_equals_naive_definition(spark):
    docs = _docs(spark, _skewed_rows())
    for n in (3, 7, 20):
        got = sorted(map(tuple, stratified_sample(docs, n).collect()))
        want = sorted(map(tuple, _naive_sample(docs, n).collect()))
        assert got == want, n


def test_sample_sizes_and_salt_invariance(spark, monkeypatch):
    docs = _docs(spark, _skewed_rows())
    out = stratified_sample(docs, 7).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["sample_rank"])
    # exactly min(n, |stratum|) rows, ranks contiguous from 1
    assert sorted(by_lang["en"]) == list(range(1, 8))
    assert sorted(by_lang["de"]) == list(range(1, 8))
    assert sorted(by_lang["zh"]) == list(range(1, 4))
    # the salt count must not change the result (containment exactness)
    for s in (1, 3, 64):
        monkeypatch.setattr(corpus_sample, "N_SALTS", s)
        assert sorted(map(tuple, stratified_sample(docs, 7).collect())) \
            == sorted(map(tuple, out))


def test_sample_deterministic_under_relayout(spark):
    rows = _skewed_rows()
    docs = _docs(spark, rows)
    shuffled = _docs(spark, rows[::-1]).repartition(13)
    assert sorted(map(tuple, stratified_sample(docs, 5).collect())) == sorted(
        map(tuple, stratified_sample(shuffled, 5).collect())
    )


def test_pack_shards_bounds_and_coverage(spark):
    rows = [(i, "tok " * (10 + (i * 37) % 90), "en") for i in range(500)]
    docs = _docs(spark, rows)
    budget = 200
    out = pack_shards(docs, budget_tokens=budget, n_writers=4).collect()
    assert len(out) == 500 and len({r["doc_id"] for r in out}) == 500
    shards = {}
    for r in out:
        shards.setdefault((r["writer"], r["shard_seq"]), []).append(r["n_tokens"])
    max_doc = max(r["n_tokens"] for r in out)
    for (w, s), toks in shards.items():
        # greedy overshoot bound: a shard exceeds the budget by at most
        # its last document
        assert sum(toks) < budget + max_doc, (w, s)
    # every non-final shard is actually full (no premature cuts), and
    # shard_seq is contiguous from 0 per writer
    for w in {r["writer"] for r in out}:
        seqs = sorted(s for (ww, s) in shards if ww == w)
        assert seqs == list(range(len(seqs)))
        for s in seqs[:-1]:
            assert sum(shards[(w, s)]) >= budget - max_doc


def test_pack_shards_deterministic_under_relayout(spark):
    rows = [(i, "tok " * (5 + i % 23), "en") for i in range(300)]
    a = pack_shards(_docs(spark, rows), 150, n_writers=3).collect()
    b = pack_shards(_docs(spark, rows[::-1]).repartition(11), 150, n_writers=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_write_training_shards_layout_and_roundtrip(spark, tmp_path):
    import os

    from cadastral_map_ocr_system_spark.operators.sinks import (
        write_training_shards,
    )

    rows = [(i, "tok " * (10 + (i * 13) % 50), "en") for i in range(200)]
    docs = _docs(spark, rows)
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, budget_tokens=300, n_writers=4)
    # hive layout: writer=*/shard_seq=* directories
    writers = sorted(d for d in os.listdir(path) if d.startswith("writer="))
    assert writers and all("=" in w for w in writers)
    inner = os.listdir(os.path.join(path, writers[0]))
    assert any(d.startswith("shard_seq=") for d in inner)
    # read-back equals the assignment joined to the text
    back = spark.read.parquet(path)
    got = sorted(
        (r["doc_id"], r["text"], int(r["writer"]), int(r["shard_seq"]))
        for r in back.collect()
    )
    want_assign = {
        r["doc_id"]: (r["writer"], r["shard_seq"])
        for r in pack_shards(docs, 300, n_writers=4).collect()
    }
    want = sorted(
        (i, t, int(want_assign[i][0]), int(want_assign[i][1]))
        for i, t, _l in rows
    )
    assert got == want
    # overwrite is idempotent at the row level
    write_training_shards(docs, path, budget_tokens=300, n_writers=4)
    again = sorted(
        (r["doc_id"], r["text"], int(r["writer"]), int(r["shard_seq"]))
        for r in spark.read.parquet(path).collect()
    )
    assert again == got
    # a re-export at another budget replaces the export whole: no shard
    # of the earlier layout survives
    write_training_shards(docs, path, budget_tokens=1200, n_writers=4)
    new_assign = {
        r["doc_id"]: (int(r["writer"]), int(r["shard_seq"]))
        for r in pack_shards(docs, 1200, n_writers=4).collect()
    }
    back = sorted(
        (r["doc_id"], r["text"], int(r["writer"]), int(r["shard_seq"]))
        for r in spark.read.parquet(path).collect()
    )
    assert back == sorted((i, t, *new_assign[i]) for i, t, _l in rows)
    dirs = {
        (w, s)
        for w in os.listdir(path) if w.startswith("writer=")
        for s in os.listdir(os.path.join(path, w)) if s.startswith("shard_seq=")
    }
    assert dirs == {(f"writer={w}", f"shard_seq={s}") for w, s in new_assign.values()}
