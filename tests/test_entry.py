"""Driver-contract smoke: entry() runs on sf0.001 with a stable schema;
every queries() key with SQL has a matching oracle_sql() entry; sinks
produce the reference shapes."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "kind", "text", "media_ref", "order",
    ]
    assert df.count() > 0


def test_query_oracle_keys_align():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 25


def test_iit_sinks(spark, tmp_path):
    from cadastral_map_ocr_system_spark import synth
    from cadastral_map_ocr_system_spark.operators.mediapath import media_detections
    from cadastral_map_ocr_system_spark.operators.sinks import (
        characters_numbers_frame,
        statistics_block,
        write_iit_csv,
    )
    from cadastral_map_ocr_system_spark.plans.pipeline import explode_spans
    from cadastral_map_ocr_system_spark.schema import DOCS

    docs = spark.createDataFrame(synth.synth_docs_pylist(40, seed=8), schema=DOCS)
    det = media_detections(
        explode_spans(docs).filter(F.col("kind") == "media")
    )
    frame = characters_numbers_frame(det)
    # padded: every doc has max(n_names, n_numbers) rows
    per_doc = frame.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    counts = det.groupBy("doc_id").agg(
        F.sum(F.when(F.col("is_number"), 1).otherwise(0)).alias("nn"),
        F.sum(F.when(~F.col("is_number"), 1).otherwise(0)).alias("nc"),
    ).collect()
    want = {r["doc_id"]: max(r["nn"], r["nc"]) for r in counts}
    got = {r["doc_id"]: r["n"] for r in per_doc}
    assert got == {k: v for k, v in want.items() if v > 0}

    stats = statistics_block(det)
    row = stats.agg(F.sum("total_place_names"), F.sum("total_survey_numbers")).first()
    assert row[0] > 0 and row[1] > 0

    out = str(tmp_path / "iit_csv")
    write_iit_csv(det, out)
    assert spark.read.option("header", True).csv(out).count() == frame.count()


def test_session_config_source(spark):
    """S3 config source: the engine's standard confs are applied to the
    live session (AQE + skew handling on, Arrow on, UTC, bounded Arrow
    batches). The partition overwrite mode stays Spark's static
    default: the writes that need dynamic overwrite set it per write."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")) == 4096
    assert int(conf.get("spark.sql.shuffle.partitions")) >= 8


def test_pyfiles_zip_round_trip(tmp_path):
    """§7.2 packaging: build_pyfiles_zip produces an importable
    --py-files artifact containing the whole package."""
    import sys
    import zipfile

    from cadastral_map_ocr_system_spark.plans.job import build_pyfiles_zip

    out = build_pyfiles_zip(str(tmp_path / "pkg.zip"))
    names = set(zipfile.ZipFile(out).namelist())
    for mod in (
        "cadastral_map_ocr_system_spark/__init__.py",
        "cadastral_map_ocr_system_spark/operators/mediapath.py",
        "cadastral_map_ocr_system_spark/plans/pipeline.py",
        "cadastral_map_ocr_system_spark/functions/wav.py",
    ):
        assert mod in names
    # the zip itself is importable, the spark-submit contract — checked
    # in a clean interpreter where ONLY the zip provides the package
    import subprocess

    code = (
        "import cadastral_map_ocr_system_spark.schema as s; "
        "import cadastral_map_ocr_system_spark.functions.text; "
        "print(s.__file__)"
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # python -c puts cwd first; keep the repo out
        env={"PYTHONPATH": out, "PATH": "/usr/bin:/bin"},
    )
    assert res.returncode == 0, res.stderr
    assert "pkg.zip" in res.stdout
