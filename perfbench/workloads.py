"""The benchmark workloads: seeded inputs, the timed call, the output
check and the traced layer split of each.

Every input is a pure function of (workload, seed, size), built in
plain Python before the Spark session starts and cached under a key
that also carries synth.FIXTURE_VERSION, so a fixture bump never
reuses stale inputs. The package is driven only through its public
functions: synth, plans.pipeline, operators.* and sources.checkpoint.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from cadastral_map_ocr_system_spark import synth

# bump when this file changes how an input is built
INPUT_VERSION = 2
SKEW_FRAC = 0.01
MAX_SPANS = 64  # synth's default: a skew doc has exactly this many spans
INPUT_FILES = 4  # one scan task per core
WARM_MOD = 8  # the warm-up input is about 1/8 of the docs


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def read_spans(paths: list[str]) -> tuple[dict[str, list[list]], int]:
    """Extracted parquet files -> ({doc_id: [[kind, text, media_ref,
    order]]}, number of rows); more rows than keys means duplicates."""
    out: dict[str, list[list]] = {}
    rows = 0
    for path in paths:
        t = pq.read_table(path, columns=["doc_id", "spans"])
        rows += t.num_rows
        for doc_id, spans in zip(
            t.column("doc_id").to_pylist(), t.column("spans").to_pylist()
        ):
            out[doc_id] = [
                [s["kind"], s["text"], s["media_ref"], s["order"]] for s in spans
            ]
    return out, rows


def read_docs(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def count_failed(expected: dict, actual: dict) -> int:
    """Expected keys that are missing from `actual` or differ."""
    return sum(actual.get(k) != v for k, v in expected.items())


def plant_mismatch(actual: dict, expected: dict) -> None:
    """Test hook: corrupt one checked output value so the check must fail."""
    key = sorted(expected)[0]
    actual[key] = list(actual.get(key, [])) + [["planted", None, None, -1]]


def write_input(table: pa.Table, main: str, warm: str) -> None:
    """Write `table` (sorted by doc_id) as INPUT_FILES parquet files,
    and the warm-up subset as one file. The subset hash is salted
    because run_extraction buckets on xxhash64(doc_id)."""
    table = table.sort_by("doc_id")
    os.makedirs(main)
    os.makedirs(warm)
    step = -(-table.num_rows // INPUT_FILES)
    for f in range(INPUT_FILES):
        pq.write_table(table.slice(f * step, step), os.path.join(main, f"part-{f}.parquet"))
    ids = table.column("doc_id").to_pylist()
    keep = [zlib.crc32(f"warm:{i}".encode()) % WARM_MOD == 0 for i in ids]
    pq.write_table(table.filter(pa.array(keep)), os.path.join(warm, "part-0.parquet"))


def synth_corpus(n: int, seed: int) -> pa.Table:
    """n docs of synth's generator (the rows synth.synth_docs_df yields
    for this seed) with EXACTLY round(n * 1%) skew docs: the first skew
    and non-skew docs by doc_id. A binomial skew count would make the
    workload's cost swing with the seed."""
    k = max(1, round(n * SKEW_FRAC))
    skew: list[dict] = []
    plain: list[dict] = []
    i = 0
    while len(skew) < k or len(plain) < n - k:
        d = synth.gen_doc(seed, i, SKEW_FRAC, MAX_SPANS)
        i += 1
        if len(d["spans"]) == MAX_SPANS:
            if len(skew) < k:
                skew.append(d)
        elif len(plain) < n - k:
            plain.append(d)
    return pa.Table.from_pylist(skew + plain, schema=synth.DOCS_ARROW)


class Workload:
    """One workload bound to a seed and a work dir.

    Subclasses set `name` and `n_docs` and implement build, run,
    expected and check. `ensure_input` builds the cached input (before
    any Spark session); `prepare` binds a session to it; `call` is the
    timed call and `before_call` its untimed preparation; `check` runs
    outside the timed region and returns the docs failed out of
    `n_docs`.
    """

    name = ""
    n_docs = 0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.key = (
            f"{self.name}-s{seed}-n{self.n_docs}"
            f"-fx{synth.FIXTURE_VERSION}-in{INPUT_VERSION}"
        )
        self.cache = os.path.join(work, "cache", self.key)
        self.main = os.path.join(self.cache, "main")
        self.warm = os.path.join(self.cache, "warm")
        self.expected_path = os.path.join(self.cache, "expected.json")
        self.out = os.path.join(work, "out", self.name)
        self.extras: dict[str, tuple[float, str]] = {}
        self.spark = None

    # ------------------------------------------------------ set-up
    def ensure_input(self) -> bool:
        """Build the cached input if missing; True when this call built it."""
        if os.path.exists(os.path.join(self.cache, "_COMPLETE")):
            return False
        shutil.rmtree(self.cache, ignore_errors=True)
        self.build()
        open(os.path.join(self.cache, "_COMPLETE"), "w").close()
        return True

    def prepare(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.main)
        self.warm_docs = spark.read.parquet(self.warm)

    def build(self) -> None:
        raise NotImplementedError

    def start_expected(self) -> None:
        """Start computing the expected output in the background, if
        the workload can; `finish_expected` completes it."""

    def finish_expected(self) -> None:
        if os.path.exists(self.expected_path):
            return
        value = self.expected()
        with open(self.expected_path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(self.expected_path + ".tmp", self.expected_path)

    def load_expected(self) -> dict:
        with open(self.expected_path) as f:
            return json.load(f)

    def expected(self) -> dict:
        raise NotImplementedError

    def warm_up(self) -> None:
        self.run(self.warm_docs, self.out + "-warm")

    def before_call(self) -> None:
        pass

    def call(self) -> None:
        """The timed call: the workload's output written to parquet at
        `out`, where `check` reads the last call's output."""
        self.run(self.docs, self.out)

    def call_extras(self, n_calls: int) -> dict:
        """Extra end-to-end metrics of the last `n_calls` (timed) calls."""
        return {}

    def run(self, docs, path: str) -> None:
        raise NotImplementedError

    def check(self, plant: bool = False) -> int:
        raise NotImplementedError

    def trace_layers(self, tracer) -> dict:
        """Workload-specific layer metrics; must include `stage_sum_s`,
        the summed stage times of one call."""
        raise NotImplementedError


# --------------------------------------------------------------- extract
class ExtractMixed(Workload):
    name = "extract_mixed"
    n_docs = 1000
    normal_sample = 30
    _pending = None

    def build(self) -> None:
        write_input(synth_corpus(self.n_docs, self.seed), self.main, self.warm)

    def run(self, docs, path: str) -> None:
        from cadastral_map_ocr_system_spark.plans.pipeline import extract

        write(extract(docs), path)

    def is_skew(self, doc: dict) -> bool:
        return len(doc["spans"]) == MAX_SPANS

    def sample_docs(self) -> list[dict]:
        """Every skew doc plus a seeded sample of the others."""
        docs = sorted(read_docs(self.main), key=lambda d: d["doc_id"])
        skew = [d for d in docs if self.is_skew(d)]
        rest = [d for d in docs if not self.is_skew(d)]
        rng = random.Random(f"perfbench-sample:{self.seed}")
        return skew + rng.sample(rest, min(self.normal_sample, len(rest)))

    def start_expected(self) -> None:
        """The oracle is pure Python and ~20x slower than the kernel, so
        it runs in worker processes while the session starts, leaving
        one core to the JVM."""
        import multiprocessing

        from cadastral_map_ocr_system_spark import oracle

        from harness import host_cores

        if os.path.exists(self.expected_path):
            return
        docs = self.sample_docs()
        pool = multiprocessing.get_context("spawn").Pool(max(1, host_cores() - 1))
        self._pending = (pool, docs, pool.map_async(oracle.extract_doc, docs, chunksize=1))

    def expected(self) -> dict:
        if self._pending is None:
            self.start_expected()
        pool, docs, result = self._pending
        self._pending = None
        try:
            rows = result.get()
        finally:
            pool.close()
            pool.join()
        return {d["doc_id"]: [list(r) for r in rs] for d, rs in zip(docs, rows)}

    def check(self, plant: bool = False) -> int:
        """Missing, extra or duplicated docs over the whole output of the
        last timed call, plus oracle mismatches on the sample."""
        actual, rows = read_spans([self.out])
        expected = self.load_expected()
        if plant:
            plant_mismatch(actual, expected)
        ids = set(pq.read_table(self.main, columns=["doc_id"]).column("doc_id").to_pylist())
        wrong = len(ids ^ set(actual)) + rows - len(actual)
        return min(wrong + count_failed(expected, actual), self.n_docs)

    def trace_layers(self, tracer) -> dict:
        m = pipeline_layers(self.docs, tracer)
        # the checkpoint layer, on the warm-up subset
        m.update(checkpoint_layers(self.spark, self.warm_docs, self.out + "-ckpt", tracer))
        return m


class ExtractText(ExtractMixed):
    name = "extract_text"
    n_docs = 6000
    normal_sample = 300

    def build(self) -> None:
        table = synth_corpus(self.n_docs, self.seed).to_pylist()
        for d in table:
            d["spans"] = [s for s in d["spans"] if s["kind"] != "media"]
        write_input(pa.Table.from_pylist(table, schema=synth.DOCS_ARROW), self.main, self.warm)

    def is_skew(self, doc: dict) -> bool:
        # a non-skew doc has at most 12 spans (offsets 0..11)
        return bool(doc["spans"]) and doc["spans"][-1]["offset"] >= 12

    def start_expected(self) -> None:
        pass  # no media spans: the oracle is cheap enough to run inline

    def expected(self) -> dict:
        from cadastral_map_ocr_system_spark import oracle

        return {
            d["doc_id"]: [list(r) for r in oracle.extract_doc(d)]
            for d in self.sample_docs()
        }

    def trace_layers(self, tracer) -> dict:
        return pipeline_layers(self.docs, tracer)


def pipeline_layers(docs, tracer) -> dict:
    """Stage split of `extract` as differences between materialized
    prefixes of the same plan: explode+spread, span stage, boilerplate
    strip, re-zip. The last prefix is `extract` itself."""
    from pyspark.sql import functions as F

    from cadastral_map_ocr_system_spark.functions.text import strip_boilerplate
    from cadastral_map_ocr_system_spark.operators.mediapath import span_detections
    from cadastral_map_ocr_system_spark.plans.pipeline import explode_spans, extract

    spark = docs.sparkSession
    with tracer.span("pipeline.plan_build") as s:
        full = extract(docs)
    plan_build_ms = (s["end_s"] - s["start_s"]) * 1e3

    conf_n = spark.conf.get("spark_graft.extract.partitions", None)
    n = int(conf_n) if conf_n else spark.sparkContext.defaultParallelism
    spread = explode_spans(docs, keep_empty_docs=True).repartition(n, "doc_id", "offset")
    spans = span_detections(spread)
    stripped = spans.withColumn(
        "text",
        F.when(F.col("kind") == "text", strip_boilerplate(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    cum = {}
    for name, df in (
        ("explode", spread), ("span_stage", spans), ("strip", stripped), ("rezip", full)
    ):
        with tracer.span("prefix:" + name) as s:
            noop(df)
        cum[name] = s["end_s"] - s["start_s"]
    return {
        "pipeline.plan_build_ms": (plan_build_ms, "ms"),
        "pipeline.explode_s": (cum["explode"], "s"),
        "pipeline.span_stage_s": (cum["span_stage"] - cum["explode"], "s"),
        "pipeline.strip_s": (cum["strip"] - cum["span_stage"], "s"),
        "rezip.s": (cum["rezip"] - cum["strip"], "s"),
        "stage_sum_s": (cum["rezip"], "s"),
    }


# ---------------------------------------------------------------- resume
N_BUCKETS = 4
BUCKETS_PER_COMMIT = 2
FAIL_AFTER_COMMITS = 1
RUN_ID = "perfbench"


def fresh_dirs(base: str) -> tuple[str, str]:
    shutil.rmtree(base, ignore_errors=True)
    return os.path.join(base, "extracted"), os.path.join(base, "checkpoint")


def crash_and_resume(spark, docs, out: str, ckpt: str) -> tuple[float, float]:
    """run_extraction crashing after FAIL_AFTER_COMMITS commit groups,
    then resumed under the same run_id. Returns (wall-clock time of the
    crash, wall time of the resume call)."""
    from cadastral_map_ocr_system_spark.sources.checkpoint import (
        SimulatedFailure,
        run_extraction,
    )

    kw = dict(run_id=RUN_ID, n_buckets=N_BUCKETS, buckets_per_commit=BUCKETS_PER_COMMIT)
    try:
        run_extraction(spark, docs, out, ckpt, fail_after_commits=FAIL_AFTER_COMMITS, **kw)
    except SimulatedFailure:
        pass
    else:
        raise RuntimeError("run_extraction did not crash as configured")
    crashed_at = time.time()
    t0 = time.perf_counter()
    run_extraction(spark, docs, out, ckpt, **kw)
    return crashed_at, time.perf_counter() - t0


def written_bytes(out: str, ckpt: str) -> int:
    return dir_bytes(out) + dir_bytes(ckpt) + dir_bytes(ckpt + "_tiles")


def checkpoint_layers(spark, docs, base: str, tracer) -> dict:
    """One crash + resume of `docs`, split by the lineage table: commit
    groups and their walls, bytes written, buckets the resume skipped."""
    from datetime import datetime, timezone

    from harness import labelled

    out, ckpt = fresh_dirs(base)
    # jobs_per_group is filled in from the event log's "checkpoint" jobs
    with tracer.span("checkpoint.crash_resume"), labelled(spark, "checkpoint"):
        crashed_at, resume_s = crash_and_resume(spark, docs, out, ckpt)
    lineage = pq.read_table(ckpt).to_pylist()
    walls = sorted({r["committed_at"]: r["wall_ms"] for r in lineage}.values())
    crashed = datetime.fromtimestamp(crashed_at, tz=timezone.utc)
    skipped = sum(r["committed_at"].replace(tzinfo=timezone.utc) < crashed for r in lineage)
    return {
        "checkpoint.commit_groups": (len(walls), "count"),
        "checkpoint.group_wall_ms_p50": (walls[len(walls) // 2], "ms"),
        "checkpoint.group_wall_ms_max": (walls[-1], "ms"),
        "checkpoint.output_bytes": (dir_bytes(out), "B"),
        "checkpoint.lineage_rows": (len(lineage), "count"),
        "checkpoint.resume_buckets_skipped": (skipped, "count"),
        "checkpoint.resume_s": (resume_s, "s"),
        "checkpoint.group_wall_sum_s": (sum(walls) / 1e3, "s"),
    }


class ExtractResume(Workload):
    """Crash + resume of run_extraction. Not in BENCHMARK.json: its many
    small jobs make a run too long for 22 runs per listed workload in 57
    minutes. Run it by hand; extract_mixed's traced run measures the same
    layer."""

    name = "extract_resume"
    n_docs = 500

    def build(self) -> None:
        write_input(synth_corpus(self.n_docs, self.seed), self.main, self.warm)

    def warm_up(self) -> None:
        crash_and_resume(self.spark, self.warm_docs, *fresh_dirs(self.out + "-warm"))
        self.resume_walls: list[float] = []

    def before_call(self) -> None:
        fresh_dirs(self.out)

    def call(self) -> None:
        self.resume_walls.append(crash_and_resume(self.spark, self.docs, *self._paths())[1])

    def _paths(self) -> tuple[str, str]:
        return os.path.join(self.out, "extracted"), os.path.join(self.out, "checkpoint")

    def call_extras(self, n_calls: int) -> dict:
        from harness import median

        return {"resume_s": (median(self.resume_walls[-n_calls:]), "s")}

    def expected(self) -> dict:
        return {}  # the one-shot output, built in check

    def check(self, plant: bool = False) -> int:
        """The resumed output equals a one-shot extract of the same docs;
        the lineage has one row per bucket and accounts for every doc."""
        from cadastral_map_ocr_system_spark.plans.pipeline import extract

        out, ckpt = self._paths()
        lineage = pq.read_table(ckpt).to_pylist()
        parts = sorted(r["partition_id"] for r in lineage)
        self.extras["write_bytes_per_doc"] = (written_bytes(out, ckpt) / self.n_docs, "B/doc")
        one_shot = self.out + "-oneshot"
        shutil.rmtree(one_shot, ignore_errors=True)
        extract(self.docs).write.parquet(one_shot)
        expected, _ = read_spans([one_shot])
        actual, rows = read_spans(sorted(glob.glob(os.path.join(out, "bucket=*"))))
        if plant:
            plant_mismatch(actual, expected)
        if parts != list(range(N_BUCKETS)) or sum(r["n_docs"] for r in lineage) != self.n_docs:
            return self.n_docs  # lineage broken: nothing can be trusted
        wrong = len(set(expected) ^ set(actual)) + rows - len(actual)
        return min(wrong + count_failed(expected, actual), self.n_docs)

    def trace_layers(self, tracer) -> dict:
        from cadastral_map_ocr_system_spark.plans.pipeline import extract

        with tracer.span("pipeline.plan_build") as s:
            extract(self.docs)
        m = checkpoint_layers(self.spark, self.docs, self.out + "-traced", tracer)
        m["pipeline.plan_build_ms"] = ((s["end_s"] - s["start_s"]) * 1e3, "ms")
        m["stage_sum_s"] = m["checkpoint.group_wall_sum_s"]
        return m


# ------------------------------------------------------------ dedup prep
LANGS = ["en", "en", "de", "zh", "fr", "es"]


def _vocab() -> list[str]:
    """Fixed token vocabulary with Zipf-like frequencies (the same for
    every seed, like a real corpus's vocabulary)."""
    rng = random.Random("perfbench-vocab")
    syll = ["ka", "ri", "to", "men", "sa", "lo", "vi", "dor", "an", "el", "pu", "ne"]
    words = list(synth.WORD_POOL) + [
        "".join(rng.choice(syll) for _ in range(rng.randint(1, 4))) for _ in range(800)
    ]
    vocab: list[str] = []
    for rank, w in enumerate(words, 1):
        vocab.extend([w] * max(1, 400 // rank))
    return vocab


def gen_text_table(n: int, seed: int) -> pa.Table:
    """Seeded documents table (doc_id, text, lang, source, n_chars) in
    the shape of the query registry's `documents` table, with exact and near
    duplicates so the dedup chain has clusters to resolve.

    Per 100 docs after the first 100, exactly 1 is an exact and 7 are
    near duplicates (2 tokens mutated), always of an original doc. The
    duplicate graph is then a set of stars of the same total size for
    every seed, so the number of connected-components rounds does not
    swing with the seed."""
    rng = random.Random(f"perfbench-docs:{seed}")
    vocab = _vocab()
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        slot = i % 100
        if i >= 100 and slot == 0:  # exact duplicate
            text = texts[rng.choice(originals)]
        elif i >= 100 and slot < 8:  # near duplicate
            toks = texts[rng.choice(originals)].split(" ")
            for _ in range(2):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            text = " ".join(toks)
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(10, 100))]
            if rng.random() < 0.1:  # numeric-heavy: fails the alpha gate
                toks = [str(rng.randint(0, 99999)) if j % 2 else t for j, t in enumerate(toks)]
            text = " ".join(toks)
            originals.append(i)
        texts.append(text)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n)], pa.string()),
            "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def corpus_prep(docs):
    """quality gate -> dedup_clusters -> survivors -> token_counts ->
    per-language budget, composed from the public operators."""
    from pyspark.sql import functions as F

    from cadastral_map_ocr_system_spark.operators import components, textstats

    kept = quality_kept(docs)
    clusters = components.dedup_clusters(kept)
    survivors = clusters.filter(F.col("doc_id") == F.col("cluster")).select("doc_id")
    out = kept.join(survivors, "doc_id")
    toks = textstats.token_counts(out)
    return (
        out.select("doc_id", "lang")
        .join(toks, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_subwords_est").cast("long").alias("total_subwords_est"),
        )
    )


def quality_kept(docs):
    from pyspark.sql import functions as F

    from cadastral_map_ocr_system_spark.operators import textstats

    q = textstats.quality_scores(docs)
    return docs.join(
        q.filter((F.col("n_tokens") >= 40) & (F.col("alpha_ratio") >= 0.5)).select(
            "doc_id"
        ),
        "doc_id",
    )


class DedupPrep(Workload):
    name = "dedup_prep"
    n_docs = 1500

    def build(self) -> None:
        write_input(gen_text_table(self.n_docs, self.seed), self.main, self.warm)

    def run(self, docs, path: str) -> None:
        write(corpus_prep(docs), path)

    def expected(self) -> dict:
        import duckdb

        from cadastral_map_ocr_system_spark.plans.queries import SQL_CORPUS_PREP

        con = duckdb.connect()
        try:
            files = os.path.join(self.main, "*.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{files}')")
            rows = con.execute(SQL_CORPUS_PREP).fetchall()
        finally:
            con.close()
        return {r[0]: [int(x) for x in r[1:]] for r in rows}

    def check(self, plant: bool = False) -> int:
        expected = self.load_expected()
        actual = {
            r["lang"]: [r["n_docs"], r["total_tokens"], r["total_subwords_est"]]
            for r in pq.read_table(self.out).to_pylist()
        }
        if plant:
            plant_mismatch(actual, expected)
        langs = pq.read_table(self.main, columns=["lang"]).column("lang").to_pylist()
        per_lang = {lang: langs.count(lang) for lang in set(langs)}
        keys = set(expected) | set(actual)
        return sum(
            per_lang.get(k, 0) for k in keys if expected.get(k) != actual.get(k)
        )

    def trace_layers(self, tracer) -> dict:
        """Stage split of the chain as differences between materialized
        prefixes: quality gate, fingerprint aggregation, LSH pairs,
        connected components, rejoin + budget."""
        from pyspark.sql import functions as F

        from cadastral_map_ocr_system_spark.operators import components, corpus_dedup

        from harness import labelled

        kept = quality_kept(self.docs)
        surv = (
            kept.groupBy(
                F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")).alias("fp")
            )
            .agg(F.min(F.struct("doc_id", "text")).alias("s"))
            .select(F.col("s.doc_id").alias("doc_id"), F.col("s.text").alias("text"))
        )
        cum = {}
        for name, df in (("textstats.quality", kept), ("corpus_dedup.fingerprint", surv)):
            with tracer.span("prefix:" + name) as s:
                noop(df)
            cum[name] = s["end_s"] - s["start_s"]
        with tracer.span("count:candidate_pairs"):
            n_cand = corpus_dedup.lsh_candidate_pairs(surv, pre_exact_dedup=False).count()
        edges = corpus_dedup.lsh_jaccard_pairs(surv, pre_exact_dedup=False)
        with tracer.span("prefix:corpus_dedup.lsh_pairs") as s:
            n_edges = edges.count()
        cum["corpus_dedup.lsh_pairs"] = s["end_s"] - s["start_s"]
        with tracer.span("prefix:components.cc") as s:
            # components.cc_rounds is filled in from the event log's "cc" jobs
            with labelled(self.spark, "cc"):
                comp = components.connected_components(edges, assume_distinct=True)
            noop(comp)
        cum["components.cc"] = s["end_s"] - s["start_s"]
        with tracer.span("prefix:components.rejoin") as s:
            noop(corpus_prep(self.docs))
        cum["components.rejoin"] = s["end_s"] - s["start_s"]
        return {
            "textstats.quality_s": (cum["textstats.quality"], "s"),
            "corpus_dedup.fingerprint_s": (
                cum["corpus_dedup.fingerprint"] - cum["textstats.quality"], "s"),
            "corpus_dedup.lsh_pairs_s": (
                cum["corpus_dedup.lsh_pairs"] - cum["corpus_dedup.fingerprint"], "s"),
            "corpus_dedup.candidate_pairs": (n_cand, "count"),
            "corpus_dedup.edges": (n_edges, "count"),
            "corpus_dedup.edge_yield": (n_edges / max(n_cand, 1), "ratio"),
            "components.cc_s": (cum["components.cc"] - cum["corpus_dedup.lsh_pairs"], "s"),
            "components.rejoin_s": (cum["components.rejoin"] - cum["components.cc"], "s"),
            "stage_sum_s": (cum["components.rejoin"], "s"),
        }


WORKLOADS = {w.name: w for w in (ExtractMixed, ExtractText, ExtractResume, DedupPrep)}
