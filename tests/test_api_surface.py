"""API-surface census: every public package function and every option
(a parameter with a default) has a caller outside tests/.

The callers are the package itself (the query registry, pipeline
stages), tools/, perfbench/, bench.py, bench_extra.py,
__spark_entry__.py and BENCH/scaling.py, parsed with `ast`. A function
counts as referenced when any caller names it (a call, an import, a
registry entry); an option counts as set when some call to a function
of that name passes it by keyword or by position, or passes *args /
**kwargs. Matching is by name, not by import resolution, so it can
only over-count references, never miss one.

A name that only tests use is deleted or becomes a module constant
that tests monkeypatch. The exceptions are listed below, one reason
each; an entry that no longer needs to be here fails the test too, so
the lists shrink as the surface does. The frozen synth.py and
oracle.py are exempt as a whole.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "cadastral_map_ocr_system_spark"
FROZEN = {"synth.py", "oracle.py"}
CALLER_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py", "BENCH/scaling.py")

# public functions that only tests call
TEST_ONLY_FUNCTIONS = {
    # sole implementations of a COVERAGE row
    "functions/geometry.py:circularity": "COVERAGE P11/P12/F7 geometry scalar",
    "functions/geometry.py:aspect_ratio": "COVERAGE P11/P12/F7 geometry scalar",
    "operators/templatematch.py:compose_template_sheet": "COVERAGE E5 sheet builder",
    "operators/templatematch.py:slice_template_sheet": "COVERAGE E5 sheet slicing",
    "operators/multimodal.py:media_metadata": "COVERAGE multimodal-columns metadata stage",
    "operators/multimodal.py:texture_features": "COVERAGE A5/A9 texture stage",
    "operators/multimodal.py:frame_sample_features": "COVERAGE A5/A9 frame-sample stage",
    # a test's reference or negative control
    "operators/normalize.py:contrast_stretch": "global stretch that gradient tests contrast against",
    # no-silent-caps ledgers of a capped generator
    "operators/dedup_index.py:incremental_capped_buckets": "cap ledger of incremental_dedup",
    "operators/ann.py:embedding_bucket_caps": "cap ledger of embedding_near_dups",
    # codec and reader API
    "functions/png.py:encode_png_gray": "codec API, gray twin of encode_png_rgb",
    "sources/checkpoint.py:read_extracted": "reader of run_extraction's output",
}

# options that no caller outside tests sets
TEST_ONLY_OPTIONS = {
    "session.py:get_spark.shuffle_partitions": "deployment setting",
    "operators/sinks.py:write_training_shards.n_writers": "forwards pack_shards' n_writers",
    "operators/ann.py:embedding_bucket_caps.n_dims": "mirrors embedding_near_dups' n_dims",
    "operators/corpus_dedup.py:lsh_capped_buckets.n_hashes": "mirrors lsh_candidate_pairs",
    "operators/corpus_dedup.py:lsh_capped_buckets.bands": "mirrors lsh_candidate_pairs",
    "operators/corpus_dedup.py:lsh_capped_buckets.k": "mirrors lsh_candidate_pairs",
    "operators/corpus_dedup.py:lsh_capped_buckets.pre_exact_dedup": "mirrors lsh_candidate_pairs",
}


def _public_functions():
    """{name: [(key, positional params, options)]} over the package's
    module-level public functions, frozen modules excluded."""
    defs: dict[str, list] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name in FROZEN:
            continue
        module = path.relative_to(PACKAGE).as_posix()
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            a = node.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            options = positional[len(positional) - len(a.defaults):] if a.defaults else []
            options += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            defs.setdefault(node.name, []).append(
                (f"{module}:{node.name}", positional, options)
            )
    return defs


def _caller_trees():
    paths = list(PACKAGE.rglob("*.py"))
    paths += (ROOT / "tools").glob("*.py")
    paths += (ROOT / "perfbench").glob("*.py")
    paths += [ROOT / f for f in CALLER_FILES]
    return [ast.parse(p.read_text()) for p in paths if p.exists()]


def _census():
    defs = _public_functions()
    referenced: set[str] = set()
    set_options: dict[str, set[str]] = {name: set() for name in defs}
    for tree in _caller_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias):
                referenced.add(node.name.rsplit(".", 1)[-1])
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in defs:
                continue
            star = any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            )
            for _key, positional, options in defs[name]:
                if star:
                    set_options[name].update(options)
                set_options[name].update(positional[: len(node.args)])
                set_options[name].update(k.arg for k in node.keywords if k.arg)
    unreferenced = {
        key for name, entries in defs.items() if name not in referenced
        for key, _, _ in entries
    }
    unset = {
        f"{key}.{opt}"
        for name, entries in defs.items()
        for key, _, options in entries
        for opt in options
        if opt not in set_options[name]
    }
    return unreferenced, unset


def test_every_public_function_has_a_non_test_caller():
    unreferenced, _ = _census()
    assert unreferenced - set(TEST_ONLY_FUNCTIONS) == set(), (
        "public functions only tests call: delete them, or allowlist "
        "them with a reason"
    )
    assert set(TEST_ONLY_FUNCTIONS) - unreferenced == set(), (
        "allowlisted functions that now have a non-test caller: drop "
        "them from TEST_ONLY_FUNCTIONS"
    )


def test_every_option_is_set_by_a_non_test_caller():
    _, unset = _census()
    assert unset - set(TEST_ONLY_OPTIONS) == set(), (
        "options no non-test caller sets: make them module constants "
        "(tests monkeypatch those), or allowlist them with a reason"
    )
    assert set(TEST_ONLY_OPTIONS) - unset == set(), (
        "allowlisted options that a non-test caller now sets: drop "
        "them from TEST_ONLY_OPTIONS"
    )
