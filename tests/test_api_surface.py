"""API-surface census: every public package function and every option
(a parameter with a default) has a caller outside tests/, and every
option takes at least two values there.

The callers are the package itself (the query registry, pipeline
stages), tools/, perfbench/, bench.py, bench_extra.py,
__spark_entry__.py and BENCH/scaling.py, parsed with `ast`. A function
counts as referenced when any caller names it (a call, an import, a
registry entry); an option counts as set when some call to a function
of that name passes it by keyword or by position, or passes *args /
**kwargs. Matching is by name, not by import resolution, so it can
only over-count references, never miss one.

The value census resolves what each call passes: a literal, a name
bound to a module-level literal anywhere in the caller set, or the
default when the call omits the option; any other expression is a
varying value. A call whose first argument names a public function
(perfbench's `_ms(fn, *args, **kw)`) counts as a call to it.

A name that only tests use, or an option every caller sets to one
value, is deleted or becomes a module constant that tests
monkeypatch. The exceptions are listed below, one reason each; an
entry that no longer needs to be here fails the test too, so the
lists shrink as the surface does. The frozen synth.py and oracle.py
are exempt as a whole (as definitions; their calls are callers).
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
}

# options that no caller outside tests sets
TEST_ONLY_OPTIONS = {
    "session.py:get_spark.shuffle_partitions": "deployment setting",
    "operators/sinks.py:write_training_shards.n_writers": "forwards pack_shards' n_writers",
    "operators/corpus_dedup.py:lsh_capped_buckets.pre_exact_dedup": "mirrors lsh_candidate_pairs",
}

# options every non-test caller sets to one value
SINGLE_VALUED_OPTIONS = {
    # frozen callers pass them
    "operators/components.py:connected_components.assume_distinct": "perfbench's dedup probe",
    "operators/mediapath.py:extract_regions_tiled.open_mask": "perfbench's traced kernel probe",
    "operators/normalize.py:decimation_indices.max_dim": "synth's decimation passes RESIZE_CAP",
    # mirrors of the generator the ledger audits
    "operators/corpus_dedup.py:lsh_capped_buckets.max_bucket": "mirrors lsh_candidate_pairs",
    "operators/corpus_dedup.py:lsh_capped_buckets.pre_exact_dedup": "mirrors lsh_candidate_pairs",
    # deployment sizing
    "operators/sinks.py:write_training_shards.n_writers": "writer fan-out of a deployment",
    "session.py:get_spark.shuffle_partitions": "deployment setting",
}


def _public_functions():
    """{name: [(key, positional params, {option: default node})]} over
    the package's module-level public functions, frozen modules
    excluded."""
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
            options = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            options |= {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d}
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


class _Varying:
    """An argument whose value the census cannot pin: any expression
    other than a literal or a name bound to a module-level literal.
    Each instance is distinct, so one is enough to count as a second
    value."""


def _module_literals(trees) -> dict:
    """{name: repr(value)} for every module-level `NAME = literal` in the
    caller set; a name bound to two different literals is ambiguous and
    maps to a _Varying."""
    bound: dict = {}
    for tree in trees:
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            for t in targets:
                pairs = [(t, value)]
                if isinstance(t, ast.Tuple) and isinstance(value, ast.Tuple):
                    pairs = list(zip(t.elts, value.elts))
                for target, v in pairs:
                    if not isinstance(target, ast.Name):
                        continue
                    try:
                        lit = repr(ast.literal_eval(v))
                    except (ValueError, TypeError, SyntaxError):
                        continue
                    if bound.setdefault(target.id, lit) != lit:
                        bound[target.id] = _Varying()
    return bound


def _value_of(node: ast.expr, bound: dict):
    """A literal's repr, the literal a module-level name is bound to,
    or a fresh _Varying."""
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError):
        pass
    name = node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)
    return bound.get(name, _Varying())


def _called(node: ast.Call, defs: dict):
    """(name, args, keywords) of the public function a call reaches:
    the callee itself, or the function a forwarding call such as
    `_ms(fn, *args, **kw)` names as its first argument."""
    f = node.func
    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    if name in defs:
        yield name, node.args, node.keywords
    if node.args:
        first = node.args[0]
        fwd = first.id if isinstance(first, ast.Name) else getattr(first, "attr", None)
        if fwd in defs:
            yield fwd, node.args[1:], node.keywords


def _value_census() -> dict:
    """{key.option: set of values} over every call in the caller set:
    the value a call passes (by position or keyword), the default's
    value when it omits the option, a _Varying for anything else
    (including options a *args/**kwargs call may set)."""
    defs = _public_functions()
    trees = _caller_trees()
    bound = _module_literals(trees)
    defaults: dict = {}
    for entries in defs.values():
        for key, _, options in entries:
            for opt, node in options.items():
                value = _value_of(node, bound)
                # a default is one fixed value even when the census
                # cannot evaluate it
                if isinstance(value, _Varying):
                    value = "default " + ast.unparse(node)
                defaults[f"{key}.{opt}"] = value
    values: dict = {key: set() for key in defaults}
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            for name, args, keywords in _called(node, defs):
                star = any(isinstance(x, ast.Starred) for x in args) or any(
                    k.arg is None for k in keywords
                )
                passed = {k.arg: k.value for k in keywords if k.arg}
                for key, positional, options in defs[name]:
                    by_pos = dict(zip(positional, args))
                    for opt in options:
                        arg = passed.get(opt, by_pos.get(opt))
                        if arg is not None and not isinstance(arg, ast.Starred):
                            value = _value_of(arg, bound)
                        elif star:
                            value = _Varying()
                        else:
                            value = defaults[f"{key}.{opt}"]
                        values[f"{key}.{opt}"].add(value)
    return values


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


def test_every_option_has_two_values_in_use():
    single = {
        key
        for key, values in _value_census().items()
        if len(values) < 2 and not any(isinstance(v, _Varying) for v in values)
    }
    assert single - set(SINGLE_VALUED_OPTIONS) == set(), (
        "options every non-test caller sets to one value: make them "
        "module constants (tests monkeypatch those), or allowlist them "
        "with a reason"
    )
    assert set(SINGLE_VALUED_OPTIONS) - single == set(), (
        "allowlisted options that now take two values: drop them from "
        "SINGLE_VALUED_OPTIONS"
    )
