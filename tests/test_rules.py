"""Operator-level unit tests (SURVEY.md §5 step 3; FIXTURES.md §4
mini-fixtures) for the semantics-critical scalar rules, each checked
against the reference behaviors they encode and, for the boilerplate
rule, against its Spark column expression."""

from __future__ import annotations

from pyspark.sql import functions as F

from cadastral_map_ocr_system_spark.functions import text as T
from cadastral_map_ocr_system_spark.functions.similarity import jaccard_charset

CLEAN_CASES = [
    # (raw, expected) — cleanup chain detect.py:474-487
    ("al khurd!", "Al Khurd"),
    ("DEVAPUR", "Devapur"),
    ("gonal.", "Gonal."),   # sentence-final dot survives (\.(?!\s|$))
    ("Kava@lur", "Kavalur"),
    ("  two   spaces ", "Two Spaces"),
    ("a.b", "Ab"),          # inline dot dropped
    ("end.", "End."),       # trailing dot survives the inline-dot rule
    ("123", "123"),
    ("", ""),
]

NOISE_CASES = [
    ("N", True), ("s", True), ("7A", True), ("A7", True),
    ("42", True), ("x", True), ("9Z", True),
    ("Aadahal", False), ("Al Khurd", False), ("NE", False), ("A7B", False),
]

NUMBER_CASES = [
    ("1", True), ("9999", True), ("0", False), ("10000", False),
    ("12000", False), ("007", True), ("12a", False), ("", False),
]

NAME_CASES = [
    ("Aadahal", True), ("Al Khurd", True),
    ("A", False),            # single letter = noise + too short
    ("N", False),            # cardinal direction
    ("7A", False),           # digit+letter noise
    ("x" * 51, False),       # too long
    ("42", False),           # no letter
]

BOILERPLATE_CASES = [
    # content line with >=5 words survives, tags stripped
    ("<p>one two three four five</p>", "one two three four five"),
    # under word count -> dropped
    ("one two three four", ""),
    # nav links: short + linky -> dropped
    ('<a href="/a">Home</a> | <a href="/b">About</a>', ""),
    # long link farm: word count ok but density too high -> dropped
    ('<a href="/a">one two three</a> <a href="/b">four five six</a>', ""),
    # script stripped even multi-line
    ("<script>\nvar x = 1;\n</script>\nalpha beta gamma delta epsilon", "alpha beta gamma delta epsilon"),
    # mixed: content kept, boilerplate dropped, joined with space
    ("a b c d e f\n<a href='/x'>Nav</a>\ng h i j k", "a b c d e f g h i j k"),
]


def test_clean_token_py():
    for raw, want in CLEAN_CASES:
        assert T.py_clean_token(raw) == want, raw


def test_noise_py():
    for s, want in NOISE_CASES:
        assert T.py_is_noise(s) == want, s


def test_number_predicate_py():
    for s, want in NUMBER_CASES:
        assert T.py_is_valid_number(s) == want, s


def test_name_predicate_py():
    for s, want in NAME_CASES:
        assert T.py_is_valid_name(s) == want, s


def test_boilerplate_py():
    for raw, want in BOILERPLATE_CASES:
        assert T.py_strip_boilerplate(raw) == want, raw


def test_clean_idempotent():
    for raw, _ in CLEAN_CASES:
        once = T.py_clean_token(raw)
        assert T.py_clean_token(once) == once, raw


def test_jaccard_charset():
    assert jaccard_charset("abc", "abc") == 1.0
    assert jaccard_charset("abc", "cab") == 1.0  # set semantics
    assert jaccard_charset("abc", "xyz") == 0.0
    assert abs(jaccard_charset("abcd", "abce") - 3 / 5) < 1e-12
    assert jaccard_charset("", "") == 1.0


def test_spark_exprs_match_python(spark):
    """strip_boilerplate's Spark column expression and its Python
    mirror are the same spec — check them against each other on all
    fixture strings."""
    rows = [(s,) for s, _ in NOISE_CASES + NUMBER_CASES + NAME_CASES] + [
        (s,) for s, _ in CLEAN_CASES if s
    ]
    df = spark.createDataFrame(rows, "s string")
    got = df.select(
        "s", T.strip_boilerplate(F.col("s")).alias("content")
    ).collect()
    for r in got:
        assert r["content"] == T.py_strip_boilerplate(r["s"]), r["s"]


def test_spark_boilerplate_cases(spark):
    df = spark.createDataFrame([(s,) for s, _ in BOILERPLATE_CASES], "s string")
    got = [r["c"] for r in df.select(T.strip_boilerplate(F.col("s")).alias("c")).collect()]
    want = [w for _, w in BOILERPLATE_CASES]
    assert got == want
