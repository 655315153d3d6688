"""Text rules: field parsing, cleanup, noise rejection, boilerplate.

Semantics derived from the reference:
  - survey/plot-number predicate  ^\\d{1,4}$ and 1<=n<=9999
      (OCR/src/detect.py:432-435)
  - name predicate: contains a letter, 2<=len<=50
      (OCR/src/detect.py:447)
  - name cleanup chain: strip [^\\w\\s\\-.] -> collapse \\s+ ->
      drop inline '.' -> title-case (OCR/src/detect.py:474-487)
  - noise rejection regexes (OCR/src/detect.py:489-502)
  - confidence/length filter conf>=0.3, len>=1 (OCR/src/detect.py:366-368)
  - boilerplate heuristics (graft generalization, SURVEY.md §2.2 B1):
      DOM-tag strip + per-line word-count / link-density keep rule.

All patterns are written in the common subset of Java and Python regex
so the Spark expressions (strip_boilerplate, the registry's SQL over
these constants) and the Python rules (py_*) agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------------------------------ constants
MIN_CONF = 0.3            # detect.py:366-368
NUMBER_RE = r"^\d{1,4}$"  # detect.py:432-435
NUMBER_MIN, NUMBER_MAX = 1, 9999
NAME_HAS_LETTER_RE = r"[A-Za-z]"
NAME_MIN_LEN, NAME_MAX_LEN = 2, 50

# cleanup chain (detect.py:477-486), applied in order
CLEAN_STRIP_RE = r"[^\w\s\-.]"     # drop punctuation except - .
CLEAN_WS_RE = r"\s+"               # collapse whitespace
CLEAN_DOT_RE = r"\.(?!\s|$)"       # drop inline dots

# noise regexes (detect.py:489-500), joined into one alternation
NOISE_RES = [
    r"^\d+$",              # pure digits (when classified as name)
    r"^[A-Za-z]$",         # single letter
    r"^\d+[A-Za-z]$",      # digit(s)+letter, OCR confusion
    r"^[A-Za-z]\d+$",      # letter+digit(s)
    r"^[NSEW]$",           # cardinal directions
    r"^[nsew]$",
]
NOISE_RE = "|".join(f"(?:{p})" for p in NOISE_RES)

# boilerplate heuristics (B1)
SCRIPT_RE = r"(?s)<script[^>]*>.*?</script>"
STYLE_RE = r"(?s)<style[^>]*>.*?</style>"
TAG_RE = r"<[^>]+>"
ANCHOR_RE = r"(?s)<a[^>]*>(.*?)</a>"
MIN_CONTENT_WORDS = 5      # keep a line only if >= 5 words ...
MAX_LINK_DENSITY = 0.5     # ... and <= 50% of its chars are link text


# ----------------------------------------------- Spark column expressions
def strip_boilerplate(col: Column) -> Column:
    """Main-content extraction for a text span — pure built-in exprs.

    Per-line rule over the tag-stripped line: keep when
    word_count >= MIN_CONTENT_WORDS and link_density <= MAX_LINK_DENSITY,
    where link_density = (chars of anchor text) / (chars of stripped
    line). Kept lines are joined with a single space. Built-in JVM
    expressions — no Python in the text hot path — but not all
    codegen: the per-line rule's lambdas (transform, filter, aggregate)
    are CodegenFallback expressions in Spark 4.1 and run interpreted.
    """
    no_script = F.regexp_replace(F.regexp_replace(col, SCRIPT_RE, ""), STYLE_RE, "")
    lines = F.split(no_script, r"\n")

    def _line_kept(line: Column) -> Column:
        link_chars = F.aggregate(
            F.regexp_extract_all(line, F.lit(ANCHOR_RE), F.lit(1)),
            F.lit(0),
            lambda acc, a: acc
            + F.length(
                F.trim(
                    F.regexp_replace(
                        F.regexp_replace(a, TAG_RE, " "), CLEAN_WS_RE, " "
                    )
                )
            ),
        )
        stripped = F.trim(
            F.regexp_replace(F.regexp_replace(line, TAG_RE, " "), CLEAN_WS_RE, " ")
        )
        n_words = F.when(stripped == "", F.lit(0)).otherwise(
            F.size(F.split(stripped, " "))
        )
        density = link_chars / F.greatest(F.length(stripped), F.lit(1))
        return F.when(
            (n_words >= MIN_CONTENT_WORDS) & (density <= MAX_LINK_DENSITY),
            stripped,
        ).otherwise(F.lit(None))

    kept = F.filter(F.transform(lines, _line_kept), lambda s: s.isNotNull())
    return F.array_join(kept, " ")


# ------------------------------------------------------- Python rules
# (run by the media stages and by oracle.py; kept next to the constants
# they share)
import re as _re  # noqa: E402

_noise_re = _re.compile(NOISE_RE)
_script_re = _re.compile(SCRIPT_RE)
_style_re = _re.compile(STYLE_RE)
_tag_re = _re.compile(TAG_RE)
_anchor_re = _re.compile(ANCHOR_RE)
_ws_re = _re.compile(CLEAN_WS_RE)


def py_clean_token(s: str) -> str:
    s = _re.sub(CLEAN_STRIP_RE, "", s)
    s = _re.sub(CLEAN_DOT_RE, "", s)
    s = _re.sub(CLEAN_WS_RE, " ", s).strip()
    # initcap semantics: capitalize first letter of each space-separated
    # word, lowercase the rest (matches Spark's initcap on ASCII).
    return " ".join(w[:1].upper() + w[1:].lower() if w else w for w in s.split(" "))


def py_is_noise(s: str) -> bool:
    return _noise_re.search(s) is not None


def py_is_valid_number(s: str) -> bool:
    return _re.match(NUMBER_RE, s) is not None and NUMBER_MIN <= int(s) <= NUMBER_MAX


def py_is_valid_name(s: str) -> bool:
    return (
        _re.search(NAME_HAS_LETTER_RE, s) is not None
        and NAME_MIN_LEN <= len(s) <= NAME_MAX_LEN
        and not py_is_noise(s)
    )


def py_strip_boilerplate(s: str) -> str:
    s = _script_re.sub("", s)
    s = _style_re.sub("", s)
    kept: list[str] = []
    for line in s.split("\n"):
        link_chars = sum(
            len(_ws_re.sub(" ", _tag_re.sub(" ", a)).strip())
            for a in _anchor_re.findall(line)
        )
        stripped = _ws_re.sub(" ", _tag_re.sub(" ", line)).strip()
        n_words = len(stripped.split(" ")) if stripped else 0
        density = link_chars / max(len(stripped), 1)
        if n_words >= MIN_CONTENT_WORDS and density <= MAX_LINK_DENSITY:
            kept.append(stripped)
    return " ".join(kept)
