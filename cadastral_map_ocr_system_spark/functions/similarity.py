"""Similarity measures.

Jaccard character-set similarity mirrors OCR/src/detect.py:577-599
(early-exit on equality, set intersection over union). Used by the
in-batch greedy dedup (mediapath.greedy_dedup_payload) — deliberately
NOT approximated with levenshtein, which would change golden outputs
(SURVEY.md §2.8 F6).
"""

from __future__ import annotations


def jaccard_charset(a: str, b: str) -> float:
    """|set(a) & set(b)| / |set(a) | set(b)| with equality early-exit."""
    if a == b:
        return 1.0
    sa, sb = set(a.lower()), set(b.lower())
    if not sa and not sb:
        return 1.0
    union = sa | sb
    if not union:
        return 0.0
    return len(sa & sb) / len(union)
