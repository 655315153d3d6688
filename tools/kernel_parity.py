"""Dump the media kernel's output for seeded refs, for byte comparison.

Imports the package from <checkout> (any tree of this repository) and,
for n seeded media refs in each payload family, prints one sorted-key
JSON line holding the ref, its `extract_media_records` records and the
tile stats that call accrued. Two checkouts produce the same bytes
exactly when the kernel's output is unchanged, so a before/after check
is one `cmp`:

    python tools/kernel_parity.py /path/to/parent 50 > before.jsonl
    python tools/kernel_parity.py . 50 > after.jsonl
    cmp before.jsonl after.jsonl

Floats print with `repr` precision, so a last-bit difference shows.
"""

from __future__ import annotations

import json
import os
import random
import sys

FAMILIES = ("", "neg/", "rgb/", "lowc/", "rot/", "big/", "huge/", "hires/")
SEED = "kernel-parity"


def seeded_refs(n: int) -> list[tuple[str, int, str]]:
    """[(doc_id, offset, media_ref)], n per family, a pure function of n."""
    rng = random.Random(SEED)
    out = []
    for fam in FAMILIES:
        for _ in range(n):
            doc_id = "doc-%012d" % rng.randrange(10**9)
            off = rng.randrange(64)
            out.append((doc_id, off, f"media://{fam}{doc_id}/{off}"))
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print("usage: python tools/kernel_parity.py <checkout> <n>", file=sys.stderr)
        return 2
    checkout, n = os.path.abspath(argv[1]), int(argv[2])
    sys.path.insert(0, checkout)
    import cadastral_map_ocr_system_spark as pkg
    from cadastral_map_ocr_system_spark.operators.mediapath import (
        extract_media_records,
    )

    if not os.path.abspath(pkg.__file__).startswith(checkout + os.sep):
        print(f"package imported from {pkg.__file__}, not {checkout}", file=sys.stderr)
        return 2
    for doc_id, off, ref in seeded_refs(n):
        stats: dict = {}
        recs = extract_media_records(doc_id, off, ref, stats=stats)
        print(json.dumps({"ref": ref, "records": recs, "stats": stats}, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
