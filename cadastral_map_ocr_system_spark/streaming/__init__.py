"""Streaming surface.

The reference is strictly batch (SURVEY.md §2.9) and the north_rule's
streaming-like requirements (resumability, lineage) are met by the
checkpointed run (sources/checkpoint.py). For deployments that DO
tail an arriving docs table, `stream_extract` wraps the identical
batch plan in foreachBatch — the natural Structured Streaming mapping
noted in SURVEY.md §2.9.
"""

from .stream import stream_extract  # noqa: F401
