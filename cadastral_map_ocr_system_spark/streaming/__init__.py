"""Streaming surface.

The reference is strictly batch (SURVEY.md §2.9) and the north_rule's
streaming-like requirements (resumability, lineage) are met by the
checkpointed run (sources/checkpoint.py). For deployments that DO
tail an arriving docs table, `stream_extract` runs that same
checkpointed run once per micro-batch under foreachBatch — the natural
Structured Streaming mapping noted in SURVEY.md §2.9. Exactly-once is
the batch run's: a committed epoch's lineage row skips a replay, and
dynamic partition overwrite replaces a torn epoch whole.
"""

from .stream import stream_extract  # noqa: F401
