"""Structured Streaming wrapper: readStream(docs) -> extract -> sink.

Uses foreachBatch so each micro-batch is one resumable batch run
(sources/checkpoint.run_extraction) — one extraction plan and one crash
contract for batch and streaming. Exactly-once at the sink is the
batch run's: a replayed epoch that already committed is skipped by its
lineage row, and a torn one is redone whole under dynamic partition
overwrite of its own epoch directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import DOCS
from ..sources.checkpoint import run_extraction


def write_epoch(batch_df: DataFrame, epoch_id: int, output_path: str) -> None:
    """Exactly-once micro-batch sink: the epoch is one run_extraction run
    (one bucket) into `output_path/epoch_id=N/`, its lineage in
    `output_path/_epochs/N/lineage`, which Spark skips when reading
    output_path (unit-pinned in tests/test_operators.py)."""
    run_extraction(
        batch_df.sparkSession,
        batch_df,
        f"{output_path}/epoch_id={epoch_id}",
        f"{output_path}/_epochs/{epoch_id}/lineage",
        run_id=f"epoch-{epoch_id}",
        n_buckets=1,
        buckets_per_commit=1,
    )


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
):
    """Extract every docs file present in a parquet directory (read
    with schema.DOCS), one micro-batch at a time through `write_epoch`,
    then stop (availableNow). Files that arrive later are picked up by
    the next call on the same stream_checkpoint; returns the
    StreamingQuery."""
    return (
        spark.readStream.schema(DOCS)
        .parquet(input_path)
        .writeStream.foreachBatch(
            lambda batch_df, epoch_id: write_epoch(batch_df, epoch_id, output_path)
        )
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
        .start()
    )


EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)

# event-time rules of the four event streams below: window width,
# watermark delays, the dedup key, the attribution join's event types
# and gap, and the session gap
WINDOW = "1 hour"
WINDOW_WATERMARK = "30 minutes"
DEDUP_KEYS = ("event_id",)
DEDUP_WATERMARK = "1 hour"
JOIN_LEFT_TYPE = "view"
JOIN_RIGHT_TYPE = "purchase"
JOIN_MAX_GAP_MINUTES = 30
JOIN_WATERMARK = "1 hour"
SESSION_WATERMARK = "30 minutes"
SESSION_GAP_MS = 1_800_000  # same 30-min rule as the batch sessionize


def _events_source(spark: SparkSession, input_path: str) -> DataFrame:
    """The streamed events directory, read with its explicit schema."""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(input_path)


def _append_sink(df: DataFrame, output_path: str, stream_checkpoint: str):
    """Start an append-mode parquet sink that drains what is present
    (availableNow) and stops; returns the StreamingQuery."""
    return (
        df.writeStream.outputMode("append")
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", output_path)
        .start()
    )


def stream_windowed_counts(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
):
    """Event-time tumbling-window aggregation with a watermark over a
    streamed events directory: count + exact decimal sum per
    (window, event_type), append-mode parquet sink.

    Append mode emits each window row EXACTLY ONCE — when the watermark
    (max event time seen minus the delay) passes the window end — and
    evicts its state, so unbounded event time runs in bounded state at
    any scale; events arriving later than the delay are dropped, which
    is the documented late-data contract. The watermark itself lives in
    the streaming checkpoint, so emission semantics survive query
    restarts (q_stream_windows drives this across three availableNow
    drains of one checkpoint).

    The sum runs in DECIMAL before the final cast: a float sum over a
    shuffled 100 TB stream is not reproducible across partitionings;
    decimal is exact and order-independent.
    """
    events = _events_source(spark, input_path)
    agg = (
        events.withWatermark("ts", WINDOW_WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _append_sink(agg, output_path, stream_checkpoint)


def stream_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
):
    """Streaming exact dedup on ingest: keep the first row per
    DEDUP_KEYS among arrivals within DEDUP_WATERMARK of each other
    (dropDuplicatesWithinWatermark) — the streaming counterpart of the
    batch exact-survivor rule (corpus_dedup.exact_dedup_survivor_docs),
    keyed on event_id instead of a content fingerprint.

    The contract that makes this run forever in bounded state: per-key
    state is EVICTED once the watermark passes the key's event time
    plus the delay — dedup-within-horizon, not global dedup (global
    streaming dedup is unbounded state by definition; a 100 TB/day
    ingest needs the horizon form, with a periodic batch exact_dedup
    pass downstream for the long tail). Past the horizon, a same-key
    row with a fresh event time is re-emitted, and a bit-identical
    late copy is dropped by the watermark's late-data filter — either
    way no state survives the horizon. State DOES survive
    query restarts via the streaming checkpoint, so duplicates
    spanning two drains of the same checkpoint still dedup
    (test-pinned in tests/test_operators.py).
    """
    events = _events_source(spark, input_path)
    deduped = events.withWatermark(
        "ts", DEDUP_WATERMARK
    ).dropDuplicatesWithinWatermark(list(DEDUP_KEYS))
    return _append_sink(deduped, output_path, stream_checkpoint)


def stream_interval_join(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
):
    """Stream-stream inner interval join: pair each JOIN_RIGHT_TYPE
    event with the same user's JOIN_LEFT_TYPE events in the preceding
    JOIN_MAX_GAP_MINUTES (the view->purchase attribution join).

    Both sides carry a watermark and the join predicate carries an
    explicit event-time range — the two things that let Spark bound
    the join state: a buffered left row is evicted once the right
    watermark passes its ts + gap, so state is O(events within the
    horizon), not O(stream). Without the time-range condition this
    would be an unbounded stateful join that OOMs by construction on
    an endless stream — the range is load-bearing, not a filter.
    """
    events = _events_source(spark, input_path)
    left = (
        events.filter(F.col("event_type") == JOIN_LEFT_TYPE)
        .select(
            F.col("event_id").alias("left_id"),
            F.col("user_id").alias("left_user"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", JOIN_WATERMARK)
    )
    right = (
        events.filter(F.col("event_type") == JOIN_RIGHT_TYPE)
        .select(
            F.col("event_id").alias("right_id"),
            F.col("user_id").alias("right_user"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", JOIN_WATERMARK)
    )
    joined = left.join(
        right,
        (F.col("left_user") == F.col("right_user"))
        & (F.col("left_ts") <= F.col("right_ts"))
        & (
            F.col("right_ts")
            <= F.col("left_ts") + F.expr(f"INTERVAL {JOIN_MAX_GAP_MINUTES} MINUTES")
        ),
        "inner",
    ).select(
        F.col("left_id"),
        F.col("right_id"),
        F.col("left_user").alias("user_id"),
        ((F.col("right_ts").cast("long") - F.col("left_ts").cast("long")))
        .alias("gap_sec"),
    )
    return _append_sink(joined, output_path, stream_checkpoint)


def _sessionize_group(key, pdfs, state):
    """Per-user session state machine for applyInPandasWithState.

    State = the one OPEN session (start_ms, last_ms, n_events). Events
    arriving in a batch merge into it / close it by the gap rule;
    every CLOSED session is emitted immediately (append mode). The open
    session registers an event-time timeout at last_ms + gap: when the
    watermark passes it, the session is final by construction — no
    on-time event can extend it — so it is emitted and state removed.
    Bounded state per user (3 longs), regardless of stream length.
    """
    import numpy as np
    import pandas as pd

    user_id = key[0]

    def frame(rows):
        return pd.DataFrame(
            rows, columns=["user_id", "start_ms", "end_ms", "n_events"]
        )

    if state.hasTimedOut:
        start_ms, last_ms, n = state.get
        state.remove()
        yield frame([(user_id, start_ms, last_ms, n)])
        return

    pdf = pd.concat(list(pdfs), ignore_index=True)
    ms = np.sort(pdf["ts"].astype("int64").to_numpy() // 1_000_000)
    # split into gap-delimited runs: starts[i]..ends[i] index segments
    breaks = np.nonzero(np.diff(ms) > SESSION_GAP_MS)[0] + 1
    starts = np.concatenate(([0], breaks))
    ends = np.concatenate((breaks, [len(ms)]))

    # each run is a dense interval [start, end, n]; the stored open
    # session is one too. Sorting ALL intervals by start and chain-
    # merging (next.start - cur.end <= gap, overlap included) is the
    # batch gap rule over the union — an out-of-order (within-
    # watermark) event earlier than the stored last_ms now widens the
    # open session instead of regressing its end/timeout, and the
    # stored span can bridge batch runs that are far apart from each
    # other but each within gap of it (ADVICE r5 high).
    runs = [
        [int(ms[s]), int(ms[e - 1]), int(e - s)]
        for s, e in zip(starts, ends)
    ]
    if state.exists:
        start_ms, last_ms, n = state.get
        runs.append([int(start_ms), int(last_ms), int(n)])
        runs.sort(key=lambda r: (r[0], r[1]))
    merged = [runs[0]]
    for r in runs[1:]:
        cur = merged[-1]
        if r[0] - cur[1] <= SESSION_GAP_MS:
            cur[1] = max(cur[1], r[1])
            cur[2] += r[2]
        else:
            merged.append(r)
    closed = [(user_id, a, b, c) for a, b, c in merged[:-1]]
    a, b, c = merged[-1]
    state.update((a, b, c))
    state.setTimeoutTimestamp(b + SESSION_GAP_MS)
    yield frame(closed)


def stream_sessionize(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user sessionization with the batch gap rule, event-time
    timeouts closing idle sessions as the watermark advances. The
    grouped state is the only shuffle; emitted sessions append to a
    parquet sink exactly once."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = _events_source(spark, input_path)
    sessions = (
        events.withWatermark("ts", SESSION_WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=(
                "user_id bigint, start_ms bigint, end_ms bigint, n_events bigint"
            ),
            stateStructType="start_ms bigint, last_ms bigint, n_events bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return _append_sink(sessions, output_path, stream_checkpoint)
