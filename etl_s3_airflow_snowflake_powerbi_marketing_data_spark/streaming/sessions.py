"""Stateful streaming sessionization via ``applyInPandasWithState``.

The batch twin is ``plans.relational.user_sessions`` (gap-based
sessions: a >30 min silence starts a new session). This is the
continuous form: per-user state (the open session) lives in the state
store, events arrive in micro-batches, and every session touched by a
batch is emitted as an upsert tagged with a monotone ``version`` —
downstream consumers (or :func:`latest_sessions`) keep the highest
version per (user_id, session_seq), exactly the semantics of writing
update-mode output to a keyed sink.

Scale: state is one small tuple per user (not per event), partitioned
by user hash across executors; batches stream through Arrow. Skewed
users cost one hot partition, same as any keyed stateful op — salt at
ingest if a single key exceeds an executor.

The gap rule matches the batch oracle bit-for-bit: epoch seconds are
floored to integers before differencing (see tests and the
``user_sessions`` DuckDB oracle in ``__spark_entry__``).

Ordering contract: events must arrive in event-time order PER KEY
ACROSS batches (each batch is sorted internally). That holds for
time-partitioned file arrival and for Kafka keyed by user with
event-time-ordered producers. Arbitrarily late data would need a
watermark plus session-merge logic (re-opening and stitching closed
sessions), which this operator deliberately does not do — the batch
twin ``user_sessions`` is the recompute path for repairs.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import _drain, read_event_stream

SESSION_GAP_SECONDS = 1800

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_seq", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("session_value", T.DoubleType()),
        T.StructField("version", T.LongType()),
    ]
)

# Open-session carry-over: everything needed to resume mid-session.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_seq", T.LongType()),
        T.StructField("last_floor_s", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("version", T.LongType()),
    ]
)


def _sessionize(key: Any, pdf_iter: Iterator[pd.DataFrame], state: Any):
    """Fold one micro-batch of a single user's events into session
    state; emit every session touched by this batch."""
    (user_id,) = key
    if state.exists:
        seq, last_floor, n, start_us, end_us, val, version = state.get
    else:
        seq, last_floor, n, start_us, end_us, val, version = 0, None, 0, 0, 0, 0.0, 0

    touched: dict[int, tuple[int, int, int, float]] = {}
    batch = pd.concat(list(pdf_iter), ignore_index=True)
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    for ts, value in zip(batch["ts"], batch["value"]):
        ts_us = ts.value // 1_000
        floor_s = ts.value // 1_000_000_000
        if last_floor is None or floor_s - last_floor > SESSION_GAP_SECONDS:
            seq += 1
            n, start_us, val = 0, ts_us, 0.0
        n += 1
        end_us = ts_us
        val += float(value)
        last_floor = floor_s
        touched[seq] = (n, start_us, end_us, val)

    version += 1
    state.update((seq, last_floor, n, start_us, end_us, val, version))
    if touched:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(touched),
                "session_seq": list(touched),
                "n_events": [t[0] for t in touched.values()],
                "session_start": [
                    pd.Timestamp(t[1], unit="us") for t in touched.values()
                ],
                "session_end": [
                    pd.Timestamp(t[2], unit="us") for t in touched.values()
                ],
                "session_value": [t[3] for t in touched.values()],
                "version": [version] * len(touched),
            }
        )


def streaming_sessions(events: DataFrame) -> DataFrame:
    """Keyed stateful sessionization over an event stream."""
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def latest_sessions(upserts: DataFrame) -> DataFrame:
    """Collapse the upsert stream to the final state of each session:
    highest version wins. Matches the batch ``user_sessions`` contract
    (rounded session_value, no version column)."""
    w = Window.partitionBy("user_id", "session_seq").orderBy(
        F.col("version").desc()
    )
    return (
        upserts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "session_seq",
            "n_events",
            "session_start",
            "session_end",
            F.round("session_value", 2).alias("session_value"),
        )
    )


def run_streaming_sessions(
    spark: SparkSession,
    source_path: str,
    query_name: str = "stream_sessions",
    state_partitions: int = 8,
) -> DataFrame:
    """Drive the stateful plan over the current contents of
    ``source_path`` and return the collapsed session table (state
    partition count pinned for the smoke-scale state — see
    pipeline.bounded_state_partitions)."""
    _drain(
        streaming_sessions(read_event_stream(spark, source_path))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name),
        spark,
        state_partitions,
    )
    return latest_sessions(spark.table(query_name))
