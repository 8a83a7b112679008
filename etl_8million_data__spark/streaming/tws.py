"""Per-user EMA as a Spark 4 ``transformWithStateInPandas`` stateful
processor — the successor API to ``applyInPandasWithState`` (which
implements the same operator in streaming/stateful.py). Both exist so
the engine demonstrates the old and new custom-stateful surfaces over
identical semantics; the batch oracle twin is ``events_user_ema``.

The new API's wins at 100 TB: composable typed state handles (value /
list / map state instead of one monolithic tuple), explicit timers in
processing or event time, and a state store that must be RocksDB-backed
(changelog-checkpointable, so state size is bounded by disk not heap).

Runtime requirement: the transformWithState protocol speaks protobuf to
a per-query Python driver worker, so the ``protobuf`` package must be
installed; environments without it (like this test container) keep the
old-API operator as the executable path and the matching test skips.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from etl_8million_data__spark.streaming.stateful import (
    EMA_ALPHA,
    OUTPUT_SCHEMA,
    STATE_SCHEMA,
)
from etl_8million_data__spark.streaming.trigger import foreach_batch_available_now

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


class UserEmaProcessor(StatefulProcessor):
    """ValueState[(n_events, ema)] per user; same deterministic fold
    (time-then-id order within the batch) as the old-API operator."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("ema_state", STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        n, ema = self._state.get() if self._state.exists() else (0, None)
        pdf = pd.concat(list(rows)).sort_values(["ts", "event_id"])
        for v in pdf["value"]:
            v = float(v)
            ema = v if ema is None else EMA_ALPHA * v + (1.0 - EMA_ALPHA) * ema
            n += 1
        self._state.update((n, ema))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ema_value": [ema]}
        )

    def close(self) -> None:
        pass


def user_ema_tws_stream(events: DataFrame) -> DataFrame:
    """events stream -> per-user (n_events, ema_value), update mode.

    Requires ``spark.sql.streaming.stateStore.providerClass`` set to
    RocksDB (``ROCKSDB_PROVIDER``) before the query starts — the new
    API refuses HDFS-backed state by design.
    """
    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserEmaProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


SESSION_STATE_SCHEMA = "session_start timestamp, last_ts timestamp, n_events bigint"
SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)


class SessionWindowProcessor(StatefulProcessor):
    """Per-user session windows as explicit typed state + event-time
    timers — the transformWithState twin of the built-in
    ``F.session_window`` job (streaming/jobs.session_windows_stream)
    and of the batch oracle ``events_session_windows``: a session is a
    maximal run of events with inter-event gaps <= ``gap``; emitted
    ``session_end`` = last event + gap (the built-in's convention).

    State: one (session_start, last_ts, n_events) value per user.
    Within a micro-batch, rows fold in (ts, event_id) order — the same
    determinism rule as every state fold in this repo. A CLOSED
    session (next event starts past last_ts + gap) is emitted
    immediately; the OPEN session is emitted by the event-time timer
    this processor (re-)registers at its current ``session_end``, so a
    session flushes exactly when the watermark passes its end — the
    append-mode semantics of the built-in operator, reproduced with
    composable state instead of a monolithic tuple."""

    def __init__(self, gap_seconds: int = 1800) -> None:
        self._gap_ms = gap_seconds * 1000

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("session_state", SESSION_STATE_SCHEMA)

    def _emit(self, key, start, last_ts, n) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [start],
                "session_end": [last_ts + pd.Timedelta(milliseconds=self._gap_ms)],
                "n_events": [n],
            }
        )

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows)).sort_values(["ts", "event_id"])
        if self._state.exists():
            start, last_ts, n = self._state.get()
        else:
            start = last_ts = None
            n = 0
        gap = pd.Timedelta(milliseconds=self._gap_ms)
        for ts in pdf["ts"]:
            if last_ts is not None and ts - last_ts > gap:
                yield self._emit(key, start, last_ts, n)
                start, n = ts, 0
            if start is None:
                start = ts
            last_ts = ts
            n += 1
        self._state.update((start, last_ts, int(n)))
        # (re-)arm the flush timer at the open session's current end;
        # Spark keeps one timer per (key, ts), so stale earlier timers
        # simply fire as no-ops (guarded in handleExpiredTimer)
        end_ms = int(last_ts.value // 1_000_000) + self._gap_ms
        self._handle.registerTimer(end_ms)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        if not self._state.exists():
            return
        start, last_ts, n = self._state.get()
        end_ms = int(last_ts.value // 1_000_000) + self._gap_ms
        # only the timer at the session's CURRENT end closes it; timers
        # armed before the session grew are stale no-ops
        if expiredTimerInfo.getExpiryTimeInMs() >= end_ms:
            yield self._emit(key, start, last_ts, n)
            self._state.clear()

    def close(self) -> None:
        pass


def session_windows_tws_stream(
    events: DataFrame, gap_seconds: int = 1800, watermark: str = "0 seconds"
) -> DataFrame:
    """events stream -> closed per-user sessions, append mode — the
    transformWithState twin of session_windows_stream; equal-to-batch
    assertion in tests/test_stateful.py (skips without protobuf)."""
    return (
        events.select("user_id", "event_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionWindowProcessor(gap_seconds),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


GUARD_SEEN_SCHEMA = "seen tinyint"
GUARD_OUTPUT_SCHEMA = "doc_id bigint, text string"


class EmitOnceProcessor(StatefulProcessor):
    """Emit each key's FIRST row ever, drop every later duplicate —
    exactly-once ingest semantics carried by keyed state instead of a
    sink anti-join: the replay-idempotence half of the streaming
    decontamination guard (streaming/jobs.stream_contamination_guard
    gets it from a skip-existing anti-join against the sink; this twin
    gets it from a per-doc ValueState, which also survives a replay
    under the SAME checkpoint via state restore). Rows fold in doc_id
    order for batch determinism; first-row-wins matches the sink
    contract (a doc's text never changes across redeliveries)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._seen = handle.getValueState("seen", GUARD_SEEN_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        if self._seen.exists():
            return
        first = pd.concat(list(rows)).sort_values("doc_id").head(1)
        self._seen.update((1,))
        yield first[["doc_id", "text"]]

    def close(self) -> None:
        pass


def emit_once_tws_stream(docs_stream: DataFrame) -> DataFrame:
    """docs stream -> each doc_id's first row, exactly once across
    micro-batches AND replays (state restore under the checkpoint)."""
    return docs_stream.select("doc_id", "text").groupBy(
        "doc_id"
    ).transformWithStateInPandas(
        statefulProcessor=EmitOnceProcessor(),
        outputStructType=GUARD_OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )


def run_contamination_guard_tws(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
):
    """Streaming decontamination guard with transformWithState carrying
    the idempotence: EmitOnceProcessor's per-doc state drops replayed
    doc_ids ON THE STREAM (where jobs.stream_contamination_guard uses a
    sink anti-join), and the frozen-index containment filter
    (operators/incremental_dedup.contamination_filter — probe-only, so
    replays cannot collide) runs on each emitted micro-batch in the
    foreachBatch sink, where it is a plain batch frame (the filter
    aggregates its input, which a pre-sink streaming stage cannot).
    Output parquet is asserted EQUAL to the batch contamination filter
    over the same corpus in tests/test_stateful.py (skips without
    protobuf)."""
    from etl_8million_data__spark.operators.bucket_store import append_new
    from etl_8million_data__spark.operators.incremental_dedup import (
        contamination_filter,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_new(contamination_filter(batch_df, index_path), out_path)

    return foreach_batch_available_now(
        emit_once_tws_stream(docs_stream), apply_batch, checkpoint_dir
    )
