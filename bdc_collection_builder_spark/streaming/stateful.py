"""Custom stateful streaming operator: per-user sessionization with
``applyInPandasWithState``.

The reference has no stream processor (SURVEY §2.9) — its Celery
topology is the continuous-arrival analog. This module supplies the
engine feature the events table exists to exercise: a user-defined
stateful operator maintaining per-key session state across
micro-batches, the Structured Streaming counterpart of a Flink
KeyedProcessFunction.

Semantics: events for a user belong to one session while consecutive
gaps stay within ``SESSION_GAP_S``; a larger gap closes the session. Closed
sessions are emitted with (user_id, session_start, session_end,
n_events); the open tail session stays in state (emitted on the next
batch that closes it, or via state timeout in an always-on query).

Scale: state is O(active users) × a 3-field tuple; keys are hash-
partitioned so the operator scales horizontally. Within a batch the
function receives ALL rows for its key (Spark guarantees key-grouped
iteration); rows are sorted per-call, and cross-batch order is
inherited from the source (file sources replay in commit order).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bdc_collection_builder_spark.streaming.incremental import (
    EVENTS_STREAM_SCHEMA,
    drain_to_memory,
)

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int"
)
STATE_SCHEMA = "start_us long, last_us long, n int"
SESSION_GAP_S = 1800

_US = 1_000_000


def streaming_sessionize(spark, events_dir: str,
                         checkpoint_dir: str) -> DataFrame:
    """Drain the stateful sessionization query (AvailableNow: drain the
    backlog, emit every session closed by an observed gap, keep open
    tails in state for the next run — the ledger-backed late-data model
    of Y2 applied to streaming state) and return the closed sessions."""
    gap_us = SESSION_GAP_S * _US

    def sessionize(key: tuple, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
        """Extend the key's open session with this batch's events and
        emit the sessions a gap closed."""
        (user_id,) = key
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(
                int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        ts_us.sort()

        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0

        closed: list[tuple[int, int, int, int]] = []
        for t in ts_us:
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us <= gap_us:
                last_us, n = t, n + 1
            else:
                closed.append((user_id, start_us, last_us, n))
                start_us, last_us, n = t, t, 1

        if start_us is not None:
            state.update((start_us, last_us, n))
        if closed:
            yield pd.DataFrame({
                "user_id": [c[0] for c in closed],
                "session_start": [pd.Timestamp(c[1], unit="us")
                                  for c in closed],
                "session_end": [pd.Timestamp(c[2], unit="us")
                                for c in closed],
                "n_events": [c[3] for c in closed],
            })

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(events_dir)
    sessions = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return drain_to_memory(spark,
                           sessions.writeStream.outputMode("append"),
                           checkpoint_dir)
