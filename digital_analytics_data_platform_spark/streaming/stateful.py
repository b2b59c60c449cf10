"""Custom stateful streaming operator: per-conversation running
progress via ``applyInPandasWithState``.

The reference's nearest analog is per-session first/last-event
extraction re-run per batch (``sql/08_SDI_CLICKSTREAM/01_BRONZE/MERGE/
01_…entryPagesSession_daily.sql:131-136``); in a true streaming runtime
that becomes keyed state: one state cell per ``conv_id`` carrying the
running turn count / token estimate / latest activity, updated per
micro-batch with Arrow-batched pandas (no per-row Python), evicted by
processing-time timeout when a conversation goes idle (the
session-window close).

Output stream (update mode): one row per touched conversation per
batch — ``(conv_id, n_events, n_turns_seen, max_turn_idx, last_ts,
last_lsn, closed)`` — the live "conversation progress" feed a
downstream dashboard would tail.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_lsn", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_lsn", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)


def _update(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    if state.hasTimedOut:
        n, mturn, lts, llsn = state.get
        state.remove()
        yield pd.DataFrame(
            [{"conv_id": conv_id, "n_events": n, "max_turn_idx": mturn,
              "last_ts_us": lts, "last_lsn": llsn, "closed": True}]
        )
        return

    n, mturn, lts, llsn = state.get if state.exists else (0, -1, 0, -1)
    for pdf in pdfs:  # vectorized per Arrow batch
        n += len(pdf)
        if len(pdf):
            mturn = max(mturn, int(pdf["turn_idx"].max()))
            lts = max(lts, int(pdf["ts"].astype("int64").max() // 1000))
            llsn = max(llsn, int(pdf["lsn"].max()))
    state.update((n, mturn, lts, llsn))
    state.setTimeoutDuration(60_000)  # close after 60s idle
    yield pd.DataFrame(
        [{"conv_id": conv_id, "n_events": n, "max_turn_idx": mturn,
          "last_ts_us": lts, "last_lsn": llsn, "closed": False}]
    )


def conversation_progress(events: DataFrame) -> DataFrame:
    """Attach the stateful progress operator to a (streaming) CDC
    DataFrame. Works on batch DataFrames too (state spans the single
    batch) — handy for tests.

    Do not drain it with ``trigger(availableNow=True)``: its
    ``ProcessingTimeTimeout`` makes Spark plan a no-data batch after
    every batch so idle conversations can time out, so an
    ``availableNow`` query never terminates and ``processAllAvailable()``
    never returns. Run it under a processing-time trigger, or poll
    ``recentProgress`` until the first batch with ``numInputRows == 0``
    (it follows the last data batch) and then ``stop()`` the query, as
    ``tests/test_streaming.py::test_stateful_conversation_progress``
    does."""
    return (
        events.select("conv_id", "turn_idx", "ts", "lsn")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
