"""Custom stateful streaming operator: per-user sessionization via
applyInPandasWithState — the escape hatch for operators Spark's
built-in streaming aggs can't express (guide: "Structured Streaming /
Stateful").

State per user: (last event epoch-second, open session count). Each
micro-batch folds all of a user's events in timestamp order; a gap >
gap_seconds opens a new session. Emits one row per user per batch with the
running totals — outputMode("update") semantics.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _session_fold(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import numpy as np

    gap = 1800
    if state.exists:
        last_ts, n_sessions, n_events = state.get
    else:
        last_ts, n_sessions, n_events = None, 0, 0
    # One trigger's events of a group arrive as one or more pandas
    # chunks (Arrow batches cut at maxRecordsPerBatch) in no time
    # order: concatenate them and sort once, so the count does not
    # depend on where the chunks were cut. Vectorized twin of the
    # per-event fold (guide §4.2 — the Python boundary is per batch,
    # so the per-row work must be numpy, not an interpreted loop):
    # count gap crossings with a diff. A new session opens at the
    # first event iff state is empty; at every event whose gap from
    # its predecessor (carried last_ts included) exceeds the window.
    chunks = [pdf["epoch"].to_numpy(dtype=np.int64) for pdf in pdfs]
    ts = np.sort(np.concatenate(chunks)) if chunks else np.empty(0, np.int64)
    if ts.size:
        if last_ts is None:
            n_sessions += 1 + int((np.diff(ts) > gap).sum())
        else:
            n_sessions += int((np.diff(ts, prepend=last_ts) > gap).sum())
        last_ts = int(ts[-1])
        n_events += int(ts.size)
    state.update((last_ts, n_sessions, n_events))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
    )


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Stateful session counting per user over a stream of events
    (needs columns user_id, ts). Batch twin: queries/analytics.sessionize
    — the test suite asserts stream-final-state ≡ batch on the same
    data."""
    from pyspark.sql import functions as F

    with_epoch = events.select("user_id", F.col("ts").cast("long").alias("epoch"))
    return with_epoch.groupBy("user_id").applyInPandasWithState(
        _session_fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
