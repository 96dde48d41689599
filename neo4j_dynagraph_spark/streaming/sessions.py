"""Stateful streaming sessionization — applyInPandasWithState.

The reference's only stateful structure is the out-of-order insert path
of BaseTimeline.addNode (BaseTimeline.java:226-271): per-timeline state
updated as events arrive. The modern Spark analogue for *custom* keyed
state (beyond what windows/watermarks express) is
``applyInPandasWithState``: per-key Arrow batches + an explicit state
handle + event-time timeouts. Gap-based sessions are the canonical
example — a session cannot close until the NEXT event (or a timeout)
proves the gap, so the operator is irreducibly stateful.

Semantics match the batch formulation in queries.q_sessionize (break on
gap >= gap_seconds), with the streaming twist that only CLOSED sessions
are emitted: a user's trailing session stays in state until a later
event closes it or the event-time timeout fires. Differential test:
stream(closed) == batch sessions minus each user's last session.

Scale notes: state is one (start, last, n) triple per active user —
O(active keys), not O(events); the watermark+timeout evicts idle keys.
Shuffle is one hash partitioning by user_id (the groupBy key), after
which each micro-batch's work is a vectorized numpy pass per key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", LongType()),
        StructField("session_end", LongType()),
        StructField("n_events", LongType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
    ]
)


def stateful_sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming gap sessionizer: emits (user_id, session_start,
    session_end, n_events) for every CLOSED session.

    Works on a streaming DataFrame (ts must be a timestamp column;
    event-time timeout closes idle sessions one gap past the
    watermark). The per-key logic is vectorized: numpy diff over the
    batch's sorted event times finds the break points, no per-row
    Python loop.
    """
    import numpy as np
    import pandas as pd

    gap = int(gap_seconds)

    def fn(key, pdfs, state):  # noqa: ANN001
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [start],
                    "session_end": [last],
                    "n_events": [n],
                }
            )
            return

        secs_parts = [
            # explicit ns cast: pandas 2.x may hand Arrow timestamps over
            # as datetime64[us], so a bare astype(int64) would be off 1000x
            (pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1_000_000_000)
            .to_numpy()
            for pdf in pdfs
        ]
        secs = np.sort(np.concatenate(secs_parts)) if secs_parts else np.array([])
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0

        out = []
        if secs.size == 0:
            sessions = [(start, last, n)] if last is not None else []
        elif last is not None and secs[0] - last < gap:
            # The batch continues the open session. Fold the carried
            # state in as one synthetic event at `last` (only the last
            # timestamp matters for gap chaining); the first run then
            # extends the carried session: its start stays `start` and
            # its count is n plus the new events in that run.
            ext = np.concatenate([[last], secs])
            breaks = np.flatnonzero(np.diff(ext) >= gap)
            runs = np.split(ext, breaks + 1)
            first = runs[0]
            sessions = [(int(start), int(first[-1]), n + len(first) - 1)] + [
                (int(r[0]), int(r[-1]), len(r)) for r in runs[1:]
            ]
        else:
            if last is not None:
                out.append((start, last, n))
            breaks = np.flatnonzero(np.diff(secs) >= gap)
            runs = np.split(secs, breaks + 1)
            sessions = [(int(r[0]), int(r[-1]), len(r)) for r in runs]

        if sessions:
            *closed, open_s = sessions
            out.extend(closed)
            state.update((open_s[0], open_s[1], open_s[2]))
        # close the open session one gap past the watermark
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + gap * 1000)
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_start": [s for s, _, _ in out],
                "session_end": [e for _, e, _ in out],
                "n_events": [c for _, _, c in out],
            }
        )

    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.select(F.col(user_col).alias("user_id"), ts_col)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def stateful_sessions_from_parquet(
    spark,  # noqa: ANN001
    parquet_path: str,
    schema,  # noqa: ANN001
    gap_seconds: int = 1800,
    ts_is_nanos: bool | None = None,  # retained for API compat; ignored
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the stateful sessionizer over a bounded file stream
    (Trigger.AvailableNow, memory sink) and return the emitted closed
    sessions — the deterministic harness for differential testing.

    ``max_files_per_trigger`` caps files per micro-batch: pointing this
    at a directory of time-ordered files with cap 1 forces sessions to
    span micro-batches, exercising the state-carry path.
    """
    from neo4j_dynagraph_spark.sources.tables import normalize_stream_ts
    from neo4j_dynagraph_spark.streaming.drain import drain_stream_to_memory
    from neo4j_dynagraph_spark.streaming.staging import stage_single_file

    parquet_path = stage_single_file(parquet_path, "dynagraph_sess_src_")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        # one time-ordered file per batch, oldest first
        reader = reader.option("latestFirst", "false")
    stream = normalize_stream_ts(spark, reader.parquet(parquet_path), schema)
    return drain_stream_to_memory(
        stateful_sessionize(stream, gap_seconds), "stream_sessions"
    )
