"""Streaming co-presence edges.

The reference's FRAME_INTERACTION facts (load_gexf_to_neo4j.py:241-249)
are built in batch by pairing actors active in the same frame. Two
incremental forms live here:

- ``stream_frame_edges``: stream-stream self-join on TUMBLING-WINDOW
  EQUALITY. Joining on ``window(t, delta)`` — not on a derived
  frame-id column with a side time-bound — is the watermark-extractable
  form: the join key itself contains the event-time window, so Spark
  derives a key watermark and evicts each side's state as soon as the
  watermark passes a window (no "cannot extract state constraint"
  fallback to unbounded state). State is O(events in the watermark
  horizon) per side.

- ``stateful_frame_edges``: applyInPandasWithState keyed by frame.
  State is the per-frame actor->count map — O(actors in frame), NOT
  O(events) and never O(pairs); the k*(k-1)/2 pair expansion happens
  only at flush time, when the event-time timeout proves the frame
  complete. Carries the batch path's hot-frame guard
  (``max_actors_per_frame``, ingest.presence_to_frame_interactions):
  a frame exceeding the cap collapses its state to an overflow marker
  (O(1) from that point) and emits nothing — identical drop semantics
  to batch, so stream == batch holds guard-for-guard.

Drained with Trigger.AvailableNow through a parquet sink (pairs grow
quadratically with frame occupancy, so never through the driver), both
must equal the batch ``presence_to_frame_interactions`` edge set —
q_stream_edges checks the join form against the batch SQL oracle; the
stateful form is differentially tested with a synthetic hot frame.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, BooleanType, LongType, StructField, StructType

from neo4j_dynagraph_spark.streaming.drain import (
    drain_stream_to_parquet,
    start_bounded_drain,
)


def stream_frame_edges(
    events: DataFrame,
    delta_seconds: int = 3600,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """events stream -> (frame_id, actor1, actor2, weight) co-presence
    edges, weight = n_events(a1) * n_events(a2) exactly as the batch
    operator computes it (ingest.presence_to_frame_interactions).

    Implementation: self-join raw events on tumbling-window EQUALITY
    (epoch-aligned, so window start / delta == the batch frame_id),
    then aggregate pair multiplicities per window. The join emits one
    row per EVENT pair, so count(*) per (window, a1, a2) is already the
    product of per-actor event counts — the batch operator's n1*n2 —
    with no second join. The window struct in the join key gives Spark
    a key-watermark eviction bound; the chained windowed aggregation
    finalizes in append mode once the watermark passes the window.
    """
    w_expr = f"{delta_seconds} seconds"
    base = events.select(
        F.col(user_col).alias("u"), F.col(ts_col).alias("t")
    )
    left = (
        base.select(F.col("u").alias("u1"), F.col("t").alias("t1"))
        .withWatermark("t1", watermark)
        .select("u1", "t1", F.window("t1", w_expr).alias("w1"))
    )
    right = (
        base.select(F.col("u").alias("u2"), F.col("t").alias("t2"))
        .withWatermark("t2", watermark)
        .select("u2", "t2", F.window("t2", w_expr).alias("w2"))
    )
    pairs = left.join(
        right,
        (F.col("w1") == F.col("w2")) & (F.col("u1") < F.col("u2")),
    )
    return (
        pairs.groupBy(
            F.col("w1").alias("w"),
            F.col("u1").alias("actor1"),
            F.col("u2").alias("actor2"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
        .select(
            (F.col("w.start").cast("long") / delta_seconds)
            .cast("long")
            .alias("frame_id"),
            "actor1",
            "actor2",
            "weight",
        )
    )


EDGE_SCHEMA = StructType(
    [
        StructField("frame_id", LongType()),
        StructField("actor1", LongType()),
        StructField("actor2", LongType()),
        StructField("weight", LongType()),
    ]
)
# flush rows cross the Python->JVM boundary as ONE row per completed
# frame (sorted actor/count arrays); the quadratic pair expansion runs
# JVM-side (guide §4.1/§2.3: move metadata, not the payload, across the
# Python boundary — n*(n-1)/2 rows never pay Arrow serialization)
_FLUSH_SCHEMA = StructType(
    [
        StructField("frame_id", LongType()),
        StructField("actors", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)
_EDGE_STATE_SCHEMA = StructType(
    [
        StructField("actors", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
        StructField("overflow", BooleanType()),
    ]
)


def stateful_frame_edges(
    events: DataFrame,
    delta_seconds: int = 3600,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
    max_actors_per_frame: int | None = None,
) -> DataFrame:
    """Streaming frame edges with O(actors-per-frame) state and the
    batch hot-frame guard.

    Keyed by frame_id; state is the frame's actor->count map, merged
    vectorized per micro-batch (pandas groupby, no per-row Python).
    When the event-time timeout fires (watermark past frame end), the
    frame is provably complete: emit all canonical pairs with
    weight = n1*n2 and drop the state. A frame whose DISTINCT actor
    count exceeds ``max_actors_per_frame`` becomes an O(1) overflow
    marker and emits nothing — byte-identical drop semantics to
    ingest.presence_to_frame_interactions(max_actors_per_frame=...),
    so one near-clique frame (stadium, bot storm) can neither blow up
    state nor dominate the flush shuffle.

    Drain cost is per state partition, not codegen (each task pays a
    state commit and a Python-runner setup, empty or not), so runners
    start this through ``drain.start_bounded_drain``, sized to the cores.
    """
    import numpy as np
    import pandas as pd

    delta_ms = delta_seconds * 1000
    cap = max_actors_per_frame

    def fn(key, pdfs, state):  # noqa: ANN001
        (frame_id,) = key
        if state.hasTimedOut:
            actors, counts, overflow = state.get
            state.remove()
            if overflow or len(actors) < 2:
                yield pd.DataFrame(
                    {"frame_id": [], "actors": [], "counts": []}
                )
                return
            # ONE row per completed frame: the sorted actor/count
            # arrays. The n*(n-1)/2 canonical pair expansion used to
            # happen here (numpy triu) and flood the Python->JVM Arrow
            # boundary with millions of 32-byte rows; it now runs
            # JVM-side in the generator projection below, so only
            # O(actors-per-frame) values are serialized per frame
            a_arr = np.asarray(actors, dtype=np.int64)
            c_arr = np.asarray(counts, dtype=np.int64)
            order = np.argsort(a_arr)
            yield pd.DataFrame(
                {
                    "frame_id": [int(frame_id)],
                    "actors": [a_arr[order]],
                    "counts": [c_arr[order]],
                }
            )
            return

        if state.exists:
            actors, counts, overflow = state.get
        else:
            actors, counts, overflow = [], [], False

        if not overflow:
            merged = dict(zip(actors, counts))
            for pdf in pdfs:
                batch = pdf[user_col].value_counts()
                for actor, n in batch.items():
                    merged[int(actor)] = merged.get(int(actor), 0) + int(n)
            if cap is not None and len(merged) > cap:
                actors, counts, overflow = [], [], True
            else:
                actors = list(merged.keys())
                counts = [merged[a] for a in actors]
        else:
            for pdf in pdfs:
                pass  # overflowed: consume and discard, state stays O(1)

        state.update((actors, counts, overflow))
        # flush when the watermark proves the frame complete
        frame_end_ms = (int(frame_id) + 1) * delta_ms
        state.setTimeoutTimestamp(
            max(frame_end_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame({"frame_id": [], "actors": [], "counts": []})

    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    flush = (
        df.select(
            (F.unix_timestamp(F.col(ts_col)) / delta_seconds)
            .cast("long")
            .alias("frame_id"),
            F.col(user_col),
            # the watermarked event-time column must survive the
            # projection or EventTimeTimeout has no watermark to track
            F.col(ts_col),
        )
        .groupBy("frame_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_FLUSH_SCHEMA,
            stateStructType=_EDGE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
    # JVM-side canonical pair expansion over the sorted arrays: two
    # stateless whole-stage-codegen generators, identical output to the
    # old in-Python triu expansion (actors ascending => actor1 < actor2).
    # sequence(0, size-2) needs size >= 2 (Spark's sequence runs
    # DESCENDING for start > stop — a size-1 array would emit [0, -1]);
    # the Python side only ever yields frames with >= 2 actors, and the
    # where() keeps the invariant locally explicit.
    return (
        flush.where(F.size("actors") >= 2)
        .select(
            "frame_id",
            "actors",
            "counts",
            F.explode(F.expr("sequence(0, size(actors) - 2)")).alias("i"),
        )
        .select(
            "frame_id",
            F.expr("actors[i]").alias("actor1"),
            F.expr("counts[i]").alias("c1"),
            F.expr("slice(actors, i + 2, size(actors) - i - 1)").alias("a2s"),
            F.expr("slice(counts, i + 2, size(counts) - i - 1)").alias("c2s"),
        )
        .select(
            "frame_id",
            "actor1",
            F.posexplode("a2s").alias("p", "actor2"),
            "c1",
            "c2s",
        )
        .select(
            "frame_id",
            "actor1",
            "actor2",
            (F.col("c1") * F.expr("c2s[p]")).cast("long").alias("weight"),
        )
    )


def _stage_with_sentinel(
    spark,  # noqa: ANN001
    parquet_path: str,
    schema,  # noqa: ANN001
    type_values: tuple[str, ...] = (),
    type_col: str = "event_type",
    stagger_seconds: int = 3600,
) -> str:
    """Stage the input files plus a SENTINEL event far past the real
    data (alone in its own frame, so it can never produce a pair).

    Append-mode stateful operators only emit what the watermark has
    passed, and a drained stream's watermark stops at max_ts - delay —
    the trailing frames would be withheld forever. The sentinel pushes
    the final watermark beyond every real frame: the streaming
    equivalent of an end-of-stream flush marker.

    The ts arrival type (legacy long nanos vs timestamp/timestamp_ntz)
    is derived from ``schema``; the sentinel is built from the MAX-ts
    row plus the horizon, so it sits past every real frame regardless
    of type (an arbitrary limit(1) row's ts + horizon need not).

    ``type_values``: when the downstream plan filters the stream by
    ``type_col`` into separate branches, Catalyst pushes those filters
    BELOW the EventTimeWatermark node — so a branch whose type the
    single sentinel doesn't carry never observes it and its watermark
    stalls at its own last real event, stranding the trailing windows
    in state. Passing the filtered-on values stages one sentinel PER
    value, each a further ``stagger_seconds`` apart so no two
    sentinels can fall inside one frame/spell and pair with each
    other.
    """
    import os
    import tempfile

    import pyspark.sql.functions as F_
    from pyspark.sql.types import LongType as _Long

    stage = tempfile.mkdtemp(prefix="dynagraph_edges_src_")
    # absolute symlink targets: os.symlink stores the string verbatim,
    # so a relative parquet_path would resolve relative to the temp
    # dir — a broken link the file source reads as zero files (see
    # streaming/staging.py)
    parquet_abs = os.path.abspath(parquet_path)
    if os.path.isfile(parquet_abs):
        os.symlink(parquet_abs, os.path.join(stage, os.path.basename(parquet_abs)))
    else:
        for f in os.listdir(parquet_abs):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(parquet_abs, f), os.path.join(stage, f))
    batch_df = spark.read.schema(schema).parquet(parquet_path)
    horizon_s = 7 * 24 * 3600
    last = batch_df.orderBy(F_.col("ts").desc_nulls_last()).limit(1)
    if last.isEmpty():
        raise ValueError(f"no rows under {parquet_path}; nothing to stream")
    def _advanced(df, seconds):  # noqa: ANN001, ANN202
        if isinstance(schema["ts"].dataType, _Long):
            return df.withColumn(
                "ts", (F_.col("ts") + F_.lit(seconds * 1_000_000_000)).cast("long")
            )
        # timestamp / timestamp_ntz: interval addition preserves the
        # exact column type, so the staged sentinel file's physical
        # parquet type matches the real files under the one schema
        return df.withColumn(
            "ts", F_.col("ts") + F_.expr(f"INTERVAL {seconds} SECONDS")
        )

    if type_values:
        parts = [
            _advanced(last, horizon_s + i * stagger_seconds).withColumn(
                type_col, F_.lit(v)
            )
            for i, v in enumerate(type_values)
        ]
        sentinel = parts[0]
        for p in parts[1:]:
            sentinel = sentinel.unionByName(p)
    else:
        sentinel = _advanced(last, horizon_s)
    sentinel.write.mode("overwrite").parquet(os.path.join(stage, "_sentinel"))
    for f in os.listdir(os.path.join(stage, "_sentinel")):
        if f.endswith(".parquet"):
            os.rename(
                os.path.join(stage, "_sentinel", f),
                os.path.join(stage, f"zz_sentinel_{f}"),
            )
    return stage


def streaming_frame_edges_from_parquet(
    spark,  # noqa: ANN001
    parquet_path: str,
    schema,  # noqa: ANN001
    delta_seconds: int = 3600,
    ts_is_nanos: bool | None = None,  # retained for API compat; ignored
) -> DataFrame:
    """Bounded-drain runner for the join form (Trigger.AvailableNow,
    parquet sink): returns the finalized edge set for differential
    testing against the batch operator. The ts arrival type is derived
    from ``schema`` (``ts_is_nanos`` is ignored — the flag was always
    implied by the schema and hardcoding it broke when the testdata's
    physical type changed)."""
    from neo4j_dynagraph_spark.sources.tables import normalize_stream_ts

    stage = _stage_with_sentinel(spark, parquet_path, schema)
    stream = spark.readStream.schema(schema).parquet(stage)
    stream = normalize_stream_ts(spark, stream, schema)
    edges = stream_frame_edges(stream, delta_seconds)
    return drain_stream_to_parquet(edges, "stream_edges")


def stateful_frame_edges_from_parquet(
    spark,  # noqa: ANN001
    parquet_path: str,
    schema,  # noqa: ANN001
    delta_seconds: int = 3600,
    ts_is_nanos: bool | None = None,  # retained for API compat; ignored
    max_actors_per_frame: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Bounded-drain runner for the stateful (hot-frame-guarded) form.
    ts arrival type derived from ``schema`` (see join-form runner).

    ``max_files_per_trigger`` caps files per micro-batch: pointed at a
    directory of time-ordered files with cap 1, a frame's actor map is
    forced to accumulate ACROSS micro-batches before its event-time
    timeout flushes it — the state-carry path the single-batch drain
    never exercises."""
    from neo4j_dynagraph_spark.sources.tables import normalize_stream_ts

    stage = _stage_with_sentinel(spark, parquet_path, schema)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        reader = reader.option("latestFirst", "false")
    stream = reader.parquet(stage)
    stream = normalize_stream_ts(spark, stream, schema)
    return drain_stream_to_parquet(
        stateful_frame_edges(
            stream, delta_seconds, max_actors_per_frame=max_actors_per_frame
        ),
        "stream_edges_stateful",
    )


def streaming_degree_from_parquet(
    spark,  # noqa: ANN001
    parquet_path: str,
    schema,  # noqa: ANN001
    delta_seconds: int = 3600,
    edge_builder: str = "stateful",
) -> DataFrame:
    """Incrementally-maintained degree view (the streaming
    materialized-view pattern, T2+T4): the finalized co-presence edge
    stream drains through foreachBatch into a versioned canonical-pair
    DIMENSION (DimensionStore merge-on-key — idempotent under
    micro-batch replay, atomic pointer-flip commits), and degree is a
    read of the materialized dimension: union of endpoints + count,
    exactly QUERY10's semantics. At scale the store is the incremental
    alternative to recomputing q10's full-history distinct: each
    micro-batch merges O(new pairs), not O(all pairs ever).

    edge_builder picks the upstream operator: 'stateful' (default) uses
    the applyInPandasWithState builder whose state is O(actors in
    open frames) — measured 93 state rows / 4 MB while emitting 633M
    edge rows at generator-sf1; 'join' uses the stream-stream self-join
    whose state is O(edges in the watermark horizon) (80.8M rows at
    the same scale — needs the RocksDB state store above laptop SFs).
    Both produce identical finalized edges (each is parity-checked
    against the batch oracle)."""
    import tempfile

    from neo4j_dynagraph_spark.sources.tables import normalize_stream_ts
    from neo4j_dynagraph_spark.streaming.upsert import DimensionStore

    if edge_builder not in ("stateful", "join"):
        raise ValueError(f"unknown edge_builder: {edge_builder!r}")
    stage = _stage_with_sentinel(spark, parquet_path, schema)
    stream = spark.readStream.schema(schema).parquet(stage)
    stream = normalize_stream_ts(spark, stream, schema)
    build = stateful_frame_edges if edge_builder == "stateful" else stream_frame_edges
    edges = build(stream, delta_seconds)
    store = DimensionStore(
        spark, tempfile.mkdtemp(prefix="dynagraph_pairdim_"), ["actor1", "actor2"]
    )
    start_bounded_drain(
        edges, lambda batch, _: store.merge(batch.select("actor1", "actor2"))
    )
    pairs = store.read()
    if pairs is None:
        raise ValueError(f"no edges drained from {parquet_path}")
    ends = pairs.select(F.col("actor1").alias("actor")).unionByName(
        pairs.select(F.col("actor2").alias("actor"))
    )
    return ends.groupBy("actor").agg(F.count(F.lit(1)).alias("degree"))
