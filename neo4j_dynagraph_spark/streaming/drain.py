"""Bounded drains: one starter, two sinks.

Every stateful drain starts through ``start_bounded_drain``, which
sizes the state store to the cores: each micro-batch task pays a
state-store commit (and, under applyInPandasWithState, a Python-runner
setup) even for an empty state partition. At the batch default of 32
partitions that constant, not codegen or the data, dominated small
drains (q_stream_edges_stateful, 4 cores, sf0.01: 19.5-23.4 s at 32
state partitions, 4.7-5.2 s at 4, same output).

Memory-sink drains return through ``snapshot_and_drop``, so at most ONE
copy of a drained result stays live: a sink left registered parks its
full result in the driver heap for the life of the process.
"""

from __future__ import annotations

import tempfile
import threading
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
# two drains starting at once on one session would otherwise restore
# each other's value and leave the session at the core count
_START_LOCK = threading.Lock()


def start_bounded_drain(
    stream_df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    output_mode: str = "append",
    checkpoint: str | None = None,
    query_name: str | None = None,
    restarts: int = 0,
    **options: str,
) -> StreamingQuery:
    """Run ``stream_df`` to completion with Trigger.AvailableNow and one
    state partition per core (``defaultParallelism``); return the
    terminated query, whose ``recentProgress`` holds the per-batch split.

    ``sink`` is a sink format (``"parquet"``, ``"memory"``) or a
    foreachBatch function; ``options`` go to the writer (e.g. ``path``);
    ``checkpoint`` defaults to a fresh temp dir.

    The query clones the session at ``start()`` and stores the clone's
    shuffle-partition count in the checkpoint's offset metadata, so the
    conf is changed around ``start()`` only and restored in a
    ``finally``: batch plans never see it. A restart against an
    existing checkpoint uses the stored count, whatever the conf says,
    so its state stays addressable.

    ``restarts``: extra AvailableNow runs against the SAME checkpoint,
    for stateful chains deep enough that one run leaves final windows
    in state (each stateful operator takes a no-data batch to advance
    its watermark). The chains in this repo finalize without them once
    every branch sees the end-of-stream sentinel (edges).
    """
    spark = stream_df.sparkSession
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="dynagraph_ckpt_")
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    writer = writer.format(sink) if isinstance(sink, str) else writer.foreachBatch(sink)
    if query_name is not None:
        writer = writer.queryName(query_name)
    for key, value in options.items():
        writer = writer.option(key, value)
    cores = str(spark.sparkContext.defaultParallelism)
    for _ in range(1 + restarts):
        with _START_LOCK:
            previous = spark.conf.get(_SHUFFLE_PARTITIONS)
            spark.conf.set(_SHUFFLE_PARTITIONS, cores)
            try:
                query = writer.start()
            finally:
                spark.conf.set(_SHUFFLE_PARTITIONS, previous)
        query.awaitTermination()
    return query


def snapshot_and_drop(spark: SparkSession, sink_name: str) -> DataFrame:
    """Materialize a terminated memory sink into checkpointed blocks
    (MEMORY_AND_DISK, freed by the ContextCleaner with the returned
    DataFrame) and drop the sink's view.

    For SMALL drained results only (windowed aggregates, session
    summaries): the memory sink buffers every row in the driver heap.
    Large-output drains (the co-presence edge sets) use
    :func:`drain_stream_to_parquet`, which never routes data through
    the driver.
    """
    out = spark.table(sink_name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink_name)
    return out


def drain_stream_to_memory(
    stream_df: DataFrame, prefix: str, output_mode: str = "append"
) -> DataFrame:
    """Bounded drain through a uniquely named memory sink, returned via
    :func:`snapshot_and_drop` — for SMALL results only (see there)."""
    sink_name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    start_bounded_drain(stream_df, "memory", output_mode, query_name=sink_name)
    return snapshot_and_drop(stream_df.sparkSession, sink_name)


def drain_stream_to_parquet(
    stream_df: DataFrame,
    prefix: str,
    base_dir: str | None = None,
    restarts: int = 0,
) -> DataFrame:
    """Bounded drain of an append-mode stream through a DISTRIBUTED
    file sink; returns the batch DataFrame reading it back. Rows go
    executor -> files -> executor: the driver never holds the result,
    so drain size is bounded by storage, not driver heap — the only
    drain shape that survives a 100 TB stream. ``restarts`` as in
    :func:`start_bounded_drain`.

    ``base_dir`` is where the sink and checkpoint directories are
    created. On a multi-node cluster it MUST be a path on a SHARED
    filesystem visible to every executor (HDFS/S3A/NFS) — executors
    write the sink files, the driver-side read-back lists them, and a
    node-local path would scatter the files across machines. The
    default (``None`` -> ``tempfile.mkdtemp()``) is the local-mode
    convenience only, where driver and executors share one disk.
    """
    if base_dir is None:  # checkpoint: the starter's fresh temp dir
        out_dir, ckpt = tempfile.mkdtemp(prefix=f"dynagraph_{prefix}_out_"), None
    else:
        run = uuid.uuid4().hex[:12]
        out_dir = f"{base_dir.rstrip('/')}/dynagraph_{prefix}_out_{run}"
        ckpt = f"{base_dir.rstrip('/')}/dynagraph_{prefix}_ckpt_{run}"
    start_bounded_drain(
        stream_df, "parquet", checkpoint=ckpt, restarts=restarts, path=out_dir
    )
    # explicit schema: an all-empty drain leaves no files to infer from
    return stream_df.sparkSession.read.schema(stream_df.schema).parquet(out_dir)
