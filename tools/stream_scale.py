"""Streaming drains at generator scale: wall clock + state-store size.

The batch sf1 study (SCALE.md) validates the batch plans at 10x input;
this validates the STREAMING paths' state claim — O(actors-per-frame)
state for the stateful edge builder, O(new pairs) per micro-batch for
the incrementally-maintained degree view — under the generator's 10x
event density. State metrics come from StreamingQueryProgress
(stateOperators[].numRowsTotal / memoryUsedBytes), the same numbers a
production monitor would alert on.

Usage:

    python tools/stream_scale.py [sf_dir] [n_chunks] [query,query,...]

Set DYNAGRAPH_ROCKSDB_STATE=1 to drain through the RocksDB state
store (the spill-to-disk provider a production deployment would use
for O(edges)-sized state).

sf_dir defaults to /tmp/genscale/sf1 (tools/gen_scale.py output).
n_chunks > 1 re-stages events.parquet as n time-ordered files with
maxFilesPerTrigger=1, forcing frames to accumulate state ACROSS
micro-batches — the state-carry regime a long-running deployment
actually sits in (a single-file AvailableNow drain sees one giant
batch and understates steady-state state size).

Prints one JSON line per drained query:
    {"query": ..., "rows": N, "wall_sec": S,
     "state_rows_peak": N, "state_mem_peak_mb": M, "batches": B}
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo4j_dynagraph_spark import get_spark  # noqa: E402
from neo4j_dynagraph_spark.streaming.drain import start_bounded_drain  # noqa: E402


def _chunked_stage(spark, events_path: str, schema, n_chunks: int) -> str:
    """Re-stage events as n_chunks time-ordered parquet files plus the
    far-future sentinel (same flush contract as _stage_with_sentinel)."""
    import pyspark.sql.functions as F

    from neo4j_dynagraph_spark.streaming.edges import _stage_with_sentinel

    if n_chunks <= 1:
        return _stage_with_sentinel(spark, events_path, schema)
    stage = tempfile.mkdtemp(prefix="dynagraph_chunks_")
    df = spark.read.schema(schema).parquet(events_path).orderBy("ts")
    n = df.count()
    per = (n + n_chunks - 1) // n_chunks
    chunk = (F.monotonically_increasing_id() / per).cast("long")
    # write each time-ordered chunk as one file, lexicographic order ==
    # time order so maxFilesPerTrigger=1 + latestFirst=false replays
    # the stream in event-time order
    pdf_dir = os.path.join(stage, "parts")
    (
        df.coalesce(1)
        .withColumn("_chunk", chunk)
        .write.partitionBy("_chunk")
        .mode("overwrite")
        .parquet(pdf_dir)
    )
    idx = 0
    for sub in sorted(os.listdir(pdf_dir)):
        if not sub.startswith("_chunk="):
            continue
        for f in sorted(os.listdir(os.path.join(pdf_dir, sub))):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(pdf_dir, sub, f),
                    os.path.join(stage, f"chunk_{idx:05d}.parquet"),
                )
                idx += 1
    # sentinel past every real frame (reuse the canonical builder on a
    # single-file stage, then move its sentinel file in)
    single = _stage_with_sentinel(spark, events_path, schema)
    for f in os.listdir(single):
        if f.startswith("zz_sentinel"):
            os.rename(os.path.join(single, f), os.path.join(stage, f))
    return stage


def _drain_with_metrics(spark, stream_df, output_mode: str):  # noqa: ANN001
    """AvailableNow drain to a PARQUET sink, returning (rows, wall_sec,
    state_rows_peak, state_mem_peak_mb, n_batches).

    A parquet sink, not memory: at sf1 the per-frame edge stream is
    O(10^8) rows, and accumulating that in a driver-side memory sink is
    exactly the collect-the-enumeration anti-pattern SCALE.md warns
    about. Parquet is also the terminal a production drain would use,
    so the wall-clock includes the real sink cost. (Parquet sinks only
    support append mode; every drain here is append.)
    """
    if output_mode != "append":
        raise ValueError("parquet scale drain supports append mode only")
    out = tempfile.mkdtemp(prefix="dynagraph_scale_out_")
    t0 = time.perf_counter()
    q = start_bounded_drain(stream_df, "parquet", output_mode, path=out)
    wall = time.perf_counter() - t0
    rows_peak = mem_peak = batches = 0
    for p in q.recentProgress:
        batches += 1
        for op in p.get("stateOperators", []):
            rows_peak = max(rows_peak, op.get("numRowsTotal", 0))
            mem_peak = max(mem_peak, op.get("memoryUsedBytes", 0))
    n = spark.read.parquet(out).count()
    return n, wall, rows_peak, mem_peak / 1e6, batches


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/genscale/sf1"
    n_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    spark = get_spark("stream-scale")
    if os.environ.get("DYNAGRAPH_ROCKSDB_STATE") == "1":
        # large-state drains (the join variant at sf>=1 holds O(edges)
        # state) belong in the spill-to-disk store, not the default
        # memory-backed HDFSBackedStateStore
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    spark.sparkContext.setLogLevel("ERROR")

    from neo4j_dynagraph_spark.sources.tables import normalize_stream_ts
    from neo4j_dynagraph_spark.streaming.edges import (
        stateful_frame_edges,
        stream_frame_edges,
    )

    events_path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(events_path).schema
    stage = _chunked_stage(spark, events_path, schema, n_chunks)

    def reader():
        r = spark.readStream.schema(schema)
        if n_chunks > 1:
            r = r.option("maxFilesPerTrigger", "1").option("latestFirst", "false")
        return normalize_stream_ts(spark, r.parquet(stage), schema)

    for name, build, mode in [
        ("stream_edges_stateful", lambda s: stateful_frame_edges(s), "append"),
        ("stream_edges_join", lambda s: stream_frame_edges(s), "append"),
    ]:
        if only is not None and name not in only:
            continue
        n, wall, rp, mm, nb = _drain_with_metrics(spark, build(reader()), mode)
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    "n_chunks": n_chunks,
                    "rows": n,
                    "wall_sec": round(wall, 1),
                    "state_rows_peak": rp,
                    "state_mem_peak_mb": round(mm, 1),
                    "batches": nb,
                }
            ),
            flush=True,
        )

    # incrementally-maintained degree view (foreachBatch upsert): state
    # lives in the parquet-backed DimensionStore, so report the store's
    # final size instead of a state-store peak
    from neo4j_dynagraph_spark.streaming.edges import streaming_degree_from_parquet

    if only is not None and "stream_degree_view" not in only:
        return
    t0 = time.perf_counter()
    deg = streaming_degree_from_parquet(spark, events_path, schema)
    n = deg.count()
    print(
        json.dumps(
            {
                "query": "stream_degree_view",
                "sf_dir": sf_dir,
                "rows": n,
                "wall_sec": round(time.perf_counter() - t0, 1),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
