"""The bounded-drain starter (streaming/drain.py:start_bounded_drain):
state sized to the cores, session conf untouched, restarts honouring
the partition count stored in an existing checkpoint."""

from __future__ import annotations

import os

import pytest

from neo4j_dynagraph_spark.streaming.drain import start_bounded_drain

SHUFFLE = "spark.sql.shuffle.partitions"


def _state_partitions(ckpt: str) -> int:
    return sum(1 for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit())


def _write_keys(spark, path: str, keys: list[int]) -> None:  # noqa: ANN001
    spark.createDataFrame([(k,) for k in keys], "k long").coalesce(1).write.mode(
        "append"
    ).parquet(path)


@pytest.fixture
def odd_partitions(spark):
    """Session shuffle partitions set to a count no core count equals,
    so a state store sized from the session conf cannot pass as sized
    from the cores; restored afterwards."""
    before = spark.conf.get(SHUFFLE)
    odd = str(2 * spark.sparkContext.defaultParallelism + 1)
    spark.conf.set(SHUFFLE, odd)
    yield odd
    spark.conf.set(SHUFFLE, before)


def test_stateful_drain_has_one_state_partition_per_core(
    spark, tmp_path, odd_partitions
):
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    _write_keys(spark, src, [1, 2, 2, 3, 3, 3])
    stream = spark.readStream.schema("k long").parquet(src)
    start_bounded_drain(
        stream.dropDuplicates(["k"]), "parquet", checkpoint=ckpt, path=out
    )
    assert _state_partitions(ckpt) == spark.sparkContext.defaultParallelism
    assert spark.conf.get(SHUFFLE) == odd_partitions
    got = sorted(r.k for r in spark.read.schema("k long").parquet(out).collect())
    assert got == [1, 2, 3]


def test_shuffle_partitions_restored_when_start_raises(
    spark, tmp_path, odd_partitions
):
    src = str(tmp_path / "src")
    _write_keys(spark, src, [1])
    stream = spark.readStream.schema("k long").parquet(src)
    # complete mode without an aggregation is rejected inside start()
    with pytest.raises(Exception, match="(?i)complete"):
        start_bounded_drain(stream, "memory", "complete", query_name="never_runs")
    assert spark.conf.get(SHUFFLE) == odd_partitions


def test_restart_keeps_stored_state_partition_count(spark, tmp_path, odd_partitions):
    """A checkpoint written at another state-partition count (a drain
    started before the starter existed) keeps that count on a
    ``restarts=1`` drain, and its carried state still deduplicates:
    keys seen before the restart are not emitted again."""
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    _write_keys(spark, src, [1, 2, 3])
    dedup = spark.readStream.schema("k long").parquet(src).dropDuplicates(["k"])
    first = (
        dedup.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    first.awaitTermination()
    assert _state_partitions(ckpt) == int(odd_partitions)

    _write_keys(spark, src, [2, 3, 4, 5])
    start_bounded_drain(
        dedup, "parquet", checkpoint=ckpt, restarts=1, path=out
    )
    assert _state_partitions(ckpt) == int(odd_partitions)
    got = sorted(r.k for r in spark.read.schema("k long").parquet(out).collect())
    assert got == [1, 2, 3, 4, 5]
    assert spark.conf.get(SHUFFLE) == odd_partitions


def test_concurrent_drains_restore_session_conf(spark, tmp_path, odd_partitions):
    # more concurrent drains than cores on ONE session, with a short
    # switch interval to interleave the threads: every drain's state is
    # still sized to the cores, and no interleaving of the
    # set/start/restore steps may leave the session at the core count
    import sys
    from concurrent.futures import ThreadPoolExecutor

    n = 3 * spark.sparkContext.defaultParallelism
    src = str(tmp_path / "src")
    _write_keys(spark, src, [1, 1, 2])
    stream = spark.readStream.schema("k long").parquet(src).dropDuplicates(["k"])
    ckpts = [str(tmp_path / f"ckpt{i}") for i in range(n)]

    def drain(i: int) -> None:
        out = str(tmp_path / f"out{i}")
        start_bounded_drain(stream, "parquet", checkpoint=ckpts[i], path=out)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n) as pool:
            for f in [pool.submit(drain, i) for i in range(n)]:
                f.result(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert spark.conf.get(SHUFFLE) == odd_partitions
    cores = spark.sparkContext.defaultParallelism
    assert all(_state_partitions(c) == cores for c in ckpts)
