"""Traced-run instrumentation, all of it outside the program.

Spans are recorded from the benchmark's own calls into each layer
(construct, plan, execute, materialize, and each streaming micro-batch)
and kept in memory until the run ends. Counters are read at the same
boundaries from what Spark already keeps:

- the DAGScheduler's job counter and the status store's per-stage task
  metrics (jobs, stages, tasks, run time, GC, shuffle, spill);
- the codegen compile counter and timer;
- a QueryExecutionListener that walks each finished execution's
  physical plan for SQL metrics (scans, the filter above each scan,
  exchanges, Python exec nodes);
- a StreamingQueryListener for micro-batch phases and state size;
- the SparkContext's persistent RDDs and the hub staging directory for
  materialization barriers.

Nothing here runs in an untraced run.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter

from py4j.protocol import Py4JJavaError
from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql.streaming import StreamingQueryListener

from neo4j_dynagraph_spark.operators import hub

_STAGE_WRAPPERS = {
    "AdaptiveSparkPlan": "executedPlan",
    "ShuffleQueryStage": "plan",
    "BroadcastQueryStage": "plan",
    "TableCacheQueryStage": "plan",
    "ResultQueryStage": "plan",
}
# nodes a scan's rows pass through unchanged on their way to a filter
_PASS_THROUGH = {"ColumnarToRow", "InputAdapter", "WholeStageCodegen"}


class Spans:
    """In-memory span log: name, start, end, parent, op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None, op_id: str) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "op_id": op_id}
            )
            return sid

    def timed(self, name: str, parent: int | None, op_id: str, fn):  # noqa: ANN001, ANN201
        """Run ``fn()`` inside a span; return (result, seconds)."""
        t0 = time.perf_counter()
        out = fn()
        t1 = time.perf_counter()
        self.add(name, t0, t1, parent, op_id)
        return out, t1 - t0


def _metric(node, key: str) -> int:  # noqa: ANN001
    opt = node.metrics().get(key)
    return max(0, int(opt.get().value())) if opt.isDefined() else 0


class PlanListener:
    """QueryExecutionListener: sums SQL metrics over every finished
    execution's final physical plan (AQE stages included)."""

    def __init__(self) -> None:
        self.totals: Counter = Counter()
        self._lock = threading.Lock()

    def take(self) -> Counter:
        with self._lock:
            out, self.totals = self.totals, Counter()
        return out

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: ANN001, N802
        found: Counter = Counter()
        try:
            self._walk(qe.executedPlan(), found)
        except Exception:  # noqa: BLE001 — a listener must never fail the query
            found["plan_walk_errors"] += 1
        found["executions"] += 1
        with self._lock:
            self.totals.update(found)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: ANN001, N802
        with self._lock:
            self.totals["failed_executions"] += 1

    @staticmethod
    def _walk(root, found: Counter) -> None:  # noqa: ANN001
        stack = [(root, None)]  # (node, rows out of the filter above it)
        while stack:
            node, filter_rows = stack.pop()
            name = node.nodeName()
            if name in _STAGE_WRAPPERS:
                stack.append((getattr(node, _STAGE_WRAPPERS[name])(), filter_rows))
                continue
            if name == "ReusedExchange":
                continue
            if name in ("Exchange", "BroadcastExchange"):
                found["exchanges"] += 1
            if name.startswith("Scan ") and node.metrics().contains("numFiles"):
                rows = _metric(node, "numOutputRows")
                found["scan_rows"] += rows
                found["scan_bytes"] += _metric(node, "filesSize")
                found["scan_useful_rows"] += rows if filter_rows is None else filter_rows
            if "Python" in name or "InPandas" in name or "Arrow" in name:
                found["python_rows"] += _metric(node, "pythonNumRowsReceived")
                found["python_bytes"] += _metric(node, "pythonDataSent") + _metric(
                    node, "pythonDataReceived"
                )
            if name == "Filter":
                below = _metric(node, "numOutputRows")
            elif name in _PASS_THROUGH:
                below = filter_rows
            else:
                below = None
            children = node.children()
            for i in range(children.size()):
                stack.append((children.apply(i), below))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class StreamListener(StreamingQueryListener):
    """Per micro-batch phases and state size, plus one span per batch
    under the op that was running when the batch finished."""

    def __init__(self, spans: Spans) -> None:
        self.spans = spans
        self.current: tuple[str, int | None] = ("", None)
        self.totals: Counter = Counter()
        self._lock = threading.Lock()

    def take(self) -> Counter:
        with self._lock:
            out, self.totals = self.totals, Counter()
        return out

    def onQueryStarted(self, event) -> None:  # noqa: ANN001, N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: ANN001, N802
        p = event.progress
        dur = p.durationMs
        end = time.perf_counter()
        op_id, parent = self.current
        self.spans.add(
            f"batch:{p.name or p.id}:{p.batchId}",
            end - dur.get("triggerExecution", 0) / 1000,
            end,
            parent,
            op_id,
        )
        with self._lock:
            t = self.totals
            t["batches"] += 1
            t["add_batch_ms"] += dur.get("addBatch", 0)
            t["query_planning_ms"] += dur.get("queryPlanning", 0)
            t["wal_commit_ms"] += dur.get("walCommit", 0)
            # state is a level, not a flow: keep each op's largest
            t["state_rows"] = max(t["state_rows"], sum(s.numRowsTotal for s in p.stateOperators))
            t["state_bytes"] = max(t["state_bytes"], sum(s.memoryUsedBytes for s in p.stateOperators))

    def onQueryIdle(self, event) -> None:  # noqa: ANN001, N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: ANN001, N802
        pass


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class SparkCounters:
    """Snapshots of Spark's own counters, and deltas between two."""

    def __init__(self, spark) -> None:  # noqa: ANN001
        sc = spark.sparkContext
        self.jsc = sc._jsc
        self.ssc = sc._jsc.sc()
        self.store = self.ssc.statusStore()
        jvm = sc._jvm
        self.codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def settle(self) -> None:
        """Wait until every posted listener event has been delivered."""
        self.ssc.listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict:
        root = hub._SPILL_ROOT
        return {
            "job": self.ssc.dagScheduler().nextJobId(),
            "compiles": self.compiles.getCount(),
            "compile_ns": self.codegen.compileTime(),
            "rdds": set(self.jsc.getPersistentRDDs().keySet()),
            "staged": set(os.listdir(root)) if root and os.path.isdir(root) else set(),
        }

    def delta(self, before: dict) -> Counter:
        """Counters accrued since ``before`` (call :meth:`settle` first)."""
        now = self.snapshot()
        out: Counter = Counter()
        out["jobs"] = now["job"] - before["job"]
        out["codegen_compiles"] = now["compiles"] - before["compiles"]
        out["codegen_compile_ns"] = now["compile_ns"] - before["compile_ns"]
        stage_ids: set[int] = set()
        for job in range(before["job"], now["job"]):
            try:
                ids = self.store.job(job).stageIds()
            except Py4JJavaError:  # the status store has evicted the job
                continue
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, None, False, self.no_quantiles)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                done = s.numCompleteTasks()
                if not done:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += done
                out["task_run_ms"] += s.executorRunTime()
                out["gc_ms"] += s.jvmGcTime()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        new_rdds = now["rdds"] - before["rdds"]
        out["barriers"] = len(new_rdds)
        if new_rdds:
            infos = self.store.rddList(True)
            for i in range(infos.size()):
                info = infos.apply(i)
                if info.id() in new_rdds:
                    out["barrier_bytes"] += info.memoryUsed() + info.diskUsed()
        staged = now["staged"] - before["staged"]
        out["barriers"] += len(staged)
        out["barrier_bytes"] += sum(dir_bytes(os.path.join(hub._SPILL_ROOT, d)) for d in staged)
        return out


class Tracer:
    """Everything a traced pass needs, registered once per session."""

    def __init__(self, spark) -> None:  # noqa: ANN001
        self.spans = Spans()
        self.counters = SparkCounters(spark)
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.plans = PlanListener()
        spark._jsparkSession.listenerManager().register(self.plans)
        self.streams = StreamListener(self.spans)
        spark.streams.addListener(self.streams)
