"""The repository's benchmark: one workload, one process, one result line.

    python3 perfbench/run.py --workload graph_iterative --seed 1 \\
        --seconds 1 --trace 0

Load model: closed loop, one client, one operation at a time, on
``local[<cores>]``. The run

1. generates the inputs from ``--seed`` into a per-run working directory
   under ``.perfbench/`` (untimed);
2. starts the session (``get_spark``) and runs the workload's warm-up
   passes, whose walls with the session start are ``setup_s``; each
   result of the first is checked against DuckDB (outside the timed
   region), and its row count and order-insensitive digest become the
   verified signature;
3. runs rotated passes over the workload's ops until ``--seconds`` have
   passed and the workload's timed-pass count has run, checking every
   result against the verified signature;
4. with ``--trace 1``, runs one untraced pass and then traced passes,
   and reports the per-layer metrics and the tracing overhead instead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it carries the details (per-op medians, input sizes,
the tail percentile and its sample count, ingest throughputs). Every
other output goes to stderr. The exit code is non-zero when any op
raised or returned a wrong result. perfbench/README.md records the
workloads, metrics and the layer-to-end-to-end mapping.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import inputs  # noqa: E402
from neo4j_dynagraph_spark import get_spark  # noqa: E402
from neo4j_dynagraph_spark.operators import ingest  # noqa: E402
from neo4j_dynagraph_spark.sources import gexf  # noqa: E402
from neo4j_dynagraph_spark.sources.tables import load_table  # noqa: E402
from tracing import Tracer, dir_bytes  # noqa: E402
from workloads import LOAD_GEXF, STREAM_OP, WORKLOADS, signature  # noqa: E402

#: JVM heap; the session factory's 16g default does not fit a shared
#: 15 GB machine.
JVM_HEAP = "2g"

E2E_UNITS = {"setup_s": "s", "pass_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.materialize_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_busy_frac": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.exchanges": "count",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.codegen_compiles": "count",
    "spark.codegen_compile_s": "s",
    "spark.python_rows": "count",
    "spark.python_bytes": "bytes",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_useful_frac": "ratio",
    "sources.gexf_parse_s": "s",
    "operators.ingest.presence_s": "s",
    "operators.ingest.edges_s": "s",
    "operators.ingest.edge_rows": "count",
    "operators.ingest.write_star_s": "s",
    "operators.ingest.bytes_written_per_input_byte": "ratio",
    "operators.hub.barriers": "count",
    "operators.hub.barrier_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="input scale; default the workload's (tests use a tiny one)")
    args = ap.parse_args(argv)
    if args.sf is None:
        args.sf = WORKLOADS[args.workload].sf
    return args


def pin_environment(run_dir: str) -> dict[str, str]:
    """Pin cores, memory and every working path under ``run_dir``;
    return the extra session confs."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
            # tempfile users: the hub staging root, stream checkpoints
            # and sinks, and the Python workers
            "TMPDIR": tmp,
            # Python workers import the package (GEXF parsing, pandas UDFs)
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "TZ": "UTC",
        }
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xlog:disable -Djava.io.tmpdir={tmp}",
    }


def stop_session(spark) -> None:  # noqa: ANN001
    """Stop the session and wait for the JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass  # peak then covers the whole process life


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and
    that percentile; the maximum (percentile 100) below 11 samples."""
    s = sorted(samples)
    if len(s) < 11:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


class Run:
    """State of one benchmark run: session, inputs, counts."""

    def __init__(self, args: argparse.Namespace, in_dir: str, work_dir: str, manifest: dict) -> None:
        self.args = args
        self.in_dir = in_dir
        self.work_dir = work_dir
        self.manifest = manifest
        self.workload = WORKLOADS[args.workload]
        self.ops = self.workload.ops
        self.attempted = 0
        self.failed = 0
        self.verified: dict[str, tuple[int, str]] = {}
        self.walls: dict[str, list[float]] = {op.name: [] for op in self.ops}
        self.passes_run = 0
        self.spark = None

    def fail(self, op_name: str, why: str) -> None:
        self.failed += 1
        log(f"FAIL {op_name}: {why}")

    def oracle_connection(self):  # noqa: ANN201
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.in_dir}/events.parquet'")
        return con

    def setup(self, extra_conf: dict[str, str]) -> tuple[float, float]:
        """Session start and the warm-up passes; the first verifies each
        result against DuckDB. Returns (session_s, setup_s)."""
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=extra_conf)
        session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        warm = 0.0
        con = self.oracle_connection()
        try:
            for op in self.ops:
                self.attempted += 1
                t = time.perf_counter()
                try:
                    result = op.finish(op.build(self.spark, self.in_dir, self.work_dir), self.work_dir)
                except Exception:  # noqa: BLE001 — one failing op must not end the run
                    warm += time.perf_counter() - t
                    self.fail(op.name, traceback.format_exc())
                    continue
                warm += time.perf_counter() - t
                problems = op.verify(con, self.in_dir, result)
                if problems:
                    self.fail(op.name, "; ".join(problems))
                    continue
                self.verified[op.name] = signature(result)
        finally:
            con.close()
        self.passes_run = 1
        for _ in range(self.workload.warmup_passes - 1):
            warm += sum(self.run_pass().values())
        return session_s, session_s + warm

    def timed_op(self, op) -> float | None:  # noqa: ANN001
        """One timed call; its wall, or None when it failed."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            result = op.finish(op.build(self.spark, self.in_dir, self.work_dir), self.work_dir)
        except Exception:  # noqa: BLE001
            self.fail(op.name, traceback.format_exc())
            return None
        wall = time.perf_counter() - t
        got = signature(result)
        if got != self.verified[op.name]:
            self.fail(op.name, f"result {got} differs from the verified {self.verified[op.name]}")
            return None
        return wall

    def live_order(self) -> list:
        """The verified ops, rotated by one more place every pass."""
        live = [op for op in self.ops if op.name in self.verified]
        shift = self.passes_run % len(live) if live else 0
        self.passes_run += 1
        return live[shift:] + live[:shift]

    def run_pass(self) -> dict[str, float]:
        """One pass; the wall of each op that succeeded."""
        out = {}
        for op in self.live_order():
            got = self.timed_op(op)
            if got is not None:
                out[op.name] = got
        return out

    def timed_passes(self, seconds: float, at_least: int) -> list[float]:
        """Passes until ``seconds`` have passed and ``at_least`` have
        run; each pass's wall."""
        passes: list[float] = []
        deadline = time.perf_counter() + seconds
        while len(passes) < at_least or time.perf_counter() < deadline:
            walls = self.run_pass()
            for name, wall in walls.items():
                self.walls[name].append(wall)
            passes.append(sum(walls.values()))
        return passes


def end_to_end(run: Run, setup_s: float, passes: list[float], rss: float) -> tuple[dict, dict]:
    """The gated metrics, and the detail line: the other end-to-end
    figures, which do not repeat within a tenth from seed to seed on
    every workload (op_p50_s, op_tail_s, peak_rss_mb) or exist on one
    workload only (load_events_per_s, drain_rows_per_s)."""
    samples = [w for ws in run.walls.values() for w in ws]
    tail_s, tail_pct = tail(samples)
    metrics = {"setup_s": setup_s, "pass_s": statistics.median(passes)}
    medians = {n: statistics.median(w) for n, w in run.walls.items() if w}
    detail = {
        "op_p50_s": statistics.median(samples),
        "op_tail_s": {"value": tail_s, "percentile": tail_pct, "samples": len(samples)},
        "peak_rss_mb": rss,
        "pass_walls_s": passes,
        "op_median_s": medians,
    }
    tables = run.manifest["tables"]
    if "load_star" in medians:
        detail["load_events_per_s"] = tables["events"]["rows"] / medians["load_star"]
    if STREAM_OP in medians:
        detail["drain_rows_per_s"] = tables["events"]["rows"] / medians[STREAM_OP]
    return metrics, detail


def traced_pass(run: Run, tracer, p: int) -> dict:  # noqa: ANN001
    """One pass with a span around every layer call; the pass's sums."""
    spans, counters = tracer.spans, tracer.counters
    sums: Counter = Counter()
    for op in run.live_order():
        op_id = f"{p}:{op.name}"
        run.attempted += 1
        counters.settle()
        tracer.plans.take()
        tracer.streams.take()
        before = counters.snapshot()
        t0 = time.perf_counter()
        root = spans.add(op.name, t0, t0, None, op_id)
        tracer.streams.current = (op_id, root)
        try:
            built, construct_s = spans.timed(
                "construct", root, op_id, lambda: op.build(run.spark, run.in_dir, run.work_dir)
            )
            construct_jobs = counters.ssc.dagScheduler().nextJobId() - before["job"]
            if op.kind == "star":
                plan_s = 0.0
                result, execute_s = spans.timed(
                    "execute", root, op_id, lambda: op.finish(built, run.work_dir)
                )
                materialize_s = 0.0
                sums["write_star_s"] += execute_s
                sums["star_bytes"] += dir_bytes(result)
            else:
                _, plan_s = spans.timed(
                    "plan", root, op_id, lambda: built._jdf.queryExecution().executedPlan()
                )
                _, execute_s = spans.timed(
                    "execute", root, op_id,
                    lambda: built.write.format("noop").mode("overwrite").save(),
                )
                result, to_pandas_s = spans.timed(
                    "materialize", root, op_id, lambda: op.finish(built, run.work_dir)
                )
                materialize_s = max(0.0, to_pandas_s - execute_s)
        except Exception:  # noqa: BLE001
            run.fail(op.name, traceback.format_exc())
            continue
        t1 = time.perf_counter()
        spans.spans[root]["end"] = t1
        if signature(result) != run.verified[op.name]:
            run.fail(op.name, "traced result differs from the verified one")
        counters.settle()
        sums.update(counters.delta(before))
        sums.update(tracer.plans.take())
        sums.update(tracer.streams.take())
        sums.update(
            {
                "op_s": t1 - t0,
                "construct_s": construct_s,
                "construct_jobs": construct_jobs,
                "plan_s": plan_s,
                "execute_s": execute_s,
                "materialize_s": materialize_s,
            }
        )
    sums.update(layer_probes(run, tracer))
    return sums


def layer_probes(run: Run, tracer) -> dict:  # noqa: ANN001
    """Direct calls into operators.ingest (and the GEXF source on the
    workload that has shards), each run to a noop sink."""
    spark, spans = run.spark, tracer.spans

    def noop(df) -> None:  # noqa: ANN001
        df.write.format("noop").mode("overwrite").save()

    presence = ingest.events_to_presence(load_table(spark, run.in_dir, "events"))
    edges = ingest.presence_to_frame_interactions(presence)
    out = {
        "presence_s": spans.timed("probe:events_to_presence", None, "probe", lambda: noop(presence))[1],
        "edges_s": spans.timed("probe:presence_to_frame_interactions", None, "probe", lambda: noop(edges))[1],
        "edge_rows": edges.count(),
    }
    if run.args.workload == "ingest_stream":
        shards = run.manifest["gexf_shards"]
        out["gexf_parse_s"] = spans.timed(
            "probe:read_gexf_many", None, "probe", lambda: noop(gexf.read_gexf_many(spark, shards))
        )[1]
    return out


def per_layer(sums: dict, session_s: float, overhead_s: float, cores: int, events_bytes: int) -> dict:
    g = sums.get
    op_s = g("op_s", 0.0)
    return {
        "session.start_s": session_s,
        "queries.construct_s": g("construct_s", 0.0),
        "queries.construct_jobs": g("construct_jobs", 0),
        "spark.plan_s": g("plan_s", 0.0),
        "spark.execute_s": g("execute_s", 0.0),
        "spark.materialize_s": g("materialize_s", 0.0),
        "spark.jobs": g("jobs", 0),
        "spark.stages": g("stages", 0),
        "spark.tasks": g("tasks", 0),
        "spark.task_busy_frac": g("task_run_ms", 0) / 1000 / (op_s * cores) if op_s else 0.0,
        "spark.shuffle_write_bytes": g("shuffle_write_bytes", 0),
        "spark.shuffle_read_bytes": g("shuffle_read_bytes", 0),
        "spark.exchanges": g("exchanges", 0),
        "spark.spill_bytes": g("spill_bytes", 0),
        "spark.gc_s": g("gc_ms", 0) / 1000,
        "spark.codegen_compiles": g("codegen_compiles", 0),
        "spark.codegen_compile_s": g("codegen_compile_ns", 0) / 1e9,
        "spark.python_rows": g("python_rows", 0),
        "spark.python_bytes": g("python_bytes", 0),
        "sources.scan_rows": g("scan_rows", 0),
        "sources.scan_bytes": g("scan_bytes", 0),
        "sources.scan_useful_frac": g("scan_useful_rows", 0) / g("scan_rows") if g("scan_rows") else 0.0,
        "sources.gexf_parse_s": g("gexf_parse_s", 0.0),
        "operators.ingest.presence_s": g("presence_s", 0.0),
        "operators.ingest.edges_s": g("edges_s", 0.0),
        "operators.ingest.edge_rows": g("edge_rows", 0),
        "operators.ingest.write_star_s": g("write_star_s", 0.0),
        "operators.ingest.bytes_written_per_input_byte": g("star_bytes", 0) / events_bytes,
        "operators.hub.barriers": g("barriers", 0),
        "operators.hub.barrier_bytes": g("barrier_bytes", 0),
        "streaming.batches": g("batches", 0),
        "streaming.add_batch_s": g("add_batch_ms", 0) / 1000,
        "streaming.query_planning_s": g("query_planning_ms", 0) / 1000,
        "streaming.wal_commit_s": g("wal_commit_ms", 0) / 1000,
        "streaming.state_rows": g("state_rows", 0),
        "streaming.state_bytes": g("state_bytes", 0),
        "trace.overhead_s": overhead_s,
    }


def execute(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict]:
    in_dir = os.path.join(run_dir, "inputs")
    work_dir = os.path.join(run_dir, "work")
    os.makedirs(work_dir, exist_ok=True)
    t0 = time.perf_counter()
    manifest = inputs.generate(
        args.seed, args.sf, in_dir, with_gexf=LOAD_GEXF in WORKLOADS[args.workload].ops
    )
    log(f"inputs generated in {time.perf_counter() - t0:.2f}s")
    run = Run(args, in_dir, work_dir, manifest)
    extra_conf = pin_environment(run_dir)
    detail: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "inputs": manifest["tables"],
    }
    try:
        session_s, setup_s = run.setup(extra_conf)
        log(f"session {session_s:.2f}s, setup {setup_s:.2f}s")
        pids = [os.getpid(), run.spark.sparkContext._gateway.proc.pid]  # this process and its JVM
        if args.trace:
            untraced = run.timed_passes(0, 1)
            tracer = Tracer(run.spark)
            deadline = time.perf_counter() + max(0.0, args.seconds - sum(untraced))
            traced = [traced_pass(run, tracer, 1)]
            while time.perf_counter() < deadline:
                traced.append(traced_pass(run, tracer, len(traced) + 1))
            keys = set().union(*traced)
            sums = {k: statistics.median(t.get(k, 0) for t in traced) for k in keys}
            overhead = sums.get("op_s", 0.0) - statistics.median(untraced)
            metrics = per_layer(
                sums, session_s, overhead, int(os.environ["SPARK_GRAFT_CPUS"]),
                manifest["tables"]["events"]["bytes"],
            )
            units = LAYER_UNITS
            trace_path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json")
            with open(trace_path, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.spans.spans}, fh)
            detail.update(
                {
                    "traced_passes": len(traced),
                    "untraced_pass_s": untraced,
                    "plan_listener": {k: sums.get(k, 0) for k in ("executions", "failed_executions", "plan_walk_errors")},
                    "trace_file": trace_path,
                }
            )
        else:
            reset_peak_rss(pids)
            passes = run.timed_passes(args.seconds, run.workload.timed_passes)
            metrics, more = end_to_end(run, setup_s, passes, peak_rss_mb(pids))
            units = E2E_UNITS
            detail.update(more)
    finally:
        if run.spark is not None:
            t0 = time.perf_counter()
            stop_session(run.spark)
            log(f"session stopped in {time.perf_counter() - t0:.2f}s")
    detail["failed_frac"] = run.failed / max(1, run.attempted)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its working files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    sys.stdout.flush()
    stdout = os.dup(1)
    os.dup2(2, 1)  # the JVM and Python workers inherit fd 1: keep it off stdout
    try:
        result, detail = execute(args, run_dir)
    finally:
        sys.stdout.flush()
        os.dup2(stdout, 1)
        os.close(stdout)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
