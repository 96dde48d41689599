"""Tests of the benchmark itself, at a tiny input scale.

    python -m pytest perfbench/tests -q

Each Spark-backed test runs ``perfbench/run.py`` in its own process, as
the benchmark is run, so the session is started and stopped exactly as
in a real run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

TINY = "0.001"  # 1k events over 15 users; 500 documents, 200 embeddings


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(args: list[str], code: str | None = None) -> tuple[int, list[str]]:
    cmd = [sys.executable, "-c", code] if code else [sys.executable, os.path.join(BENCH, "run.py")]
    proc = subprocess.run(
        cmd + args, cwd=ROOT, capture_output=True, text=True, timeout=600, check=False
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path) -> None:
    import inputs

    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.generate(7, float(TINY), a, with_gexf=True)
    inputs.generate(7, float(TINY), b, with_gexf=True)
    inputs.generate(8, float(TINY), c, with_gexf=True)
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert fa and fa == fb
    assert fa["events.parquet"] != fc["events.parquet"]


@pytest.mark.parametrize(
    ("workload", "trace", "section"),
    [("temporal_queries", "0", "end_to_end"), ("ingest_stream", "1", "per_layer")],
)
def test_smoke_emits_every_metric_with_its_unit(workload: str, trace: str, section: str) -> None:
    rc, lines = _run(
        ["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", trace, "--sf", TINY]
    )
    assert rc == 0, lines
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _benchmark_spec()[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_corrupted_result_is_counted_and_fails_the_command() -> None:
    # Drop the last row of every q4_actor_frame_counts result after the
    # verified warm-up one: each timed repetition must then fail.
    code = textwrap.dedent(
        f"""
        import dataclasses, sys
        sys.path[:0] = [{ROOT!r}, {BENCH!r}]
        import run, workloads
        ops = workloads.WORKLOADS["temporal_queries"].ops
        i = next(i for i, op in enumerate(ops) if op.name == "q4_actor_frame_counts")
        calls = []

        def corrupt(df, work, _finish=ops[i].finish):
            calls.append(1)
            pdf = _finish(df, work)
            return pdf if len(calls) == 1 else pdf.iloc[:-1]

        ops[i] = dataclasses.replace(ops[i], finish=corrupt)
        sys.exit(run.main(sys.argv[1:]))
        """
    )
    rc, lines = _run(
        ["--workload", "temporal_queries", "--seed", "1", "--seconds", "1", "--sf", TINY], code
    )
    assert rc != 0
    result = json.loads(lines[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1
    detail = json.loads(lines[-2])["detail"]
    assert detail["failed_frac"] == result["failed"] / result["attempted"]
