"""The benchmark's workloads: named lists of operations, each with its
correctness check.

One operation is one call a user makes, timed from the call to a
complete result. For a registry row that is
``REGISTRY[name].fn(spark, dir).toPandas()``. An op is split in two so
the traced run can put a span on each side: ``build`` returns the lazy
DataFrame (running whatever eager barriers, drains and collects the
query function does), ``finish`` turns it into the result the user holds.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from types import SimpleNamespace
from typing import Any

import numpy as np
import pandas as pd

from neo4j_dynagraph_spark.operators import ingest
from neo4j_dynagraph_spark.queries import DELTA, REGISTRY
from neo4j_dynagraph_spark.sources import gexf
from neo4j_dynagraph_spark.sources.tables import load_table
from tools.check_parity import compare_query, norm

STAR_TABLES = ["frames", "actors", "interactions", "frame_actors", "frame_interactions"]


@dataclass(frozen=True)
class Op:
    """One user-visible operation.

    ``build(spark, in_dir, work_dir)`` -> a lazy DataFrame (or a star
    schema); ``finish(built, work_dir)`` -> the complete result;
    ``verify(con, in_dir, result)`` -> list of problems against DuckDB.
    """

    name: str
    build: Callable[[Any, str, str], Any]
    finish: Callable[[Any, str], Any]
    verify: Callable[[Any, str, Any], list[str]]
    kind: str  # "frame" (toPandas result) or "star" (written directory)


def _py(v: Any) -> Any:
    """One pandas cell as the Python value ``DataFrame.collect`` gives."""
    if isinstance(v, np.ndarray):
        return [_py(x) for x in v]
    if isinstance(v, list):
        return [_py(x) for x in v]
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.generic):
        return v.item()
    return v


class PandasResult:
    """The toPandas result behind the two members ``compare_query``
    reads from a DataFrame (``columns`` and ``collect()``), so the
    oracle check verifies the very result the user received instead of
    running the operation a second time."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.columns = list(pdf.columns)
        self._pdf = pdf

    def collect(self) -> list[tuple]:
        return [
            tuple(_py(v) for v in row)
            for row in self._pdf.astype(object).itertuples(index=False, name=None)
        ]


def star_counts(out_dir: str) -> dict[str, int]:
    """Rows of each written star table, counted by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        return {
            t: _count(
                con,
                f"SELECT count(*) FROM read_parquet('{out_dir}/{t}/**/*.parquet', "
                "hive_partitioning = false)",
            )
            for t in STAR_TABLES
        }
    finally:
        con.close()


def signature(result: Any) -> tuple[int, str]:
    """(row count, order-insensitive digest) of one op's result."""
    if isinstance(result, str):  # a written star schema's directory
        counts = star_counts(result)
        return sum(counts.values()), hashlib.sha1(
            repr(sorted(counts.items())).encode()
        ).hexdigest()
    res = PandasResult(result)
    # check_parity.rowset's normalisation, sorted by repr so that null
    # cells (GEXF node rows have no dst) sort beside numbers
    order = sorted(range(len(res.columns)), key=res.columns.__getitem__)
    rows = sorted(repr(tuple(norm(r[i]) for i in order)) for r in res.collect())
    digest = hashlib.sha1(repr((sorted(res.columns), rows)).encode()).hexdigest()
    return len(rows), digest


def _registry_op(name: str) -> Op:
    spec = REGISTRY[name]

    def verify(con, in_dir: str, result: pd.DataFrame) -> list[str]:  # noqa: ANN001
        shown = SimpleNamespace(
            name=spec.name,
            fn=lambda _spark, _dir: PandasResult(result),
            oracle=spec.oracle,
            empty_ok=spec.empty_ok,
        )
        problems, _ = compare_query(None, con, shown, in_dir)
        return problems

    return Op(
        name,
        lambda spark, in_dir, _work: spec.fn(spark, in_dir),
        lambda df, _work: df.toPandas(),
        verify,
        "frame",
    )


def _count(con, sql: str) -> int:  # noqa: ANN001
    return int(con.execute(sql).fetchone()[0])


def _load_star_build(spark, in_dir: str, _work: str):  # noqa: ANN001, ANN202
    return ingest.build_star(load_table(spark, in_dir, "events"))


def _load_star_finish(star, work_dir: str) -> str:  # noqa: ANN001
    """Write the star schema; the result is the directory written."""
    out = os.path.join(work_dir, "star")
    shutil.rmtree(out, ignore_errors=True)
    ingest.write_star(star, out)
    return out


def _load_star_verify(con, in_dir: str, out_dir: str) -> list[str]:  # noqa: ANN001
    counts = star_counts(out_dir)
    fid = f"CAST(floor(epoch(ts) / {ingest.DEFAULT_DELTA}) AS BIGINT)"
    p = f"SELECT DISTINCT {fid} AS f, user_id AS a FROM events"
    pairs = f"SELECT p1.f, p1.a AS a1, p2.a AS a2 FROM ({p}) p1 JOIN ({p}) p2 ON p1.f = p2.f AND p1.a < p2.a"
    want = {
        "frames": _count(con, f"SELECT max({fid}) - min({fid}) + 1 FROM events"),
        "actors": _count(con, "SELECT count(DISTINCT user_id) FROM events"),
        "frame_actors": _count(con, f"SELECT count(*) FROM ({p})"),
        "frame_interactions": _count(con, f"SELECT count(*) FROM ({pairs})"),
        "interactions": _count(con, f"SELECT count(*) FROM (SELECT DISTINCT a1, a2 FROM ({pairs}))"),
    }
    return [f"{t}: written {counts.get(t)} rows, DuckDB {n}" for t, n in want.items() if counts.get(t) != n]


def _load_gexf_build(spark, in_dir: str, _work: str):  # noqa: ANN001, ANN202
    shards = sorted(
        os.path.join(in_dir, "gexf", f) for f in os.listdir(os.path.join(in_dir, "gexf"))
    )
    return ingest.discretize_spells(gexf.read_gexf_many(spark, shards), DELTA)


def _load_gexf_verify(con, in_dir: str, result: pd.DataFrame) -> list[str]:  # noqa: ANN001
    want = _count(
        con,
        f"SELECT sum((t_end - 1) // {DELTA} - t_start // {DELTA} + 1) "
        f"FROM '{in_dir}/spells.parquet' WHERE t_end > t_start",
    )
    return [] if len(result) == want else [f"discretized {len(result)} rows, DuckDB {want}"]


LOAD_STAR = Op("load_star", _load_star_build, _load_star_finish, _load_star_verify, "star")
LOAD_GEXF = Op(
    "load_gexf", _load_gexf_build, lambda df, _work: df.toPandas(), _load_gexf_verify, "frame"
)

@dataclass(frozen=True)
class Workload:
    """A named list of ops and how its runs are set up."""

    ops: list[Op]
    #: input scale, as tools/gen_scale.py's sf (sf0.01: 10k events over
    #: 150 users; sf0.1: 100k over 1,500)
    sf: float
    #: untimed passes counted in setup_s; the first verifies every result
    warmup_passes: int
    #: timed passes at least, whatever --seconds asks; pass_s is their median
    timed_passes: int


# Why each workload exists, its scale and its pass counts are recorded
# in perfbench/README.md; BENCHMARK.json carries the one-line summary.
# graph_iterative runs at sf0.1 because at sf0.01 per-job overhead
# dominates and its walls spread too much from seed to seed; it warms
# twice because its pass walls fall steeply while the JIT compiles, and
# times three short passes so that one pass slowed by the shared host
# does not set the median. ingest_stream stays at sf0.01 because its
# drain result grows with the square of the users per frame (62k rows
# here, 6.3M at sf0.1); its pass walls barely fall after one warm-up,
# and each pass takes about 19 s, so it warms once and times two.
WORKLOADS: dict[str, Workload] = {
    "temporal_queries": Workload(
        [
            _registry_op(n)
            for n in (
                "q1_time_range",
                "q2_frame_actors",
                "q3_heavy_edges",
                "q4_actor_frame_counts",
                "q5_active_actors",
                "q7_neighbors",
                "q9_common_neighbors",
                "q10_degree",
                "q11_anchored",
                "ingest_spells",
            )
        ],
        sf=0.01,
        warmup_passes=2,
        timed_passes=2,
    ),
    "graph_iterative": Workload(
        [_registry_op(n) for n in ("q_anf_day", "q_wl_colors")],
        sf=0.1,
        warmup_passes=2,
        timed_passes=3,
    ),
    "ingest_stream": Workload(
        [LOAD_STAR, LOAD_GEXF, _registry_op("q_stream_edges_stateful")],
        sf=0.01,
        warmup_passes=1,
        timed_passes=2,
    ),
}

#: The stream drain of ``ingest_stream``; it drains the events table.
STREAM_OP = "q_stream_edges_stateful"
