"""Seeded benchmark inputs.

Everything the program reads is generated here from ``--seed``: the
events table comes from the repository's own generator in
``tools/gen_scale.py`` (imported, not copied), called first with one
``np.random.default_rng(seed)`` as that tool does. The GEXF shards for
the ``load_gexf`` op are derived from the same events plus edges drawn
from that rng, and are written here, before the Spark session exists,
so their cost is never part of ``setup_s``.

The same seed gives byte-identical files (pinned by the benchmark's
tests); the spells behind the shards are also written as parquet so
the DuckDB row-count check reads exactly the input the op parses.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from neo4j_dynagraph_spark.sources.gexf import _gexf_document
from tools import gen_scale

#: Spell length of one GEXF presence spell, seconds (the repo's
#: synthetic spell length for events, queries.SPELL_LEN).
SPELL_LEN = 1800
#: Number of GEXF shard files; one per ``user_id % GEXF_SHARDS``.
GEXF_SHARDS = 8
#: Edges drawn per event for the GEXF graph.
GEXF_EDGES_PER_EVENT = 0.25


def _spells(events: pa.Table, rng: np.random.Generator) -> pa.Table:
    """Node spells (one per event of the user) plus random edge spells."""
    users = events.column("user_id").to_numpy()
    es = events.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
    n_edges = int(len(users) * GEXF_EDGES_PER_EVENT)
    n_users = int(users.max()) + 1
    a = rng.integers(0, n_users, n_edges)
    b = (a + rng.integers(1, n_users, n_edges)) % n_users
    src, dst = np.minimum(a, b), np.maximum(a, b)
    t1 = es[rng.integers(0, len(es), n_edges)]
    kind = ["node"] * len(users) + ["edge"] * n_edges
    ids = [str(u) for u in users] + [f"{s}-{d}" for s, d in zip(src, dst)]
    return pa.table(
        {
            "kind": pa.array(kind),
            "id": pa.array(ids),
            "src": pa.array(np.concatenate([users, src]), pa.int64()),
            "dst": pa.array([None] * len(users) + dst.tolist(), pa.int64()),
            "t_start": pa.array(np.concatenate([es, t1]), pa.int64()),
            "t_end": pa.array(np.concatenate([es, t1]) + SPELL_LEN, pa.int64()),
        }
    )


def _write_gexf_shards(spells: pa.Table, out_dir: str) -> list[str]:
    """One dynamic-GEXF document per shard, nodes first, ids sorted —
    the layout of the package's own sharded sink."""
    df = spells.to_pandas()
    df["shard"] = df["src"] % GEXF_SHARDS
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for shard, part in df.groupby("shard", sort=True):
        rows = []
        grouped = part.groupby(["kind", "id"], sort=False)
        for (kind, ent), g in sorted(
            grouped, key=lambda kv: (kv[0][0] != "node", kv[0][1])
        ):
            first = g.iloc[0]
            rows.append(
                SimpleNamespace(
                    kind=kind,
                    id=ent,
                    src=int(first["src"]),
                    dst=None if kind == "node" else int(first["dst"]),
                    sp=[
                        SimpleNamespace(t_start=int(s), t_end=int(e))
                        for s, e in sorted(zip(g["t_start"], g["t_end"]))
                    ],
                )
            )
        path = os.path.join(out_dir, f"shard={shard}.gexf")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(_gexf_document(rows, "long"))
        paths.append(path)
    return paths


def generate(seed: int, sf: float, out_dir: str, with_gexf: bool) -> dict:
    """Write the inputs for ``seed`` at scale ``sf`` into ``out_dir``:
    the events table, and with ``with_gexf`` the GEXF shards and the
    spells behind them.

    Returns the manifest: per table rows and bytes, and the shard paths.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {"events": gen_scale.gen_events(rng, sf)}
    if with_gexf:
        tables["spells"] = _spells(tables["events"], rng)
    manifest: dict = {"seed": seed, "sf": sf, "tables": {}, "gexf_shards": []}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        manifest["tables"][name] = {
            "rows": table.num_rows,
            "bytes": os.path.getsize(path),
        }
    if with_gexf:
        shards = _write_gexf_shards(tables["spells"], os.path.join(out_dir, "gexf"))
        manifest["gexf_shards"] = shards
        manifest["tables"]["gexf"] = {
            "rows": tables["spells"].num_rows,
            "bytes": sum(os.path.getsize(p) for p in shards),
        }
    return manifest
