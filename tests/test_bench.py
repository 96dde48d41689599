"""bench.py's compact tail record: the last stdout line must carry
every per-query median as one parseable JSON object."""

from __future__ import annotations

import json

from bench import compact_line


def test_compact_line_carries_every_median():
    timings = {f"q_{i:02d}": 0.05 * i + 0.0001 for i in range(45)}
    payload = {
        "metric": "full payload",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "spread": {q: {"p5": t, "p95": t} for q, t in timings.items()},
        "calibration": {"job": "probe", "first": 0.2, "last": 0.1},
        "loadavg": {"before": [1.0, 1.0, 1.0], "after": [2.0, 2.0, 2.0]},
        "sf": 0.1,
    }
    line = compact_line(payload)
    assert "\n" not in line
    rec = json.loads(line)
    assert rec["n_queries"] == 45 == len(rec["queries"])
    assert rec["queries"] == {q: round(t, 3) for q, t in timings.items()}
    assert list(rec["queries"])[0] == "q_44"  # slowest first
    assert rec["value"] == payload["value"]
    assert rec["calibration"] == {"first": 0.2, "last": 0.1}
    assert "spread" not in rec
