"""Seeded input generator for the layered benchmark.

Run as its own process before the program under test starts::

    python3 perfbench/gen.py --workload bulk_replay --seed 7 --out DIR

It writes gzip JSON-lines change-event segments (the binlog shape the
engine's ``read_cdc_log(fmt="json")`` / ``replay_stream(fmt="json")``
read) plus ``DIR/layout.json``, which names every log, its files and
their ``seq`` ranges. Each segment covers a contiguous ``seq`` range and
the ranges increase from segment to segment, like binlog segments.

The make-up follows the engine's own generator (``gen_cdc_log``):
10,000 conversations, ``conv = floor(u^3 * 10000)`` (Zipf-hot skew,
exponent 3), 50 turns per conversation, about 10 % deletes, 30 %
inserts, 60 % updates, four roles, a tool only on ``tool`` turns, and
lorem payloads of 1-8 repeats. Unlike ``gen_cdc_log`` the draws come
from a seeded NumPy generator, so a different ``--seed`` gives different
inputs and the same seed gives byte-identical files.

A directory already holding a ``layout.json`` for the same workload,
seed and spec is reused as is.
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow as pa

NUM_CONVS = 10_000
TURNS_PER_CONV = 50
SKEW_EXPONENT = 3.0
DELETE_FRAC = 0.10
INSERT_FRAC = 0.30
ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "browser", "python", "calculator", "none")
LOREM = "lorem ipsum dolor sit amet "
BASE_TS = "2024-01-01 00:00:00"
# bump when the file format or the draws change, so cached inputs rebuild
FORMAT = 1

# Per workload: the logs it needs, in seq order. ``files`` segments of
# ``events_per_file`` events each. ``rounds`` repeats a log shape as
# separate directories (<name>-000, <name>-001, ...), which timed rounds
# consume in order.
SPECS: dict[str, list[dict]] = {
    "bulk_replay": [
        {"name": "bulk", "files": 6, "events_per_file": 8_000},
    ],
    "stream_serve": [
        {"name": "base", "files": 1, "events_per_file": 5_000},
        {"name": "tail", "files": 2, "events_per_file": 1_000, "rounds": 8},
    ],
}


def load_layout(out: str) -> dict:
    with open(os.path.join(out, "layout.json")) as f:
        return json.load(f)


def _events(rng: np.random.Generator, seq0: int, n: int) -> pa.Table:
    """``n`` change events with seq ``seq0 .. seq0+n-1`` as raw draws."""
    u_conv = rng.random(n)
    conv = np.floor(np.power(u_conv, SKEW_EXPONENT) * NUM_CONVS).astype(np.int64)
    u_op = rng.random(n)
    return pa.table(
        {
            "seq": np.arange(seq0, seq0 + n, dtype=np.int64),
            "u_op": u_op,
            "conv": conv,
            "turn_idx": rng.integers(0, TURNS_PER_CONV, n, dtype=np.int32),
            "role_i": rng.integers(0, len(ROLES), n, dtype=np.int32),
            "tool_i": rng.integers(0, len(TOOLS), n, dtype=np.int32),
            "reps": rng.integers(1, 9, n, dtype=np.int32),
        }
    )


# Draws → the engine's JSON change-event shape (CDC_JSON_SCHEMA).
# Deletes carry no payload; ``tool`` is set only on tool turns.
_SHAPE_SQL = f"""
SELECT seq, op, conv_id, turn_idx,
       CASE WHEN op <> 'delete' THEN role END AS role,
       CASE WHEN op <> 'delete' THEN
            'turn ' || turn_idx || ' of ' || conv_id || ' v' || seq || ' '
            || repeat('{LOREM}', reps) END AS text,
       CASE WHEN op <> 'delete' AND role = 'tool' AND tool <> 'none' THEN tool END AS tool,
       strftime(TIMESTAMP '{BASE_TS}' + to_seconds(seq), '%Y-%m-%d %H:%M:%S') AS ts,
       1 AS schema_ver
FROM (
  SELECT seq,
         CASE WHEN u_op < {DELETE_FRAC} THEN 'delete'
              WHEN u_op < {DELETE_FRAC + INSERT_FRAC} THEN 'insert' ELSE 'update' END AS op,
         'conv-' || lpad(conv::VARCHAR, 6, '0') AS conv_id, turn_idx,
         {list(ROLES)}[role_i + 1] AS role, {list(TOOLS)}[tool_i + 1] AS tool, reps
  FROM draws
)
ORDER BY seq
"""


def _write_gzip_jsonl(con: duckdb.DuckDBPyConnection, path: str) -> None:
    """Shape the registered draws and write them as one gzip segment.
    DuckDB renders the JSON lines; zlib at level 1 compresses them
    (DuckDB's own gzip writer is about three times slower)."""
    raw = path[: -len(".gz")]
    con.execute(f"COPY ({_SHAPE_SQL}) TO '{raw}' (FORMAT JSON)")
    with open(raw, "rb") as src, gzip.open(path, "wb", compresslevel=1) as dst:
        shutil.copyfileobj(src, dst, 1 << 20)
    os.remove(raw)


def generate(workload: str, seed: int, out: str) -> dict:
    spec = SPECS[workload]
    stamp = {"format": FORMAT, "workload": workload, "seed": seed, "spec": spec}
    layout_path = os.path.join(out, "layout.json")
    if os.path.exists(layout_path):
        with open(layout_path) as f:
            layout = json.load(f)
        if layout.get("stamp") == stamp:
            return layout
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    logs: dict[str, list[dict]] = {}
    seq = 0
    for log in spec:
        rounds = log.get("rounds")
        for r in range(rounds or 1):
            name = log["name"] if rounds is None else f"{log['name']}-{r:03d}"
            d = os.path.join(out, name)
            os.makedirs(d)
            files = []
            for i in range(log["files"]):
                n = log["events_per_file"]
                con.register("draws", _events(rng, seq, n))
                path = os.path.join(d, f"part-{i:05d}.json.gz")
                _write_gzip_jsonl(con, path)
                files.append({"path": path, "lo": seq, "hi": seq + n - 1, "events": n})
                seq += n
            logs[name] = files
    layout = {"stamp": stamp, "logs": logs, "events": seq}
    tmp = layout_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(layout, f)
    os.replace(tmp, layout_path)
    return layout


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(SPECS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    layout = generate(a.workload, a.seed, a.out)
    print(json.dumps({"events": layout["events"], "logs": len(layout["logs"])}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
