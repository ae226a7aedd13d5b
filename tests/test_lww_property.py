"""Seeded property test: whatever order, duplication and epoch split a
change log is delivered in, the table's final ``read()`` equals an
independent DuckDB last-writer-wins recompute over the distinct events,
for copy-on-write and merge-on-read tables alike, with a
``compact_deltas`` and an optional ``rebucket`` to 2× or 4× the bucket
count, each at a drawn epoch boundary."""

from __future__ import annotations

import shutil
import tempfile

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable

from tests.test_lake import KEYS, SCHEMA

# a NULL turn index is a legal key value: key equality must be null-safe
KEY_POOL = [("c0", 0), ("c0", 1), ("c1", 0), ("c1", None), ("c2", 0)]
COLS = "seq long, op string, conv_id string, turn_idx int, role string, text string"


@st.composite
def deliveries(draw):
    n = draw(st.integers(min_value=1, max_value=14))
    events = [
        (
            seq,
            draw(st.sampled_from(["insert", "update", "delete"])),
            *draw(st.sampled_from(KEY_POOL)),
        )
        for seq in range(n)
    ]
    # at-least-once delivery: some events arrive more than once
    dups = draw(st.lists(st.sampled_from(events), max_size=4))
    delivered = draw(st.permutations(events + dups))
    cuts = sorted(draw(st.sets(st.integers(1, max(1, len(delivered) - 1)), max_size=2)))
    bounds = [0, *cuts, len(delivered)]
    epochs = [delivered[a:b] for a, b in zip(bounds, bounds[1:]) if a < b]
    compact_after = draw(st.integers(min_value=-1, max_value=len(epochs) - 1))
    # 0: no rebucket; else after epoch (r - 1) // 2, to 2× (odd r) or 4×
    r = draw(st.integers(min_value=0, max_value=2 * len(epochs)))
    rebucket = ((r - 1) // 2, 2 if r % 2 else 4) if r else (-1, 1)
    return events, epochs, compact_after, rebucket


def _row(e):
    seq, op, conv, turn = e
    return (seq, op, conv, turn, "user", f"text-{seq}" if op != "delete" else None)


def _oracle(events):
    ev = pd.DataFrame(
        [_row(e) for e in events],
        columns=["seq", "op", "conv_id", "turn_idx", "role", "text"],
    ).astype({"turn_idx": "Int64"})
    con = duckdb.connect()
    con.register("ev", ev)
    rows = con.execute(
        """
        select conv_id, turn_idx, text from (
          select *, row_number() over (
            partition by conv_id, turn_idx order by seq desc) as rn
          from ev)
        where rn = 1 and op <> 'delete'
        """
    ).fetchall()
    con.close()
    return sorted(rows, key=repr)


@pytest.mark.filterwarnings("ignore:The recursion limit will not be reset")
@settings(
    max_examples=4,
    derandomize=True,
    deadline=None,
    database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(deliveries())
def test_final_read_equals_duckdb_lww_recompute(spark, case):
    events, epochs, compact_after, (rebucket_after, factor) = case
    expected = _oracle(events)
    root = tempfile.mkdtemp(prefix="lww_prop_")
    try:
        for mode in ("cow", "mor"):
            t = SnapshotTable.create(spark, f"{root}/{mode}", SCHEMA, KEYS, num_buckets=2)
            for i, batch in enumerate(epochs):
                df = spark.createDataFrame([_row(e) for e in batch], COLS)
                t.merge_upsert(df, epoch_id=i, query_id="q", mode=mode, ordered_writer=False)
                if i == compact_after:  # folds the deltas a MoR table holds so far
                    t.compact_deltas()
                if i == rebucket_after:
                    t.rebucket(2 * factor)
            got = sorted(
                (tuple(r) for r in t.read().select("conv_id", "turn_idx", "text").collect()),
                key=repr,
            )
            assert got == expected, mode
    finally:
        shutil.rmtree(root, ignore_errors=True)
