"""Incremental graph materialization: per-epoch edge sync equals a full
rebuild from final state (SURVEY §7.1 stage 7)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
from sql_graph_visualizer_spark.plans.graph_builder import build_conv_edges_arrow
from sql_graph_visualizer_spark.sources.cdc_gen import gen_cdc_log, write_cdc_log_dir
from sql_graph_visualizer_spark.streaming.graph_sync import GraphSync, derive_conv_edges
from sql_graph_visualizer_spark.streaming.replay import replay_stream

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
KEYS = ["conv_id", "turn_idx"]


def _edge_set(df):
    return sorted((r.src, r.dst, r.rel_type) for r in df.collect())


def test_incremental_edges_equal_full_rebuild(spark, tmp_path):
    log = gen_cdc_log(spark, 2500, num_convs=15, turns_per_conv=8)
    log_dir = str(tmp_path / "log")
    write_cdc_log_dir(log, log_dir, num_files=5)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    gs = GraphSync(spark, str(tmp_path / "edges"), t)
    stats = replay_stream(
        spark,
        log_dir,
        t,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        on_batch=lambda batch, epoch, st: gs.sync(batch, epoch, st),
    )
    assert len(stats) >= 2
    final_state = t.read()
    # incremental edge table == full rebuild == Arrow-UDF derivation
    incr = _edge_set(gs.read())
    full = _edge_set(derive_conv_edges(final_state))
    arrow = _edge_set(build_conv_edges_arrow(final_state))
    assert incr == full == arrow
    assert len(incr) > 0


def test_sync_is_epoch_fenced(spark, tmp_path):
    log = gen_cdc_log(spark, 800, num_convs=6, turns_per_conv=5)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=4)
    gs = GraphSync(spark, str(tmp_path / "edges"), t)
    st = t.merge_upsert(log, epoch_id=0, query_id="q")
    gs.sync(log, 0, st)
    before = _edge_set(gs.read())
    # crash-replay of the same epoch: fenced, state unchanged
    st2 = gs.sync(log, 0, st)
    assert st2.skipped
    assert _edge_set(gs.read()) == before


def test_sync_never_reads_the_transcripts_table(spark, tmp_path, monkeypatch):
    """sync() derives edge ops from the change events alone: while it
    runs, the transcripts table is never read (the edge table is read
    only by merge_upsert's own bucket-pruned copy-on-write read), and the
    result still equals a full rebuild from the final state."""
    log = gen_cdc_log(spark, 2000, num_convs=24, turns_per_conv=6)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    gs = GraphSync(spark, str(tmp_path / "edges"), t)
    st0 = t.merge_upsert(log, epoch_id=0, query_id="q")
    one_conv = log.filter(F.col("conv_id") == "conv-000001").limit(3).withColumn(
        "seq", F.col("seq") + 10_000
    )
    st1 = t.merge_upsert(one_conv, epoch_id=1, query_id="q")

    seen: list[tuple[str, list[int] | None]] = []
    orig_read = SnapshotTable.read
    orig_sync = GraphSync.sync

    def spy_sync(self, *args, **kwargs):
        def spy_read(table, buckets=None, **kw):
            seen.append((table.path, None if buckets is None else sorted(buckets)))
            return orig_read(table, buckets=buckets, **kw)

        monkeypatch.setattr(SnapshotTable, "read", spy_read)
        try:
            return orig_sync(self, *args, **kwargs)
        finally:
            monkeypatch.setattr(SnapshotTable, "read", orig_read)

    monkeypatch.setattr(GraphSync, "sync", spy_sync)
    gs.sync(log, 0, st0)
    gs.sync(one_conv, 1, st1)
    monkeypatch.undo()

    assert seen, "the spy saw no read at all"
    assert all(p == gs.edges.path for p, _ in seen), seen
    # the second epoch touched one conversation: one edge bucket read
    assert seen[-1][1] is not None and len(seen[-1][1]) == 1
    assert _edge_set(gs.read()) == _edge_set(derive_conv_edges(t.read()))


def test_out_of_order_epochs_keep_the_newest_tool(spark, tmp_path):
    """Epoch 0 carries seq 7 (tool B), epoch 1 the OLDER seq 5 (tool A)
    for the same turn: edge LWW follows the event seq, not the epoch, so
    Tool:B survives — as it does in the transcripts table."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=4)
    gs = GraphSync(spark, str(tmp_path / "edges"), t)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )
    for epoch, batch in enumerate(
        [mk([(7, "update", "c", 0, "tool", "b", "B", None)]),
         mk([(5, "insert", "c", 0, "tool", "a", "A", None)])]
    ):
        st = t.merge_upsert(batch, epoch_id=epoch, query_id="q", ordered_writer=False)
        gs.sync(batch, epoch, st)
    edges = _edge_set(gs.read())
    assert ("Turn:c:0", "Tool:B", "USES_TOOL") in edges
    assert ("Turn:c:0", "Tool:A", "USES_TOOL") not in edges
    assert edges == _edge_set(derive_conv_edges(t.read()))


def test_sync_removes_edges_of_deleted_turns(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=4)
    gs = GraphSync(spark, str(tmp_path / "edges"), t)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )
    b0 = mk(
        [
            (1, "insert", "c", 0, "user", "hi", None, None),
            (2, "insert", "c", 1, "tool", "out", "search", None),
        ]
    )
    st = t.merge_upsert(b0, epoch_id=0, query_id="q")
    gs.sync(b0, 0, st)
    assert ("Turn:c:1", "Tool:search", "USES_TOOL") in {
        (r.src, r.dst, r.rel_type) for r in gs.read().collect()
    }
    # delete the tool turn -> its HAS_TURN and USES_TOOL edges disappear
    b1 = mk([(3, "delete", "c", 1, None, None, None, None)])
    st1 = t.merge_upsert(b1, epoch_id=1, query_id="q")
    gs.sync(b1, 1, st1)
    edges = {(r.src, r.dst, r.rel_type) for r in gs.read().collect()}
    assert edges == {("Conversation:c", "Turn:c:0", "HAS_TURN")}


def test_open_edge_table_with_other_key_layout_raises(spark, tmp_path):
    """An existing edge table keyed any other way (e.g. the older
    (conv_id, src, dst, rel_type) layout) cannot take per-event edge ops:
    opening it through GraphSync raises instead of syncing into it."""
    import pytest

    from sql_graph_visualizer_spark.streaming.graph_sync import EDGE_TABLE_SCHEMA

    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    SnapshotTable.create(
        spark,
        str(tmp_path / "edges"),
        EDGE_TABLE_SCHEMA,
        key_cols=["conv_id", "src", "dst", "rel_type"],
        bucket_col="conv_id",
        num_buckets=8,
    )
    with pytest.raises(ValueError, match="rebuild"):
        GraphSync(spark, str(tmp_path / "edges"), t)
