"""Streaming replay: end-to-end equality, checkpoint resume, exactly-once
fencing, out-of-order epochs, duplicate event delivery (SURVEY.md §5 plan
items b/c/d)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
from sql_graph_visualizer_spark.operators.compaction import final_state
from sql_graph_visualizer_spark.sources.cdc_gen import gen_cdc_log, write_cdc_log_dir
from sql_graph_visualizer_spark.streaming.metrics import LineageRecorder
from sql_graph_visualizer_spark.streaming.replay import replay_batch, replay_stream

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


def _state(t):
    return sorted(
        (r.conv_id, r.turn_idx, r.text) for r in t.read().select("conv_id", "turn_idx", "text").collect()
    )


def _expected(log):
    return sorted(map(tuple, final_state(log, payload_cols=("text",)).collect()))


def test_streaming_replay_matches_batch_oracle(spark, tmp_path):
    log = gen_cdc_log(spark, 3000, num_convs=20, turns_per_conv=10)
    log_dir = str(tmp_path / "log")
    write_cdc_log_dir(log, log_dir, num_files=6)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    lineage = LineageRecorder(spark, str(tmp_path / "m"))
    stats = replay_stream(
        spark, log_dir, t, str(tmp_path / "ckpt"), max_files_per_trigger=2, lineage=lineage
    )
    assert len(stats) >= 3 and not any(s.skipped for s in stats)
    assert _state(t) == _expected(log)
    lrows = lineage.read().collect()
    assert len(lrows) == len(stats)
    assert all(r.events_per_sec > 0 for r in lrows if r.rows_in > 0)


def test_checkpoint_resume_after_partial_replay(spark, tmp_path):
    """Kill mid-replay (simulated: replay only part of the log), restart
    with the same checkpoint → same final state as one-shot replay."""
    log = gen_cdc_log(spark, 2000, num_convs=10, turns_per_conv=8)
    log_dir = str(tmp_path / "log")
    first_half = log.filter(F.col("seq") < 1000)
    write_cdc_log_dir(first_half, str(tmp_path / "log"), num_files=2)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    replay_stream(spark, log_dir, t, ckpt, max_files_per_trigger=1)
    # more of the log arrives; restart from the same checkpoint
    (
        log.filter(F.col("seq") >= 1000)
        .repartition(2)
        .write.mode("append")
        .parquet(log_dir)
    )
    stats2 = replay_stream(spark, log_dir, t, ckpt, max_files_per_trigger=1)
    assert sum(s.rows_in for s in stats2) > 0
    assert _state(t) == _expected(log)


def test_duplicate_event_delivery_is_idempotent(spark, tmp_path):
    """The same events delivered twice (at-least-once source) do not
    change the final state — versioned LWW absorbs re-delivery."""
    log = gen_cdc_log(spark, 1000, num_convs=8, turns_per_conv=6)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    replay_batch(log, t, epochs=2, query_id="a")
    before = _state(t)
    replay_batch(log, t, epochs=2, query_id="b")  # full re-delivery, new query
    assert _state(t) == before == _expected(log)


def test_out_of_order_epochs_converge(spark, tmp_path):
    """Epochs applied in scrambled LSN order still converge to global
    LWW state: a persisted delete beats a stale earlier insert, and a
    newer update can't be clobbered by an older one."""
    log = gen_cdc_log(spark, 1200, num_convs=6, turns_per_conv=5)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    spans = [(800, 1200), (0, 400), (400, 800)]  # scrambled
    for e, (lo, hi) in enumerate(spans):
        chunk = log.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
        t.merge_upsert(chunk, epoch_id=e, query_id="q")
    assert _state(t) == _expected(log)


def test_late_tombstone_beats_stale_insert(spark, tmp_path):
    """Explicit FIXTURES §2 case: delete arrives in an earlier epoch than
    a stale lower-seq insert of the same key."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=4)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "seq long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    t.merge_upsert(mk([(10, "delete", "c", 0, None, None, None, None)]), epoch_id=0, query_id="q")
    t.merge_upsert(mk([(5, "insert", "c", 0, "user", "stale", None, None)]), epoch_id=1, query_id="q")
    assert t.read().count() == 0  # tombstone at seq 10 wins
    t.merge_upsert(mk([(11, "insert", "c", 0, "user", "fresh", None, None)]), epoch_id=2, query_id="q")
    assert [r.text for r in t.read().collect()] == ["fresh"]


def test_sustained_mode_processing_time_trigger(spark, tmp_path):
    """Sustained mode (the reference's 5 s poll ticker): a processing-time
    trigger drains the log across ticks; caller stops the live query."""
    import time

    log = gen_cdc_log(spark, 1500, num_convs=10, turns_per_conv=6)
    log_dir = str(tmp_path / "log")
    write_cdc_log_dir(log, log_dir, num_files=4)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    q = replay_stream(
        spark,
        log_dir,
        t,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        available_now=False,
        processing_time="1 seconds",
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and sum(s.rows_in for s in q.merge_stats) == 0:
            time.sleep(1)
        # wait until the whole log has been consumed (2 epochs of 2 files)
        while time.time() < deadline and len(q.merge_stats) < 2:
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination()
    assert _state(t) == _expected(log)


def test_tombstone_expiry_is_state_preserving(spark, tmp_path):
    log = gen_cdc_log(spark, 800, num_convs=6, turns_per_conv=5)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=4)
    replay_batch(log, t, epochs=2)
    before = _state(t)
    # auto horizon = min committed watermark + 1; the single drained
    # writer committed through the log's max seq, so every tombstone is
    # below it
    t.expire_tombstones()
    assert t.read(system=True).filter("_deleted").count() == 0
    assert _state(t) == before


def test_tombstone_horizon_guard_blocks_resurrection(spark, tmp_path):
    """The r4 #6 safety proof. Two writers on one table: A is fully
    caught up (committed the delete at seq 500), B is a lagging replay
    of the same log (committed only through seq 10, its next epoch
    still carries seq 100 < 500). Expiring A's tombstone while B lags
    lets B's pre-delete update RESURRECT the deleted row — reproduced
    here with the guard bypassed (force=True), then shown blocked by
    the guard: the horizon is capped at min(watermarks)+1, the refused
    expiry raises, and after B catches up the row stays deleted."""
    rows = "seq long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    def ev(seq, op, conv, turn, text):
        return (seq, op, conv, turn, "user", text, None, None)

    events = [
        ev(10, "insert", "K", 0, "v1"),
        ev(100, "update", "K", 0, "v2-stale"),
        ev(500, "delete", "K", 0, None),
        ev(20, "insert", "other", 0, "x"),
    ]

    def setup(name):
        t = SnapshotTable.create(
            spark, str(tmp_path / name), SCHEMA, KEYS, num_buckets=4
        )
        # writer A: fully drained (insert + delete committed)
        t.merge_upsert(
            spark.createDataFrame([e for e in events if e[0] in (10, 500, 20)], rows),
            epoch_id=0, query_id="a",
        )
        # writer B: lagging replay — committed only the head (seq ≤ 20)
        t.merge_upsert(
            spark.createDataFrame([e for e in events if e[0] <= 20], rows),
            epoch_id=0, query_id="b",
        )
        return t

    # (1) reproduce the resurrection with the guard bypassed
    t = setup("buggy")
    assert t.read().filter("conv_id = 'K'").count() == 0  # delete applied
    t.expire_tombstones(older_than_seq=501, force=True)  # unsafe: B lags at 20
    t.merge_upsert(  # B's next epoch delivers the pre-delete update
        spark.createDataFrame([e for e in events if 20 < e[0] < 500], rows),
        epoch_id=1, query_id="b",
    )
    assert t.read().filter("conv_id = 'K'").count() == 1  # the bug: K is back

    # (2) the guard blocks it
    import pytest

    from sql_graph_visualizer_spark.lake.snapshot_table import TombstoneHorizonError

    t2 = setup("guarded")
    assert t2.safe_tombstone_horizon() == 21  # min(W_a=500, W_b=20) + 1
    with pytest.raises(TombstoneHorizonError):
        t2.expire_tombstones(older_than_seq=501)
    t2.expire_tombstones()  # auto: expires only below the safe horizon
    t2.merge_upsert(
        spark.createDataFrame([e for e in events if 20 < e[0] < 500], rows),
        epoch_id=1, query_id="b",
    )
    assert t2.read().filter("conv_id = 'K'").count() == 0  # still deleted
    # B catches up past the delete → the tombstone becomes expirable
    t2.merge_upsert(
        spark.createDataFrame([ev(600, "update", "other", 0, "y")], rows),
        epoch_id=2, query_id="b",
    )
    assert t2.safe_tombstone_horizon() == 501
    t2.expire_tombstones()
    assert t2.read(system=True).filter("_deleted").count() == 0
    assert t2.read().filter("conv_id = 'K'").count() == 0


def test_json_file_skipping_ignores_files_added_after_the_read(spark, tmp_path):
    """The per-file seq probe covers the files the log was read from: a
    file that lands in the log directory after ``read_cdc_log`` is not
    part of the frame, so the replay must not pick its events up."""
    import glob
    import shutil

    from sql_graph_visualizer_spark.sources.cdc_gen import read_cdc_log

    log_dir, late_dir = str(tmp_path / "jl"), str(tmp_path / "late")
    log = gen_cdc_log(spark, 2000, num_convs=10, turns_per_conv=8)
    write_cdc_log_dir(log, log_dir, num_files=4, fmt="json")
    jlog = read_cdc_log(spark, log_dir, fmt="json")
    # newer versions of the same keys, shipped after the read
    late = log.withColumn("seq", F.col("seq") + 2000).withColumn("text", F.lit("late"))
    write_cdc_log_dir(late, late_dir, num_files=1, fmt="json")
    for i, f in enumerate(glob.glob(os.path.join(late_dir, "part-*"))):
        shutil.copy(f, os.path.join(log_dir, f"part-late-{i}.json.gz"))

    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    replay_batch(jlog, t, epochs=4, persist_log=False)
    assert _state(t) == _expected(jlog)


def test_drop_watermark_unpins_horizon_and_conflicts_on_live_writer(spark, tmp_path):
    """ADVICE r5: a decommissioned one-shot writer permanently pins
    ``safe_tombstone_horizon`` at its last committed seq. Retiring its
    watermark with ``drop_watermark`` unpins expiry; the laggard is
    identifiable first via ``delta_stats()['watermarks']``; and dropping
    a writer that concurrently ADVANCES its watermark conflicts instead
    of silently erasing the new value."""
    import pytest

    from sql_graph_visualizer_spark.lake.snapshot_table import (
        CommitConflictError,
        SnapshotTable,
    )

    rows = "seq long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    def ev(seq, op, conv, turn, text):
        return (seq, op, conv, turn, "user", text, None, None)

    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=4)
    # live writer A (drained through 500, incl. a delete) + a one-shot
    # backfill writer B that stopped forever at seq 20
    t.merge_upsert(
        spark.createDataFrame(
            [ev(10, "insert", "K", 0, "v1"), ev(500, "delete", "K", 0, None)], rows
        ),
        epoch_id=0, query_id="a",
    )
    t.merge_upsert(
        spark.createDataFrame([ev(20, "insert", "other", 0, "x")], rows),
        epoch_id=0, query_id="backfill",
    )
    # the laggard is visible to operators, and pins the horizon
    ds = t.delta_stats()
    assert ds["watermarks"] == {"a": 500, "backfill": 20}
    assert ds["safe_tombstone_horizon"] == 21
    t.expire_tombstones()  # near-no-op: horizon 21 < tombstone seq 500
    assert t.read(system=True).filter("_deleted").count() == 1

    v = t.drop_watermark("backfill")  # operator retires the dead writer
    assert v == t.manifest()["version"]
    assert t.drop_watermark("backfill") == v  # idempotent no-op
    assert t.safe_tombstone_horizon() == 501
    t.expire_tombstones()
    assert t.read(system=True).filter("_deleted").count() == 0

    # dropping a writer that races a new commit of its own conflicts
    orig = t._write_manifest
    fired = {"done": False}

    def racy(manifest):
        if (
            not fired["done"]
            and manifest.get("summary", {}).get("operation") == "drop-watermark"
        ):
            fired["done"] = True
            t._write_manifest = orig
            SnapshotTable(t.spark, t.path).merge_upsert(
                spark.createDataFrame([ev(600, "update", "other", 0, "y")], rows),
                epoch_id=1, query_id="a",
            )
        return orig(manifest)

    t._write_manifest = racy
    with pytest.raises(CommitConflictError, match="advanced its watermark"):
        t.drop_watermark("a")
    assert fired["done"]
    assert t.manifest()["watermarks"]["a"] == 600  # nothing was erased


def test_unordered_stream_pins_tombstone_horizon(spark, tmp_path):
    """The r6 soundness fix. A SINGLE writer whose epochs arrive out of
    seq order (what Spark's file stream does with same-mtime files —
    replay_stream's default regime): the max-committed-seq watermark
    overstates what has arrived, so advancing it per epoch and expiring
    concurrently resurrects deletes. Reproduced with the ordering claim
    wrongly asserted, then shown blocked by the unordered-writer pin,
    then unpinned explicitly after the drain."""
    import pytest

    from sql_graph_visualizer_spark.lake.snapshot_table import TombstoneHorizonError

    rows = (
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp"
    )

    def ev(seq, op, conv, turn, text):
        return (seq, op, conv, turn, "user", text, None, None)

    # file A (high seqs): insert + delete of K. file B (low seq): the
    # pre-delete update. The stream happens to process A before B.
    file_a = [ev(10, "insert", "K", 0, "v1"), ev(500, "delete", "K", 0, None)]
    file_b = [ev(100, "update", "K", 0, "v2-stale")]

    # (1) reproduce: claiming ordered delivery from an unordered stream
    t = SnapshotTable.create(spark, str(tmp_path / "buggy"), SCHEMA, KEYS, num_buckets=4)
    t.merge_upsert(spark.createDataFrame(file_a, rows), epoch_id=0, query_id="s")
    assert t.safe_tombstone_horizon() == 501  # overstated: B hasn't arrived
    t.expire_tombstones()  # "safe" by the bogus claim — drops K's tombstone
    t.merge_upsert(spark.createDataFrame(file_b, rows), epoch_id=1, query_id="s")
    assert t.read().filter("conv_id = 'K'").count() == 1  # the bug: K resurrected

    # (2) the fix: an unordered writer pins the horizon instead
    t2 = SnapshotTable.create(spark, str(tmp_path / "fixed"), SCHEMA, KEYS, num_buckets=4)
    t2.merge_upsert(
        spark.createDataFrame(file_a, rows), epoch_id=0, query_id="s",
        ordered_writer=False,
    )
    assert t2.safe_tombstone_horizon() == 0  # pinned: nothing expirable
    v = t2.manifest()["version"]
    assert t2.expire_tombstones() == v  # no-op, no full-table rewrite
    with pytest.raises(TombstoneHorizonError):
        t2.expire_tombstones(older_than_seq=501)
    t2.merge_upsert(
        spark.createDataFrame(file_b, rows), epoch_id=1, query_id="s",
        ordered_writer=False,
    )
    assert t2.read().filter("conv_id = 'K'").count() == 0  # still deleted

    # (3) drained: the operator can prove the ordering claim and unpin
    t2.advance_watermark("s", 500)
    assert t2.safe_tombstone_horizon() == 501
    t2.expire_tombstones()
    assert t2.read(system=True).filter("_deleted").count() == 0
    assert t2.read().filter("conv_id = 'K'").count() == 0


def test_unordered_pin_lifecycle_guards(spark, tmp_path):
    """The pin's two escape hatches stay safe: (a) drop_watermark on a
    pinned writer refuses without force (liveness of a pinned writer is
    undetectable from the watermark, so a silent drop re-opens the
    resurrection window); (b) a drained availableNow replay_stream
    unpins automatically, so drain-then-expire keeps working."""
    import pytest

    from sql_graph_visualizer_spark.lake.snapshot_table import TombstoneHorizonError

    rows = (
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp"
    )
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=4)
    t.merge_upsert(
        spark.createDataFrame([(10, "insert", "K", 0, "user", "v1", None, None)], rows),
        epoch_id=0, query_id="s", ordered_writer=False,
    )
    assert t.safe_tombstone_horizon() == 0  # pinned
    with pytest.raises(TombstoneHorizonError, match="unordered-delivery pin"):
        t.drop_watermark("s")
    t.drop_watermark("s", force=True)  # provably-dead escape hatch
    assert t.safe_tombstone_horizon() is None

    # (b) a drained availableNow run keeps the pin BY DEFAULT (a later
    # run may still ship smaller LSNs — ADVICE r6); the unpin is an
    # explicit caller assertion via unpin_on_drain=True
    log = gen_cdc_log(spark, 400, num_convs=4, turns_per_conv=4)
    log_dir = str(tmp_path / "log")
    write_cdc_log_dir(log, log_dir, num_files=4)
    t2 = SnapshotTable.create(spark, str(tmp_path / "t2"), SCHEMA, KEYS, num_buckets=4)
    replay_stream(spark, log_dir, t2, str(tmp_path / "ckpt0"), max_files_per_trigger=2)
    assert t2.safe_tombstone_horizon() == 0  # still pinned
    t3 = SnapshotTable.create(spark, str(tmp_path / "t3"), SCHEMA, KEYS, num_buckets=4)
    replay_stream(
        spark, log_dir, t3, str(tmp_path / "ckpt"), max_files_per_trigger=2,
        unpin_on_drain=True,
    )
    t2 = t3
    max_seq = int(log.agg({"seq": "max"}).collect()[0][0])
    assert t2.safe_tombstone_horizon() == max_seq + 1
    t2.expire_tombstones()
    assert t2.read(system=True).filter("_deleted").count() == 0
    assert sorted(map(tuple, t2.read().collect())) == sorted(
        map(tuple, final_state(log, payload_cols=("role", "text", "tool", "ts")).collect())
    )


def test_ingest_transforms_redact_decontam_with_lineage_counts(spark, tmp_path):
    """VERDICT r6 #6: PII redaction + online benchmark decontamination
    as per-batch transforms in replay_stream. Final table state must
    equal the batch oracle (same transforms applied to the whole log at
    once — both are per-row decisions, so batch boundaries can't matter)
    and the redact/drop counters must land in the lineage table under
    <query_id>-transforms."""
    from sql_graph_visualizer_spark.operators.decontam import ngram_contamination
    from sql_graph_visualizer_spark.operators.text import redact_pii
    from sql_graph_visualizer_spark.streaming.transforms import IngestTransforms

    secret = "the secret benchmark sentence appears here exactly verbatim"
    log = gen_cdc_log(spark, 1200, num_convs=10, turns_per_conv=6)
    log = log.withColumn(
        "text",
        F.when(F.col("seq") % 7 == 0, F.concat(F.col("text"), F.lit(" mail bob@x.io ip 10.0.0.1")))
        .when(F.col("seq") % 11 == 3, F.lit(secret))
        .otherwise(F.col("text")),
    )
    bench = spark.createDataFrame([(1, secret)], "doc_id long, text string")

    # oracle: same per-row transforms over the WHOLE log, then LWW
    redacted = log.withColumn("text", redact_pii(F.col("text")))
    contaminated = ngram_contamination(
        redacted.withColumn("__tid", F.xxhash64("conv_id", "turn_idx", "seq")),
        bench, n=3, id_col="__tid",
    ).filter("contamination >= 0.5").select(F.col("doc_id").alias("__tid"))
    clean = (
        redacted.withColumn("__tid", F.xxhash64("conv_id", "turn_idx", "seq"))
        .join(contaminated, "__tid", "left_anti")
        .drop("__tid")
    )
    expected = _expected(clean)
    n_dropped_exp = log.count() - clean.count()
    assert n_dropped_exp > 0, "fixture must drop contaminated events"

    log_dir = str(tmp_path / "log")
    write_cdc_log_dir(log, log_dir, num_files=4)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    lin = LineageRecorder(spark, str(tmp_path / "lin"))
    tf = IngestTransforms(
        redact_cols=["text"], benchmark=bench, decontam_n=3,
        decontam_threshold=0.5, id_cols=["conv_id", "turn_idx", "seq"],
    )
    try:
        replay_stream(
            spark, log_dir, t, str(tmp_path / "ckpt"),
            max_files_per_trigger=2, lineage=lin, transforms=tf,
        )
    finally:
        tf.close()
    assert tf._bench_grams is None
    assert _state(t) == expected
    # counters: upserts = PII values redacted, deletes = rows dropped
    rows = (
        lin.table.read()
        .filter("query_id = 'cdc-replay-transforms'")
        .collect()
    )
    assert rows, "transform counters must reach the lineage table"
    # 1 email + 1 ip per PII-augmented row; delete events carry null
    # text (concat with null stays null → nothing to redact or count)
    n_pii_exp = log.filter("seq % 7 = 0 and text is not null").count() * 2
    assert sum(r.upserts for r in rows) == n_pii_exp
    assert sum(r.deletes for r in rows) == n_dropped_exp
    assert sum(r.rows_in for r in rows) == log.count()


def test_ingest_transforms_take_one_action(spark):
    """With redaction or decontamination on, ``IngestTransforms.apply``
    runs one driver action per epoch: the count that materializes the
    transformed frame, with the raw counters on an Observation under it
    (a separate counter aggregate before that count made it 7 and 12
    jobs). The benchmark's n-gram set is built by the first epoch only
    (rebuilding it every epoch made the later ones 11 jobs too)."""
    from sql_graph_visualizer_spark.streaming.transforms import IngestTransforms
    from tests.conftest import _jobs

    secret = "the secret benchmark sentence appears here exactly verbatim"
    rows = [
        (i, f"doc {i} mail bob{i}@x.io" if i % 3 == 0 else secret if i % 5 == 1 else f"plain {i}")
        for i in range(60)
    ]
    bench = spark.createDataFrame([(1, secret)], "doc_id long, text string")
    for cfg, budgets, dropped in (
        ({}, (4, 4), 0),
        ({"benchmark": bench, "decontam_n": 3}, (11, 9), 8),
    ):
        tf = IngestTransforms(redact_cols=["text"], id_cols=["doc_id"], **cfg)
        for epoch, budget in enumerate(budgets):
            batch = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
            j0 = _jobs(spark)
            out = tf.apply(batch, epoch)
            assert _jobs(spark) - j0 <= budget, (cfg, epoch)
            st = tf.stats[-1]
            assert (st.rows_in, st.upserts, st.deletes) == (60, 20, dropped)
            assert out.count() == 60 - dropped
            out.unpersist()
        tf.close()


def test_json_file_skipping_replay_matches_oracle(spark, tmp_path):
    """r8 file skipping (guide §6): a bounded replay over a tagged
    gzip-JSON log reads, per epoch, only the files whose seq range
    intersects the epoch's — results must equal the full-log oracle,
    including file boundaries that straddle epoch boundaries (5 files /
    4 epochs) and epochs whose range matches no file at all (bounds
    wider than the data)."""
    from sql_graph_visualizer_spark.sources.cdc_gen import read_cdc_log

    log = gen_cdc_log(spark, 4000, num_convs=20, turns_per_conv=10)
    log_dir = str(tmp_path / "jl")
    write_cdc_log_dir(log, log_dir, num_files=5, fmt="json")
    jlog = read_cdc_log(spark, log_dir, fmt="json")
    assert getattr(jlog, "_sgv_file_source", None) is not None

    # persist_log=False forces the big-log regime where file skipping engages
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=8)
    stats = replay_batch(jlog, t, epochs=4, persist_log=False)
    assert len(stats) == 4 and not any(s.skipped for s in stats)
    assert _state(t) == _expected(log)

    # the probe ran once and is memoized on the DataFrame object
    ranges = getattr(jlog, "_sgv_file_ranges", None)
    assert isinstance(ranges, list) and len(ranges) == 5
    # LSN-ordered writer → per-file ranges are disjoint and contiguous
    spans = sorted((mn, mx) for _, mn, mx in ranges)
    assert spans[0][0] == 0 and spans[-1][1] == 3999
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))

    # bounds wider than the data → some epochs intersect no file (empty
    # chunk path) — state still converges to the same oracle
    t2 = SnapshotTable.create(spark, str(tmp_path / "t2"), SCHEMA, KEYS, num_buckets=8)
    stats2 = replay_batch(
        jlog, t2, epochs=6, bounds=(0, 11999), persist_log=False, query_id="wide"
    )
    assert len(stats2) == 6
    assert _state(t2) == _expected(log)

    # small-log default path (persist cache) is unaffected and identical;
    # with bounds given it never needs the file probe at all
    jlog2 = read_cdc_log(spark, log_dir, fmt="json")
    t3 = SnapshotTable.create(spark, str(tmp_path / "t3"), SCHEMA, KEYS, num_buckets=8)
    replay_batch(jlog2, t3, epochs=4, bounds=(0, 3999), query_id="cached")
    assert _state(t3) == _expected(log)
    assert getattr(jlog2, "_sgv_file_ranges", None) is None  # never probed
