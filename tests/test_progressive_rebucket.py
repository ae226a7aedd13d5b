"""Progressive bucket-count migration (VERDICT r4 #1).

A whole-table rewrite in one commit is invalidated by ANY concurrent
commit — on a continuously-ingesting 100 TB table it can never land
(livelock) and is a stop-the-world-sized job anyway. The progressive
migration keeps both specs in the manifest (``migration:
{new_num_buckets, frontier}``), migrates old buckets in small
conflict-checked batches, and routes every reader/writer per key
through the frontier CASE — so ingest never pauses and the migration
converges bucket by bucket. ``rebucket()`` is this migration with every
old bucket in one step; the "monolithic" comparisons below run it.
Reference semantics preserved throughout: LWW by LSN
(``graph_aggregate.go:46-59``), unchanged.
"""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from sql_graph_visualizer_spark.lake.snapshot_table import (
    CommitConflictError,
    SnapshotTable,
)
from sql_graph_visualizer_spark.operators.compaction import final_state
from sql_graph_visualizer_spark.sources.cdc_gen import gen_cdc_log
from sql_graph_visualizer_spark.streaming.replay import merge_with_retry, replay_batch

from tests.conftest import _table
from tests.test_mor import _expected, _state


def _pruned_equals_full(t, conv):
    m = t.manifest()
    b = int(
        t.spark.createDataFrame([(conv,)], "conv_id string")
        .select(t.bucket_id("conv_id", manifest=m).alias("b"))
        .first()["b"]
    )
    pruned = t.read(buckets=[b], manifest=m).filter(F.col("conv_id") == conv)
    full = t.read(manifest=m).filter(F.col("conv_id") == conv)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))
    assert full.count() > 0


def test_progressive_rebucket_static_equals_monolithic(spark, tmp_path):
    """On a quiet table the progressive migration must land the exact
    state and spec the monolithic rewrite does — including folding MoR
    deltas — with pruned reads correct mid-migration AND after."""
    log = gen_cdc_log(spark, 1200, num_convs=16, turns_per_conv=6)
    prog, mono = _table(spark, tmp_path, "p", buckets=4), _table(spark, tmp_path, "m", buckets=4)
    for t in (prog, mono):
        replay_batch(log.filter("seq < 900"), t, epochs=3, bounds=(0, 899))
        t.merge_upsert(log.filter("seq >= 900"), epoch_id=99, query_id="mor", mode="mor")

    prog.rebucket_start(16)
    # mid-migration: partial frontier — reads must stay exact throughout
    res = prog.rebucket_step(max_buckets=1)
    assert res["remaining"] == 3
    assert _state(prog) == _expected(log)
    conv = log.select("conv_id").first()[0]
    _pruned_equals_full(prog, conv)
    while res["remaining"]:
        res = prog.rebucket_step(max_buckets=2)
    prog.rebucket_finish()

    mono.rebucket(16)
    mp, mm = prog.manifest(), mono.manifest()
    assert mp["num_buckets"] == mm["num_buckets"] == 16
    assert "migration" not in mp
    assert not any((mp.get("deltas") or {}).values())  # steps folded them
    assert _state(prog) == _state(mono) == _expected(log)
    _pruned_equals_full(prog, conv)


def test_progressive_rebucket_requires_multiple(spark, tmp_path):
    t = _table(spark, tmp_path, buckets=4)
    with pytest.raises(ValueError, match="multiple"):
        t.rebucket_start(6)
    with pytest.raises(ValueError, match="multiple"):
        t.rebucket_start(4)
    with pytest.raises(ValueError, match="multiple"):
        t.rebucket(6)


def test_step_yields_to_concurrent_ingest_and_retries(spark, tmp_path):
    """Ingest always wins a bucket race: a merge landing on a migrating
    bucket between the step's read and its commit invalidates only that
    STEP. The retried step (and the rest of the migration) converges
    with the merged data in place."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 1000, num_convs=12, turns_per_conv=6)
    t.merge_upsert(log.filter("seq < 500"), epoch_id=0, query_id="q")
    t.rebucket_start(16)

    orig = t._write_manifest
    fired = {"done": False}
    tail = log.filter("seq >= 500")

    def racy(manifest):
        if (
            not fired["done"]
            and manifest.get("summary", {}).get("operation") == "rebucket-step"
        ):
            fired["done"] = True
            t._write_manifest = orig
            SnapshotTable(t.spark, t.path).merge_upsert(tail, epoch_id=1, query_id="q")
        return orig(manifest)

    t._write_manifest = racy
    with pytest.raises(CommitConflictError):
        t.rebucket_step(max_buckets=4)  # every bucket touched by the merge
    assert fired["done"]
    # the retried migration converges over the merged state
    while t.rebucket_step(max_buckets=2)["remaining"]:
        pass
    t.rebucket_finish()
    assert t.manifest()["num_buckets"] == 16
    assert _state(t) == _expected(log)


def test_cow_merge_racing_frontier_advance_conflicts_then_converges(spark, tmp_path):
    """The other order: a frontier advance lands while a CoW merge is
    in flight → the merge's spec-token validation fires (its files are
    partitioned under the stale routing) and merge_with_retry recomputes
    on the new layout."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 1000, num_convs=12, turns_per_conv=6)
    t.merge_upsert(log.filter("seq < 500"), epoch_id=0, query_id="q")
    t.rebucket_start(16)

    orig = t._write_manifest
    fired = {"done": False}

    def racy(manifest):
        if not fired["done"] and manifest.get("summary", {}).get("operation") == "merge":
            fired["done"] = True
            t._write_manifest = orig
            SnapshotTable(t.spark, t.path).rebucket_step(max_buckets=4)
        return orig(manifest)

    t._write_manifest = racy
    st = merge_with_retry(t, log.filter("seq >= 500"), 1, "q")
    assert not st.skipped and fired["done"]
    assert _state(t) == _expected(log)
    _pruned_equals_full(t, log.select("conv_id").first()[0])


def test_mor_delta_rebases_across_disjoint_frontier_advance(spark, tmp_path):
    """A MoR delta commit racing a frontier advance that migrated NONE
    of its buckets must rebase (labels unchanged), not conflict — the
    delta lands on the first attempt and pruned reads stay exact."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 800, num_convs=12, turns_per_conv=6)
    t.merge_upsert(log, epoch_id=0, query_id="q")
    t.rebucket_start(16)

    # one update touching exactly one old bucket — pick a conversation
    # in a NONZERO bucket so the frontier can advance disjointly below it
    conv, b_conv = next(
        (r.conv_id, int(r.b))
        for r in log.select("conv_id")
        .distinct()
        .withColumn("b", F.pmod(F.xxhash64("conv_id"), F.lit(4)))
        .collect()
        if int(r.b) > 0
    )
    upd = spark.createDataFrame(
        [(50_000, "update", conv, 0, "user", "rebased-delta", None, None)],
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )

    orig = t._write_manifest
    fired = {"done": False}

    def racy(manifest):
        if not fired["done"] and manifest.get("summary", {}).get("mode") == "mor":
            fired["done"] = True
            t._write_manifest = orig
            shadow = SnapshotTable(t.spark, t.path)
            # advance the frontier one bucket at a time until it sits
            # just past every bucket EXCEPT the delta's (disjoint) —
            # when b_conv == 0 migrate nothing (frontier 0 advance is
            # not possible piecemeal below bucket 0, so skip)
            for _ in range(b_conv):
                shadow.rebucket_step(max_buckets=1)
        return orig(manifest)

    t._write_manifest = racy
    st = t.merge_upsert(upd, epoch_id=1, query_id="q", mode="mor")
    assert not st.skipped and fired["done"]
    assert int(t.manifest()["migration"]["frontier"]) == b_conv
    got = t.read().filter((F.col("conv_id") == conv) & (F.col("turn_idx") == 0))
    assert [r.text for r in got.collect()] == ["rebased-delta"]
    _pruned_equals_full(t, conv)
    # and the rest of the migration folds the delta correctly
    while t.rebucket_step(max_buckets=2)["remaining"]:
        pass
    t.rebucket_finish()
    got = t.read().filter((F.col("conv_id") == conv) & (F.col("turn_idx") == 0))
    assert [r.text for r in got.collect()] == ["rebased-delta"]


def test_derived_sync_across_progressive_migration(spark, tmp_path):
    """GraphSync + RollupSync while a progressive migration advances
    BETWEEN a data merge and its derived-table syncs: the rollup's
    time-travel reads (merge snapshot + parent) straddle the frontier
    move, so bucket ids must come from each manifest actually read —
    the frontier CASE makes 'same manifest' the only correct spec
    source. Final derived tables equal full rebuilds."""
    from sql_graph_visualizer_spark.streaming.graph_sync import (
        GraphSync,
        derive_conv_edges,
    )
    from sql_graph_visualizer_spark.streaming.rollup import RollupSync

    t = _table(spark, tmp_path, buckets=4)
    gs = GraphSync(spark, str(tmp_path / "edges"), t, num_buckets=8)
    roll = RollupSync(
        spark, str(tmp_path / "roll"), t, bucket="hour", source_query_id="q"
    )
    log = gen_cdc_log(spark, 1600, num_convs=10, turns_per_conv=6)
    t.rebucket_start(16)
    for e in range(4):
        chunk = log.filter((F.col("seq") >= e * 400) & (F.col("seq") < (e + 1) * 400))
        st = t.merge_upsert(chunk, epoch_id=e, query_id="q")
        # the frontier advances between the merge and its syncs
        t.rebucket_step(max_buckets=1)
        gs.sync(chunk, e, st)
        roll.sync(chunk, e, st)
    t.rebucket_finish()
    assert t.manifest()["num_buckets"] == 16
    cols = ["src", "dst", "rel_type", "conv_id", "turn_idx"]
    full = sorted(map(tuple, derive_conv_edges(t.read()).select(*cols).collect()))
    incr = sorted(map(tuple, gs.read().select(*cols).collect()))
    assert incr == full and len(full) > 0
    expect = sorted(
        map(
            tuple,
            t.read()
            .filter(F.col("ts").isNotNull())
            .groupBy(F.date_trunc("hour", "ts").alias("bucket_start"))
            .agg(F.count("*").alias("n_turns"))
            .collect(),
        )
    )
    assert sorted(map(tuple, roll.read().collect())) == expect


def test_expire_snapshots_mid_migration_preserves_state(spark, tmp_path):
    """Snapshot GC during an ACTIVE migration: the kept manifest's
    mixed-spec segment set (old-spec buckets + migrated new-spec ids)
    must all stay GC roots, and the migration must resume and finish
    over the pruned snapshot history."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 1000, num_convs=12, turns_per_conv=6)
    replay_batch(log, t, epochs=3, bounds=(0, 999))
    t.rebucket_start(16)
    t.rebucket_step(max_buckets=2)  # half migrated
    before = _state(t)
    removed = t.expire_snapshots(keep_last=1)
    assert removed >= 1
    t2 = SnapshotTable(spark, t.path)  # fresh caches: re-read from disk
    assert _state(t2) == before
    assert int(t2.manifest()["migration"]["frontier"]) == 2
    while t2.rebucket_step(max_buckets=2)["remaining"]:
        pass
    t2.rebucket_finish()
    assert t2.manifest()["num_buckets"] == 16
    assert _state(t2) == before
    _pruned_equals_full(t2, log.select("conv_id").first()[0])


def test_soak_migration_during_sustained_replay(spark, tmp_path):
    """THE done-criterion test: migrate a LIVE table mid-replay —
    ingest never pauses (every epoch commits), the migration converges
    (frontier reaches the end despite losing bucket races), and the
    final state is oracle-equal with pruned reads exact under the new
    spec. Runs both merge arms through the migration window."""
    t = _table(spark, tmp_path, buckets=8)
    log = gen_cdc_log(spark, 6000, num_convs=24, turns_per_conv=8)
    # seed, then migrate while 6 epochs replay (alternating cow/mor)
    t.merge_upsert(log.filter("seq < 1200"), epoch_id=0, query_id="q")

    mig: dict[str, object] = {"version": None, "error": None}

    def migrate():
        try:
            shadow = SnapshotTable(spark, t.path)
            mig["version"] = shadow.rebucket_progressive(32, buckets_per_step=1)
        except Exception as ex:  # noqa: BLE001
            mig["error"] = repr(ex)

    worker = threading.Thread(target=migrate, daemon=True)
    worker.start()
    stats = []
    for e in range(1, 7):
        chunk = log.filter((F.col("seq") >= e * 800 + 400) & (F.col("seq") < (e + 1) * 800 + 400))
        st = merge_with_retry(
            t, chunk, e, "q", conflict_retries=8,
            merge_mode="mor" if e % 2 else "cow",
        )
        stats.append(st)
        time.sleep(0.05)  # the gap a real trigger interval leaves
    worker.join(timeout=300)
    assert not worker.is_alive(), "migration never converged under ingest"
    assert mig["error"] is None, mig["error"]
    # ingest never paused: every epoch committed (none skipped)
    assert [s.epoch_id for s in stats if not s.skipped] == [1, 2, 3, 4, 5, 6]
    m = t.manifest()
    assert m["num_buckets"] == 32 and "migration" not in m
    assert _state(t) == _expected(log)
    _pruned_equals_full(t, log.select("conv_id").first()[0])
    # the migration genuinely interleaved with ingest: step commits and
    # merge commits alternate in the version history
    ops = [
        t.manifest(v).get("summary", {}).get("operation")
        for v in t.versions()
    ]
    first_step = ops.index("rebucket-step")
    assert any(o == "merge" for o in ops[first_step:]), ops


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_widening_lands_mid_progressive_migration(spark, tmp_path, mode):
    """Schema evolution × active migration (VERDICT r5 #1): a widening
    epoch (CoW or MoR-rebased) landing while the migration frontier is
    mid-table must read exactly at the widened type RIGHT THEN (pre- and
    post-frontier buckets mixed), and the remaining steps — which rewrite
    rows written under BOTH schema generations — must converge to the
    sealed spec oracle-equal."""
    from pyspark.sql import types as T

    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 1000, num_convs=12, turns_per_conv=6)
    t.merge_upsert(log.filter("seq < 600"), epoch_id=0, query_id="q")  # int32 base
    t.rebucket_start(16)
    assert t.rebucket_step(max_buckets=1)["remaining"] == 3  # frontier mid-table

    widened_tail = log.filter("seq >= 600").withColumn(
        "turn_idx", F.col("turn_idx").cast("long")
    )
    t.merge_upsert(widened_tail, epoch_id=1, query_id="q", mode=mode)

    expected = sorted(
        map(
            tuple,
            final_state(log, payload_cols=("text",))
            .withColumn("turn_idx", F.col("turn_idx").cast("long"))
            .collect(),
        )
    )

    def check(tt):
        assert {f.name: f.dataType for f in tt.schema().fields}["turn_idx"] == T.LongType()
        assert sorted(
            map(tuple, tt.read().select("conv_id", "turn_idx", "text").collect())
        ) == expected

    check(t)  # mid-migration read across mixed schema generations
    _pruned_equals_full(t, log.select("conv_id").first()[0])
    while t.rebucket_step(max_buckets=2)["remaining"]:
        pass
    t.rebucket_finish()
    m = t.manifest()
    assert m["num_buckets"] == 16 and "migration" not in m
    check(t)
    _pruned_equals_full(t, log.select("conv_id").first()[0])
    # survives a cold open (no warm caches hiding a dangling schema id)
    check(SnapshotTable(spark, t.path))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_rebucket_step_rebases_over_racing_widening(spark, tmp_path, mode):
    """A ``rebucket_step`` that READ its batch under the old schema and
    commits AFTER a widening landed (on other buckets) must rebase, not
    corrupt: its build keeps the winner's widened registry + schema_id,
    its own segments stay tagged with the old (still-registered) schema
    id, and the folded read is oracle-equal at the widened type
    (VERDICT r5 #1: step.validate checks bucket tokens + migration
    state, not schema_id — this proves that is CORRECT, because the
    step's rewrite touches only token-validated buckets and file-level
    schema ids align up at read)."""
    from pyspark.sql import types as T

    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 800, num_convs=10, turns_per_conv=5)
    head = log.filter("seq < 400")
    t.merge_upsert(head, epoch_id=0, query_id="q")
    t.rebucket_start(8)

    # the step will migrate bucket 0; the racing widener must touch ONLY
    # other buckets or the step correctly loses the race instead
    m0 = t.manifest()
    convs_off0 = [
        r["conv_id"]
        for r in log.select("conv_id").distinct()
        .withColumn("b", t.bucket_id("conv_id", manifest=m0))
        .filter("b != 0")
        .collect()
    ]
    assert convs_off0, "fixture: need convs outside bucket 0"
    widener = (
        log.filter("seq >= 400")
        .filter(F.col("conv_id").isin(convs_off0))
        .withColumn("turn_idx", F.col("turn_idx").cast("long"))
    )

    orig = t._write_manifest
    fired = {"done": False}

    def racy(manifest):
        if (
            not fired["done"]
            and manifest.get("summary", {}).get("operation") == "rebucket-step"
        ):
            fired["done"] = True
            t._write_manifest = orig
            SnapshotTable(t.spark, t.path).merge_upsert(
                widener, epoch_id=1, query_id="w", mode=mode
            )
        return orig(manifest)

    t._write_manifest = racy
    res = t.rebucket_step(max_buckets=1)  # rebases over the widening
    assert fired["done"] and res["migrated"] == 1
    m = t.manifest()
    # the step kept the widening: registry + schema_id are the winner's
    assert (
        T.StructType.fromJson(m["schemas"][str(m["schema_id"])])["turn_idx"].dataType
        == T.LongType()
    )
    # and every file entry still resolves to a registered schema
    for b in m["segments"]:
        for e in t._load_segment(m["segments"][b]["path"]):
            assert str(e["schema_id"]) in m["schemas"], e

    expected_log = head.unionByName(
        log.filter("seq >= 400").filter(F.col("conv_id").isin(convs_off0))
    )
    expected = sorted(
        map(
            tuple,
            final_state(expected_log, payload_cols=("text",))
            .withColumn("turn_idx", F.col("turn_idx").cast("long"))
            .collect(),
        )
    )
    got = lambda tt: sorted(  # noqa: E731
        map(tuple, tt.read().select("conv_id", "turn_idx", "text").collect())
    )
    assert got(t) == expected
    while t.rebucket_step(max_buckets=2)["remaining"]:
        pass
    t.rebucket_finish()
    assert t.manifest()["num_buckets"] == 8
    assert got(SnapshotTable(spark, t.path)) == expected

def test_soak_snapshot_gc_races_migration_and_ingest(spark, tmp_path):
    """VERDICT r5 #6: orphan GC on a timer DURING the live-migration
    soak — three concurrent actors: sustained replay epochs (both merge
    arms), a progressive migration stepping bucket by bucket, and
    ``expire_snapshots`` sweeping with an age grace. Steps write their
    segment + data files BEFORE their commit references them, so the
    grace is what keeps the sweeper from eating an in-flight step.
    Proves: GC genuinely pruned history mid-run, migration converged,
    ingest never paused, final state is oracle-equal on a cold open,
    and no kept manifest references a deleted file."""
    import os

    t = _table(spark, tmp_path, buckets=8)
    log = gen_cdc_log(spark, 6000, num_convs=24, turns_per_conv=8)
    t.merge_upsert(log.filter("seq < 1200"), epoch_id=0, query_id="q")

    mig: dict[str, object] = {"version": None, "error": None}

    def migrate():
        try:
            shadow = SnapshotTable(spark, t.path)
            mig["version"] = shadow.rebucket_progressive(32, buckets_per_step=1)
        except Exception as ex:  # noqa: BLE001
            mig["error"] = repr(ex)

    gc: dict[str, object] = {"removed": 0, "sweeps": 0, "error": None}
    stop_gc = threading.Event()

    def sweep():
        # fresh instance (own caches) like a real maintenance process;
        # grace far exceeds the longest commit here, per the
        # expire_snapshots contract for concurrent maintenance
        sweeper = SnapshotTable(spark, t.path)
        try:
            while not stop_gc.is_set():
                # grace must exceed the longest commit (sub-second here;
                # 8 s is margin) but stay short enough that early-run
                # manifests age out WHILE the other actors still run
                gc["removed"] = int(gc["removed"]) + sweeper.expire_snapshots(
                    keep_last=2, older_than_seconds=8
                )
                gc["sweeps"] = int(gc["sweeps"]) + 1
                stop_gc.wait(0.2)
        except Exception as ex:  # noqa: BLE001
            gc["error"] = repr(ex)

    worker = threading.Thread(target=migrate, daemon=True)
    reaper = threading.Thread(target=sweep, daemon=True)
    worker.start()
    reaper.start()
    stats = []
    try:
        for e in range(1, 7):
            chunk = log.filter(
                (F.col("seq") >= e * 800 + 400) & (F.col("seq") < (e + 1) * 800 + 400)
            )
            st = merge_with_retry(
                t, chunk, e, "q", conflict_retries=8,
                merge_mode="mor" if e % 2 else "cow",
            )
            stats.append(st)
            time.sleep(0.05)
        worker.join(timeout=300)
        # a warm JVM can finish the whole scenario inside the grace —
        # keep sweeping until history genuinely ages into the prunable
        # window, so the removal paths are always exercised
        deadline = time.monotonic() + 60
        while int(gc["removed"]) < 1 and gc["error"] is None and time.monotonic() < deadline:
            time.sleep(0.25)
    finally:
        stop_gc.set()
        reaper.join(timeout=60)
    assert not worker.is_alive(), "migration never converged under ingest + GC"
    assert mig["error"] is None, mig["error"]
    assert gc["error"] is None, gc["error"]
    assert int(gc["sweeps"]) >= 3
    # GC genuinely pruned manifests (usually mid-run; at latest in the
    # post-run sweeps above)
    assert int(gc["removed"]) >= 1, gc
    assert [s.epoch_id for s in stats if not s.skipped] == [1, 2, 3, 4, 5, 6]

    m = t.manifest()
    assert m["num_buckets"] == 32 and "migration" not in m
    # cold open: no warm cache can hide a swept file
    t2 = SnapshotTable(spark, t.path)
    assert _state(t2) == _expected(log)
    _pruned_equals_full(t2, log.select("conv_id").first()[0])
    # every kept manifest's segment refs AND data-file entries resolve
    for v in t2.versions():
        mm = t2.manifest(v)
        for ref in (mm.get("segments") or {}).values():
            assert os.path.exists(os.path.join(t2.path, ref["path"])), (v, ref)
        for e_ in t2._entries(mm) + t2._delta_entries(mm):
            assert os.path.exists(os.path.join(t2.path, e_["path"])), (v, e_)
    # quiesced table: a graceless orphan sweep must not touch live data
    SnapshotTable(spark, t.path).expire_snapshots(keep_last=1)
    t3 = SnapshotTable(spark, t.path)
    assert _state(t3) == _expected(log)
    _pruned_equals_full(t3, log.select("conv_id").first()[0])
