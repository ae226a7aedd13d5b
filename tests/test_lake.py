"""SnapshotTable: MERGE semantics, epoch fencing, bucket pruning,
schema evolution, snapshot expiry."""

from __future__ import annotations

import hashlib
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
from sql_graph_visualizer_spark.operators.compaction import final_state
from sql_graph_visualizer_spark.sources.cdc_gen import gen_cdc_log

from tests.conftest import KEYS, SCHEMA, _table


def _sorted_state(t):
    return [
        (r.conv_id, r.turn_idx, r.text)
        for r in t.read().orderBy("conv_id", "turn_idx").collect()
    ]


def test_merge_insert_update_delete(spark, tmp_path):
    t = _table(spark, tmp_path)
    log = gen_cdc_log(spark, 400, num_convs=5, turns_per_conv=6)
    st = t.merge_upsert(log)
    assert not st.skipped and st.rows_in > 0
    expected = final_state(log, payload_cols=("text",))
    got = t.read().select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_incremental_merge_equals_batch_final_state(spark, tmp_path):
    """The north-rule correctness contract: replaying the log in epochs
    equals the batch-computed final state (reference wipe-and-rebuild
    semantics, cmd/main.go:165-177)."""
    log = gen_cdc_log(spark, 2000, num_convs=12, turns_per_conv=8)
    t = _table(spark, tmp_path)
    for e in range(4):
        chunk = log.filter((F.col("seq") >= e * 500) & (F.col("seq") < (e + 1) * 500))
        t.merge_upsert(chunk, epoch_id=e, query_id="q")
    expected = final_state(log, payload_cols=("role", "text", "tool"))
    got = t.read().select("conv_id", "turn_idx", "role", "text", "tool")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_epoch_fencing_skips_replayed_epoch(spark, tmp_path):
    t = _table(spark, tmp_path)
    log = gen_cdc_log(spark, 300, num_convs=4, turns_per_conv=5)
    first = log.filter(F.col("seq") < 150)
    t.merge_upsert(first, epoch_id=0, query_id="q")
    before = _sorted_state(t)
    # crash-replay of epoch 0 with different (stale) content must be a no-op
    st = t.merge_upsert(log.limit(10), epoch_id=0, query_id="q")
    assert st.skipped
    assert _sorted_state(t) == before
    # a different query_id is fenced independently
    st2 = t.merge_upsert(log.filter(F.col("seq") >= 150), epoch_id=0, query_id="q2")
    assert not st2.skipped


def test_merge_only_rewrites_touched_buckets(spark, tmp_path):
    t = _table(spark, tmp_path, buckets=16)
    log = gen_cdc_log(spark, 1000, num_convs=30, turns_per_conv=6)
    t.merge_upsert(log, epoch_id=0, query_id="q")
    m1 = t.manifest()
    one_conv = log.filter(F.col("conv_id") == log.select("conv_id").first()[0]).limit(5)
    st = t.merge_upsert(one_conv, epoch_id=1, query_id="q")
    assert st.buckets_touched == 1
    m2 = t.manifest()
    untouched = [
        b for b in m1["segments"]
        if m1["segments"][b]["path"] == m2["segments"].get(b, {}).get("path")
    ]
    assert len(untouched) >= len(m1["segments"]) - 1  # all but the touched bucket carried over
    # segment files written by the second commit ∝ touched buckets (scale
    # hygiene: commit metadata IO is bounded by the batch's bucket set)
    rewritten = [b for b in m2["segments"] if b not in untouched]
    assert len(rewritten) == 1


def test_cow_merge_batch_row_wins_tie_at_table_seq(spark, tmp_path):
    """A batch row at the same seq as the table row replaces it
    (``WHEN MATCHED AND src.seq >= tgt._seq``), whatever order the
    staged rows arrive in — the shape ``IvfIndex.retrain_step`` writes
    when it re-assigns a row at its original LSN."""
    cols = "seq long, op string, conv_id string, turn_idx int, text string"
    # the batch row sorts above, then below, the table row
    for old, new in (("A", "B"), ("B", "A")):
        t = _table(spark, tmp_path, f"tie{new}", buckets=1)
        t.merge_upsert(
            spark.createDataFrame([(5, "insert", "k", 0, old)], cols), epoch_id=0, query_id="q"
        )
        t.merge_upsert(
            spark.createDataFrame([(5, "update", "k", 0, new)], cols), epoch_id=1, query_id="q"
        )
        assert _sorted_state(t) == [("k", 0, new)]


def test_merge_of_tied_batch_rows_ignores_arrival_order(spark, tmp_path):
    """Two different batch rows at one (key, seq) merge to the same row
    whichever order the batch delivers them in, in both merge modes."""
    cols = "seq long, op string, conv_id string, turn_idx int, text string"
    rows = [(5, "update", "k", 0, "A"), (5, "update", "k", 0, "B")]
    for mode in ("cow", "mor"):
        got = set()
        for i, order in enumerate((rows, rows[::-1])):
            t = _table(spark, tmp_path, f"{mode}{i}", buckets=1)
            batch = spark.createDataFrame(order, cols).coalesce(1)
            t.merge_upsert(batch, epoch_id=0, query_id="q", mode=mode)
            got.add(tuple(_sorted_state(t)))
        assert got == {(("k", 0, "B"),)}, mode


def test_size_stats_tracks_bytes(spark, tmp_path):
    """S8 dataset-size estimate: manifest-only, matches on-disk bytes
    (mysql/repository.go:492-538 analogue)."""
    t = _table(spark, tmp_path)
    log = gen_cdc_log(spark, 300, num_convs=4, turns_per_conv=5)
    t.merge_upsert(log, epoch_id=0, query_id="q")
    s = t.size_stats()
    assert s["total_files"] > 0 and s["buckets"] > 0
    m = t.manifest()
    on_disk = sum(
        os.path.getsize(os.path.join(t.path, e["path"])) for e in t._entries(m)
    )
    assert s["total_bytes"] == on_disk > 0
    assert m["summary"]["total_files_bytes"] == on_disk


def test_lineage_batched_flush(spark, tmp_path):
    """flush_every=K commits one lineage file per K epochs (small-files
    mitigation) without losing or double-counting rows."""
    from sql_graph_visualizer_spark.streaming.metrics import LineageRecorder
    from sql_graph_visualizer_spark.streaming.replay import replay_batch

    log = gen_cdc_log(spark, 600, num_convs=6, turns_per_conv=5)
    t = _table(spark, tmp_path)
    rec = LineageRecorder(spark, os.path.join(str(tmp_path), "lin"), flush_every=4)
    replay_batch(log, t, epochs=4, lineage=rec)
    rows = rec.read().collect()
    assert sorted(int(r.epoch_id) for r in rows) == [0, 1, 2, 3]
    # exactly ONE append commit for all four epochs (create=v1, append=v2)
    assert rec.table.manifest()["version"] == 2
    # fenced: re-recording the same epochs then flushing is a no-op
    rec2 = LineageRecorder(spark, os.path.join(str(tmp_path), "lin"), flush_every=4)
    replay_batch(log, t, epochs=4, lineage=rec2)  # merges all fenced/skipped
    assert rec2.read().count() == 4


def test_pipelined_replay_with_mid_log_schema_evolution(spark, tmp_path):
    """merge_prepare runs for epoch N+1 before epoch N commits (pipelined
    replay) — schema evolution mid-log must still resolve identically to
    the sequential path, because prepare touches only key/order/op."""
    from sql_graph_visualizer_spark.streaming.replay import replay_batch

    log = gen_cdc_log(spark, 1200, num_convs=8, turns_per_conv=6, schema_v2_from=600)
    piped, seq = _table(spark, tmp_path, "p"), _table(spark, tmp_path, "s")
    replay_batch(log, piped, epochs=4, bounds=(0, 1199), pipeline=True)
    replay_batch(log, seq, epochs=4, bounds=(0, 1199), pipeline=False)
    cols = ["conv_id", "turn_idx", "text", "model"]
    rows = lambda t: sorted(map(tuple, t.read().select(*cols).collect()))  # noqa: E731
    assert rows(piped) == rows(seq)
    assert "model" in [f.name for f in piped.schema().fields]


def test_merge_prepared_with_widened_key_type(spark, tmp_path):
    """A prepared merge must bucket-hash widened batch key columns with
    the TABLE's type (xxhash64 of int vs long differ) — otherwise rows
    land in wrong buckets."""
    t = _table(spark, tmp_path)
    log = gen_cdc_log(spark, 300, num_convs=4, turns_per_conv=5)
    t.merge_upsert(log.filter(F.col("seq") < 150), epoch_id=0, query_id="q")
    widened = log.filter(F.col("seq") >= 150).withColumn(
        "turn_idx", F.col("turn_idx").cast("long")
    )
    prep = t.merge_prepare(widened)
    t.merge_upsert(widened, epoch_id=1, query_id="q", prepared=prep)
    expected = final_state(log, payload_cols=("text",))
    got = t.read().select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.withColumn("turn_idx", F.col("turn_idx").cast("long")).collect())
    )


def test_schema_evolution_add_column(spark, tmp_path):
    t = _table(spark, tmp_path)
    log = gen_cdc_log(spark, 400, num_convs=5, schema_v2_from=200)
    v1 = log.filter(F.col("schema_ver") == 1).drop("model")
    v2 = log.filter(F.col("schema_ver") == 2)
    t.merge_upsert(v1, epoch_id=0, query_id="q")
    assert "model" not in [f.name for f in t.schema().fields]
    t.merge_upsert(v2, epoch_id=1, query_id="q")
    assert "model" in [f.name for f in t.schema().fields]
    got = t.read()
    # pre-evolution rows read back with model NULL; v2 winners carry model
    assert got.filter(F.col("model").isNotNull()).count() > 0
    expected = final_state(log, payload_cols=("text", "model"))
    assert sorted(map(tuple, got.select("conv_id", "turn_idx", "text", "model").collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_schema_evolution_widen_int(spark, tmp_path):
    t = _table(spark, tmp_path)
    log = gen_cdc_log(spark, 200, num_convs=4)
    t.merge_upsert(log.filter(F.col("seq") < 100), epoch_id=0, query_id="q")
    widened = log.filter(F.col("seq") >= 100).withColumn(
        "turn_idx", F.col("turn_idx").cast("long")
    )
    t.merge_upsert(widened, epoch_id=1, query_id="q")
    field = {f.name: f.dataType for f in t.schema().fields}["turn_idx"]
    assert field == T.LongType()
    expected = final_state(log, payload_cols=("text",)).withColumn(
        "turn_idx", F.col("turn_idx").cast("long")
    )
    got = t.read().select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.select("conv_id", "turn_idx", "text").collect()))


def test_metadata_io_is_pluggable(spark, tmp_path):
    """Every metadata operation (manifest create/read, hint flip,
    listings, size stats) routes through the injected FileIO — the seam
    where an object-store backend slots in."""
    from sql_graph_visualizer_spark.lake.file_io import LocalFileIO

    calls: list[str] = []

    class SpyIO(LocalFileIO):
        def __getattribute__(self, name):
            if name in (
                "makedirs", "exists", "read_text", "create_exclusive",
                "replace_atomic", "listdir", "getsize", "remove", "rmtree",
            ):
                calls.append(name)
            return super().__getattribute__(name)

    io = SpyIO()
    t = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "t"), SCHEMA, KEYS, num_buckets=4, io=io
    )
    log = gen_cdc_log(spark, 200, num_convs=3, turns_per_conv=4)
    t.merge_upsert(log, epoch_id=0, query_id="q")
    assert t.read().count() > 0
    assert {"makedirs", "create_exclusive", "replace_atomic", "read_text",
            "listdir", "getsize"} <= set(calls)


def test_expire_snapshots_keeps_current_state(spark, tmp_path):
    t = _table(spark, tmp_path)
    log = gen_cdc_log(spark, 600, num_convs=6)
    for e in range(3):
        t.merge_upsert(log.filter(F.pmod(F.col("seq"), 3) == e), epoch_id=e, query_id="q")
    before = _sorted_state(t)
    removed = t.expire_snapshots(keep_last=1)
    assert removed >= 2
    assert _sorted_state(t) == before


def _inject_competing_commit(t, touch_bucket=None):
    """Simulate another writer winning the manifest race exactly once:
    before this table's next manifest write, commit a competing snapshot
    (optionally rewriting one bucket's file list)."""
    orig = t._write_manifest
    fired = {"done": False}

    def racy(manifest):
        if not fired["done"]:
            fired["done"] = True
            cur = t.manifest()
            competitor = dict(cur)
            competitor["segments"] = dict(cur["segments"])
            if touch_bucket is not None:
                competitor["segments"][str(touch_bucket)] = {
                    "path": "segments/seg-competitor.json", "n": 1, "bytes": 1,
                }
            competitor["version"] = cur["version"] + 1
            competitor["parent"] = cur["version"]
            competitor["epochs"] = dict(cur["epochs"])
            competitor["summary"] = {"operation": "competitor"}
            orig(competitor)
        return orig(manifest)

    t._write_manifest = racy
    return fired


def test_commit_race_rebase_retry(spark, tmp_path):
    """A lost manifest race against a NON-overlapping commit rebases and
    retries: both commits survive, data is correct (Iceberg optimistic
    concurrency)."""
    t = _table(spark, tmp_path)
    log = gen_cdc_log(spark, 400, num_convs=5, turns_per_conv=6)
    _inject_competing_commit(t)  # competitor touches no buckets
    st = t.merge_upsert(log, epoch_id=0, query_id="q")
    assert not st.skipped
    m = t.manifest()
    assert m["version"] == st.snapshot_version
    assert t.manifest(m["parent"])["summary"]["operation"] == "competitor"
    expected = final_state(log, payload_cols=("text",))
    got = t.read().select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_commit_race_conflicting_bucket_raises(spark, tmp_path):
    """A concurrent commit that rewrote one of the merge's buckets makes
    its existing-rows read stale → CommitConflictError, never silent
    data loss."""
    import pytest
    from sql_graph_visualizer_spark.lake.snapshot_table import CommitConflictError

    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 400, num_convs=5, turns_per_conv=6)
    t.merge_upsert(log.filter(F.col("seq") < 200), epoch_id=0, query_id="q")
    touched = sorted(int(b) for b in t.manifest()["segments"])[0]
    _inject_competing_commit(t, touch_bucket=touched)
    with pytest.raises(CommitConflictError):
        t.merge_upsert(log.filter(F.col("seq") >= 200), epoch_id=1, query_id="q")


def test_append_race_keeps_both_commits(spark, tmp_path):
    from sql_graph_visualizer_spark.streaming.metrics import LINEAGE_SCHEMA, LineageRecorder

    rec = LineageRecorder(spark, os.path.join(str(tmp_path), "lin"))
    row = lambda e: [("q", e, 1, 1, 0, 1, False, 1, 1.0, 1, 0)]  # noqa: E731
    rec.table.append(spark.createDataFrame(row(0), LINEAGE_SCHEMA), epoch_id=0, query_id="a")
    _inject_competing_commit(rec.table)
    rec.table.append(spark.createDataFrame(row(1), LINEAGE_SCHEMA), epoch_id=1, query_id="a")
    assert sorted(int(r.epoch_id) for r in rec.read().collect()) == [0, 1]


def test_crash_between_manifest_and_hint_recovers(spark, tmp_path):
    """Manifest creation is the commit point; the version hint is a
    cache. A crash after writing the manifest but before flipping the
    hint must neither lose that commit nor brick later ones."""
    from sql_graph_visualizer_spark.lake.file_io import LocalFileIO

    class CrashyIO(LocalFileIO):
        crash_next_hint = False

        def replace_atomic(self, path, data):
            if self.crash_next_hint and path.endswith("version-hint.txt"):
                self.crash_next_hint = False
                return  # simulated crash: manifest exists, hint never flips
            super().replace_atomic(path, data)

    io = CrashyIO()
    t = SnapshotTable.create(spark, os.path.join(str(tmp_path), "t"), SCHEMA, KEYS,
                             num_buckets=4, io=io)
    log = gen_cdc_log(spark, 400, num_convs=5, turns_per_conv=6)
    io.crash_next_hint = True
    t.merge_upsert(log.filter(F.col("seq") < 200), epoch_id=0, query_id="q")
    # the orphaned commit is visible (walk-forward) and fenced
    assert t.read().count() > 0
    assert t.last_committed_epoch("q") == 0
    # and later commits rebase onto it instead of colliding forever
    st = t.merge_upsert(log.filter(F.col("seq") >= 200), epoch_id=1, query_id="q")
    assert not st.skipped
    expected = final_state(log, payload_cols=("text",))
    got = t.read().select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_concurrent_disjoint_merges_both_commit(spark, tmp_path):
    """Two writers merging different conversations (disjoint buckets)
    from separate threads: optimistic retry lands both, no data lost."""
    from concurrent.futures import ThreadPoolExecutor

    t = _table(spark, tmp_path, buckets=8)
    log = gen_cdc_log(spark, 1200, num_convs=12, turns_per_conv=6)
    # pick two conv groups that hash to disjoint bucket sets
    convs = [r.conv_id for r in log.select("conv_id").distinct().collect()]
    bucket = {
        r.conv_id: int(r.b)
        for r in log.select("conv_id").distinct()
        .withColumn("b", F.pmod(F.xxhash64("conv_id"), F.lit(8))).collect()
    }
    g1 = [c for c in convs if bucket[c] == bucket[convs[0]]]
    g2 = [c for c in convs if bucket[c] != bucket[convs[0]]]
    assert g1 and g2
    b1 = log.filter(F.col("conv_id").isin(g1))
    b2 = log.filter(F.col("conv_id").isin(g2))

    with ThreadPoolExecutor(2) as pool:
        f1 = pool.submit(t.merge_upsert, b1, 0, "writer-1")
        f2 = pool.submit(t.merge_upsert, b2, 0, "writer-2")
        s1, s2 = f1.result(), f2.result()
    assert not s1.skipped and not s2.skipped
    expected = final_state(log, payload_cols=("text",))
    got = t.read().select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_time_travel_reads_past_snapshots(spark, tmp_path):
    """Iceberg `VERSION AS OF` analogue: every retained snapshot is a
    complete immutable view; reading an old version reproduces the table
    state as of that commit."""
    from sql_graph_visualizer_spark.sources.cdc_gen import gen_cdc_log
    from sql_graph_visualizer_spark.operators.compaction import final_state

    log = gen_cdc_log(spark, 900, num_convs=6, turns_per_conv=5)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), SCHEMA, KEYS, num_buckets=4)
    first = log.filter("seq < 450")
    t.merge_upsert(first, epoch_id=0, query_id="q")
    v1 = t.manifest()["version"]
    t.merge_upsert(log.filter("seq >= 450"), epoch_id=1, query_id="q")

    def rows(df):
        return sorted((r.conv_id, r.turn_idx, r.text) for r in df.select("conv_id", "turn_idx", "text").collect())

    assert rows(t.read(version=v1)) == rows(final_state(first, payload_cols=("role", "text", "tool", "ts")).select("conv_id", "turn_idx", "text"))
    assert rows(t.read()) == rows(final_state(log, payload_cols=("role", "text", "tool", "ts")).select("conv_id", "turn_idx", "text"))
    assert v1 in t.versions()


def test_lineage_shared_recorder_fences_per_query(spark, tmp_path):
    """One recorder shared across query_ids with flush_every>1: each
    query's rows must be fenced under its OWN (query, max-epoch) key —
    otherwise the other queries' fences never advance and crash-replay
    double-records them (ADVICE r2)."""
    from sql_graph_visualizer_spark.lake.snapshot_table import MergeStats
    from sql_graph_visualizer_spark.streaming.metrics import LineageRecorder

    def st(epoch):
        return MergeStats(epoch, 10, 10, 0, 1, False, 5, epoch + 1)

    path = os.path.join(str(tmp_path), "lin")
    rec = LineageRecorder(spark, path, flush_every=4)
    for e in range(2):
        rec.record(st(e), "replay")
        rec.record(st(e), "graph-sync")
    rec.flush()
    assert rec.table.last_committed_epoch("lineage:replay") == 1
    assert rec.table.last_committed_epoch("lineage:graph-sync") == 1
    # crash-replay: a fresh recorder re-records the same epochs -> fenced no-op
    rec2 = LineageRecorder(spark, path, flush_every=4)
    for e in range(2):
        rec2.record(st(e), "replay")
        rec2.record(st(e), "graph-sync")
    rec2.flush()
    rows = rec2.read().collect()
    assert len(rows) == 4
    assert sorted((r.query_id, int(r.epoch_id)) for r in rows) == [
        ("graph-sync", 0), ("graph-sync", 1), ("replay", 0), ("replay", 1),
    ]


def test_merge_fallback_keeps_null_key_rows(spark, tmp_path):
    """Key equality in the MERGE fold is null-safe: a row with a NULL key
    column survives, and identically in both merge modes (ADVICE r2)."""
    rows = [
        (1, "insert", None, 0, "user", "null-conv", None, None),
        (2, "insert", "c", None, "user", "null-turn", None, None),
        (3, "insert", "c", 1, "user", "normal", None, None),
    ]
    mk = lambda: spark.createDataFrame(  # noqa: E731
        rows,
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )
    t1, t2 = _table(spark, tmp_path, "cow"), _table(spark, tmp_path, "mor")
    t1.merge_upsert(mk(), epoch_id=0, query_id="q")
    t2.merge_upsert(mk(), epoch_id=0, query_id="q", mode="mor")
    s1, s2 = _sorted_state(t1), _sorted_state(t2)
    assert s1 == s2
    assert len(s1) == 3  # NULL-key rows kept in both modes


def test_legacy_inline_manifest_raises(spark, tmp_path):
    """The pre-segment manifest shape (inline per-bucket ``files`` lists,
    no ``segments``) is refused with a ValueError naming the table,
    checked where the manifest is first read from disk."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 400, num_convs=5, turns_per_conv=6)
    t.merge_upsert(log, epoch_id=0, query_id="q")
    # rewrite the current manifest into the legacy inline shape
    m = t.manifest()
    legacy = dict(m)
    legacy["files"] = {b: t._load_segment(r["path"]) for b, r in m["segments"].items()}
    del legacy["segments"]
    legacy["version"] = m["version"] + 1
    legacy["parent"] = m["version"]
    t._write_manifest(legacy)
    t2 = SnapshotTable(spark, t.path)  # fresh instance, no caches
    for op in (t2.manifest, t2.read, t2.size_stats):
        with pytest.raises(ValueError, match=re.escape(t.path)):
            op()


def test_manifest_chain_and_epoch_fencing(spark, tmp_path):
    """Every commit kind extends one version chain (``parent`` is the
    previous version) and only fenced commits (``epoch_id >= 0``)
    change ``epochs``."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 600, num_convs=6, turns_per_conv=6)
    fenced = {
        t.merge_upsert(log.filter("seq < 300"), epoch_id=0, query_id="q").snapshot_version,
        t.merge_upsert(
            log.filter("seq >= 300"), epoch_id=1, query_id="q", mode="mor"
        ).snapshot_version,
        t.merge_upsert(log.limit(0), epoch_id=2, query_id="q").snapshot_version,
        t.append(t.read().limit(0), epoch_id=0, query_id="app"),
    }
    t.merge_upsert(log.limit(0))  # unfenced empty merge
    t.compact_deltas()
    t.rebucket(8)
    t.expire_tombstones(older_than_seq=1 << 40, force=True)
    t.advance_watermark("other", 10)
    t.drop_watermark("other")
    versions = t.versions()
    assert versions == list(range(1, versions[-1] + 1))
    ops = []
    for v in versions[1:]:
        m, p = t.manifest(v), t.manifest(v - 1)
        assert m["parent"] == v - 1, v
        ops.append(m["summary"]["operation"])
        if v in fenced:
            changed = {k for k in m["epochs"] if m["epochs"][k] != p["epochs"].get(k)}
            assert len(changed) == 1, v
        else:
            assert m["epochs"] == p["epochs"], v
    assert {
        "merge", "append", "compact-deltas", "rebucket-start", "rebucket-step",
        "rebucket-finish", "expire-tombstones", "advance-watermark", "drop-watermark",
    } <= set(ops)
    assert t.manifest()["num_buckets"] == 8
    expected = final_state(log, payload_cols=("text",))
    got = t.read().select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_commit_metadata_io_bounded_by_touched_buckets(spark, tmp_path):
    """Scale hygiene: per-commit metadata WRITES are ∝ touched buckets —
    one new segment file for a 1-bucket merge — never a rewrite of every
    bucket's file entries (the single-JSON-manifest trap VERDICT r2
    flagged for 4096-bucket × long-retention tables)."""
    from sql_graph_visualizer_spark.lake.file_io import LocalFileIO

    class CountingIO(LocalFileIO):
        def __init__(self):
            self.created: list[str] = []

        def create_exclusive(self, path, data):
            self.created.append(path)
            super().create_exclusive(path, data)

    io = CountingIO()
    t = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "t"), SCHEMA, KEYS, num_buckets=32, io=io
    )
    log = gen_cdc_log(spark, 2000, num_convs=40, turns_per_conv=6)
    t.merge_upsert(log, epoch_id=0, query_id="q")
    io.created.clear()
    one_conv = log.filter(F.col("conv_id") == log.select("conv_id").first()[0]).limit(5)
    st = t.merge_upsert(one_conv, epoch_id=1, query_id="q")
    assert st.buckets_touched == 1
    segs = [p for p in io.created if f"{os.sep}segments{os.sep}" in p]
    manifests = [p for p in io.created if f"{os.sep}snapshots{os.sep}" in p]
    assert len(segs) == 1  # exactly the touched bucket's segment
    assert len(manifests) == 1


def test_murmur3_long_matches_spark_hash_partitioning(spark):
    """The driver-side Murmur3 used to pre-compute the collision-free
    bucket->write-partition tokens (r8 write-balance optimization) must
    equal Spark's own hash of a bigint column, or rows would land in a
    different partition than planned."""
    from sql_graph_visualizer_spark.lake.snapshot_table import (
        _murmur3_hash_long,
        _partition_tokens,
    )

    vals = [0, 1, 7, 42, -1, -42, 2**31, -(2**31), 2**62, 123456789012345]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v long")
        .select(F.hash("v").alias("h"), "v")
        .collect()
    )
    for r in rows:
        assert _murmur3_hash_long(int(r["v"])) == int(r["h"]), r["v"]
    # tokens form a bijection: token b lands in shuffle partition b
    for n in (4, 16, 64):
        toks = _partition_tokens(n)
        assert len(toks) == n
        parts = {((_murmur3_hash_long(t) % n) + n) % n for t in toks}
        assert parts == set(range(n))


def test_write_data_one_balanced_file_per_bucket(spark, tmp_path):
    """The balanced write routing keeps the contract of one output file
    per touched bucket per commit (file counts feed the manifest and the
    read path's open cost)."""
    t = SnapshotTable.create(
        spark, os.path.join(str(tmp_path), "t"), SCHEMA, KEYS, num_buckets=16
    )
    log = gen_cdc_log(spark, 4000, num_convs=80, turns_per_conv=8)
    t.merge_upsert(log, epoch_id=0, query_id="q")
    m = t.manifest()
    for b, ref in m["segments"].items():
        entries = t._load_segment(ref["path"])
        assert len(entries) == 1, (b, entries)
    # and the merged state is still the batch-oracle state
    got = t.read().count()
    assert got == final_state(log).count()


def _stats_log(spark):
    """A seeded log with re-delivered events (exact duplicates), deletes
    and rows whose key has a NULL column."""
    log = gen_cdc_log(spark, 1500, num_convs=10, turns_per_conv=8)
    dups = log.filter(F.pmod(F.col("seq"), F.lit(5)) == 0)
    null_conv = log.filter(F.pmod(F.col("seq"), F.lit(37)) == 0).withColumn(
        "conv_id", F.lit(None).cast("string")
    )
    null_turn = log.filter(F.pmod(F.col("seq"), F.lit(41)) == 1).withColumn(
        "turn_idx", F.lit(None).cast("int")
    )
    return log.unionByName(dups).unionByName(null_conv).unionByName(null_turn)


# MergeStats (rows_in, upserts, deletes, buckets_touched, max_seq) per
# epoch and the final state's row count and digest, pinned from the
# two-pass MERGE (a persisted winner set, then a survivor semi-join)
# that the one-pass MERGE replaced; both modes must reproduce them
_PINNED_STATS = [(92, 83, 9, 6, 749), (94, 84, 10, 6, 1499)]
_PINNED_STATE = (86, "d2032c13155a6ed8")


def test_merge_stats_and_state_pinned(spark, tmp_path):
    log = _stats_log(spark)
    for mode in ("cow", "mor"):
        t = _table(spark, tmp_path, mode)
        got = []
        for e, cond in enumerate(("seq < 750", "seq >= 750")):
            st = t.merge_upsert(log.filter(cond), epoch_id=e, query_id="q", mode=mode)
            got.append((st.rows_in, st.upserts, st.deletes, st.buckets_touched, st.max_seq))
        # an empty epoch commits its fence and changes nothing
        st = t.merge_upsert(log.limit(0), epoch_id=2, query_id="q", mode=mode)
        assert (st.rows_in, st.skipped, st.buckets_touched) == (0, False, 0)
        assert t.last_committed_epoch("q") == 2
        rows = sorted(map(repr, map(tuple, t.read().collect())))
        digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
        assert got == _PINNED_STATS, mode
        assert (len(rows), digest) == _PINNED_STATE, mode


# Copy-on-write MergeStats where a key's best batch row can rank behind
# a table row: an out-of-order epoch (the table holds the newer half of
# the log, so its row outranks every batch row of a key both carry) and
# a merge over buckets carrying merge-on-read deltas. Pinned from the
# MERGE whose prepare counted keys and deletes with a per-key aggregate.
_PINNED_OOO = [(94, 84, 10, 6, 1499), (92, 83, 9, 6, 749)]
_PINNED_OVER_DELTAS = [(88, 77, 11, 6, 499), (91, 81, 10, 6, 999), (87, 78, 9, 6, 1499)]


def test_cow_merge_stats_pinned_out_of_order_and_over_deltas(spark, tmp_path):
    log = _stats_log(spark)
    cases = (
        ("ooo", (("seq >= 750", "cow"), ("seq < 750", "cow")), _PINNED_OOO),
        (
            "mix",
            (
                ("seq < 500", "cow"),
                ("seq >= 500 and seq < 1000", "mor"),
                ("seq >= 1000", "cow"),
            ),
            _PINNED_OVER_DELTAS,
        ),
    )
    for name, epochs, pinned in cases:
        t = _table(spark, tmp_path, name)
        got = []
        for e, (cond, mode) in enumerate(epochs):
            st = t.merge_upsert(
                log.filter(cond), epoch_id=e, query_id="q", mode=mode, ordered_writer=False
            )
            got.append((st.rows_in, st.upserts, st.deletes, st.buckets_touched, st.max_seq))
        rows = sorted(map(repr, map(tuple, t.read().collect())))
        digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
        assert got == pinned, name
        assert (len(rows), digest) == _PINNED_STATE, name

