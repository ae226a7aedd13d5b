"""Merge-on-read delta segments + bucket-count evolution.

The 100 TB failure mode these guard (VERDICT r3 top item): pure
copy-on-write rewrites every touched bucket per epoch, so once an
epoch's keys spread uniformly across all buckets the per-epoch write
cost is ∝ TABLE size, not batch size. MoR writes ∝ |batch| delta
segments instead; reads apply LWW over base ∪ deltas; compact_deltas()
folds them down in the background. rebucket() migrates a grown table to
a bigger bucket spec without breaking concurrent ingest.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from sql_graph_visualizer_spark.lake.file_io import LocalFileIO
from sql_graph_visualizer_spark.lake.snapshot_table import (
    CommitConflictError,
    SnapshotTable,
)
from sql_graph_visualizer_spark.operators.compaction import final_state
from sql_graph_visualizer_spark.sources.cdc_gen import gen_cdc_log
from sql_graph_visualizer_spark.streaming.replay import merge_with_retry, replay_batch

from tests.conftest import KEYS, SCHEMA, _table
from tests.test_lake import _sorted_state


def _state(t):
    return sorted(
        map(tuple, t.read().select("conv_id", "turn_idx", "text").collect())
    )


def _expected(log):
    return sorted(map(tuple, final_state(log, payload_cols=("text",)).collect()))


def test_mor_replay_equals_cow_and_batch_oracle(spark, tmp_path):
    """4 MoR epochs == 4 CoW epochs == batch final state; deltas actually
    accumulated (no hidden base rewrite) and compact_deltas() folds them
    without changing the logical state."""
    log = gen_cdc_log(spark, 2000, num_convs=12, turns_per_conv=8)
    mor, cow = _table(spark, tmp_path, "mor"), _table(spark, tmp_path, "cow")
    replay_batch(log, cow, epochs=4, bounds=(0, 1999))
    replay_batch(log, mor, epochs=4, bounds=(0, 1999), merge_mode="mor")
    assert _state(mor) == _state(cow) == _expected(log)
    m = mor.manifest()
    n_deltas = sum(len(v) for v in (m.get("deltas") or {}).values())
    assert n_deltas > 0  # MoR really wrote deltas
    assert not m["segments"]  # base never written: every epoch was a delta
    res = mor.compact_deltas()
    assert res["buckets"] > 0
    m2 = mor.manifest()
    assert sum(len(v) for v in (m2.get("deltas") or {}).values()) == 0
    assert _state(mor) == _expected(log)
    # after folding, reads are plain scans again (same rows, no deltas)
    assert mor.size_stats()["total_files"] > 0


def test_mor_bytes_written_proportional_to_batch(spark, tmp_path):
    """THE MoR contract: an epoch whose keys spread across every bucket
    writes ∝ |batch| bytes under MoR, while CoW rewrites ∝ touched-bucket
    bytes (here: the whole table)."""
    buckets = 8
    # fatten payloads (512 varied chars/row) so data bytes dwarf the
    # parquet per-file metadata floor — the proportionality under test
    # is about DATA volume, which is what dominates at real scale
    base_log = gen_cdc_log(spark, 20_000, num_convs=200, turns_per_conv=10).withColumn(
        "text",
        F.concat(
            *[
                F.md5(F.concat_ws(":", "conv_id", "turn_idx", "seq", F.lit(str(i))))
                for i in range(16)
            ]
        ),
    )
    mor, cow = (
        _table(spark, tmp_path, "mor", buckets=buckets),
        _table(spark, tmp_path, "cow", buckets=buckets),
    )
    for t in (mor, cow):
        t.merge_upsert(base_log, epoch_id=0, query_id="q")
    table_bytes = cow.size_stats()["total_bytes"]

    # one update per conversation: 200 keys spread across ALL buckets
    update = (
        base_log.groupBy("conv_id")
        .agg(F.max("seq").alias("seq"), F.first("turn_idx").alias("turn_idx"))
        .withColumn("seq", F.col("seq") + 100_000)
        .withColumn("op", F.lit("update"))
        .withColumn("role", F.lit("user"))
        .withColumn("text", F.lit("small-update"))
        .withColumn("tool", F.lit(None).cast("string"))
        .withColumn("ts", F.current_timestamp())
    )
    st_cow = cow.merge_upsert(update, epoch_id=1, query_id="q")
    st_mor = mor.merge_upsert(update, epoch_id=1, query_id="q", mode="mor")
    assert st_cow.buckets_touched == buckets == st_mor.buckets_touched
    # CoW rewrote essentially the whole table; MoR wrote a sliver
    assert st_cow.bytes_written > 0.5 * table_bytes
    assert st_mor.bytes_written < 0.2 * st_cow.bytes_written
    # both recorded in the manifest summary for observability
    assert mor.manifest()["summary"]["bytes_written"] == st_mor.bytes_written
    assert mor.manifest()["summary"]["mode"] == "mor"
    # and the logical state is identical
    assert _state(mor) == _state(cow)


def test_mor_deletes_epoch_fence_and_system_rows(spark, tmp_path):
    """Delta tombstones mask base rows at read time; fencing skips
    replayed MoR epochs; tombstones persist as system rows through
    compaction (a stale pre-delete event must still lose after fold)."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 600, num_convs=6, turns_per_conv=5)
    t.merge_upsert(log.filter("seq < 300"), epoch_id=0, query_id="q")
    live = t.read().select("conv_id", "turn_idx").limit(3).collect()
    deletes = spark.createDataFrame(
        [
            (10_000 + i, "delete", r.conv_id, r.turn_idx, None, None, None, None)
            for i, r in enumerate(live)
        ],
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )
    before = t.read().count()
    tomb_before = t.read(system=True).filter(F.col("_deleted")).count()
    st = t.merge_upsert(deletes, epoch_id=1, query_id="q", mode="mor")
    assert st.deletes == 3
    assert t.read().count() == before - 3
    # replayed epoch is fenced (no double delta)
    st2 = t.merge_upsert(deletes, epoch_id=1, query_id="q", mode="mor")
    assert st2.skipped
    # tombstones visible as system rows, and survive the fold
    sysdf = t.read(system=True)
    assert sysdf.filter(F.col("_deleted")).count() == tomb_before + 3
    t.compact_deltas()
    assert t.read(system=True).filter(F.col("_deleted")).count() == tomb_before + 3
    assert t.read().count() == before - 3


def test_mor_cross_epoch_redelivery_collapses(spark, tmp_path):
    """At-least-once delivery across epoch boundaries: the same winning
    (key, seq) event re-delivered in a LATER epoch lands in a second
    delta segment — and, after a compaction, again over the base — so
    the winning (key, _seq) exists in two generations. The merge
    contract ('re-delivery of the winning event collapses to one row')
    is honored by CoW via compact_lww; the MoR read fold must collapse
    the tie too, and compact_deltas must not bake the duplicate into
    the base (ADVICE r4: _fold_lww returned both tied rows)."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 400, num_convs=6, turns_per_conv=5)
    # tail slice: for every key it contains, its per-key max IS the
    # global winner (global max ≥ 350 ⇒ the winning event is in the slice)
    winning = log.filter("seq >= 350")
    t.merge_upsert(log, epoch_id=0, query_id="q", mode="mor")
    # epoch 1 re-delivers the winning events verbatim (source crash-replay)
    t.merge_upsert(winning, epoch_id=1, query_id="q", mode="mor")
    assert _state(t) == _expected(log)  # one row per key, not two
    t.compact_deltas()  # the fold must not bake a duplicate into the base
    assert _state(t) == _expected(log)
    # re-delivery AFTER compaction: the tie now spans base + delta
    t.merge_upsert(winning, epoch_id=2, query_id="q", mode="mor")
    assert _state(t) == _expected(log)
    t.compact_deltas()
    assert _state(t) == _expected(log)


def test_mor_cross_generation_tie_reads_one_row(spark, tmp_path):
    """A delta row at the base row's seq with a different payload: the
    read fold must return one row for the key, not both."""
    t = _table(spark, tmp_path, buckets=1)
    cols = "seq long, op string, conv_id string, turn_idx int, text string"
    t.merge_upsert(spark.createDataFrame([(5, "insert", "k", 0, "A")], cols), epoch_id=0, query_id="q")
    t.merge_upsert(
        spark.createDataFrame([(5, "update", "k", 0, "B")], cols),
        epoch_id=1, query_id="q", mode="mor",
    )
    assert _state(t) == [("k", 0, "B")]
    t.compact_deltas()
    assert _state(t) == [("k", 0, "B")]


def test_mor_schema_evolution_delta(spark, tmp_path):
    """A MoR epoch carrying a new column evolves the schema; base files
    written pre-evolution read back aligned (NULL-filled) through the
    LWW fold."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 400, num_convs=5, schema_v2_from=200)
    t.merge_upsert(log.filter(F.col("schema_ver") == 1).drop("model"), epoch_id=0, query_id="q")
    t.merge_upsert(log.filter(F.col("schema_ver") == 2), epoch_id=1, query_id="q", mode="mor")
    assert "model" in [f.name for f in t.schema().fields]
    got = t.read()
    assert got.filter(F.col("model").isNotNull()).count() > 0
    expected = final_state(log, payload_cols=("text", "model"))
    assert sorted(
        map(tuple, got.select("conv_id", "turn_idx", "text", "model").collect())
    ) == sorted(map(tuple, expected.collect()))


def test_widening_matrix_across_mor_and_rebucket(spark, tmp_path):
    """Widen × {CoW, MoR-delta, compact_deltas, rebucket} (VERDICT r4
    #4): a base written int32 with deltas written post-widening int64
    (and the reverse layering) must read, fold, compact and rebucket
    oracle-equal, with the table schema at the widened type
    throughout."""
    from pyspark.sql import types as T

    log = gen_cdc_log(spark, 800, num_convs=8, turns_per_conv=5)
    head, tail = log.filter("seq < 400"), log.filter("seq >= 400")
    widened_tail = tail.withColumn("turn_idx", F.col("turn_idx").cast("long"))
    expected = sorted(
        map(
            tuple,
            final_state(log, payload_cols=("text",))
            .withColumn("turn_idx", F.col("turn_idx").cast("long"))
            .collect(),
        )
    )

    def check(t):
        assert {f.name: f.dataType for f in t.schema().fields}["turn_idx"] == T.LongType()
        assert sorted(
            map(tuple, t.read().select("conv_id", "turn_idx", "text").collect())
        ) == expected

    # layering 1: int32 CoW base, int64 MoR deltas on top
    a = _table(spark, tmp_path, "a", buckets=4)
    a.merge_upsert(head, epoch_id=0, query_id="q")
    a.merge_upsert(widened_tail, epoch_id=1, query_id="q", mode="mor")
    check(a)  # read folds across generations of different widths
    a.compact_deltas()
    check(a)  # fold baked at the widened type
    a.rebucket(16)
    check(a)  # widening survives the bucket-spec rewrite

    # layering 2: int32 MoR deltas first, widening arrives via CoW (which
    # folds the narrow deltas under the evolved schema)
    b = _table(spark, tmp_path, "b", buckets=4)
    b.merge_upsert(head, epoch_id=0, query_id="q", mode="mor")
    b.merge_upsert(widened_tail, epoch_id=1, query_id="q")
    check(b)
    b.rebucket(16)
    check(b)


def test_mor_rebase_across_racing_compatible_widening(spark, tmp_path):
    """A MoR delta commit racing a COMPATIBLE schema evolution must
    REBASE, not conflict (VERDICT r4 #4): the winner's widening and the
    delta's own schema join in the registry, the delta's file entries
    are re-pointed at the rebased schema id, and the folded read is
    oracle-equal at the widened type."""
    from pyspark.sql import types as T

    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 900, num_convs=10, turns_per_conv=5)
    t.merge_upsert(log.filter("seq < 300"), epoch_id=0, query_id="q")

    widener = (
        log.filter("seq >= 600")
        .withColumn("turn_idx", F.col("turn_idx").cast("long"))
    )
    orig = t._write_manifest
    fired = {"done": False}

    def racy(manifest):
        if not fired["done"] and manifest.get("summary", {}).get("mode") == "mor":
            fired["done"] = True
            t._write_manifest = orig
            # a second writer lands a widening CoW commit first
            SnapshotTable(t.spark, t.path).merge_upsert(
                widener, epoch_id=0, query_id="w"
            )
        return orig(manifest)

    t._write_manifest = racy
    st = t.merge_upsert(
        log.filter("seq >= 300 and seq < 600"), epoch_id=1, query_id="q", mode="mor"
    )
    assert not st.skipped and fired["done"]
    m = t.manifest()
    cur_schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
    assert {f.name: f.dataType for f in cur_schema.fields}["turn_idx"] == T.LongType()
    expected = sorted(
        map(
            tuple,
            final_state(log, payload_cols=("text",))
            .withColumn("turn_idx", F.col("turn_idx").cast("long"))
            .collect(),
        )
    )
    assert sorted(
        map(tuple, t.read().select("conv_id", "turn_idx", "text").collect())
    ) == expected
    # and compaction folds the mixed-width generations cleanly
    t.compact_deltas()
    assert sorted(
        map(tuple, t.read().select("conv_id", "turn_idx", "text").collect())
    ) == expected


def test_mor_racing_incompatible_evolution_conflicts(spark, tmp_path):
    """The rebase is only for COMPATIBLE evolution: when the racing
    winner registered the same new column at an incompatible type, the
    delta commit must raise CommitConflictError (the caller recomputes
    and then fails loudly, per the no-lossy-coercion contract)."""
    rows = "seq long, op string, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    t = _table(spark, tmp_path, buckets=4)
    t.merge_upsert(
        spark.createDataFrame([(1, "insert", "c1", 0, "user", "hi", None, None)], rows),
        epoch_id=0, query_id="q",
    )
    with_int = spark.createDataFrame(
        [(10, "insert", "c2", 0, "user", "a", None, None)], rows
    ).withColumn("extra", F.lit(1))
    with_str = spark.createDataFrame(
        [(20, "insert", "c3", 0, "user", "b", None, None)], rows
    ).withColumn("extra", F.lit("s"))

    orig = t._write_manifest
    fired = {"done": False}

    def racy(manifest):
        if not fired["done"] and manifest.get("summary", {}).get("mode") == "mor":
            fired["done"] = True
            t._write_manifest = orig
            SnapshotTable(t.spark, t.path).merge_upsert(
                with_int, epoch_id=0, query_id="w"
            )
        return orig(manifest)

    t._write_manifest = racy
    with pytest.raises(CommitConflictError, match="incompatible"):
        t.merge_upsert(with_str, epoch_id=1, query_id="q", mode="mor")


def test_bucket_pruned_read_applies_deltas(spark, tmp_path):
    """A pruned read (the CoW MERGE path) of a delta-carrying
    bucket folds that bucket's deltas — and ONLY delta buckets pay the
    LWW pass (plain buckets union in untouched)."""
    t = _table(spark, tmp_path, buckets=8)
    log = gen_cdc_log(spark, 1000, num_convs=20, turns_per_conv=6)
    t.merge_upsert(log, epoch_id=0, query_id="q")
    conv = log.select("conv_id").first()[0]
    upd = spark.createDataFrame(
        [(50_000, "update", conv, 0, "user", "delta-text", None, None)],
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp",
    )
    st = t.merge_upsert(upd, epoch_id=1, query_id="q", mode="mor")
    assert st.buckets_touched == 1
    b = int(
        spark.createDataFrame([(conv,)], "conv_id string")
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(8)).alias("b"))
        .first()["b"]
    )
    pruned = t.read(buckets=[b]).filter(
        (F.col("conv_id") == conv) & (F.col("turn_idx") == 0)
    )
    assert [r.text for r in pruned.collect()] == ["delta-text"]


def test_compact_deltas_yields_to_concurrent_ingest(spark, tmp_path):
    """compact_deltas validates bucket tokens: a commit that lands on a
    target bucket between fold and manifest write invalidates the job
    (ingest wins; maintenance reruns)."""
    from tests.test_lake import _inject_competing_commit

    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 600, num_convs=8, turns_per_conv=5)
    t.merge_upsert(log.filter("seq < 300"), epoch_id=0, query_id="q")
    t.merge_upsert(log.filter("seq >= 300"), epoch_id=1, query_id="q", mode="mor")
    target = next(b for b, refs in t.manifest()["deltas"].items() if refs)
    _inject_competing_commit(t, touch_bucket=int(target))
    with pytest.raises(CommitConflictError):
        t.compact_deltas()
    # ingest-owned retry shape: rerun converges on the new base
    # (the competitor faked the segment pointer, so just assert the
    # validation fired; logical-state checks live in the tests above)


def test_compact_deltas_rebases_over_a_racing_delta_commit(spark, tmp_path):
    """A MoR delta committed to a target bucket while compact_deltas is
    in flight stays on top of the folded base: the fold commits instead
    of yielding, so a fold slower than the ingest cadence is not starved
    by every epoch that lands during it."""
    t = _table(spark, tmp_path, buckets=2)
    log = gen_cdc_log(spark, 600, num_convs=8, turns_per_conv=5)
    t.merge_upsert(log.filter("seq < 300"), epoch_id=0, query_id="q", mode="mor")
    t.merge_upsert(log.filter("seq >= 300 and seq < 450"), epoch_id=1, query_id="q", mode="mor")
    orig = t._write_manifest

    def racy(manifest):
        if manifest["summary"]["operation"] == "compact-deltas":
            t._write_manifest = orig
            t.merge_upsert(log.filter("seq >= 450"), epoch_id=2, query_id="q", mode="mor")
        return orig(manifest)

    t._write_manifest = racy
    t.compact_deltas()
    assert t.delta_stats()["max_layers"] == 1  # only the racing epoch's delta
    assert _state(t) == _expected(log)


def test_expire_snapshots_keeps_live_delta_segments(spark, tmp_path):
    """Delta segments and their data files are GC roots while any kept
    snapshot references them."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 600, num_convs=6, turns_per_conv=5)
    t.merge_upsert(log.filter("seq < 300"), epoch_id=0, query_id="q")
    t.merge_upsert(log.filter("seq >= 300"), epoch_id=1, query_id="q", mode="mor")
    before = _state(t)
    removed = t.expire_snapshots(keep_last=1)
    assert removed >= 1
    t2 = SnapshotTable(spark, t.path)  # fresh caches: must re-read from disk
    assert _state(t2) == before


def test_rebucket_preserves_state_and_new_spec(spark, tmp_path):
    """rebucket() rewrites under the new spec: state identical, deltas
    folded, num_buckets updated, and pruned reads under the new spec
    find the rows."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 1200, num_convs=16, turns_per_conv=6)
    replay_batch(log.filter("seq < 900"), t, epochs=3, bounds=(0, 899))
    t.merge_upsert(log.filter("seq >= 900"), epoch_id=99, query_id="mor", mode="mor")
    before = _state(t)
    t.rebucket(32)
    m = t.manifest()
    assert m["num_buckets"] == 32
    assert not any((m.get("deltas") or {}).values())
    assert _state(t) == before
    # pruned read under the NEW spec
    conv = log.select("conv_id").first()[0]
    b = int(
        spark.createDataFrame([(conv,)], "conv_id string")
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(32)).alias("b"))
        .first()["b"]
    )
    assert t.read(buckets=[b]).filter(F.col("conv_id") == conv).count() > 0


def test_rebucket_between_prepare_and_upsert_recomputes_buckets(spark, tmp_path):
    """A merge prepared under the old spec must not prune with stale
    bucket ids after a rebucket lands: merge_upsert detects the spec
    change (PreparedMerge.num_buckets) and recomputes the affected set —
    final state still equals the batch oracle."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 1000, num_convs=12, turns_per_conv=6)
    t.merge_upsert(log.filter("seq < 500"), epoch_id=0, query_id="q")
    tail = log.filter("seq >= 500")
    prep = t.merge_prepare(tail)
    assert prep.num_buckets == 4
    t.rebucket(16)  # migration lands while the merge is in flight
    st = t.merge_upsert(tail, epoch_id=1, query_id="q", prepared=prep)
    assert not st.skipped
    assert _state(t) == _expected(log)


def test_delta_stats_drive_compaction(spark, tmp_path):
    """delta_stats() is the scheduler's trigger signal: layers/bytes per
    bucket from manifest metadata only, zeroed after a fold."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 900, num_convs=8, turns_per_conv=5)
    for e in range(3):
        t.merge_upsert(
            log.filter((F.col("seq") >= e * 300) & (F.col("seq") < (e + 1) * 300)),
            epoch_id=e, query_id="q", mode="mor",
        )
    s = t.delta_stats()
    assert s["buckets_with_deltas"] >= 1
    assert s["max_layers"] == 3  # every epoch layered a delta per touched bucket
    assert s["total_bytes"] > 0
    t.compact_deltas(min_deltas=s["max_layers"])  # fold only the hottest buckets
    s2 = t.delta_stats()
    assert s2["max_layers"] < 3
    t.compact_deltas()
    assert t.delta_stats()["buckets_with_deltas"] == 0


def test_replay_batch_auto_compact_async(spark, tmp_path):
    """Batch-replay twin of the maintenance policy: the async fold runs
    OFF the ingest path (a dedicated worker; a conflict with a racing
    merge is swallowed and re-triggers). End state oracle-equal, layer
    count bounded once the loop drains."""
    log = gen_cdc_log(spark, 2400, num_convs=16, turns_per_conv=6)
    t = _table(spark, tmp_path, buckets=8)
    replay_batch(
        log, t, epochs=8, bounds=(0, 2399), merge_mode="mor",
        auto_compact_layers=2, auto_compact_async=True,
    )
    # the pool is joined before replay_batch returns; the last fold may
    # legitimately have lost to the final merge → one layer of slack
    assert t.delta_stats()["max_layers"] <= 3
    assert _state(t) == _expected(log)


def test_async_fold_failure_surfaces_on_next_trigger(spark, tmp_path):
    """ADVICE r6: a non-conflict exception inside the ASYNC fold must
    not vanish with the dropped future (delta layers would grow
    unbounded while the operator believes maintenance runs). The next
    maybe_compact_deltas call re-raises it on the ingest thread; a
    CommitConflictError stays swallowed (by-design yield to ingest)."""
    from concurrent.futures import ThreadPoolExecutor

    from sql_graph_visualizer_spark.lake.snapshot_table import CommitConflictError
    from sql_graph_visualizer_spark.streaming.replay import maybe_compact_deltas

    log = gen_cdc_log(spark, 600, num_convs=8, turns_per_conv=5)
    t = _table(spark, tmp_path, buckets=4)
    for e in range(3):
        t.merge_upsert(
            log.filter(f"seq >= {e * 200} and seq < {(e + 1) * 200}"),
            epoch_id=e, query_id="q", mode="mor",
        )
    assert t.delta_stats()["max_layers"] >= 2

    real_fold = t.compact_deltas
    with ThreadPoolExecutor(max_workers=1) as pool:
        # 1) IO-style failure: surfaced on the NEXT trigger, then cleared
        t.compact_deltas = lambda **kw: (_ for _ in ()).throw(OSError("disk gone"))
        maybe_compact_deltas(t, 2, pool=pool)
        pool.shutdown(wait=True)
    with pytest.raises(OSError, match="disk gone"):
        maybe_compact_deltas(t, 2)
    # 2) conflict: swallowed as before (ingest won the race)
    with ThreadPoolExecutor(max_workers=1) as pool:
        t.compact_deltas = lambda **kw: (_ for _ in ()).throw(
            CommitConflictError("racing merge")
        )
        maybe_compact_deltas(t, 2, pool=pool)
        pool.shutdown(wait=True)
    t.compact_deltas = real_fold
    maybe_compact_deltas(t, 2)  # no stored error; real fold runs
    assert t.delta_stats()["max_layers"] < 2


def _exchanges(plan: str) -> list[str]:
    """Exchange operators (shuffle or broadcast) of a plan string."""
    return [ln for ln in plan.splitlines() if re.search(r"\b(Broadcast)?Exchange\b", ln)]


def test_mor_read_plan_shape(spark, tmp_path):
    """The MoR fold's plan contract at 100 TB: no SortAggregate (the
    variable-width-buffer trap), no nested loop, no cartesian, and the
    payload moves in exactly one exchange — the routing of the
    delta-carrying buckets to their bucket partitions. Buckets without
    deltas union in above the fold."""
    t = _table(spark, tmp_path, buckets=8)
    log = gen_cdc_log(spark, 800, num_convs=10, turns_per_conv=6)
    t.merge_upsert(log.filter("seq < 400"), epoch_id=0, query_id="q")
    t.merge_upsert(log.filter("seq >= 400"), epoch_id=1, query_id="q", mode="mor")
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert len(_exchanges(plan)) == 1, plan


def test_mor_fold_one_exchange_one_partition_per_delta_bucket(spark, tmp_path):
    """The fold of a delta-carrying read is ONE exchange (the raw
    compact_lww form pays two: the max(_seq) aggregate and the keyed
    semi-join). It routes to exactly one partition per delta-carrying
    bucket, so a bucket-pruned read runs no task for a bucket outside
    ``buckets=``, and ``compact_deltas`` writes that routed output
    without a second exchange."""
    t = _table(spark, tmp_path, buckets=8)
    log = gen_cdc_log(spark, 1200, num_convs=24, turns_per_conv=6)
    t.merge_upsert(log.filter("seq < 800"), epoch_id=0, query_id="q")
    hot = [f"conv-{i:06d}" for i in range(3)]
    t.merge_upsert(
        log.filter("seq >= 800").filter(F.col("conv_id").isin(hot)),
        epoch_id=1, query_id="q", mode="mor",
    )
    m = t.manifest()
    delta_b = sorted(int(b) for b in t._delta_refs(m))
    assert 0 < len(delta_b) < 8
    want = sorted(map(tuple, final_state(log.filter(
        (F.col("seq") < 800) | F.col("conv_id").isin(hot)
    )).select(*KEYS, "text").collect()))

    plan = t.read(buckets=delta_b[:2])._jdf.queryExecution().executedPlan().toString()
    assert len(_exchanges(plan)) == 1, plan
    folded = t._fold_deltas(m, delta_b[:2])
    per_part = folded.rdd.mapPartitions(lambda rows: [sorted({r["__b"] for r in rows})]).collect()
    assert per_part == [[b] for b in delta_b[:2]]
    assert sorted(map(tuple, t.read().select(*KEYS, "text").collect())) == want

    # compact_deltas: fold + routed write, then no deltas and the same state
    captured = []
    orig = t._write_data

    def spy(df, mm, pre_routed=False):
        captured.append((df, pre_routed))
        return orig(df, mm, pre_routed)

    t._write_data = spy
    assert t.compact_deltas()["buckets"] == len(delta_b)
    df, pre_routed = captured[0]
    assert pre_routed
    assert len(_exchanges(df._jdf.queryExecution().executedPlan().toString())) == 1
    assert not t._delta_refs(t.manifest())
    assert sorted(map(tuple, t.read().select(*KEYS, "text").collect())) == want


def test_graph_sync_over_mor_table(spark, tmp_path):
    """Derived-table maintenance composes with merge-on-read: the edges
    GraphSync derives from each epoch's events equal a full rebuild from
    the LWW-folded base∪delta state, even while the base table is all
    deltas."""
    from sql_graph_visualizer_spark.streaming.graph_sync import (
        GraphSync,
        derive_conv_edges,
    )

    t = _table(spark, tmp_path, buckets=8)
    gs = GraphSync(spark, os.path.join(str(tmp_path), "edges"), t, num_buckets=8)
    log = gen_cdc_log(spark, 1200, num_convs=10, turns_per_conv=6)
    for e in range(3):
        chunk = log.filter((F.col("seq") >= e * 400) & (F.col("seq") < (e + 1) * 400))
        st = t.merge_upsert(chunk, epoch_id=e, query_id="q", mode="mor")
        gs.sync(chunk, e, st)
    cols = ["src", "dst", "rel_type", "conv_id", "turn_idx"]
    full = sorted(map(tuple, derive_conv_edges(t.read()).select(*cols).collect()))
    incr = sorted(map(tuple, gs.read().select(*cols).collect()))
    assert incr == full and len(full) > 0


def test_rebucket_racing_mor_delta_conflicts_then_converges(spark, tmp_path):
    """A rebucket that wins the manifest race against an in-flight MoR
    delta commit MUST conflict it: the delta files were hash-partitioned
    under the old spec, and attaching their old-numbered bucket refs to
    the migrated layout would misplace every row for pruned reads. The
    retried merge re-partitions under the new spec and converges."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 1000, num_convs=12, turns_per_conv=6)
    t.merge_upsert(log.filter("seq < 500"), epoch_id=0, query_id="q")

    orig = t._write_manifest
    fired = {"done": False}

    def racy(manifest):
        if not fired["done"] and manifest.get("summary", {}).get("mode") == "mor":
            fired["done"] = True
            t._write_manifest = orig
            SnapshotTable(t.spark, t.path).rebucket(16)
        return orig(manifest)

    t._write_manifest = racy
    st = merge_with_retry(t, log.filter("seq >= 500"), 1, "q", merge_mode="mor")
    assert not st.skipped and fired["done"]
    m = t.manifest()
    assert m["num_buckets"] == 16
    assert _state(t) == _expected(log)
    # every delta ref must live under a NEW-spec bucket id whose rows
    # actually hash there (pruned read finds each updated key)
    conv = log.select("conv_id").first()[0]
    b = int(
        spark.createDataFrame([(conv,)], "conv_id string")
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(16)).alias("b"))
        .first()["b"]
    )
    pruned = t.read(buckets=[b]).filter(F.col("conv_id") == conv)
    full = t.read().filter(F.col("conv_id") == conv)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))


def test_derived_sync_across_rebucket_migration(spark, tmp_path):
    """GraphSync + RollupSync across a live bucket-spec migration: the
    migration lands BETWEEN a data merge and its derived-table syncs, so
    the rollup's time-travel reads (merge snapshot + parent) use the OLD
    spec while current reads use the NEW one — bucket ids must be
    derived from each manifest actually read, never from 'current'."""
    from sql_graph_visualizer_spark.streaming.graph_sync import (
        GraphSync,
        derive_conv_edges,
    )
    from sql_graph_visualizer_spark.streaming.rollup import RollupSync

    t = _table(spark, tmp_path, buckets=4)
    gs = GraphSync(spark, os.path.join(str(tmp_path), "edges"), t, num_buckets=8)
    roll = RollupSync(
        spark, os.path.join(str(tmp_path), "roll"), t,
        bucket="hour", source_query_id="q",
    )
    log = gen_cdc_log(spark, 1600, num_convs=10, turns_per_conv=6)
    for e in range(4):
        chunk = log.filter((F.col("seq") >= e * 400) & (F.col("seq") < (e + 1) * 400))
        st = t.merge_upsert(chunk, epoch_id=e, query_id="q")
        if e == 1:
            t.rebucket(32)  # migration between the merge and its syncs
        gs.sync(chunk, e, st)
        roll.sync(chunk, e, st)
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
    got = sorted(map(tuple, roll.read().collect()))
    assert got == expect


def test_rebucket_racing_inflight_merge_conflicts_then_converges(spark, tmp_path):
    """The other interleaving: rebucket commits AFTER the merge read its
    base manifest → the merge's bucket-token validation fires and
    merge_with_retry recomputes on the new layout. Mid-replay migration
    ends with oracle-equal state."""
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 1000, num_convs=12, turns_per_conv=6)
    t.merge_upsert(log.filter("seq < 500"), epoch_id=0, query_id="q")

    # inject: rebucket wins the race exactly once, right before the
    # merge's manifest write
    orig = t._write_manifest
    fired = {"done": False}

    def racy(manifest):
        if not fired["done"] and manifest.get("summary", {}).get("operation") == "merge":
            fired["done"] = True
            t._write_manifest = orig
            shadow = SnapshotTable(t.spark, t.path)
            shadow.rebucket(16)
        return orig(manifest)

    t._write_manifest = racy
    st = merge_with_retry(t, log.filter("seq >= 500"), 1, "q")
    assert not st.skipped
    m = t.manifest()
    assert m["num_buckets"] == 16
    assert _state(t) == _expected(log)


def test_cow_merge_unions_registry_grown_by_racing_mor_rebase(spark, tmp_path):
    """Registry preservation under the three-writer race (VERDICT r5 #1):

    B (MoR) prepares against the S0 table; C lands a widening+add-column
    CoW epoch (schema S2, id 1); B's rebase joins S1⊆S2 → schema_id
    UNCHANGED but a NEW registry id is allocated for B's own file schema
    S1 (``_rebase_schema_mor`` local-id allocation); A (CoW) — prepared
    between C and B, so its base registry lacks that id — commits last.
    A's build must UNION the registries: overwriting with its own base's
    (the pre-r6 behavior) drops B's entry and leaves B's delta file
    entries pointing at a missing schema id."""
    import threading

    from pyspark.sql import types as T

    base = _table(spark, tmp_path, buckets=8)
    log = gen_cdc_log(spark, 300, num_convs=6, turns_per_conv=5)
    base.merge_upsert(log, epoch_id=0, query_id="seed")  # v: S0, id 0

    # pick two convs routed to different buckets so A's CoW token check
    # does not (correctly) conflict on B's delta bucket
    m0 = base.manifest()
    by_bucket = {
        int(r["b"]): r["conv_id"]
        for r in log.select("conv_id").distinct()
        .withColumn("b", base.bucket_id("conv_id", manifest=m0))
        .collect()
    }
    assert len(by_bucket) >= 2, "fixture: need two buckets"
    (bk_b, conv_b), (bk_a, conv_a) = sorted(by_bucket.items())[:2]

    def batch(conv, seq0, text, with_model):
        cols = (
            "conv_id string, turn_idx long, role string, text string, "
            "tool string, ts timestamp, op string, seq long"
        )
        rows = [(conv, i, "user", text, None, None, "update", seq0 + i) for i in range(3)]
        df = spark.createDataFrame(rows, cols)
        if with_model:
            df = df.withColumn("model", F.lit("m-c"))
        return df

    tB = SnapshotTable(spark, base.path)
    tC = SnapshotTable(spark, base.path)
    tA = SnapshotTable(spark, base.path)

    b_built, b_go = threading.Event(), threading.Event()
    orig_b, seen_b = tB._write_manifest, {"n": 0}

    def hook_b(man):
        if seen_b["n"] == 0:
            seen_b["n"] = 1
            b_built.set()
            assert b_go.wait(timeout=300)
        return orig_b(man)

    tB._write_manifest = hook_b
    b_err: list = []

    def run_b():
        try:
            tB.merge_upsert(batch(conv_b, 400, "b-text", False), epoch_id=0,
                            query_id="b", mode="mor")
        except Exception as ex:  # noqa: BLE001
            b_err.append(repr(ex))

    thr = threading.Thread(target=run_b, daemon=True)
    thr.start()
    assert b_built.wait(timeout=300)  # B read S0, evolved locally to S1
    tC.merge_upsert(batch(conv_a, 500, "c-text", True), epoch_id=0, query_id="c")

    orig_a, fired = tA._write_manifest, {"done": False}

    def hook_a(man):
        if not fired["done"] and man.get("summary", {}).get("mode") == "cow":
            fired["done"] = True
            b_go.set()       # B commits its rebased MoR delta (new reg id)
            thr.join(timeout=300)
            assert not thr.is_alive() and not b_err, b_err
        return orig_a(man)

    tA._write_manifest = hook_a
    # A read the registry AFTER C (schema_id 1) but BEFORE B's new entry
    tA.merge_upsert(batch(conv_a, 600, "a-text", True), epoch_id=1, query_id="c")
    assert fired["done"]

    t = SnapshotTable(spark, base.path)  # cold open, no warm caches
    m = t.manifest()
    assert len(m["schemas"]) == 3, m["schemas"]  # S0 + S2 + B's S1 kept
    cur = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
    assert cur["turn_idx"].dataType == T.LongType() and "model" in cur.fieldNames()
    for refs in (m.get("deltas") or {}).values():
        for ref in refs:
            for e in t._load_segment(ref["path"]):
                assert str(e["schema_id"]) in m["schemas"], e

    sel = ["conv_id", "turn_idx", "text", "model", "op", "seq"]
    full_log = (
        log.withColumn("turn_idx", F.col("turn_idx").cast("long"))
        .withColumn("model", F.lit(None).cast("string"))
        .select(sel)
        .unionByName(
            batch(conv_b, 400, "b-text", False)
            .withColumn("model", F.lit(None).cast("string"))
            .select(sel)
        )
        .unionByName(batch(conv_a, 500, "c-text", True).select(sel))
        .unionByName(batch(conv_a, 600, "a-text", True).select(sel))
    )
    expected = sorted(
        map(tuple, final_state(full_log, payload_cols=("text", "model")).collect())
    )
    assert sorted(
        map(tuple, t.read().select("conv_id", "turn_idx", "text", "model").collect())
    ) == expected


def test_mor_fold_handles_nested_map_schema(spark, tmp_path):
    """ADVICE r5 (medium): the ``_fold_lww`` map guard must walk the
    type tree — ``array<map<...>>`` / struct-containing-map schemas are
    just as unhashable for ``distinct()`` as a top-level map, so they
    must take the ``dropDuplicates(key + _seq)`` arm. With the old
    top-level-only guard every MoR read of such a table raised
    AnalysisException; cross-epoch re-delivery must still collapse."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField(
                "attrs", T.ArrayType(T.MapType(T.StringType(), T.StringType()))
            ),
            T.StructField(
                "nested",
                T.StructType(
                    [T.StructField("m", T.MapType(T.StringType(), T.LongType()))]
                ),
            ),
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "nm"), schema, ["k"], num_buckets=2
    )
    rows = [
        ("a", [{"x": "1"}], {"m": {"n": 1}}, "insert", 1),
        ("a", [{"x": "2"}], {"m": {"n": 2}}, "update", 5),
        ("b", [{"y": "9"}], {"m": {"n": 9}}, "insert", 2),
    ]
    df_schema = T.StructType(
        list(schema.fields)
        + [T.StructField("op", T.StringType()), T.StructField("seq", T.LongType())]
    )
    batch = spark.createDataFrame(rows, df_schema)
    t.merge_upsert(batch, epoch_id=0, query_id="q", mode="mor")
    # cross-epoch re-delivery of the winners (the distinct()-tie case)
    t.merge_upsert(batch.filter("seq >= 2"), epoch_id=1, query_id="q", mode="mor")
    got = sorted((r["k"], r["attrs"][0], r["nested"]["m"]) for r in t.read().collect())
    assert got == [("a", {"x": "2"}, {"n": 2}), ("b", {"y": "9"}, {"n": 9})]
    t.compact_deltas()
    assert sorted(r["k"] for r in t.read().collect()) == ["a", "b"]
