"""CDC replay: change-event stream → exactly-once MERGE into the lake table.

Shape of the reference's monitoring loop (SURVEY.md §3.3):
``tick(UpdateInterval) → collect changes → map onto graph → upsert``
(``realtime_performance_monitor.go:287-332``,
``simple_metrics_injector.go:89-213``) — restated as Structured
Streaming: ``readStream → foreachBatch(merge_upsert)``.

Exactly-once: ``foreachBatch`` is at-least-once (an epoch re-runs if the
job dies between the sink write and the checkpoint commit). The sink is
made idempotent by epoch fencing: ``SnapshotTable.merge_upsert`` records
``(query_id, epoch_id)`` in the same atomic manifest commit as the data,
and skips any epoch at-or-below the last committed one. Replay after a
crash therefore converges to exactly-once table state.

Resumability: the Structured Streaming checkpoint (source offsets) lives
in ``checkpoint_dir``; restarting with the same dir resumes from the next
unread file. ``availableNow`` gives bounded replay (drain the log, then
stop) — the mode bench.py and the tests use.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_graph_visualizer_spark.lake.snapshot_table import (
    CommitConflictError,
    MergeStats,
    PreparedMerge,
    SnapshotTable,
)
from sql_graph_visualizer_spark.operators.skew import compact_lww_salted
from sql_graph_visualizer_spark.sources.cdc_gen import read_cdc_stream
from sql_graph_visualizer_spark.streaming.metrics import LineageRecorder


def merge_with_retry(
    table: SnapshotTable,
    batch: DataFrame,
    epoch_id: int,
    query_id: str,
    conflict_retries: int = 2,
    prepared: PreparedMerge | None = None,
    merge_mode: str = "cow",
    ordered_writer: bool = True,
) -> MergeStats:
    """MERGE an epoch, re-running it on ``CommitConflictError``.

    A conflict means a concurrent commit (tombstone expiry, compaction,
    another writer) invalidated this merge's base snapshot — the merge
    must be *recomputed* on the new base, not rebased (the existing-rows
    read is stale). The ingest loop owns that retry: maintenance jobs
    yield to ingest by design (they validate-and-fail cheaply), so the
    retry re-reads the rewritten buckets and converges. Epoch fencing
    makes the retry safe even if the conflicting commit was a racing
    twin of this very epoch."""
    for attempt in range(conflict_retries + 1):
        try:
            return table.merge_upsert(
                batch, epoch_id=epoch_id, query_id=query_id, prepared=prepared,
                mode=merge_mode, ordered_writer=ordered_writer,
            )
        except CommitConflictError:
            prepared = None  # re-run the prepare against the new base
            if attempt == conflict_retries:
                raise
            # linear backoff so ingest doesn't lock-step with a periodic
            # maintenance rewrite (full-table expiry conflicts with EVERY
            # in-flight merge; without jittered backoff the two can
            # livelock at matched cadences)
            time.sleep(0.2 * (attempt + 1))
    raise AssertionError("unreachable")


def maybe_compact_deltas(
    table: SnapshotTable, max_layers: int, pool=None
) -> dict[str, int] | None:
    """The merge-on-read maintenance POLICY (VERDICT r4 #2): when any
    bucket's delta stack reaches ``max_layers``, fold exactly those
    buckets. The trigger reads only manifest metadata
    (``delta_stats()`` — O(buckets) arithmetic, no file IO), so calling
    it once per epoch is free; the fold itself costs ∝ the folded
    buckets' bytes and yields to concurrent ingest (bucket-token
    validation — a conflict is swallowed here and simply re-triggers
    next epoch, because the layer count is still over threshold).

    ``pool``: a ``ThreadPoolExecutor`` to run the fold OFF the ingest
    path (ingest never pauses; safe concurrently — a MoR delta commit
    rebases over a compaction, and a compaction racing a merge loses
    its token validation and yields). Without a pool the fold runs
    inline, which gives the hard invariant ``max_layers ≤ threshold``
    at every epoch boundary (each epoch adds at most one layer per
    bucket)."""
    # a PREVIOUS async fold that died on a non-conflict error (IO
    # failure, corrupted segment) must not be silently discarded —
    # delta layers would grow unbounded while the caller believes
    # maintenance is running (ADVICE r6). Re-raise it on the next
    # trigger, on the ingest thread, where the operator sees it.
    prev = getattr(table, "_async_fold_error", None)
    if prev is not None:
        table._async_fold_error = None
        raise prev
    if table.delta_stats()["max_layers"] < max_layers:
        return None

    def _run() -> dict[str, int] | None:
        return table.compact_deltas(min_deltas=max_layers)

    def _run_guarded() -> dict[str, int] | None:
        try:
            return _run()
        except CommitConflictError:
            return None  # ingest won the race; next epoch re-triggers

    if pool is not None:

        def _surface(fut) -> None:
            exc = fut.exception()
            if exc is not None and not isinstance(exc, CommitConflictError):
                table._async_fold_error = exc

        pool.submit(_run).add_done_callback(_surface)
        return None
    return _run_guarded()


def replay_stream(
    spark: SparkSession,
    log_dir: str,
    table: SnapshotTable,
    checkpoint_dir: str,
    query_id: str = "cdc-replay",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    lineage: LineageRecorder | None = None,
    hot_threshold: int | None = None,
    on_batch: Callable[[DataFrame, int, MergeStats], None] | None = None,
    conflict_retries: int = 2,
    fmt: str = "parquet",
    merge_mode: str = "cow",
    auto_compact_layers: int | None = None,
    auto_compact_async: bool = False,
    ordered_source: bool = False,
    unpin_on_drain: bool = False,
    transforms=None,
):
    """Replay a file-backed CDC log into ``table``.

    Bounded mode (``available_now=True``, default): drains the log,
    returns ``list[MergeStats]`` (one per epoch). Sustained mode: starts
    the query and returns the live ``StreamingQuery`` (with a
    ``merge_stats`` attribute that fills as epochs commit) — the caller
    stops it. Reference analogue for sustained mode: the 5 s ticker loop
    (``realtime_performance_monitor.go:287-303``).

    ``auto_compact_async`` (VERDICT r5 #4): run the MoR delta fold on a
    maintenance thread instead of inline in ``foreachBatch``. Inline
    gives the hard bound layers ≤ threshold at every epoch boundary but
    blocks the micro-batch that trips it for the fold's duration — a
    latency spike ∝ folded bytes that a sustained production stream
    can't absorb. Async keeps every epoch's latency at merge cost; the
    bound weakens to threshold + in-flight epochs (each epoch adds at
    most one layer per bucket while the fold runs, and a fold that
    loses its token race re-triggers next epoch). Safe concurrently: a
    MoR delta commit rebases over a compaction, a compaction racing a
    merge yields, and the shared table instance's metadata caches are
    lock-guarded.

    ``ordered_source``: Spark's file stream delivers same-mtime files in
    ARBITRARY order, so by default this writer cannot claim "future
    epochs carry only higher LSNs" and therefore must not advance the
    table's tombstone-expiry watermark — it pins the horizon instead
    (``merge_upsert(ordered_writer=False)``), keeping concurrent
    ``expire_tombstones()`` a provably-safe no-op for this writer's
    keys. Without the pin, an out-of-order high-LSN epoch would raise
    the horizon, a concurrent expiry would drop a tombstone, and a
    later low-LSN epoch would RESURRECT the deleted row (reproduced in
    ``test_replay.py::test_unordered_stream_pins_tombstone_horizon``).
    Set True only when file arrival genuinely follows LSN order
    (binlog segment shipping with monotone mtimes).

    ``unpin_on_drain``: a finished ``availableNow`` run delivered every
    file that existed at query start, so within ONE run the ordering
    claim is provable at drain time — but a LATER run can still ship a
    segment with smaller LSNs (late re-shipping), and an
    ``expire_tombstones()`` between the two runs would reopen the exact
    resurrection window the unordered pin closes. The unpin is
    therefore OPT-IN (ADVICE r6): pass True only when the operator can
    assert no smaller-LSN files will arrive in later runs (e.g. the
    drain consumed the final binlog segment). Default False keeps the
    horizon pinned; unpin explicitly with
    ``table.advance_watermark(query_id, max_committed_seq)`` after a
    provable end-of-log drain. Sustained mode never unpins."""
    stats: list[MergeStats] = []
    from concurrent.futures import ThreadPoolExecutor

    compact_pool = (
        ThreadPoolExecutor(max_workers=1, thread_name_prefix="mor-compact")
        if auto_compact_layers is not None and auto_compact_async
        else None
    )

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        t0 = time.monotonic()
        if transforms is not None:
            # per-batch hygiene stage (streaming/transforms.py): PII
            # redaction + online benchmark decontamination; counters
            # flow to the lineage table under <query_id>-transforms
            batch = transforms.apply(batch, int(epoch_id))
        # merge_upsert routes every batch event through its one bucket
        # exchange and folds per key inside the bucket's partition, so an
        # update storm on one hot conversation lands in one write task.
        # Pass hot_threshold to opt into the salted two-level
        # pre-compaction (operators/skew.py), which collapses hot keys
        # before that exchange.
        prepared = (
            compact_lww_salted(batch, hot_threshold=hot_threshold)
            if hot_threshold is not None
            else batch
        )
        st = merge_with_retry(
            table, prepared, int(epoch_id), query_id,
            conflict_retries=conflict_retries, merge_mode=merge_mode,
            ordered_writer=ordered_source,
        )
        st.duration_ms = int((time.monotonic() - t0) * 1000)
        stats.append(st)
        if lineage is not None:
            lineage.record(st, query_id=query_id)
            if transforms is not None:
                transforms.record(lineage, query_id)
        if on_batch is not None:
            on_batch(batch, int(epoch_id), st)
        if transforms is not None:
            # the transform stage persisted the epoch's transformed frame
            # (one materialization per epoch); release it post-commit
            batch.unpersist()
        if auto_compact_layers is not None and merge_mode == "mor":
            # per-epoch maintenance hook: delta layers stay bounded for
            # the whole run instead of relying on an operator to remember
            # compact_deltas() (unbounded layer growth = unbounded read
            # amplification). Inline by default — the micro-batch cadence
            # IS the maintenance cadence and the bound is hard; pass
            # auto_compact_async=True to fold off-path (see docstring).
            maybe_compact_deltas(table, auto_compact_layers, pool=compact_pool)

    stream = read_cdc_stream(spark, log_dir, max_files_per_trigger, fmt=fmt)
    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
        try:
            q = writer.start()
            q.awaitTermination()
        finally:
            if compact_pool is not None:
                compact_pool.shutdown(wait=True)
        if lineage is not None:
            lineage.flush()
        if unpin_on_drain and not ordered_source:
            # OPT-IN (caller asserted no later run ships smaller LSNs):
            # the drained availableNow run delivered every file that
            # existed at query start, so the ordering claim is provable
            # NOW even though it wasn't per-epoch — unpin the tombstone
            # horizon at the max committed LSN so the
            # drain-then-expire_tombstones() pattern works. Epochs
            # fenced as re-delivered carry no LSN knowledge and are
            # skipped.
            mx = max((s.max_seq for s in stats if not s.skipped), default=-1)
            if mx >= 0:
                table.advance_watermark(query_id, mx)
        return stats
    # sustained mode (the reference's 5s poll loop): hand the live query
    # back so the caller can monitor/stop it; `stats` fills as epochs land
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    query = writer.start()
    setattr(query, "merge_stats", stats)
    if compact_pool is not None:
        # the caller stops the query; drain the maintenance thread then —
        # hung folds must not leak past the stream's lifetime
        setattr(query, "compact_pool", compact_pool)
        orig_stop = query.stop

        def stop_and_drain() -> None:
            orig_stop()
            compact_pool.shutdown(wait=True)

        query.stop = stop_and_drain  # type: ignore[method-assign]
    return query


def _probe_file_seq_ranges(log: DataFrame, order_col: str) -> list[tuple[str, int, int]]:
    """Per-file ``(path, min_seq, max_seq)`` of a file-backed JSON log —
    the manual analogue of parquet row-group statistics (guide §6).
    One single-column pass over the log (the JSON parser skips every
    other field) computed with ``input_file_name()``; the result lets a
    seq-range chunk read only the files that can contain its range.
    CDC logs are written in LSN order (``write_cdc_log_dir`` range-
    partitions by seq; a generator writes ``spark.range`` slices), so
    each file covers a narrow contiguous seq range and an ``epochs``-way
    replay skips ~(epochs-1)/epochs of the gzip decompress+parse work
    per epoch. Exactness does not depend on that layout: the ranges are
    computed from the data and the chunk filter still applies, so an
    unordered log merely skips fewer files.

    The probe reads ``log.inputFiles()`` — the files listed when the log
    was read — not the source directory again: a file that lands there
    later is not part of ``log`` and must not reach any epoch."""
    spark = log.sparkSession
    fld = log.schema[order_col]
    probe = spark.read.schema(T.StructType([fld])).json(log.inputFiles())
    rows = (
        probe.groupBy(F.input_file_name().alias("__f"))
        .agg(F.min(order_col).alias("lo"), F.max(order_col).alias("hi"))
        .collect()
    )
    return [(r["__f"], int(r["lo"]), int(r["hi"])) for r in rows if r["lo"] is not None]


def replay_batch(
    log: DataFrame,
    table: SnapshotTable,
    epochs: int = 1,
    query_id: str = "cdc-replay-batch",
    order_col: str = "seq",
    hot_threshold: int | None = None,
    lineage: LineageRecorder | None = None,
    bounds: tuple[int, int] | None = None,
    pipeline: bool = True,
    conflict_retries: int = 2,
    merge_mode: str = "cow",
    auto_compact_layers: int | None = None,
    auto_compact_async: bool = False,
    persist_log: bool | None = None,
) -> list[MergeStats]:
    """Bounded batch replay: split the log into ``epochs`` contiguous seq
    ranges and merge them in order — the deterministic, driver-friendly
    twin of ``replay_stream`` (same sink path, same fencing).

    ``bounds``: pass the known (lo, hi) LSN range (a binlog tail always
    knows it) to skip a full-log min/max scan.

    ``pipeline``: with ``merge_mode="cow"``, overlap epoch N+1's
    map-only bucket-set pass (``merge_prepare`` — schema-independent, so
    safe before N commits) with epoch N's merge-write job. The two jobs
    share the executors, so the win is utilization — the pass fills the
    scheduler gaps, barrier waits and straggler tails of the write
    stage, which is exactly the time a bigger cluster otherwise wastes.
    Commit order, fencing and results are unchanged (the prepared
    bucket set is a pure function of the chunk). Epoch 0's merge runs
    its own prepare, or none when the table is empty, since nothing
    runs before it to overlap; a merge-on-read merge is one pass with
    no prepare, so there is nothing to overlap.

    ``persist_log`` (r8, guide §1.2/§5): cache the source log for the
    duration of the replay. A copy-on-write epoch into a non-empty table
    scans its chunk twice (the bucket-column pass in ``merge_prepare``
    plus the full-payload merge); one into an empty table, or a
    merge-on-read epoch, scans it once. So an ``epochs``-epoch replay
    performs up to ``2×epochs - 1`` source scans — for a gzip-JSON
    binlog tail, as many full decompress+parse passes.
    Caching turns that into ONE parse + cheap columnar-cache reads.

    The default (None) is SCALE-ADAPTIVE, decided from the replay's own
    LSN span (``bounds``/the min-max probe — no extra scan): persist
    while the log is at most ``SPARK_GRAFT_REPLAY_PERSIST_MAX_EVENTS``
    (default 6M) events. Measured on the bench topologies, whose
    ``local-cluster[N,4,6144]`` masters size only the worker: the
    executors ran with Spark's default 1 GB heap, so the 6M cutoff holds
    for that heap. There, at 100k-8M events the cache wins (interleaved
    A/B at 8M: 11.8 s vs 13.4 s min-of-3); at 24M events the
    row→columnar build cost (~13 s) exceeds everything it saves and the
    storage pressure destabilises the executors — the big-log regime
    instead wants the per-chunk lazy parse the source already provides.
    Pass True/False to override either way; the cutoff is an env knob
    because the right value depends on executor memory, not on the
    data. The cache lives
    only for this call (unpersisted in ``finally``) — nothing persists
    across bench/oracle invocations. A log the caller already persisted
    is left alone (no double persist, no surprise unpersist).

    File skipping (r8, guide §6): when the log is a plain file-backed
    gzip-JSON scan (tagged by ``read_cdc_log``) and is too large to
    persist, one single-column pass records each file's (min, max) seq
    and every epoch then reads ONLY the files intersecting its range —
    the manual analogue of parquet row-group statistics, which JSON
    lacks. CDC log files are written in LSN order, so an epochs-way
    replay skips ~(epochs-1)/epochs of the decompress+parse per epoch;
    results are exact regardless of layout (the chunk filter still
    applies — an unordered log just skips fewer files). Parquet logs
    take the unchanged path (native predicate pushdown)."""
    # file-skipping eligibility (r8, guide §6): the log is a plain
    # file-backed JSON scan (tagged by read_cdc_log) — parquet logs get
    # native row-group pushdown and need no help. The per-file seq
    # ranges are memoized on the DataFrame object (its file listing is
    # fixed at read time, so the ranges are immutable with it); each
    # bench/oracle invocation builds a fresh DataFrame and re-probes.
    json_log = getattr(log, "_sgv_file_source", {}).get("fmt") == "json"
    ranges: list[tuple[str, int, int]] | None = getattr(log, "_sgv_file_ranges", None)
    if bounds is None:
        if json_log and epochs >= 2:
            if ranges is None:
                ranges = _probe_file_seq_ranges(log, order_col)
                log._sgv_file_ranges = ranges
            if not ranges:
                return []
            bounds = (min(r[1] for r in ranges), max(r[2] for r in ranges))
        else:
            row = log.selectExpr(f"min({order_col}) lo", f"max({order_col}) hi").collect()[0]
            if row["lo"] is None:
                return []
            bounds = (int(row["lo"]), int(row["hi"]))
    lo, hi = bounds
    own_persist = False
    if persist_log is None:
        cutoff = int(os.environ.get("SPARK_GRAFT_REPLAY_PERSIST_MAX_EVENTS", "6000000"))
        persist_log = (hi - lo + 1) <= cutoff
    # big-log regime (no cache): skip whole files per epoch instead.
    # With a persisted log the chunk filters read the cache — per-epoch
    # file readers would bypass it, so the two paths are exclusive.
    use_files = json_log and not persist_log and epochs >= 2
    if use_files and ranges is None:
        ranges = _probe_file_seq_ranges(log, order_col)
        log._sgv_file_ranges = ranges
    if persist_log and log.storageLevel.useMemory is False and log.storageLevel.useDisk is False:
        # DISK_ONLY, not MEMORY_AND_DISK: the replay's own shuffles and
        # sort-compactions need the execution memory, and a measured A/B
        # showed the in-memory columnar cache competing with them —
        # DISK_ONLY costs ~0.3 s/rescan on local dirs while freeing
        # storage memory entirely, and its build is within ~1 s of a
        # plain scan with columnar compression off (session default)
        from pyspark import StorageLevel

        log = log.persist(StorageLevel.DISK_ONLY)
        own_persist = True
    span = max(1, (hi - lo + 1 + epochs - 1) // epochs)

    def chunk_of(e: int) -> DataFrame:
        e_lo, e_hi = lo + e * span, lo + (e + 1) * span
        if use_files:
            files = [f for f, mn, mx in ranges if mn < e_hi and mx >= e_lo]
            if files:
                spark = log.sparkSession
                c = spark.read.schema(log.schema).json(files)
                c = c.filter((c[order_col] >= e_lo) & (c[order_col] < e_hi))
            else:
                c = log.sparkSession.createDataFrame([], log.schema)
        else:
            c = log.filter((log[order_col] >= e_lo) & (log[order_col] < e_hi))
        return compact_lww_salted(c, hot_threshold=hot_threshold) if hot_threshold is not None else c

    stats: list[MergeStats] = []
    from concurrent.futures import ThreadPoolExecutor

    compact_pool = (
        ThreadPoolExecutor(max_workers=1)
        if auto_compact_layers is not None and auto_compact_async
        else None
    )
    try:
        pipeline = pipeline and merge_mode == "cow"
        with ThreadPoolExecutor(max_workers=1) as pool:
            nxt = None
            for e in range(epochs):
                chunk = chunk_of(e)
                prepared = nxt.result() if nxt is not None else None
                nxt = (
                    pool.submit(
                        table.merge_prepare, chunk_of(e + 1), order_col=order_col
                    )
                    if pipeline and e + 1 < epochs
                    else None
                )
                st = merge_with_retry(
                    table, chunk, e, query_id,
                    conflict_retries=conflict_retries, prepared=prepared,
                    merge_mode=merge_mode,
                )
                stats.append(st)
                if lineage is not None:
                    lineage.record(st, query_id=query_id)
                if auto_compact_layers is not None and merge_mode == "mor":
                    # maintenance hook (see maybe_compact_deltas): async
                    # keeps ingest moving while the fold runs off-path; a
                    # conflict (fold raced a merge) is swallowed and the
                    # still-over-threshold layer count re-triggers next
                    # epoch
                    maybe_compact_deltas(table, auto_compact_layers, pool=compact_pool)
    finally:
        if compact_pool is not None:
            compact_pool.shutdown(wait=True)
        if own_persist:
            log.unpersist()
    if lineage is not None:
        lineage.flush()
    return stats
