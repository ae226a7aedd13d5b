"""Spark job budgets of the MERGE path, counted with the DAG scheduler's
job counter. Adaptive query execution runs every exchange and every
cached-relation build as its own job, and on a small host each job
costs a fixed ~0.2 s, so a merge must stay one pass over its batch:

- merge-on-read, and copy-on-write into a table with no rows: one
  routed exchange, then the write (2 jobs);
- copy-on-write into a non-empty table: the map-only bucket-set prepare
  (a no-op write that fills its Observation, no shuffle), then one
  routed exchange over the touched buckets' rows and the batch, then
  the write (3 jobs).

A replay or a GraphSync pays exactly those merges: its first epoch
lands in an empty table, the later ones prepare first.
"""

from __future__ import annotations

import os

from sql_graph_visualizer_spark.sources.cdc_gen import (
    gen_cdc_log,
    read_cdc_log,
    write_cdc_log_dir,
)
from sql_graph_visualizer_spark.streaming.graph_sync import GraphSync
from sql_graph_visualizer_spark.streaming.replay import replay_batch
from tests.conftest import _jobs, _table


def _seeded(spark, tmp_path, name):
    """A 4-bucket table holding the first half of a seeded log, and the
    log's second half as the next epoch."""
    t = _table(spark, tmp_path, name, buckets=4)
    log = gen_cdc_log(spark, 800, num_convs=8, turns_per_conv=6)
    return t, log.filter("seq < 400"), log.filter("seq >= 400")


def test_mor_merge_runs_two_jobs(spark, tmp_path):
    t, head, tail = _seeded(spark, tmp_path, "mor")
    t.merge_upsert(head, epoch_id=0, query_id="q", mode="mor")
    j0 = _jobs(spark)
    st = t.merge_upsert(tail, epoch_id=1, query_id="q", mode="mor")
    assert st.rows_in > 0 and not st.skipped
    assert _jobs(spark) - j0 <= 2


def test_cow_merge_into_empty_table_runs_two_jobs(spark, tmp_path):
    t, head, _ = _seeded(spark, tmp_path, "cow")
    j0 = _jobs(spark)
    st = t.merge_upsert(head, epoch_id=0, query_id="q")
    assert st.rows_in > 0 and st.buckets_touched > 0
    assert _jobs(spark) - j0 <= 2


def test_cow_merge_with_prepare_runs_three_jobs(spark, tmp_path):
    t, head, tail = _seeded(spark, tmp_path, "cow")
    t.merge_upsert(head, epoch_id=0, query_id="q")
    j0 = _jobs(spark)
    st = t.merge_upsert(tail, epoch_id=1, query_id="q")
    assert st.rows_in > 0 and st.buckets_touched > 0
    assert _jobs(spark) - j0 <= 3


def test_two_epoch_json_replay_job_budget(spark, tmp_path):
    """The file-skipping backfill shape: a 2-epoch replay of a gzip-JSON
    log into an empty copy-on-write table — the per-file seq probe, the
    first epoch's one-pass merge, then the second epoch's prepare and
    merge."""
    log_dir = os.path.join(str(tmp_path), "log")
    write_cdc_log_dir(gen_cdc_log(spark, 2000, num_convs=10, turns_per_conv=8), log_dir, 4, fmt="json")
    t = _table(spark, tmp_path, "t", buckets=4)
    log = read_cdc_log(spark, log_dir, fmt="json")
    j0 = _jobs(spark)
    stats = replay_batch(log, t, epochs=2, persist_log=False)
    assert [s.skipped for s in stats] == [False, False]
    assert _jobs(spark) - j0 <= 7


def test_graph_sync_job_budget(spark, tmp_path):
    """GraphSync merges copy-on-write: its first sync lands in an empty
    edge table, a later one prepares first."""
    t, head, tail = _seeded(spark, tmp_path, "t")
    gs = GraphSync(spark, os.path.join(str(tmp_path), "edges"), t, num_buckets=4)
    j0 = _jobs(spark)
    assert gs.sync(head, 0).rows_in > 0
    j1 = _jobs(spark)
    assert j1 - j0 <= 2
    assert gs.sync(tail, 1).rows_in > 0
    assert _jobs(spark) - j1 <= 3
