"""Round-8 optimization measurement harness (bench.py is FROZEN; this
file exists so the round's before/after evidence can be produced without
touching the driver's timed methodology — guide §1.4 noop-sink isolation,
§1.5 job labels, per-epoch merge phase breakdown).

Usage:
  python bench_extra.py suite      # noop-isolated suite queries at $SPARK_GRAFT_SF_DIR
  python bench_extra.py flagship   # flagship replay kernel w/ per-epoch phases
  python bench_extra.py parse      # gzip-JSON parse floor probes (full/pruned schema)
  python bench_extra.py plans      # capture .explain("formatted") for bench queries

Flagship events default to a reduced 8M (SPARK_GRAFT_XBENCH_EVENTS) so the
iterate-measure loop is minutes, not tens of minutes; final numbers come
from the untouched bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EVENTS = int(os.environ.get("SPARK_GRAFT_XBENCH_EVENTS", "8000000"))
SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, name: str, fn, out: dict) -> None:
    spark.sparkContext.setJobDescription(name)
    t0 = time.perf_counter()
    fn()
    out[name] = round(time.perf_counter() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    print(f"  {name}: {out[name]}s", flush=True)


def _suite_session(scratch: str):
    from sql_graph_visualizer_spark.session import get_spark

    spark = get_spark(
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.local.dir": os.path.join(scratch, "spark-local")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def suite() -> None:
    """noop-isolated timings for every suite query (guide §1.4): the
    computation is timed, not the .collect()/.count() sink shape."""
    import __spark_entry__ as E
    from sql_graph_visualizer_spark.operators.dedup import minhash_lsh_pairs
    from sql_graph_visualizer_spark.plans.graph_builder import build_conv_edges_arrow

    scratch = tempfile.mkdtemp(prefix="xbench_", dir=SCRATCH)
    spark = _suite_session(scratch)
    t: dict[str, float] = {}
    # replay-backed queries (timed end to end: replay happens inside)
    _timed(spark, "cdc_events_replay[fresh]", lambda: _fresh_events_replay(spark, scratch), t)
    _timed(spark, "cdc_final_state[fresh->noop]", lambda: _noop(E.q_cdc_final_state(spark, SF_DIR)), t)
    _timed(
        spark,
        "graph_edges_arrow[cached state]",
        lambda: _noop(build_conv_edges_arrow(E.q_cdc_final_state(spark, SF_DIR))),
        t,
    )
    _timed(spark, "tpch_q1_pricing", lambda: _noop(E.q_tpch_q1_pricing(spark, SF_DIR)), t)
    _timed(spark, "tpch_q3_top10", lambda: _noop(E.q_tpch_q3_top10(spark, SF_DIR)), t)
    _timed(spark, "window_top3_orders", lambda: _noop(E.q_window_top3_orders(spark, SF_DIR)), t)
    _timed(
        spark,
        "dedup_minhash_lsh",
        lambda: _noop(
            minhash_lsh_pairs(spark.read.parquet(f"{SF_DIR}/documents.parquet"), threshold=0.5)
        ),
        t,
    )
    _timed(spark, "text_profile", lambda: _noop(E.q_text_profile(spark, SF_DIR)), t)
    _timed(spark, "sim_cosine_topk", lambda: _noop(E.q_sim_cosine_topk(spark, SF_DIR)), t)
    print(json.dumps({"suite_noop": t}))
    spark.stop()


def _fresh_events_replay(spark, scratch: str) -> None:
    from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
    from sql_graph_visualizer_spark.sources.events_cdc import TRANSCRIPT_SCHEMA, derive_cdc_log
    from sql_graph_visualizer_spark.streaming.replay import replay_batch

    base = tempfile.mkdtemp(prefix="xbench_ev_", dir=scratch)
    log = derive_cdc_log(spark, SF_DIR)
    table = SnapshotTable.create(
        spark, os.path.join(base, "t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=16,
    )
    st = replay_batch(log, table, epochs=4)
    table.read().count()
    for s in st:
        print(f"    epoch {s.epoch_id}: total={s.duration_ms}ms stats={s.stats_ms}ms write={s.write_ms}ms", flush=True)


def flagship() -> None:
    """Flagship kernel (reduced events) with per-epoch phase breakdown,
    in the same local-cluster[8,4] child topology bench.py uses."""
    code = f"""
import json, os, sys, time
sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})
from sql_graph_visualizer_spark.session import get_spark
from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
from sql_graph_visualizer_spark.sources.cdc_gen import gen_cdc_log, read_cdc_log
from sql_graph_visualizer_spark.sources.events_cdc import TRANSCRIPT_SCHEMA
from sql_graph_visualizer_spark.streaming.replay import replay_batch

events = {EVENTS}
scratch = {tempfile.mkdtemp(prefix="xbench_flag_", dir=SCRATCH)!r}
spark = get_spark(master="local-cluster[{max(1, CPUS // 4)},4,6144]",
                  shuffle_partitions=64,
                  extra_conf={{"spark.local.dir": os.path.join(scratch, "spark-local")}})
spark.sparkContext.setLogLevel("ERROR")
log_dir = os.path.join(scratch, "log")
gen_cdc_log(spark, events, num_convs=10_000, num_partitions=256) \\
    .write.mode("overwrite").option("compression", "gzip").json(log_dir)
log = read_cdc_log(spark, log_dir, fmt="json")
mk = lambda n: SnapshotTable.create(spark, os.path.join(scratch, n), TRANSCRIPT_SCHEMA,
                                    key_cols=["conv_id", "turn_idx"], num_buckets=64)
replay_batch(log.filter(f"seq < {{events // 8}}"), mk("w"), epochs=2,
             bounds=(0, events // 8 - 1))
persist = os.environ.get("SPARK_GRAFT_XBENCH_PERSIST", "1") == "1"
best, best_stats = None, None
for trial in range(2):
    t0 = time.perf_counter()
    st = replay_batch(log, mk(f"t{{trial}}"), epochs=4, query_id=f"q{{trial}}",
                      bounds=(0, events - 1), persist_log=persist)
    sec = time.perf_counter() - t0
    if best is None or sec < best:
        best, best_stats = sec, st
print(json.dumps({{
    "sec": round(best, 3), "events_per_sec": round(events / best, 1),
    "epochs": [{{"epoch": s.epoch_id, "total_ms": s.duration_ms,
                 "stats_ms": s.stats_ms, "write_ms": s.write_ms}} for s in best_stats],
}}))
spark.stop()
"""
    import subprocess

    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=1800)
    sys.stderr.write(out.stderr[-3000:] + "\n")
    print(out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "NO OUTPUT")


def parse_probe() -> None:
    """Parse-floor probes (guide §1.1 first-principles): how much of the
    flagship is irreducible gzip-JSON decode at each schema width."""
    code = f"""
import json, os, sys, time
sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})
from pyspark.sql import functions as F
from sql_graph_visualizer_spark.session import get_spark
from sql_graph_visualizer_spark.sources.cdc_gen import gen_cdc_log, read_cdc_log, CDC_JSON_SCHEMA

events = {EVENTS}
scratch = {tempfile.mkdtemp(prefix="xbench_parse_", dir=SCRATCH)!r}
spark = get_spark(master="local-cluster[{max(1, CPUS // 4)},4,6144]",
                  shuffle_partitions=64,
                  extra_conf={{"spark.local.dir": os.path.join(scratch, "spark-local")}})
spark.sparkContext.setLogLevel("ERROR")
log_dir = os.path.join(scratch, "log")
gen_cdc_log(spark, events, num_convs=10_000, num_partitions=256) \\
    .write.mode("overwrite").option("compression", "gzip").json(log_dir)
res = {{}}
def probe(name, df):
    df.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    res[name] = round(time.perf_counter() - t0, 3)
probe("lines_only", spark.read.text(log_dir))
probe("full_schema", read_cdc_log(spark, log_dir, fmt="json"))
probe("pruned_4col", read_cdc_log(spark, log_dir, fmt="json").select("seq","op","conv_id","turn_idx"))
probe("seq_only", read_cdc_log(spark, log_dir, fmt="json").select("seq"))
print(json.dumps(res))
spark.stop()
"""
    import subprocess

    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=1800)
    sys.stderr.write(out.stderr[-3000:] + "\n")
    print(out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "NO OUTPUT")


def plans(tag: str) -> None:
    """Capture .explain('formatted') for the bench suite queries into
    plans/r08/<query>_<tag>.txt (judge-checkable plan evidence)."""
    import __spark_entry__ as E
    from sql_graph_visualizer_spark.operators.dedup import minhash_lsh_pairs
    from sql_graph_visualizer_spark.plans.graph_builder import build_conv_edges_arrow
    from sql_graph_visualizer_spark.sources.events_cdc import derive_cdc_log
    from sql_graph_visualizer_spark.operators.compaction import compact_lww

    scratch = tempfile.mkdtemp(prefix="xplan_", dir=SCRATCH)
    spark = _suite_session(scratch)
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r08")
    os.makedirs(outdir, exist_ok=True)

    def cap(name, df):
        p = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(p)
        print(f"  wrote {name}_{tag}.txt", flush=True)

    # the merge kernel's two halves, over the events-derived log (the
    # flagship's plan shape without the 24M-event wait)
    log = derive_cdc_log(spark, SF_DIR)
    cap("merge_compact_lww", compact_lww(log))

    # the MERGE WRITE JOB's frame, exactly as merge_upsert builds it: one
    # routing exchange shared by the fold (compact_lww's routed form)
    from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
    from sql_graph_visualizer_spark.sources.events_cdc import TRANSCRIPT_SCHEMA

    t = SnapshotTable.create(
        spark, os.path.join(scratch, "plan_t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=16,
    )
    m = t.manifest()
    payload = [F.col(f.name) for f in TRANSCRIPT_SCHEMA.fields]
    # batch events: payload + seq + op (empty table → no existing arm)
    routed, route_cols = t._route_for_write(log, m)
    folded = compact_lww(routed, ("conv_id", "turn_idx"), ("seq",), route_cols)
    frame = folded.select(
        *payload, F.col("seq").cast("long").alias("_seq"),
        (F.col("op") == "delete").alias("_deleted"), "__b",
    )
    cap("merge_write", frame)

    # one replay epoch's CHUNK SCAN over a gzip-JSON log: the per-file seq
    # ranges select the files intersecting the epoch's range
    from sql_graph_visualizer_spark.sources.cdc_gen import (
        gen_cdc_log, read_cdc_log, write_cdc_log_dir,
    )
    from sql_graph_visualizer_spark.streaming.replay import _probe_file_seq_ranges

    jdir = os.path.join(scratch, "plan_jlog")
    write_cdc_log_dir(gen_cdc_log(spark, 100_000, num_convs=500), jdir, num_files=16, fmt="json")
    jlog = read_cdc_log(spark, jdir, fmt="json")
    e_lo, e_hi = 0, 25_000  # epoch 0 of 4
    ranges = _probe_file_seq_ranges(jlog, "seq")
    files = [f for f, mn, mx in ranges if mn < e_hi and mx >= e_lo]
    if files:
        chunk = spark.read.schema(jlog.schema).json(files)
    else:  # no file holds the epoch's range: an empty chunk, not a full scan
        chunk = spark.createDataFrame([], jlog.schema)
    chunk = chunk.filter((chunk["seq"] >= e_lo) & (chunk["seq"] < e_hi))
    cap("cdc_replay_chunk", chunk)
    cap("cdc_final_state", E.q_cdc_final_state(spark, SF_DIR))
    cap("graph_edges_arrow", build_conv_edges_arrow(E.q_cdc_final_state(spark, SF_DIR)))
    cap("tpch_q1_pricing", E.q_tpch_q1_pricing(spark, SF_DIR))
    cap("tpch_q3_top10", E.q_tpch_q3_top10(spark, SF_DIR))
    cap("window_top3_orders", E.q_window_top3_orders(spark, SF_DIR))
    cap(
        "dedup_minhash_lsh",
        minhash_lsh_pairs(spark.read.parquet(f"{SF_DIR}/documents.parquet"), threshold=0.5),
    )
    cap("text_profile", E.q_text_profile(spark, SF_DIR))
    cap("sim_cosine_topk", E.q_sim_cosine_topk(spark, SF_DIR))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "suite"
    if cmd == "suite":
        suite()
    elif cmd == "flagship":
        flagship()
    elif cmd == "parse":
        parse_probe()
    elif cmd == "plans":
        plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    else:
        raise SystemExit(f"unknown command {cmd}")
