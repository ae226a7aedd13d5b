"""Capture ``explain("formatted")`` of the benchmark suite's plans.

Writes ``plans/r08/<query>_<tag>.txt`` for 11 plans: the MERGE's LWW
fold and its write frame, one replay epoch's chunk scan over a
gzip-JSON log, and the bench suite queries.

Usage: python tools/capture_plans.py SF_DIR [TAG]   (TAG defaults to "after")
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable  # noqa: E402
from sql_graph_visualizer_spark.operators.compaction import compact_lww  # noqa: E402
from sql_graph_visualizer_spark.operators.dedup import minhash_lsh_pairs  # noqa: E402
from sql_graph_visualizer_spark.plans.graph_builder import build_conv_edges_arrow  # noqa: E402
from sql_graph_visualizer_spark.session import get_spark  # noqa: E402
from sql_graph_visualizer_spark.sources.cdc_gen import (  # noqa: E402
    gen_cdc_log,
    read_cdc_log,
    write_cdc_log_dir,
)
from sql_graph_visualizer_spark.sources.events_cdc import (  # noqa: E402
    TRANSCRIPT_SCHEMA,
    derive_cdc_log,
)
from sql_graph_visualizer_spark.streaming.replay import _probe_file_seq_ranges  # noqa: E402


def capture(sf_dir: str, tag: str, scratch: str) -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.local.dir": os.path.join(scratch, "spark-local")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(REPO, "plans", "r08")
    os.makedirs(outdir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def cap(name, df):
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(df._jdf.queryExecution().explainString(mode))
        print(f"wrote {name}_{tag}.txt", flush=True)

    # the MERGE's LWW fold over the events-derived log, then its write
    # frame exactly as merge_upsert builds it into an empty table: one
    # routing exchange shared by compact_lww's routed form
    log = derive_cdc_log(spark, sf_dir)
    cap("merge_compact_lww", compact_lww(log))
    t = SnapshotTable.create(
        spark, os.path.join(scratch, "plan_t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=16,
    )
    routed, route_cols = t._route_for_write(log, t.manifest())
    folded = compact_lww(routed, ("conv_id", "turn_idx"), ("seq",), route_cols)
    cap("merge_write", folded.select(
        *[F.col(f.name) for f in TRANSCRIPT_SCHEMA.fields],
        F.col("seq").cast("long").alias("_seq"),
        (F.col("op") == "delete").alias("_deleted"), "__b",
    ))

    # epoch 0 of 4 over a 16-file gzip-JSON log: the per-file seq ranges
    # select the files that intersect the epoch's range
    jdir = os.path.join(scratch, "plan_jlog")
    write_cdc_log_dir(gen_cdc_log(spark, 100_000, num_convs=500), jdir, num_files=16, fmt="json")
    jlog = read_cdc_log(spark, jdir, fmt="json")
    e_lo, e_hi = 0, 25_000
    files = [f for f, mn, mx in _probe_file_seq_ranges(jlog, "seq") if mn < e_hi and mx >= e_lo]
    chunk = spark.read.schema(jlog.schema).json(files) if files else spark.createDataFrame([], jlog.schema)
    cap("cdc_replay_chunk", chunk.filter((chunk["seq"] >= e_lo) & (chunk["seq"] < e_hi)))

    cap("cdc_final_state", E.q_cdc_final_state(spark, sf_dir))
    cap("graph_edges_arrow", build_conv_edges_arrow(E.q_cdc_final_state(spark, sf_dir)))
    cap("tpch_q1_pricing", E.q_tpch_q1_pricing(spark, sf_dir))
    cap("tpch_q3_top10", E.q_tpch_q3_top10(spark, sf_dir))
    cap("window_top3_orders", E.q_window_top3_orders(spark, sf_dir))
    cap(
        "dedup_minhash_lsh",
        minhash_lsh_pairs(spark.read.parquet(f"{sf_dir}/documents.parquet"), threshold=0.5),
    )
    cap("text_profile", E.q_text_profile(spark, sf_dir))
    cap("sim_cosine_topk", E.q_sim_cosine_topk(spark, sf_dir))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    scratch = tempfile.mkdtemp(prefix="capture_plans_")
    try:
        capture(sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else "after", scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
