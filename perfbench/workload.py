"""One benchmark run of one workload, in its own process.

    python3 perfbench/workload.py --workload W --inputs DIR --scratch DIR \
        --seconds N --seed S --trace 0|1

``perfbench/run.py`` starts this after the generator has written the
inputs, in an environment of its own (see run.py). The process builds a
Spark session, sets up, runs whole timed rounds (``--seconds`` over the
workload's nominal round length, at least one), checks every round's
outputs against DuckDB (outside the timed phase), and prints one JSON
result as its last line.

Workloads (sizes in gen.SPECS):

- ``bulk_replay``: each round replays the whole gzip JSON log with
  ``replay_batch`` into an empty copy-on-write table, then builds the
  full edge set with ``build_conv_edges_arrow`` into a no-op sink.
- ``stream_serve``: a merge-on-read table is loaded by the stream's
  first micro-batch; each round ships a backlog of change files into the
  tail directory, drains it with ``replay_stream`` (one file per
  micro-batch, inline delta compaction), brings the edge table current
  with ``GraphSync.sync``, runs a seeded GraphQL mix through
  ``GraphQLServer.execute`` over ``build_transcript_graph`` of the live
  table, and scans the whole snapshot into a no-op sink.

Both set-ups end with one untimed round of the timed rounds' shape.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from typing import Any

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from oracle import EDGE_COLS, STATE_COLS, Oracle, digest_expr  # noqa: E402
from procfs import session_stats  # noqa: E402
from spans import Tracer  # noqa: E402

# Fixed, host-independent engine shape: task slots below nproc on a
# 4-core host (--slots 1 gives the single-thread baseline); shuffle
# partitions and buckets do not follow the host.
SLOTS = 3
SHUFFLE_PARTITIONS = 3
NUM_BUCKETS = 4
DRIVER_HEAP = "2g"
BULK_EPOCHS = 2
MICRO_BATCH_FILES = 1
COMPACT_LAYERS = 2
# GraphQL mix per stream_serve round: mostly node(id)
MIX = ("node", "node", "nodesByType", "relationshipsByType", "searchNodes")
PAGE = 20


# ------------------------------------------------------------------ /proc


def _tree_cpu_s() -> float:
    """User + system CPU seconds of every process in this session: this
    client, the Spark JVM and its Python workers (reaped children fold
    into their parent's cutime/cstime)."""
    ticks = sum(sum(int(x) for x in fields[11:15]) for _, fields in session_stats(os.getsid(0)))
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ----------------------------------------------------------------- helpers


class Run:
    """Set-up, timed rounds and checks shared by the workloads. A subclass
    defines ``setup``, ``round``, ``verify`` and, for the traced run,
    ``log_dirs`` (the logs its timed phase read) and ``scan_table``."""

    max_rounds = 10**9
    # a round's length on a 4-core host: the timed phase runs
    # round(--seconds / nominal_round_s) whole rounds, at least one, so
    # every run of a workload does the same work however fast it goes
    nominal_round_s = 5.0
    scan_table = None

    def __init__(self, args: argparse.Namespace, t_process: float) -> None:
        self.args = args
        self.t_process = t_process
        self.layout = gen.load_layout(args.inputs)
        self.scratch = args.scratch
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rounds: list[dict[str, Any]] = []

    # ------------------------------------------------------------- checks

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def files(self, *names: str) -> list[str]:
        return [f["path"] for n in names for f in self.layout["logs"][n]]

    # -------------------------------------------------------------- spark

    def start_spark(self) -> None:
        from sql_graph_visualizer_spark.session import get_spark

        local = os.environ["SPARK_LOCAL_DIRS"]
        conf = {
            "spark.driver.memory": DRIVER_HEAP,
            # the engine's GC choice (session.py); JAVA_TOOL_OPTIONS from
            # run.py adds the temp dir and turns off hsperfdata
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.scratch, "eventlog")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.args.slots}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        self.dag = sc._jsc.sc().dagScheduler()
        self.tracer = Tracer(sc if self.args.trace else None)
        if self.args.trace:
            self.tracer.install()
        jvm_args = sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        conf = {
            "master": sc.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_heap": sc.getConf().get("spark.driver.memory"),
            "max_heap_mb": int(sc._jvm.java.lang.Runtime.getRuntime().maxMemory()) // (1 << 20),
            "gc": " ".join(a for a in jvm_args if "GC" in a),
            "local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "buckets": NUM_BUCKETS,
        }
        print("perfbench conf " + json.dumps(conf), flush=True)

    def jobs(self) -> int:
        """Spark jobs started so far, in any job group."""
        return int(self.dag.numTotalJobs())

    def gc_s(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(int(b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def new_table(self, name: str):
        from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
        from sql_graph_visualizer_spark.sources.events_cdc import TRANSCRIPT_SCHEMA

        return SnapshotTable.create(
            self.spark, os.path.join(self.scratch, "lake", name), TRANSCRIPT_SCHEMA,
            key_cols=["conv_id", "turn_idx"], num_buckets=NUM_BUCKETS,
        )

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------------ phases

    def run(self) -> None:
        """Set up, then run the timed rounds."""
        self.setup()
        self.setup_s = time.perf_counter() - self.t_process
        rounds = min(self.max_rounds, max(1, round(self.args.seconds / self.nominal_round_s)))
        gc0 = self.gc_s()
        t0 = time.perf_counter()
        with self.tracer.span("timed"):
            for r in range(1, rounds + 1):
                tr, cpu0, jobs0 = time.perf_counter(), _tree_cpu_s(), self.jobs()
                with self.tracer.span("round", round=r):
                    info = self.round(r)
                info["round_s"] = time.perf_counter() - tr
                info["cpu_s"] = _tree_cpu_s() - cpu0
                info["jobs"] = self.jobs() - jobs0
                self.rounds.append(info)
        self.timed_s = time.perf_counter() - t0
        self.gc_timed_s = self.gc_s() - gc0

    def round_medians(self) -> dict[str, float]:
        """Medians over the timed rounds, so one round slowed by the host or
        by late JIT compilation does not move them."""
        return {
            "round_s": statistics.median(i["round_s"] for i in self.rounds),
            "events_per_s": statistics.median(i["events"] / i["write_s"] for i in self.rounds),
            "cpu_s": statistics.median(i["cpu_s"] for i in self.rounds),
            "jobs": statistics.median(i["jobs"] for i in self.rounds),
        }


# ================================================================ bulk


class BulkReplay(Run):
    """North-star backfill: gzip JSON log → empty CoW table → edges."""

    def setup(self) -> None:
        self.start_spark()
        self.log_dir = os.path.dirname(self.files("bulk")[0])
        self.log_dirs = [self.log_dir]
        self.events = sum(f["events"] for f in self.layout["logs"]["bulk"])
        self.round(0)  # warm-up of the timed round's shape

    def round(self, r: int) -> dict[str, Any]:
        from sql_graph_visualizer_spark.plans.graph_builder import build_conv_edges_arrow
        from sql_graph_visualizer_spark.sources.cdc_gen import read_cdc_log
        from sql_graph_visualizer_spark.streaming import replay

        table = self.new_table(f"bulk-{r:03d}")
        log = read_cdc_log(self.spark, self.log_dir, fmt="json")
        t0 = time.perf_counter()
        # persist_log=False: the per-file seq-skipping path, the one logs
        # above the persist cutoff (and 10^10-event logs) take
        stats = replay.replay_batch(
            log, table, epochs=BULK_EPOCHS, query_id="backfill", persist_log=False,
        )
        t1 = time.perf_counter()
        with self.tracer.span("edge_build"):
            self.noop(build_conv_edges_arrow(table.read()))
        t2 = time.perf_counter()
        return {
            "round": r, "table": table, "stats": stats, "events": self.events,
            "write_s": t1 - t0, "graph_s": t2 - t1,
            "ops": len(stats) + 1,
        }

    def verify(self) -> None:
        from sql_graph_visualizer_spark.plans.graph_builder import build_conv_edges_arrow

        oracle = Oracle()
        oracle.load(self.files("bulk"))
        want_state, want_edges = oracle.state_digest(), oracle.edge_digest()
        oracle.close()
        for info in self.rounds:
            st = info["stats"]
            self.check(len(st) == BULK_EPOCHS and not any(s.skipped for s in st),
                       f"round {info['round']}: {len(st)} epochs")
            self.check(digest_expr(info["table"].read(), STATE_COLS) == want_state,
                       f"round {info['round']}: lake state differs from DuckDB LWW")
        last = self.rounds[-1]["table"]
        self.check(digest_expr(build_conv_edges_arrow(last.read()), EDGE_COLS) == want_edges,
                   "build_conv_edges_arrow edges differ from DuckDB")


# ========================================================= stream + serve


class StreamServe(Run):
    """Binlog tail into a MoR table, then graph upkeep and serving."""

    nominal_round_s = 25.0

    def setup(self) -> None:
        from sql_graph_visualizer_spark.streaming.graph_sync import GraphSync

        # tail-000 is the warm-up round's, the rest are the timed rounds'
        self.max_rounds = sum(1 for n in self.layout["logs"] if n.startswith("tail-")) - 1
        self.start_spark()
        self.table = self.new_table("transcripts")
        self.tail_dir = os.path.join(self.scratch, "tail")
        os.makedirs(self.tail_dir)
        self.log_dirs, self.scan_table = [self.tail_dir], self.table
        self.ckpt = os.path.join(self.scratch, "checkpoint")
        self.applied: list[str] = []
        self.sync = GraphSync(self.spark, os.path.join(self.scratch, "lake", "edges"), self.table,
                              num_buckets=NUM_BUCKETS)
        # warm-up of the timed round's shape (drain with a fold, sync, the
        # full mix, the scan) over the base segment and tail-000
        self.round(0)

    def stream(self, names: tuple[str, ...], marks: list) -> list[Any]:
        """Ship the segments of logs ``names`` into the tail directory and
        drain the backlog, one file per micro-batch."""
        from sql_graph_visualizer_spark.streaming import replay

        with self.tracer.span("ship"):
            for name in names:
                for f in self.files(name):
                    shutil.copy(f, os.path.join(self.tail_dir, f"{name}-{os.path.basename(f)}"))
        self.applied = self.applied + self.files(*names)

        def on_batch(batch, epoch_id, st) -> None:
            marks.append((time.perf_counter(), self.table.delta_stats()["max_layers"]))

        return replay.replay_stream(
            self.spark, self.tail_dir, self.table, self.ckpt, query_id="tail",
            max_files_per_trigger=MICRO_BATCH_FILES, fmt="json", merge_mode="mor",
            auto_compact_layers=COMPACT_LAYERS, on_batch=on_batch,
        )

    def serve(self, mix: list[tuple[str, str, dict[str, Any]]]) -> list[tuple]:
        """One closed-loop client: each GraphQL operation waits for the last."""
        from sql_graph_visualizer_spark.api.resolvers import GraphQueryResolver
        from sql_graph_visualizer_spark.api.server import GraphQLServer
        from sql_graph_visualizer_spark.plans.transcript_rules import build_transcript_graph

        with self.tracer.span("graph_view"):
            nodes, _ = build_transcript_graph(self.table.read())
            server = GraphQLServer(GraphQueryResolver(nodes, self.sync.read()))
        answers = []
        for kind, q, v in mix:
            a = time.perf_counter()
            res = server.execute(q, v)
            answers.append((kind, v, res, time.perf_counter() - a))
        return answers

    def _mix(self, r: int) -> list[tuple[str, str, dict[str, Any]]]:
        rng = np.random.default_rng([self.args.seed, r])
        out = []
        for kind in MIX:
            conv = int(np.floor(rng.random() ** gen.SKEW_EXPONENT * gen.NUM_CONVS))
            cid = f"conv-{conv:06d}"
            if kind == "node":
                nid = (f"Conversation:{cid}" if rng.random() < 0.5
                       else f"Turn:{cid}:{int(rng.integers(0, gen.TURNS_PER_CONV))}")
                out.append((kind, "{ node(id: $id) { id label properties } }", {"id": nid}))
            elif kind == "nodesByType":
                t = ("Conversation", "Turn", "Tool")[int(rng.integers(0, 3))]
                out.append((kind, f"{{ nodesByType(type: $t, limit: {PAGE}) {{ id }} }}", {"t": t}))
            elif kind == "relationshipsByType":
                t = ("HAS_TURN", "USES_TOOL")[int(rng.integers(0, 2))]
                out.append((kind, f"{{ relationshipsByType(type: $t, limit: {PAGE}) {{ from }} }}",
                            {"t": t}))
            else:
                q = cid[:-1]  # a prefix ten conversation ids share
                out.append((kind, f"{{ searchNodes(query: $q, limit: {PAGE}) {{ id }} }}", {"q": q}))
        return out

    def round(self, r: int) -> dict[str, Any]:
        from sql_graph_visualizer_spark.sources.cdc_gen import read_cdc_log

        # the warm-up round drains the base segment first: as the stream's
        # first micro-batch it loads the table and leaves one delta layer,
        # so every round folds once and serves with one layer pending
        names = ("base", "tail-000") if r == 0 else (f"tail-{r:03d}",)
        marks: list[tuple[float, int]] = []
        v0 = int(self.table.manifest()["version"])
        t0 = time.perf_counter()
        stats = self.stream(names, marks)
        t1 = time.perf_counter()
        with self.tracer.span("change_log"):
            changes = read_cdc_log(self.spark, self.files(*names), fmt="json")
        sync_st = self.sync.sync(changes, r)
        t2 = time.perf_counter()
        answers = self.serve(self._mix(r))
        t3 = time.perf_counter()
        with self.tracer.span("snapshot_scan"):
            self.noop(self.table.read())
        t4 = time.perf_counter()
        return {
            "round": r, "applied": list(self.applied), "files": self.files(*names),
            "stats": stats, "sync": sync_st, "marks": marks, "answers": answers,
            "events": sum(f["events"] for n in names for f in self.layout["logs"][n]),
            "write_s": t1 - t0, "graph_s": t2 - t1, "query_s": t3 - t2, "scan_s": t4 - t3,
            "versions": (v0 + 1, int(self.table.manifest()["version"])),
            "ops": len(stats) + 1 + len(answers) + 1,
        }

    def verify(self) -> None:
        oracle = Oracle()
        for info in self.rounds:
            oracle.load(info["applied"])
            rid = f"round {info['round']}"
            st = info["stats"]
            self.check(len(st) == len(info["files"]) and not any(s.skipped for s in st),
                       f"{rid}: {len(st)} epochs for {len(info['files'])} change files")
            for kind, v, res, _ in info["answers"]:
                self.check(self._answer_ok(oracle, kind, v, res), f"{rid}: {kind} {v} wrong")
        # the final lake state and edge table against the last round's prefix
        self.check(digest_expr(self.table.read(), STATE_COLS) == oracle.state_digest(),
                   "lake state differs from DuckDB LWW")
        self.check(digest_expr(self.sync.read(), EDGE_COLS) == oracle.edge_digest(),
                   "GraphSync edges differ from DuckDB")
        oracle.close()
        self._check_layer_history()

    def _check_layer_history(self) -> None:
        """After each inline fold the delta layers are at most the threshold."""
        for info in self.rounds:
            lo, hi = info["versions"]
            for v in range(lo, hi + 1):
                if self.table.manifest(v).get("summary", {}).get("operation") == "compact-deltas":
                    layers = self.table.delta_stats(v)["max_layers"]
                    self.check(layers <= COMPACT_LAYERS, f"v{v}: {layers} layers after fold")

    @staticmethod
    def _answer_ok(oracle: Oracle, kind: str, v: dict[str, Any], res: dict[str, Any]) -> bool:
        if "errors" in res:
            return False
        data = res["data"]
        if kind == "node":
            got, want = data["node"], oracle.node(v["id"])
            if got is None or want is None:
                return got is None and want is None
            return (got["id"], got["label"], json.loads(got["properties"])) == (
                want["id"], want["label"], want["properties"])
        if kind == "nodesByType":
            rows, universe = data["nodesByType"], oracle.node_ids(v["t"])
            return len(rows) == min(PAGE, len(universe)) and all(x["id"] in universe for x in rows)
        if kind == "relationshipsByType":
            rows, universe = data["relationshipsByType"], oracle.edge_set(v["t"])
            return len(rows) == min(PAGE, len(universe)) and all(
                (x["from"], x["to"], x["type"]) in universe for x in rows)
        rows, universe = data["searchNodes"], oracle.search(v["q"])
        return len(rows) == min(PAGE, len(universe)) and all(x["id"] in universe for x in rows)


WORKLOADS = {"bulk_replay": BulkReplay, "stream_serve": StreamServe}


# ================================================================ result


def end_to_end(run: Run) -> dict[str, dict[str, Any]]:
    rounds = run.rounds
    events = sum(i["events"] for i in rounds)
    written = sum(s.bytes_written for i in rounds for s in i["stats"])
    vals = {
        "setup_s": (run.setup_s, "s"),
        "jobs_per_round": (run.round_medians()["jobs"], "count"),
        "bytes_written_per_event": (written / events, "B/event"),
        "peak_rss_mb": (_vm_hwm_mb(run.jvm_pid), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def main(argv: list[str]) -> int:
    t_process = time.perf_counter()
    p = argparse.ArgumentParser(description="one perfbench workload run")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--inputs", required=True)
    p.add_argument("--scratch", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--slots", type=int, default=SLOTS)
    args = p.parse_args(argv)
    run = WORKLOADS[args.workload](args, t_process)
    run.run()
    if args.trace:
        import layers

        layers.traced_actions(run)
    else:
        metrics = end_to_end(run)
    t_verify = time.perf_counter()
    run.verify()
    detail = {
        "setup_s": round(run.setup_s, 2),
        "verify_s": round(time.perf_counter() - t_verify, 2),
        "rounds": len(run.rounds),
        "phases": [{k: round(v, 2) for k, v in i.items()
                    if k == "jobs" or (k.endswith("_s") and isinstance(v, float))}
                   for i in run.rounds],
        "queries": [[a[0], round(a[3], 2)] for i in run.rounds for a in i.get("answers", [])],
        "timed_s": round(run.timed_s, 3),
        "gc_timed_s": run.gc_timed_s,
        "failures": run.failures,
    }
    print("perfbench detail " + json.dumps(detail), flush=True)
    run.spark.stop()
    if args.trace:
        metrics = layers.per_layer(run)
    attempted = run.attempted + sum(i["ops"] for i in run.rounds)
    print(json.dumps({
        "correct": run.failed == 0, "attempted": attempted, "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
