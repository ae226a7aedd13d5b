"""Per-layer metrics of a traced run.

Spans (spans.py) say where the wall time went; the Spark event log says
where the cluster's work went. Each stage carries the ``perfbench.span``
local property of the thread that submitted it, so every task's run
time, CPU time, GC time, shuffle bytes, spill and input bytes land on
the innermost span that was open when its stage was submitted.

Layers are named after the engine's modules. A layer that a workload
does not exercise reports 0. Only spans inside the timed phase count.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from typing import Any

from oracle import Oracle
from spans import SPAN_PROPERTY, self_times

MB = 1 << 20

PER_LAYER_UNITS = {
    "sources.scan_s": "s", "sources.scan_task_s": "s",
    "replay.self_s": "s", "replay.jobs": "count", "replay.read_amplification": "ratio",
    "stream.gap_s_p50": "s", "stream.jobs_per_epoch": "count",
    "lake.prepare_s": "s", "lake.prepare_task_s": "s", "lake.prepare_shuffle_mb": "MB",
    "lake.merge_s": "s", "lake.merge_task_s": "s", "lake.merge_shuffle_mb": "MB",
    "lake.merge_spill_mb": "MB", "lake.merge_jobs_per_epoch": "count",
    "lake.merge_task_skew": "ratio", "lake.bytes_per_upsert": "B",
    "lake.compact_s": "s", "lake.compactions": "count", "lake.max_delta_layers": "count",
    "lake.scan_s": "s", "lake.scan_task_s": "s", "lake.files_per_scan": "count",
    "graph_sync.sync_s": "s", "graph_sync.task_s": "s", "graph_sync.shuffle_mb": "MB",
    "graph_sync.jobs": "count", "graph_sync.upserts_per_changed_edge": "ratio",
    "graph_builder.edges_s": "s", "graph_builder.edges_task_s": "s", "graph_builder.view_s": "s",
    "api.node_ms_p50": "ms", "api.nodes_by_type_ms_p50": "ms", "api.rels_by_type_ms_p50": "ms",
    "api.search_ms_p50": "ms", "api.jobs_per_query": "count", "api.task_s_per_query": "s",
    "jvm.gc_s": "s", "spark.jobs": "count", "spark.tasks": "count", "trace.overhead_s": "s",
    "run.round_s": "s", "run.events_per_s": "events/s", "run.cpu_s_per_round": "s",
}
API_FIELDS = {
    "node": "api.node_ms_p50", "nodesByType": "api.nodes_by_type_ms_p50",
    "relationshipsByType": "api.rels_by_type_ms_p50", "searchNodes": "api.search_ms_p50",
}


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Work:
    """Task totals of a set of stages."""

    __slots__ = ("run_s", "cpu_s", "gc_s", "shuffle_w", "shuffle_r", "spill", "input", "tasks")

    def __init__(self) -> None:
        for k in self.__slots__:
            setattr(self, k, 0)

    def add(self, m: dict[str, Any]) -> None:
        self.tasks += 1
        self.run_s += m.get("Executor Run Time", 0) / 1000.0
        self.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        self.gc_s += m.get("JVM GC Time", 0) / 1000.0
        sr = m.get("Shuffle Read Metrics", {})
        self.shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        self.shuffle_w += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        self.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        self.input += m.get("Input Metrics", {}).get("Bytes Read", 0)


class EventLog:
    """Stage → span, job → span, and task metrics per stage."""

    def __init__(self, event_dir: str) -> None:
        paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
        self.stage_span: dict[int, int | None] = {}
        self.job_span: dict[int, int | None] = {}
        self.stage_tasks: dict[int, list[dict[str, Any]]] = defaultdict(list)
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.job_span[ev["Job ID"]] = _span_of(ev)
                elif kind == "SparkListenerStageSubmitted":
                    self.stage_span[ev["Stage Info"]["Stage ID"]] = _span_of(ev)
                elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                    self.stage_tasks[ev["Stage ID"]].append(ev["Task Metrics"])

    def work(self, spans: set[int]) -> Work:
        w = Work()
        for stage, sid in self.stage_span.items():
            if sid in spans:
                for m in self.stage_tasks.get(stage, ()):
                    w.add(m)
        return w

    def jobs(self, spans: set[int]) -> int:
        return sum(1 for sid in self.job_span.values() if sid in spans)

    def max_stage_skew(self, spans: set[int]) -> float:
        """max ÷ median task run time of the stage with the most run time."""
        best, skew = -1.0, 0.0
        for stage, sid in self.stage_span.items():
            times = [m.get("Executor Run Time", 0) for m in self.stage_tasks.get(stage, ())]
            if sid in spans and times and sum(times) > best:
                best = sum(times)
                med = statistics.median(times)
                skew = max(times) / med if med > 0 else 1.0
        return skew


def _span_of(ev: dict[str, Any]) -> int | None:
    v = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
    return int(v) if v is not None else None


class Spans:
    """The recorded spans, restricted to the timed phase."""

    def __init__(self, spans: list[dict[str, Any]]) -> None:
        self.all = spans
        self.by_id = {s["id"]: s for s in spans}
        timed = [s for s in spans if s["name"] == "timed"]
        self.root = timed[0]
        self.timed = [s for s in spans if self._under(s, self.root["id"])]
        self.self_s = self_times(spans)

    def _under(self, s: dict[str, Any], root: int) -> bool:
        while s is not None:
            if s["id"] == root:
                return True
            s = self.by_id.get(s["parent"]) if s["parent"] is not None else None
        return False

    def named(self, name: str, data_only: bool = False) -> list[dict[str, Any]]:
        """Timed spans called ``name``; ``data_only`` drops calls on
        GraphSync's edge table, leaving the transcripts table's."""
        return [
            s for s in self.timed
            if s["name"] == name and not (data_only and s["attrs"].get("table") == "edges")
        ]

    def subtree(self, roots: list[dict[str, Any]]) -> set[int]:
        ids = {s["id"] for s in roots}
        out = set(ids)
        for s in self.all:
            if any(self._under(s, r) for r in ids):
                out.add(s["id"])
        return out

    @staticmethod
    def ids(spans: list[dict[str, Any]]) -> set[int]:
        return {s["id"] for s in spans}

    @staticmethod
    def wall(spans: list[dict[str, Any]]) -> float:
        return sum(s["end"] - s["start"] for s in spans)


def traced_actions(run: Any) -> None:
    """After the timed phase, while Spark still runs: the no-op scan of
    the workload's log (its parse floor) and the snapshot's file count.
    ``per_layer`` computes the rest once the event log is closed."""
    from sql_graph_visualizer_spark.sources.cdc_gen import read_cdc_log

    with run.tracer.span("log_scan") as rec:
        run.noop(read_cdc_log(run.spark, run.log_dirs, fmt="json"))
    run.log_scan_span = rec
    run.log_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d in run.log_dirs for f in os.listdir(d)
        if f.endswith(".gz")
    )
    table = run.scan_table
    run.files_per_scan = 0
    if table is not None:
        m = table.manifest()
        run.files_per_scan = sum(int(r.get("n", 0)) for r in m["segments"].values()) + sum(
            int(r.get("n", 0)) for refs in (m.get("deltas") or {}).values() for r in refs
        )
    return {}


def per_layer(run: Any) -> dict[str, dict[str, Any]]:
    log = EventLog(run.event_dir)
    sp = Spans(run.tracer.spans)
    v: dict[str, float] = {}

    scan = [run.log_scan_span]
    w = log.work(Spans.ids(scan))
    v["sources.scan_s"] = Spans.wall(scan)
    v["sources.scan_task_s"] = w.run_s

    rb = sp.named("replay_batch")
    v["replay.self_s"] = sum(sp.self_s[s["id"]] for s in rb)
    v["replay.jobs"] = log.jobs(Spans.ids(rb))
    v["replay.read_amplification"] = log.work(sp.subtree(rb)).input / run.log_bytes if rb else 0.0

    rs = sp.named("replay_stream")
    merges = sp.named("merge_upsert", data_only=True)
    compacts = sp.named("compact_deltas", data_only=True)
    epochs = len(merges)
    gaps = []
    for info in run.rounds:
        if "marks" not in info:
            continue
        t_prev = max(s["start"] for s in rs if s["start"] <= info["marks"][0][0])
        for t_mark, _ in info["marks"]:
            busy = sum(
                min(s["end"], t_mark) - max(s["start"], t_prev)
                for s in merges + compacts if s["end"] > t_prev and s["start"] < t_mark
            )
            gaps.append(t_mark - t_prev - busy)
            t_prev = t_mark
    v["stream.gap_s_p50"] = _p50(gaps)
    stream_epochs = sum(len(i["stats"]) for i in run.rounds) if rs else 0
    v["stream.jobs_per_epoch"] = log.jobs(sp.subtree(rs)) / stream_epochs if stream_epochs else 0.0

    prep = sp.named("merge_prepare", data_only=True)
    w = log.work(Spans.ids(prep))
    v["lake.prepare_s"] = Spans.wall(prep)
    v["lake.prepare_task_s"] = w.run_s
    v["lake.prepare_shuffle_mb"] = w.shuffle_w / MB

    ids = Spans.ids(merges)
    w = log.work(ids)
    v["lake.merge_s"] = sum(sp.self_s[s["id"]] for s in merges)
    v["lake.merge_task_s"] = w.run_s
    v["lake.merge_shuffle_mb"] = w.shuffle_w / MB
    v["lake.merge_spill_mb"] = w.spill / MB
    v["lake.merge_jobs_per_epoch"] = log.jobs(ids) / epochs if epochs else 0.0
    v["lake.merge_task_skew"] = _p50([log.max_stage_skew({s["id"]}) for s in merges])
    ups = sum(s["attrs"].get("upserts", 0) + s["attrs"].get("deletes", 0) for s in merges)
    v["lake.bytes_per_upsert"] = (
        sum(s["attrs"].get("bytes_written", 0) for s in merges) / ups if ups else 0.0
    )

    v["lake.compact_s"] = Spans.wall(compacts)
    v["lake.compactions"] = len(compacts)
    v["lake.max_delta_layers"] = max(
        (layers for i in run.rounds for _, layers in i.get("marks", ())), default=0
    )

    scans = sp.named("snapshot_scan")
    v["lake.scan_s"] = Spans.wall(scans)
    v["lake.scan_task_s"] = log.work(sp.subtree(scans)).run_s
    v["lake.files_per_scan"] = run.files_per_scan if scans else 0

    syncs = sp.named("graph_sync")
    sub = sp.subtree(syncs)
    w = log.work(sub)
    v["graph_sync.sync_s"] = Spans.wall(syncs)
    v["graph_sync.task_s"] = w.run_s
    v["graph_sync.shuffle_mb"] = (w.shuffle_w) / MB
    v["graph_sync.jobs"] = log.jobs(sub) / len(syncs) if syncs else 0.0
    v["graph_sync.upserts_per_changed_edge"] = _upserts_per_changed_edge(run) if syncs else 0.0

    eb = sp.named("edge_build")
    v["graph_builder.edges_s"] = Spans.wall(eb)
    v["graph_builder.edges_task_s"] = log.work(sp.subtree(eb)).run_s
    v["graph_builder.view_s"] = Spans.wall(sp.named("graph_view"))

    api = sp.named("api.execute")
    for field, name in API_FIELDS.items():
        v[name] = _p50([1000 * (s["end"] - s["start"]) for s in api if s["attrs"]["field"] == field])
    sub = sp.subtree(api)
    v["api.jobs_per_query"] = log.jobs(sub) / len(api) if api else 0.0
    v["api.task_s_per_query"] = log.work(sub).run_s / len(api) if api else 0.0

    timed_ids = Spans.ids(sp.timed)
    v["jvm.gc_s"] = run.gc_timed_s
    v["spark.jobs"] = log.jobs(timed_ids)
    v["spark.tasks"] = log.work(timed_ids).tasks
    v["trace.overhead_s"] = run.tracer.overhead_s
    # wall times of the traced run's rounds (see README: not gated)
    med = run.round_medians()
    v["run.round_s"], v["run.events_per_s"] = med["round_s"], med["events_per_s"]
    v["run.cpu_s_per_round"] = med["cpu_s"]
    _check_coverage(run, sp)
    return {k: {"value": float(v[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}


def _check_coverage(run: Any, sp: Spans) -> None:
    """The layer spans account for the timed wall time. ``uncovered`` is
    the part of the timed wall that no layer span covers (the timed and
    round spans are containers, not layers), taken from the top-level
    layer spans' intervals; the layer spans' self times come from
    ``self_times``. Two checks: the two add up to the wall (the spans
    nest and no time is counted twice), and the uncovered share stays
    under 3 %."""
    containers = {"timed", "round"}
    layer = [s for s in sp.timed if not s["async"] and s["name"] not in containers]
    layer_self = sum(sp.self_s[s["id"]] for s in layer)
    lo0, hi0 = sp.root["start"], sp.root["end"]
    wall = hi0 - lo0
    covered, cur_hi = 0.0, lo0
    for s in sorted(
        (s for s in layer if sp.by_id[s["parent"]]["name"] in containers), key=lambda s: s["start"]
    ):
        lo, hi = max(s["start"], cur_hi), min(s["end"], hi0)
        if hi > lo:
            covered += hi - lo
            cur_hi = hi
    uncovered = wall - covered
    print("perfbench trace " + json.dumps({
        "timed_wall_s": wall, "layer_self_s": layer_self, "uncovered_s": uncovered,
        "uncovered_share": uncovered / wall,
    }), flush=True)
    run.check(abs(layer_self + uncovered - wall) < 0.01 * wall,
              "layer self times plus the uncovered time do not add up to the timed wall")
    run.check(uncovered < 0.03 * wall, f"layer spans leave {uncovered / wall:.1%} of the timed wall uncovered")


def _upserts_per_changed_edge(run: Any) -> float:
    """Edge rows GraphSync merged ÷ edges that really changed in the round
    (the symmetric difference of the DuckDB edge sets before and after)."""
    oracle = Oracle()
    merged = changed = 0
    for info in run.rounds:
        before = [f for f in info["applied"] if f not in set(info["files"])]
        oracle.load(before)
        old = oracle.edge_set("HAS_TURN") | oracle.edge_set("USES_TOOL")
        oracle.load(info["applied"])
        new = oracle.edge_set("HAS_TURN") | oracle.edge_set("USES_TOOL")
        changed += len(old ^ new)
        merged += info["sync"].upserts + info["sync"].deletes
    oracle.close()
    return merged / changed if changed else 0.0
