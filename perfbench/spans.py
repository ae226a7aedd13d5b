"""Spans for the traced run, kept in memory and written out at the end.

A span records its name, start and end (``time.perf_counter``), its
parent span, its thread and free attributes (epoch, round, table,
field). On enter it sets the Spark local property ``perfbench.span`` on
the calling thread to its own id, and on exit it puts back the value it
found, so every Spark job carries the id of the innermost open span of
the thread that started it. The job group is left alone.

``install`` wraps a fixed list of the engine's public functions in spans
by replacing the module or class attribute in this process only; no
source file changes. ``Tracer(None)`` is the untraced form: ``span``
costs one attribute check and nothing is wrapped.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from typing import Any, Iterator

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, sc: Any | None) -> None:
        self.sc = sc
        self.spans: list[dict[str, Any]] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any] | None]:
        if self.sc is None:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        # a span opened on a fresh thread (a pool thread, a streaming
        # callback) hangs under the innermost span open on the main thread
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        th = threading.current_thread()
        rec: dict[str, Any] = {
            "name": name,
            "parent": parent,
            "thread": th.name,
            # ThreadPoolExecutor threads run beside the main thread (the
            # pipelined prepare of replay_batch); other threads run while
            # it waits (foreachBatch callbacks during awaitTermination)
            "async": th.name.startswith("ThreadPoolExecutor"),
            "attrs": attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        prev = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROPERTY, prev)
            with self._lock:
                self.overhead_s += (rec["start"] - t_in) + (time.perf_counter() - rec["end"])

    def wrap(self, owner: Any, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            extra = attrs_of(*args, **kwargs) if attrs_of is not None else {}
            with tracer.span(name, **extra) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and hasattr(out, "bytes_written"):
                    rec["attrs"].update(
                        upserts=int(out.upserts), deletes=int(out.deletes),
                        bytes_written=int(out.bytes_written), skipped=bool(out.skipped),
                    )
                return out

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the engine's public functions this benchmark attributes to."""
        import os

        from sql_graph_visualizer_spark.api.server import GraphQLServer
        from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
        from sql_graph_visualizer_spark.streaming import replay
        from sql_graph_visualizer_spark.streaming.graph_sync import GraphSync

        def table_of(t: Any, *a: Any, **k: Any) -> dict[str, Any]:
            return {"table": os.path.basename(t.path.rstrip("/"))}

        def merge_attrs(t: Any, *a: Any, **k: Any) -> dict[str, Any]:
            epoch = k.get("epoch_id", a[1] if len(a) > 1 else -1)
            return {**table_of(t), "epoch": int(epoch)}

        self.wrap(replay, "replay_batch", "replay_batch")
        self.wrap(replay, "replay_stream", "replay_stream")
        self.wrap(replay, "maybe_compact_deltas", "maybe_compact_deltas", table_of)
        self.wrap(SnapshotTable, "merge_prepare", "merge_prepare", table_of)
        self.wrap(SnapshotTable, "merge_upsert", "merge_upsert", merge_attrs)
        self.wrap(SnapshotTable, "compact_deltas", "compact_deltas", table_of)
        self.wrap(GraphSync, "sync", "graph_sync")
        self.wrap(
            GraphQLServer, "execute", "api.execute",
            lambda s, q, v: {"field": q.split("(", 1)[0].strip(" {")},
        )


def self_times(spans: list[dict[str, Any]]) -> dict[int, float]:
    """Self time per span: its wall time minus the union of the intervals
    its synchronous children cover. Async children run beside their
    parent and are not subtracted."""
    kids: dict[int, list[dict[str, Any]]] = {}
    for s in spans:
        if s["parent"] is not None and not s["async"]:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
