"""Per-batch ingest transforms: PII redaction and benchmark
decontamination wired into the streaming loops (VERDICT r6 #6).

``redact_pii`` and ``ngram_contamination`` exist as batch operators
(``operators/text.py``, ``operators/decontam.py``); this module applies
them INSIDE an ingest epoch and publishes their counters to the lineage
table — the reference's monitoring loop publishes its counters the same
way (``realtime_performance_monitor.go:370-419``).

Counter row shape: the lineage table's schema is the MergeStats record
(stable across the engine — nothing downstream needs a new table), so
transform counters ride a MergeStats under ``query_id = <qid>-transforms``
with a documented column mapping:

    rows_in   = rows entering the transform
    upserts   = PII values redacted (email + ipv4 + phone matches)
    deletes   = rows dropped as benchmark-contaminated
    skipped   = False; snapshot_version = -1 (no commit of its own)

Scale notes: redaction is pure ``regexp_replace`` codegen (zero UDFs);
the counters are an ``Observation`` on the batch, collected by the
count that materializes the transformed frame (no pass of their own). Decontam
keeps the broadcast-benchmark shape of the batch operator — the corpus
(batch) text never shuffles; only (row, gram) pairs for the per-row
distinct do, and that is what any exact per-row set metric costs. The
benchmark's n-gram set is built and cached once per ``IngestTransforms``
(released by ``close()``), not once per epoch.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sql_graph_visualizer_spark.lake.snapshot_table import MergeStats
from sql_graph_visualizer_spark.operators.decontam import (
    benchmark_ngrams,
    contamination_scores,
)
from sql_graph_visualizer_spark.operators.text import pii_counts, redact_pii
from sql_graph_visualizer_spark.streaming.metrics import LineageRecorder


class IngestTransforms:
    """Optional per-batch transform stage for the streaming loops.

    ``redact_cols``: string columns to scrub in place with
    ``redact_pii`` (typed placeholders, fixed application order).
    ``benchmark``: when given, rows whose ``text_col`` shares word
    ``n``-grams with the benchmark at ``contamination ≥ threshold`` are
    DROPPED before they reach the sink (the GPT-3 appendix-C hygiene
    step, applied online). ``id_cols``: columns that uniquely identify
    a row WITHIN one batch (the per-row distinct-gram key) — a
    composite key is fine. Call ``close()`` when the stream ends: it
    releases the cached benchmark n-gram set.
    """

    def __init__(
        self,
        redact_cols: list[str] | None = None,
        benchmark: DataFrame | None = None,
        decontam_n: int = 8,
        decontam_threshold: float = 0.5,
        text_col: str = "text",
        id_cols: list[str] | None = None,
        normalize: bool = False,
    ):
        self.redact_cols = list(redact_cols or [])
        self.benchmark = benchmark
        self.decontam_n = decontam_n
        self.decontam_threshold = decontam_threshold
        self.text_col = text_col
        self.id_cols = list(id_cols or ["doc_id"])
        self.normalize = normalize
        # (epoch_id, MergeStats-shaped counters) per applied epoch
        self.stats: list[MergeStats] = []
        self._bench_grams: DataFrame | None = None

    def apply(self, batch: DataFrame, epoch_id: int) -> DataFrame:
        """Transform one micro-batch; counters land in ``self.stats``.

        Cost discipline (r8, VERDICT r7 #2 / guide §5): the returned
        frame is persisted and materialized by ONE driver action, so the
        downstream consumers (the MERGE, signature builders) read the
        transformed rows from cache instead of each re-running the
        redaction rewrite and the decontam anti-join. The raw counters
        (rows, PII matches) ride an ``Observation`` on the untransformed
        rows under that same action, and the kept-row count it returns
        gives the dropped-row counter. Decontamination reads the batch
        twice (the benchmark n-gram join and the anti-join), so the
        input is persisted while it runs and released here. The caller
        owns the returned frame's unpersist after the sink commits
        (``replay_stream`` does)."""
        t0 = time.monotonic()
        counters = [F.count(F.lit(1)).alias("__rows")]
        if self.redact_cols:
            # counts every match before the text is rewritten (counts
            # are an audit signal on the RAW input); null text must
            # count 0, not poison the row's sum
            per_col = [
                sum(F.coalesce(cnt, F.lit(0)) for cnt in pii_counts(F.col(c)))
                for c in self.redact_cols
            ]
            total = sum(per_col[1:], per_col[0]) if len(per_col) > 1 else per_col[0]
            counters.append(F.sum(total).alias("__pii"))
        if self.benchmark is not None:
            batch = batch.persist()

        def redact(df: DataFrame) -> DataFrame:
            return df.withColumns({c: redact_pii(F.col(c)) for c in self.redact_cols})

        obs = Observation()
        out = redact(batch.observe(obs, *counters))
        if self.benchmark is not None:
            # per-row contamination needs a row key: a composite key is
            # hashed into one synthetic id (unique within the batch is
            # all the per-row distinct requires). The scored side reads
            # the unobserved batch, so the Observation sits once in the
            # plan.
            tid = F.xxhash64(*self.id_cols)
            if self._bench_grams is None:
                # the benchmark is fixed for the stream: its distinct
                # n-gram set is built by the first epoch's action and
                # read from cache by every later one
                self._bench_grams = benchmark_ngrams(
                    self.benchmark, self.decontam_n, self.text_col, self.normalize
                ).persist()
            scored = contamination_scores(
                redact(batch).withColumn("__tid", tid),
                self._bench_grams,
                n=self.decontam_n,
                id_col="__tid",
                text_col=self.text_col,
                normalize=self.normalize,
            ).filter(F.col("contamination") >= self.decontam_threshold)
            bad = scored.select(F.col("doc_id").alias("__tid"))
            out = (
                out.withColumn("__tid", tid)
                .join(F.broadcast(bad), "__tid", "left_anti")
                .drop("__tid")
            )
        out = out.persist()
        n_kept = out.count()
        got = obs.get
        rows_in = int(got["__rows"])
        n_redacted = int(got["__pii"] or 0) if self.redact_cols else 0
        n_dropped = rows_in - n_kept
        if self.benchmark is not None:
            batch.unpersist()
        self.stats.append(
            MergeStats(
                epoch_id=int(epoch_id),
                rows_in=int(rows_in),
                upserts=int(n_redacted),
                deletes=int(n_dropped),
                buckets_touched=0,
                skipped=False,
                duration_ms=int((time.monotonic() - t0) * 1000),
                snapshot_version=-1,
            )
        )
        return out

    def close(self) -> None:
        """Release the cached benchmark n-gram set; a later ``apply``
        builds it again."""
        if self._bench_grams is not None:
            self._bench_grams.unpersist()
            self._bench_grams = None

    def record(self, lineage: LineageRecorder | None, query_id: str) -> None:
        """Flush accumulated counters to the lineage table under
        ``<query_id>-transforms`` (see module docstring for the column
        mapping). Safe to call repeatedly — records only new epochs."""
        if lineage is None:
            return
        for st in self.stats[getattr(self, "_recorded", 0):]:
            lineage.record(st, query_id=f"{query_id}-transforms")
        self._recorded = len(self.stats)
