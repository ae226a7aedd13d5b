"""Streaming corpus ingest with online near-duplicate detection.

Ties the incremental MinHash index
(:class:`~sql_graph_visualizer_spark.operators.dedup_index.MinHashIndex`)
into Structured Streaming the same way ``replay_stream`` ties in the
transcripts table: documents arrive as files, each micro-batch is
probed against the index state BEFORE the batch and then indexed, and
the probe's matches are MERGEd into a second lake table — so the
dedup *decisions* are themselves queryable, time-travelable, and
exactly-once.

Two tables, two epoch fences, one crash window: the index commit and
the matches commit are separate transactions, so a crash between them
re-delivers an epoch whose index write is fenced (skipped) but whose
matches were never recorded. ``MinHashIndex.add_batch`` returns empty
matches for a fenced epoch (re-probing AFTER the batch was indexed
would re-report every batch document against itself and its own batch
siblings), so the matches cannot be taken from the live probe — they
are recomputed against the index snapshot the ORIGINAL commit saw:
the manifest summary records each commit's epoch id, the summary walk
finds that version, and the probe runs against its parent (the
pre-batch state), exactly the RollupSync crash-recovery discipline
(``streaming/rollup.py``). Requires the snapshot to still be retained
— ``expire_snapshots(keep_last=...)`` must cover the stream's
re-delivery horizon, same caveat as the rollup.

At scale the per-epoch cost is the index probe's (batch text shingled
once, corpus signatures never shuffle — see ``dedup_index``) plus two
∝-batch merges; nothing in the loop scans the corpus or the
accumulated matches.

With ``corpus_path`` set, the loop also CLOSES the dedup pipeline
(VERDICT r6 #1, the reference's delete-then-create upsert shape,
``simple_metrics_injector.go:170-213``): each epoch merges the batch
documents into a corpus SnapshotTable, records intra-batch pairs,
retires stale pairs of re-ingested documents, and tombstones the
duplicate-cluster losers via
:func:`~sql_graph_visualizer_spark.operators.dedup_apply.apply_survivors`
— so ``read_corpus()`` returns the deduplicated live set directly.
Tested: one fixed corpus replayed in three epochs (duplicates across
and within epochs, plus a singleton) ends with the same survivors as a
one-shot dedup pass. Convergence in general is NOT shown: retiring
stale pairs can split a duplicate component, and a member already
tombstoned is not resurrected by that split. The extra
per-epoch cost: a components pass over the PAIR graph (tiny vs the
corpus) and two ∝-blast-radius merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_graph_visualizer_spark.lake.snapshot_table import MergeStats, SnapshotTable
from sql_graph_visualizer_spark.operators.dedup import minhash_lsh_pairs
from sql_graph_visualizer_spark.operators.dedup_apply import apply_survivors
from sql_graph_visualizer_spark.operators.dedup_index import MinHashIndex

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("new_id", T.LongType(), False),
        T.StructField("match_id", T.LongType(), False),
        T.StructField("est_jaccard", T.DoubleType(), True),
    ]
)


class DedupIngest:
    """Probe-then-index one document micro-batch into ``index``, and
    record the near-dup matches in a ``matches`` SnapshotTable keyed by
    ``(new_id, match_id)``.

    ``process`` is the ``foreachBatch`` body; it is also directly
    callable for batch-mode ingest. Returns ``(index_stats,
    matches_stats)``.
    """

    def __init__(
        self,
        spark: SparkSession,
        index: MinHashIndex,
        matches_path: str,
        threshold: float = 0.7,
        num_buckets: int = 16,
        query_id: str = "dedup-ingest",
        corpus_path: str | None = None,
        doc_schema: T.StructType = DOC_STREAM_SCHEMA,
        corpus_buckets: int = 16,
        transforms=None,
        lineage=None,
    ):
        self.spark = spark
        self.index = index
        self.threshold = threshold
        self.query_id = query_id
        if SnapshotTable.exists(matches_path):
            self.matches = SnapshotTable(spark, matches_path)
        else:
            self.matches = SnapshotTable.create(
                spark,
                matches_path,
                MATCH_SCHEMA,
                key_cols=["new_id", "match_id"],
                num_buckets=num_buckets,
            )
        # corpus maintenance (VERDICT r6 #1, the close-the-loop arc): when
        # a corpus_path is given, each epoch ALSO (a) merges the batch
        # documents into the corpus table, (b) records intra-batch pairs
        # (the probe only sees batch-vs-indexed; two duplicates arriving
        # in the SAME batch collide here), (c) retires stale pairs of
        # re-ingested (updated) documents inside the same matches merge,
        # and (d) tombstones the duplicate-cluster losers out of the
        # corpus via apply_survivors — so reading the corpus table gives
        # the deduplicated live set directly.
        self.corpus: SnapshotTable | None = None
        if corpus_path is not None:
            if SnapshotTable.exists(corpus_path):
                self.corpus = SnapshotTable(spark, corpus_path)
            else:
                self.corpus = SnapshotTable.create(
                    spark,
                    corpus_path,
                    doc_schema,
                    key_cols=["doc_id"],
                    num_buckets=corpus_buckets,
                )
        # (docs_merge_stats, apply_stats) per processed epoch, in
        # application order — the corpus-side twin of the returned
        # (index, matches) stats tuple
        self.corpus_stats: list[tuple[MergeStats, MergeStats]] = []
        # optional per-batch hygiene stage (streaming/transforms.py):
        # PII redaction + online decontamination BEFORE probe/index —
        # signatures are computed over the text that actually lands
        self.transforms = transforms
        self.lineage = lineage

    def _find_epoch_version(self, epoch_id: int) -> int | None:
        """Index-table snapshot version of the commit that carried this
        epoch (manifest summaries record it), newest first."""
        t = self.index.table
        for v in reversed(t.versions()):
            s = t.manifest(v).get("summary", {})
            if (
                s.get("operation") == "merge"
                and s.get("epoch") == epoch_id
                and s.get("query_id") == self.query_id
            ):
                return int(v)
        return None

    def _empty_matches(self) -> DataFrame:
        return self.spark.createDataFrame([], MATCH_SCHEMA)

    def _intra_batch_pairs(self, batch: DataFrame) -> DataFrame:
        """Near-dup pairs WITHIN one batch under the index's pinned hash
        family (the probe only reports batch-vs-indexed; two duplicates
        arriving in the same micro-batch collide here). Oriented like
        probe output — larger id as ``new_id`` — purely for key
        determinism; components don't care about direction."""
        idx = self.index
        pairs = minhash_lsh_pairs(
            batch,
            threshold=self.threshold,
            num_hashes=idx.num_hashes,
            bands=idx.bands,
            shingle_n=idx.shingle_n,
            portable=idx.portable,
        )
        return pairs.select(
            F.greatest("a_id", "b_id").alias("new_id"),
            F.least("a_id", "b_id").alias("match_id"),
            "est_jaccard",
        )

    def process(self, batch: DataFrame, epoch_id: int) -> tuple[MergeStats, MergeStats]:
        epoch_id = int(epoch_id)
        if self.transforms is not None:
            batch = self.transforms.apply(batch, epoch_id)
            self.transforms.record(self.lineage, self.query_id)
        matches, st = self.index.add_batch(
            batch,
            epoch_id=epoch_id,
            query_id=self.query_id,
            threshold=self.threshold,
        )
        seq = int(st.snapshot_version)
        probe_unrecoverable = False
        if st.skipped:
            # crash-recovery window: the INDEX epoch already committed but
            # the matches epoch may not have. The live probe is useless
            # now (the batch is already indexed), so recompute it against
            # the pre-batch snapshot of the original commit.
            found = self._find_epoch_version(epoch_id)
            parent = (
                self.index.table.manifest(found).get("parent") if found is not None else None
            )
            if found is None:
                # original snapshot expired → can only fence this epoch
                # in the matches table (if it already committed there,
                # this is the normal duplicate-delivery no-op)
                matches = self._empty_matches()
                probe_unrecoverable = True
            else:
                seq = int(found)
                if parent is None:
                    matches = self._empty_matches()  # epoch 0: empty index
                else:
                    sigs = self.index.signatures(batch)
                    matches = self.index._probe_sigs(sigs, version=int(parent)).filter(
                        F.col("est_jaccard") >= self.threshold
                    )
        batch_ids = batch.select("doc_id").distinct()
        if self.corpus is not None:
            # (a) documents land in the corpus FIRST (losers can only be
            # tombstoned out of rows that exist). LSN scheme: docs at
            # 2·seq, survivor deletes at 2·seq+1 — the same epoch's
            # decision beats its ingest, and any LATER epoch's re-ingest
            # (2·seq′ ≥ 2·seq+2) beats the stale delete, so an UPDATED
            # document resurrects through the normal LWW path and is
            # re-evaluated from scratch.
            doc_events = batch.withColumn("op", F.lit("update")).withColumn(
                "seq", F.lit(2 * seq).cast("long")
            )
            dst = self.corpus.merge_upsert(
                doc_events, epoch_id=epoch_id, query_id=self.query_id + "-docs"
            )
            # (b) intra-batch collisions join the pair graph
            matches = matches.unionByName(self._intra_batch_pairs(batch))
        # seq = the index snapshot version (monotone in application
        # order): under out-of-order re-delivery a later-applied epoch
        # observed newer index state and must win LWW
        events = matches.select(
            "new_id",
            "match_id",
            "est_jaccard",
            F.lit("update").alias("op"),
            F.lit(seq).cast("long").alias("seq"),
        )
        if self.corpus is not None and not probe_unrecoverable:
            # (c) stale-pair retirement, SAME merge as the fresh pairs
            # (one epoch fence — a crash can never retire without
            # re-inserting): a re-ingested document's old pairs were
            # scored against its OLD text; any of them the fresh probe
            # did not re-find is no longer evidence. Cost ∝ the pair
            # graph rows touching batch ids (two semi-joins on the tiny
            # broadcast id set), never the corpus.
            live = self.matches.read().select("new_id", "match_id")
            stale = (
                live.join(
                    F.broadcast(batch_ids.withColumnRenamed("doc_id", "new_id")),
                    "new_id",
                    "left_semi",
                )
                .unionByName(
                    live.join(
                        F.broadcast(batch_ids.withColumnRenamed("doc_id", "match_id")),
                        "match_id",
                        "left_semi",
                    ).select("new_id", "match_id")
                )
                .distinct()
                .join(
                    matches.select("new_id", "match_id"),
                    ["new_id", "match_id"],
                    "left_anti",
                )
            )
            events = events.unionByName(
                stale.select(
                    "new_id",
                    "match_id",
                    F.lit(None).cast("double").alias("est_jaccard"),
                    F.lit("delete").alias("op"),
                    F.lit(seq).cast("long").alias("seq"),
                )
            )
        mst = self.matches.merge_upsert(
            events, epoch_id=epoch_id, query_id=self.query_id + "-matches"
        )
        if self.corpus is not None:
            # (d) close the loop: tombstone this epoch's duplicate-cluster
            # losers out of the corpus. Components run on the LIVE pair
            # graph (post-retirement); deletes are restricted to
            # components touched by this batch's ids, so the write is
            # ∝ the epoch's blast radius. validate_ids=False is safe
            # here by construction: every pair id went through (a).
            ast = apply_survivors(
                self.corpus,
                self.matches.read().select("new_id", "match_id"),
                seq=2 * seq + 1,
                epoch_id=epoch_id,
                query_id=self.query_id + "-apply",
                touched_ids=batch_ids,
                validate_ids=False,
            )
            self.corpus_stats.append((dst, ast))
        if self.transforms is not None:
            # the transform stage persisted the transformed frame (one
            # materialization per epoch); every consumer above has run
            batch.unpersist()
        return st, mst

    def read(self) -> DataFrame:
        return self.matches.read()

    def read_corpus(self) -> DataFrame:
        """The deduplicated live corpus (losers tombstoned away)."""
        if self.corpus is None:
            raise ValueError("DedupIngest was built without corpus_path")
        return self.corpus.read()


def dedup_ingest_stream(
    spark: SparkSession,
    doc_dir: str,
    ingest: DedupIngest,
    checkpoint_dir: str,
    fmt: str = "json",
    schema: T.StructType = DOC_STREAM_SCHEMA,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Drive ``ingest`` from a file-backed document stream.

    Bounded mode (default): drains the directory, returns
    ``list[(index_stats, matches_stats)]``. Sustained mode: returns the
    live ``StreamingQuery`` (stats fill on its ``ingest_stats``
    attribute); the caller stops it."""
    stats: list[tuple[MergeStats, MergeStats]] = []

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        stats.append(ingest.process(batch, int(epoch_id)))

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.format(fmt).load(doc_dir)
    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer.trigger(availableNow=True).start().awaitTermination()
        return stats
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    query = writer.start()
    setattr(query, "ingest_stats", stats)
    return query
