"""Incremental graph materialization: keep the derived edge table in
sync with the transcripts table, epoch by epoch.

The reference's signature loop re-derives metric edges every tick by
deleting and re-creating them (``simple_metrics_injector.go:170-213``)
— full recompute per tick. Here the derived graph is maintained
incrementally (SURVEY §7.1 stage 7) from the change events themselves:
the row→graph mapping is a pure per-row function (a turn yields a
``HAS_TURN`` edge and, if it has a tool, a ``USES_TOOL`` edge), so each
event maps to exactly two edge ops stamped with the event's own ``seq``
and keyed ``(conv_id, turn_idx, rel_type)``. One ``merge_upsert`` then
applies them through the same epoch-fenced LWW path as the data.

Because each edge key's versions are the transcripts key's versions,
the edge table's LWW per key is exactly the transcripts table's LWW per
turn: out-of-order epochs, re-delivered events and crash-replay all
converge to the edges of the final state without reading the
transcripts table. Work per epoch ∝ |batch|; the only table read is
``merge_upsert``'s own bucket-pruned copy-on-write read of the edge
table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_graph_visualizer_spark.lake.snapshot_table import MergeStats, SnapshotTable

EDGE_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
        T.StructField("rel_type", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ]
)


def _turn_edges(rows: DataFrame, *extra: Column | str) -> tuple[DataFrame, DataFrame]:
    """The per-row edge mapping: ``(HAS_TURN, USES_TOOL)`` frames with
    one row per input row each; ``dst`` of ``USES_TOOL`` is null when the
    row has no tool. ``extra`` columns ride along unchanged."""
    conv_id = F.col("conv_id")
    turn_idx = F.col("turn_idx").cast("int")
    turn_id = F.concat(F.lit("Turn:"), conv_id, F.lit(":"), turn_idx.cast("string"))
    has_turn = rows.select(
        F.concat(F.lit("Conversation:"), conv_id).alias("src"),
        turn_id.alias("dst"),
        F.lit("HAS_TURN").alias("rel_type"),
        "conv_id",
        turn_idx.alias("turn_idx"),
        *extra,
    )
    uses_tool = rows.select(
        turn_id.alias("src"),
        F.concat(F.lit("Tool:"), F.col("tool")).alias("dst"),
        F.lit("USES_TOOL").alias("rel_type"),
        "conv_id",
        turn_idx.alias("turn_idx"),
        *extra,
    )
    return has_turn, uses_tool


def derive_conv_edges(state: DataFrame) -> DataFrame:
    """conv→turn HAS_TURN and turn→tool USES_TOOL edges from (a slice of)
    the transcripts state — pure column expressions (the Arrow-UDF twin
    lives in plans/graph_builder.build_conv_edges_arrow; tests assert
    equality)."""
    has_turn, uses_tool = _turn_edges(state)
    return has_turn.unionByName(uses_tool.filter(F.col("dst").isNotNull()))


class GraphSync:
    """Maintains a derived edges SnapshotTable incrementally.

    Wire ``sync`` as the ``on_batch`` callback of ``replay_stream`` /
    call it after each ``merge_upsert`` epoch with that epoch's change
    events. Edge identity = ``(conv_id, turn_idx, rel_type)`` (one
    ``HAS_TURN`` and at most one ``USES_TOOL`` edge per turn), bucketed on
    ``conv_id``. A re-delivered epoch id is skipped by the table's fence;
    an older event loses LWW on its own ``seq``.
    """

    EDGE_KEY_COLS = ["conv_id", "turn_idx", "rel_type"]
    TRANSCRIPT_KEY_COLS = ["conv_id", "turn_idx"]

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        transcripts: SnapshotTable,
        num_buckets: int = 32,
    ):
        # the per-event derivation is exact only if one transcripts key
        # is one turn: its events then version exactly that turn's edges
        t_keys = list(transcripts.manifest()["key_cols"])
        if t_keys != self.TRANSCRIPT_KEY_COLS:
            raise ValueError(
                f"GraphSync needs a transcripts table keyed on {self.TRANSCRIPT_KEY_COLS}, "
                f"got {t_keys}"
            )
        if SnapshotTable.exists(path):
            self.edges = SnapshotTable(spark, path)
            e_keys = list(self.edges.manifest()["key_cols"])
            if e_keys != self.EDGE_KEY_COLS:
                raise ValueError(
                    f"edge table at {path} is keyed on {e_keys}, not {self.EDGE_KEY_COLS}; "
                    "delete it and rebuild it from the transcripts table"
                )
        else:
            self.edges = SnapshotTable.create(
                spark,
                path,
                EDGE_TABLE_SCHEMA,
                key_cols=list(self.EDGE_KEY_COLS),
                bucket_col="conv_id",
                num_buckets=num_buckets,
            )

    def sync(self, batch: DataFrame, epoch_id: int, st: MergeStats | None = None) -> MergeStats:
        """Merge the two edge ops of every change event in ``batch``:

        - ``HAS_TURN``: update, or delete when ``op='delete'``
        - ``USES_TOOL``: update to ``Tool:<tool>``, or delete when
          ``op='delete'`` or the turn has no tool

        Both carry the event's ``seq`` under different keys, so
        ``(key, seq)`` stays unique as ``merge_upsert`` requires. ``st``
        (the transcripts merge's stats) is accepted for the ``on_batch``
        signature and unused. The edge table is written as an unordered
        writer (its tombstone horizon stays pinned): its epochs carry the
        stream's LSNs, which need not rise epoch over epoch.
        """
        has_turn, uses_tool = _turn_edges(batch, "seq", "op")
        deleted = F.col("op") == "delete"
        ops = has_turn.withColumn(
            "op", F.when(deleted, "delete").otherwise("update")
        ).unionByName(
            uses_tool.withColumn(
                "op", F.when(deleted | F.col("dst").isNull(), "delete").otherwise("update")
            )
        )
        return self.edges.merge_upsert(
            ops, epoch_id=int(epoch_id), query_id="graph-sync", ordered_writer=False
        )

    def read(self) -> DataFrame:
        return self.edges.read()
