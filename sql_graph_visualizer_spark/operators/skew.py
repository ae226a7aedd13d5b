"""Explicit hot-key skew management (required by the north_rule).

The reference has no skew story (single-threaded, in-memory —
SURVEY.md §4.1). At 10^10 events, Zipf-hot conversations concentrate an
update storm on a few ``conv_id`` shuffle keys; AQE's skew-join split only
helps *joins*, not aggregation shuffles.

Where this sits in the engine: the default MERGE path's winner selection
is a fixed-width ``max(seq)`` hash aggregate, so map-side partial
aggregation already collapses hot-key storms before the shuffle — the
default replay needs no salting. The explicit salted two-level
compaction below is the tool for **payload-carrying** skewed
aggregations (where partials are as wide as the rows) and is available
as an opt-in pre-compaction via ``replay_batch(..., hot_threshold=N)``.
Two levers here:

1. ``detect_hot_keys`` — cheap per-batch frequency probe of the bucket
   column (a groupBy count, map-side combined, tiny result).
2. ``salted_repartition`` — spread rows of hot keys across
   ``salt_factor`` sub-partitions before per-key work. Correct for the
   LWW compaction because ``compact_lww`` picks the maximum of one total
   order per key (``order_cols``, then the row's other orderable
   columns), and a maximum of sub-group maxima is the maximum: compacting
   salted sub-groups then re-compacting per key yields the same winner,
   ties included. That two-level compaction is exposed as
   ``compact_lww_salted``.

At the 100 TB design point the compaction itself already does map-side
partial aggregation (see operators/compaction.py), so salting matters
most when a *single* key's versions exceed one task's memory — the
two-level form bounds per-task state by ``1/salt_factor``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_graph_visualizer_spark.operators.compaction import compact_lww


def detect_hot_keys(
    batch: DataFrame, key_col: str = "conv_id", hot_threshold: int = 100_000, top_n: int = 64
) -> list[str]:
    """Keys whose per-batch event count exceeds the threshold."""
    rows = (
        batch.groupBy(key_col)
        .count()
        .filter(F.col("count") >= hot_threshold)
        .orderBy(F.desc("count"))
        .limit(top_n)
        .collect()
    )
    return [r[0] for r in rows]


def with_salt(df: DataFrame, key_col: str, hot_keys: list[str], salt_factor: int) -> DataFrame:
    """Add a ``__salt`` column: 0 for cold keys; 0..salt_factor-1 spread
    (deterministically, from the row's own content hash) for hot keys."""
    spread = F.pmod(F.xxhash64(*df.columns), F.lit(salt_factor)).cast("int")
    return df.withColumn(
        "__salt", F.when(F.col(key_col).isin(hot_keys), spread).otherwise(F.lit(0))
    )


def compact_lww_salted(
    batch: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    order_col: str = "seq",
    hot_keys: list[str] | None = None,
    hot_threshold: int = 100_000,
    salt_factor: int = 16,
) -> DataFrame:
    """Two-level LWW compaction: first per (key, salt) — hot keys split
    across salt_factor reducers — then per key over the (tiny) survivors."""
    if hot_keys is None:
        hot_keys = detect_hot_keys(batch, key_cols[0], hot_threshold)
    if not hot_keys:
        return compact_lww(batch, key_cols, (order_col,))
    salted = with_salt(batch, key_cols[0], hot_keys, salt_factor)
    level1 = compact_lww(salted, (*key_cols, "__salt"), (order_col,)).drop("__salt")
    return compact_lww(level1, key_cols, (order_col,))
