"""Last-writer-wins (LWW) compaction: the engine's one LWW kernel.

This is the engine's core window op (SURVEY.md §2.5 W5): the reference's
``GraphAggregate.AddNode`` overwrites the properties of an existing node
with the same ``(Type, id)`` — arrival-order last-writer-wins
(``internal/domain/aggregates/graph/graph_aggregate.go:46-59``). Our keys
are ``(conv_id, turn_idx)`` and "arrival order" is the total order given
by ``seq`` (the LSN). It is also a *hard requirement* of MERGE: a source
with two rows matching one target key is ambiguous, so every batch is
compacted to exactly one event per key first.

Every LWW resolution goes through :func:`compact_lww`: ``final_state``,
both levels of ``skew.compact_lww_salted``, the merge-on-read read fold
and the MERGE's compact+write (``lake/snapshot_table.py``). Replaying an
epoch must rebuild the same state (epoch fencing assumes deterministic
recomputation, as in D-Streams), so ties never resolve by arrival order:
rows tied on the ``order_cols`` tuple rank by their other columns,
greatest first (map columns are not orderable and are skipped), and
byte-identical re-deliveries collapse to one row.

Scale note: ``max_by(struct(payload))`` carries a variable-width buffer,
so Catalyst compiles it to **SortAggregate**, and a window over the raw
batch sorts every version and forgoes partial aggregation. The raw form
here takes ``max(order_cols[0])`` per key (fixed-width HashAggregate,
map-side combined), keeps the rows at that max with a null-safe keyed
semi-join, and ranks only those ~|keys| survivors with ``row_number``.
The routed form (``route_cols`` given) is for rows the caller already
hash-partitioned on ``route_cols``, functions of the key such as the
bucket routing of ``SnapshotTable``: that partitioning satisfies the
ranking's grouping, so the fold adds no exchange of its own. The MERGE's
compact+write routes its ~|keys| survivors this way. The merge-on-read
fold (the read of delta-carrying buckets and ``compact_deltas``) routes
base ∪ deltas to one partition per bucket and sorts every version of
those buckets inside their bucket partition: one exchange in place of
the raw form's two, with no max aggregate or semi-join, at the price of
sorting every version rather than only the rows at each key's max.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

KEY_COLS = ("conv_id", "turn_idx")
META_COLS = ("seq", "op")


def _orderable(dt: T.DataType) -> bool:
    """False if the type tree contains a map anywhere (Spark cannot
    compare, sort or group on a map, nested or not)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def compact_lww(
    rows: DataFrame,
    key_cols: tuple[str, ...] = KEY_COLS,
    order_cols: tuple[str, ...] = ("seq",),
    route_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Reduce ``rows`` to one row per key (null-safe key equality): the
    greatest fixed-width ``order_cols`` tuple wins, ties rank by the
    other orderable columns. Output schema = input schema. Deletes
    survive as ``op='delete'`` rows (the MERGE arm drops them).
    ``route_cols``: ``rows`` are already hash-partitioned on these
    functions of the key; the fold then adds no exchange."""
    group = [*route_cols, *key_cols]
    if not route_cols:
        top = order_cols[0]
        winners = rows.groupBy(*key_cols).agg(F.max(top).alias("__top")).alias("__w")
        r = rows.alias("__r")
        cond = F.col(f"__r.{top}") == F.col("__w.__top")
        for k in key_cols:
            cond = cond & F.col(f"__r.{k}").eqNullSafe(F.col(f"__w.{k}"))
        rows = r.join(winners, cond, "left_semi")
    rest = [
        f.name
        for f in rows.schema.fields
        if f.name not in group and f.name not in order_cols and _orderable(f.dataType)
    ]
    rank = Window.partitionBy(*group).orderBy(
        *[F.col(c).desc() for c in (*order_cols, *rest)]
    )
    return (
        rows.withColumn("__rn", F.row_number().over(rank))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def final_state(
    log: DataFrame,
    key_cols: tuple[str, ...] = KEY_COLS,
    order_col: str = "seq",
    payload_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Batch oracle: final table state as a pure function of the full log.

    Mirrors the reference's wipe-and-rebuild semantics
    (``cmd/main.go:165-177``: every run recomputes final state from current
    source state) — the correctness contract incremental replay must match:
    per key, the payload of the max-seq event, excluding keys whose max-seq
    event is a delete (FIXTURES.md §5).
    """
    compacted = compact_lww(log, key_cols, (order_col,))
    live = compacted.filter(F.col("op") != F.lit("delete"))
    if payload_cols is None:
        payload_cols = tuple(c for c in log.columns if c not in key_cols and c not in META_COLS)
    return live.select(*key_cols, *payload_cols)
