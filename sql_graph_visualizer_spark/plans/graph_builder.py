"""Compile transform rules into node/edge DataFrames.

The reference's two-pass pipeline (``transform_service.go:87-186``):
PASS 1 applies node rules row-at-a-time into a mutable GraphAggregate;
PASS 2 applies relationship rules, resolving both endpoints by linear
scan (``findNode``, O(N) per endpoint) or a nested-loop node×node join
(``createRelationshipsFromExistingNodes``, O(N·M),
``transform_service.go:361-444``).

Spark restatement: node rules are projections unioned by name; edge
rules are two hash joins against the nodes table (inner — dangling edges
dropped, matching findNode's warn+skip). Catalyst broadcasts the small
side; no nested loop exists anywhere.

Node identity & LWW: the reference upserts nodes keyed on (type, id),
last writer wins (``graph_aggregate.go:46-59``). With declarative rules,
"last" is rule priority then source order; we reproduce it with max_by
over (priority, rule_seq) — but in practice rules target disjoint types.

A vectorized Arrow UDF variant (``build_conv_edges_arrow``) exists
because the north_star names Arrow UDF graph materialization as the
reference's signature feature; it is semantically identical to the join
path (tests assert equality). Since r8 it is a narrow ``mapInArrow``
(the per-row edge mapping needs no group context, so the old
``groupBy(conv_id)`` Exchange was pure overhead — guide §2.4).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sql_graph_visualizer_spark.plans.rules import NodeRule, RelationshipRule

NODE_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.StringType(), False),
        T.StructField("node_type", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("rel_type", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def _props_map(mappings: dict[str, str]) -> F.Column:
    """properties map<string,string> from field mappings — the reference's
    per-row property-bag copy loop (transform_rule_aggregate.go:77-84),
    vectorized. Values stringified; NULLs dropped from the map."""
    if not mappings:
        return F.create_map().cast("map<string,string>")
    pairs = []
    for src, dst in mappings.items():
        pairs.append(F.lit(dst))
        pairs.append(F.col(src).cast("string"))
    m = F.create_map(*pairs)
    return F.map_filter(m, lambda _, v: v.isNotNull())


def build_nodes(sources: dict[str, DataFrame], rules: Iterable[NodeRule]) -> DataFrame:
    """PASS 1: one projection per rule, unioned, LWW-deduped on node_id.

    One aggregation does ALL the deduping (r8, guide §2.4): the final
    cross-rule max_by collapses intra-rule duplicates exactly like the
    per-rule ``dropDuplicates(["node_id"])`` each branch used to run —
    same arbitrary-pick semantics for byte-identical duplicates, same
    winner under the rank order otherwise — so the per-rule dedupes
    were R extra exchanges (each a SortAggregate: the properties map is
    a variable-width first() buffer) feeding an aggregation that
    re-deduped anyway. The union now flows into a single exchange."""
    parts = []
    for rule_seq, rule in enumerate(sorted(rules, key=lambda r: r.priority)):
        df = sources[rule.source]
        if rule.where:
            df = df.filter(rule.where)
        parts.append(
            df.select(
                F.concat_ws(":", F.lit(rule.target_type), F.col(rule.id_col).cast("string")).alias(
                    "node_id"
                ),
                F.lit(rule.target_type).alias("node_type"),
                _props_map(rule.field_mappings).alias("properties"),
                F.lit(rule.priority * 1_000_000 + rule_seq).alias("__rank"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # cross-rule LWW on node_id (graph_aggregate.go:46-51): highest rank wins
    winner = F.max_by(F.struct("node_type", "properties"), F.col("__rank")).alias("_w")
    return (
        out.groupBy("node_id")
        .agg(winner)
        .select("node_id", F.col("_w.node_type").alias("node_type"), F.col("_w.properties").alias("properties"))
    )


def build_edges(
    sources: dict[str, DataFrame], nodes: DataFrame, rules: Iterable[RelationshipRule]
) -> DataFrame:
    """PASS 2: endpoint resolution as two inner joins per rule against the
    nodes table (left_semi semantics folded into inner joins) — replaces
    the reference's O(N·M) nested loop (transform_service.go:361-444).

    The node-id set feeds 2 joins per relationship rule. Within one
    query plan Spark's exchange reuse computes the shared nodes pipeline
    (every node rule's scan + union + LWW dedup) once. It is not
    persisted: a persist would register a cache entry per input
    snapshot that nothing releases, and save no jobs (an edges count
    over a merge-on-read read ran 28 jobs with it, 13 without). Callers that
    query the nodes repeatedly persist them themselves (see
    ``api.resolvers.GraphQueryResolver``)."""
    node_ids = nodes.select("node_id").distinct()
    parts = []
    for rule in sorted(rules, key=lambda r: r.priority):
        df = sources[rule.source]
        if rule.where:
            df = df.filter(rule.where)
        edges = df.select(
            F.concat_ws(
                ":", F.lit(rule.source_node.node_type), F.col(rule.source_node.key).cast("string")
            ).alias("src"),
            F.concat_ws(
                ":", F.lit(rule.target_node.node_type), F.col(rule.target_node.key).cast("string")
            ).alias("dst"),
            F.lit(rule.relation_type).alias("rel_type"),
            _props_map(rule.properties).alias("properties"),
        ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        # inner-join endpoint existence checks (dangling edges dropped)
        edges = (
            edges.join(node_ids.withColumnRenamed("node_id", "src"), "src", "left_semi")
            .join(node_ids.withColumnRenamed("node_id", "dst"), "dst", "left_semi")
        )
        parts.append(edges)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["src", "dst", "rel_type"])


# --------------------------------------------------------------- Arrow UDF


def build_conv_edges_arrow(transcripts: DataFrame) -> DataFrame:
    """Conversation edge assembly as a vectorized Arrow UDF.

    The signature row→graph mapping (north_star): emit conv→turn
    HAS_TURN edges and turn→tool USES_TOOL edges. Each input row maps to
    its edges independently, so this is a narrow ``mapInArrow`` over the
    three pruned columns — no shuffle at all (r8: previously a
    ``groupBy(conv_id).applyInPandas``, which paid one Exchange plus
    per-group pandas-frame assembly for a mapping that never needed
    group context; guide §2.4 "remove shuffles outright"). Inside the
    UDF everything is ``pyarrow.compute`` over whole record batches —
    zero per-row Python. Semantically identical to the join path and to
    the old grouped form — tests assert it.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = T.StructType(
        [
            T.StructField("src", T.StringType()),
            T.StructField("dst", T.StringType()),
            T.StructField("rel_type", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
        ]
    )
    arrow_schema = pa.schema(
        [
            pa.field("src", pa.string()),
            pa.field("dst", pa.string()),
            pa.field("rel_type", pa.string()),
            pa.field("turn_idx", pa.int32()),
        ]
    )

    def assemble(batches):
        sep = pa.scalar("")
        for b in batches:
            if b.num_rows == 0:
                continue
            conv = b.column(b.schema.get_field_index("conv_id"))
            turn = pc.cast(b.column(b.schema.get_field_index("turn_idx")), pa.int32())
            tool = b.column(b.schema.get_field_index("tool"))
            turn_s = pc.cast(turn, pa.string())
            turn_ids = pc.binary_join_element_wise(
                pa.scalar("Turn:"), conv, pa.scalar(":"), turn_s, sep
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pc.binary_join_element_wise(pa.scalar("Conversation:"), conv, sep),
                    turn_ids,
                    pc.fill_null(pa.nulls(b.num_rows, pa.string()), "HAS_TURN"),
                    turn,
                ],
                schema=arrow_schema,
            )
            mask = pc.is_valid(tool)
            if pc.any(mask).as_py():
                t_ids = pc.filter(turn_ids, mask)
                t_turn = pc.filter(turn, mask)
                t_tool = pc.filter(tool, mask)
                yield pa.RecordBatch.from_arrays(
                    [
                        t_ids,
                        pc.binary_join_element_wise(pa.scalar("Tool:"), t_tool, sep),
                        pc.fill_null(pa.nulls(len(t_ids), pa.string()), "USES_TOOL"),
                        t_turn,
                    ],
                    schema=arrow_schema,
                )

    return transcripts.select("conv_id", "turn_idx", "tool").mapInArrow(
        assemble, out_schema
    )
