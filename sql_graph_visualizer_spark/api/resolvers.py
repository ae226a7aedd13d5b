"""Read-API resolver layer — the reference's GraphQL Query surface as
DataFrame operations (SURVEY §3.2).

The reference serves its graph over GraphQL
(``schema/schema.graphqls``; resolvers at
``internal/interfaces/graphql/schema.resolvers.go:25-221``): ``graph``,
``nodesByType(type)``, ``node(id)``, ``relationshipsByType(type)``,
``searchNodes(query)``, plus a ``transformData`` mutation. Each resolver
there issues a Cypher MATCH and then filters/serializes **row by row in
Go** — including ``searchNodes``, which scans every node's every
property.

Spark-first restatement: the resolvers are declarative plans over the
nodes/edges DataFrames (or SnapshotTables) the engine maintains, with
the GraphQL wire shapes (``id/label/properties-as-JSON``,
``from/to/type``) produced by column expressions — filtering happens
before collection, not after, and serialization is ``to_json`` in
codegen, not a per-row marshal loop. The HTTP/WebSocket layer itself is
deliberately out of scope (a serving process, not a data engine); these
resolvers are the exact functions such a server would call, and
returning DataFrames means a real server pages with ``limit``/``offset``
instead of materializing the graph like the reference does.
"""

from __future__ import annotations

import weakref
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _release(nodes: DataFrame) -> None:
    """Unpersist a resolver's node snapshot. A no-op once its
    SparkContext has stopped: the JVM side is gone, and unpersisting
    through it raises."""
    if nodes.sparkSession.sparkContext._jsc is None:
        return
    nodes.unpersist()


def _node_shape(nodes: DataFrame) -> DataFrame:
    """GraphQL ``Node`` shape: id / label / properties as a JSON string
    (schema.graphqls Node; the resolvers json.Marshal each property bag —
    here it is one codegen ``to_json`` column)."""
    return nodes.select(
        F.col("node_id").alias("id"),
        F.col("node_type").alias("label"),
        F.coalesce(F.to_json("properties"), F.lit("{}")).alias("properties"),
    )


def _rel_shape(edges: DataFrame) -> DataFrame:
    """GraphQL ``Relationship`` shape: from / to / type / properties."""
    cols = [
        F.col("src").alias("from"),
        F.col("dst").alias("to"),
        F.col("rel_type").alias("type"),
    ]
    if "properties" in edges.columns:
        cols.append(F.coalesce(F.to_json("properties"), F.lit("{}")).alias("properties"))
    else:
        cols.append(F.lit("{}").alias("properties"))
    return edges.select(*cols)


class GraphQueryResolver:
    """The Query root over materialized node/edge DataFrames.

    ``nodes``: (node_id, node_type, properties map<string,string>) —
    the shape ``plans/graph_builder.build_nodes`` produces and GraphSync
    maintains. ``edges``: (src, dst, rel_type[, properties]).

    ``nodes`` is persisted (lazily) at construction: the first query
    materializes it and every later query on this resolver answers from
    that one snapshot, instead of re-running the node plan (for
    ``build_transcript_graph``, a full merge-on-read read plus a
    groupBy, a distinct and a three-rule union) per request. Build a
    new resolver to see later commits; ``close()`` releases the
    snapshot, as does garbage collection of the resolver.
    """

    def __init__(self, nodes: DataFrame, edges: DataFrame):
        self.nodes = nodes.persist()
        self.edges = edges
        self._finalizer = weakref.finalize(self, _release, self.nodes)
        # the JVM may be gone by interpreter exit; nothing to free then
        self._finalizer.atexit = False

    def close(self) -> None:
        """Release the node snapshot. Idempotent."""
        self._finalizer()

    # ------------------------------------------------------------- Query

    def graph(self) -> tuple[DataFrame, DataFrame]:
        """``graph``: the full export (resolvers.go:25-74). The reference
        materializes everything into one aggregate; here both sides stay
        DataFrames so a server pages them."""
        return _node_shape(self.nodes), _rel_shape(self.edges)

    def nodes_by_type(self, node_type: str) -> DataFrame:
        """``nodesByType`` (resolvers.go:77-108): the reference string-
        formats the label into Cypher; here it is a pushable equality
        predicate (and no injection surface)."""
        return _node_shape(self.nodes.filter(F.col("node_type") == F.lit(node_type)))

    def node(self, node_id: str) -> dict[str, Any] | None:
        """``node(id)`` point lookup (resolvers.go:110-141). Returns the
        GraphQL model dict or None. Answered from the persisted node
        snapshot in one job: a ``limit(1)`` would scan it partition by
        partition, one job per step, for at most a few matching rows."""
        rows = _node_shape(self.nodes.filter(F.col("node_id") == F.lit(node_id))).collect()
        return rows[0].asDict() if rows else None

    def relationships_by_type(self, rel_type: str) -> DataFrame:
        """``relationshipsByType`` (resolvers.go:143-177)."""
        return _rel_shape(self.edges.filter(F.col("rel_type") == F.lit(rel_type)))

    def search_nodes(self, query: str) -> DataFrame:
        """``searchNodes`` (resolvers.go:190-221): ANY property value
        CONTAINS the query string. The reference issues a full-graph
        Cypher scan and re-filters row by row in Go; here the exists()
        predicate runs inside the scan, so only matches are returned."""
        return _node_shape(
            self.nodes.filter(
                F.exists(F.map_values("properties"), lambda v: v.contains(query))
            )
        )

    # ---------------------------------------------------------- Mutation

    @staticmethod
    def transform_data(sources: dict[str, DataFrame], rules) -> tuple[DataFrame, DataFrame]:
        """``transformData`` mutation: run the rule engine and return the
        rebuilt (nodes, edges) — the reference triggers its ETL pipeline
        here (cmd/main.go TransformAndStore)."""
        from sql_graph_visualizer_spark.plans.graph_builder import build_edges, build_nodes

        nodes = build_nodes(sources, rules.node_rules)
        edges = build_edges(sources, nodes, rules.relationship_rules)
        return nodes, edges
