"""Graph rule compilation: nodes, edges, inner-join endpoint semantics,
Arrow grouped-map parity (reference: transform_rule_aggregate.go:71-115,
transform_service.go:361-444, graph_aggregate.go:73-102)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sql_graph_visualizer_spark.plans.graph_builder import build_conv_edges_arrow
from sql_graph_visualizer_spark.plans.transcript_rules import build_transcript_graph


def _transcripts(spark):
    rows = [
        ("c1", 0, "user", "hello", None),
        ("c1", 1, "assistant", "hi", None),
        ("c1", 2, "tool", "run", "python"),
        ("c2", 0, "user", "query", None),
        ("c2", 1, "tool", "search it", "search"),
        ("c2", 2, "tool", "calc", "calculator"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


def test_nodes_and_edges(spark):
    t = _transcripts(spark)
    nodes, edges = build_transcript_graph(t)
    by_type = {r["node_type"]: r["count"] for r in nodes.groupBy("node_type").count().collect()}
    assert by_type == {"Conversation": 2, "Turn": 6, "Tool": 3}
    e = {(r.src, r.dst, r.rel_type) for r in edges.collect()}
    assert ("Conversation:c1", "Turn:c1:2", "HAS_TURN") in e
    assert ("Turn:c1:2", "Tool:python", "USES_TOOL") in e
    assert len([x for x in e if x[2] == "HAS_TURN"]) == 6
    assert len([x for x in e if x[2] == "USES_TOOL"]) == 3
    # every endpoint resolves (inner-join semantics; no dangling edges)
    ids = {r.node_id for r in nodes.collect()}
    assert all(s in ids and d in ids for s, d, _ in e)


def test_node_properties_map(spark):
    nodes, _ = build_transcript_graph(_transcripts(spark))
    turn = nodes.filter(F.col("node_id") == "Turn:c1:2").collect()[0]
    assert turn.properties["role"] == "tool"
    assert turn.properties["turn_idx"] == "2"


def test_arrow_edges_match_join_edges(spark):
    """The grouped-map Arrow UDF path is semantically identical to the
    declarative join path."""
    t = _transcripts(spark)
    _, edges = build_transcript_graph(t)
    join_set = {(r.src, r.dst, r.rel_type) for r in edges.collect()}
    arrow = build_conv_edges_arrow(t)
    arrow_set = {(r.src, r.dst, r.rel_type) for r in arrow.collect()}
    assert arrow_set == join_set


def test_edges_use_hash_join_not_nested_loop(spark):
    """The physical plan must contain a hash join (broadcast or shuffled)
    and no cartesian/nested-loop — the whole point of the graft vs the
    reference's O(N·M) loop."""
    t = _transcripts(spark)
    _, edges = build_transcript_graph(t)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_edges_action_leaves_no_cache_entry(spark):
    """build_edges computes the shared node pipeline through exchange
    reuse, not a persist: building the graph and running an edges
    action registers nothing in the CacheManager."""
    spark.catalog.clearCache()
    _, edges = build_transcript_graph(_transcripts(spark))
    assert edges.count() == 9
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
