"""GraphQL Query-surface resolvers over materialized node/edge tables
(SURVEY §3.2; schema.resolvers.go:25-221 restated as DataFrame plans)."""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from sql_graph_visualizer_spark.api import GraphQueryResolver
from sql_graph_visualizer_spark.operators.compaction import final_state
from sql_graph_visualizer_spark.plans.transcript_rules import build_transcript_graph
from sql_graph_visualizer_spark.sources.cdc_gen import gen_cdc_log

from tests.test_lake import _table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark) -> int:
    """Jobs the DAG scheduler has started in this session so far."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _graph(spark):
    nodes = spark.createDataFrame(
        [
            ("User:1", "User", {"name": "ada", "email": "ada@x.io"}),
            ("User:2", "User", {"name": "grace", "email": "grace@x.io"}),
            ("Order:10", "Order", {"total": "99.5", "note": "gift for ada"}),
        ],
        "node_id string, node_type string, properties map<string,string>",
    )
    edges = spark.createDataFrame(
        [
            ("User:1", "Order:10", "PLACED", {"at": "2024-01-01"}),
            ("User:2", "User:1", "REFERRED", None),
        ],
        "src string, dst string, rel_type string, properties map<string,string>",
    )
    return GraphQueryResolver(nodes, edges)


def test_graph_full_export_shapes(spark):
    r = _graph(spark)
    nodes, rels = r.graph()
    assert nodes.columns == ["id", "label", "properties"]
    assert rels.columns == ["from", "to", "type", "properties"]
    nrows = {row.id: row for row in nodes.collect()}
    assert len(nrows) == 3
    # properties serialize as a JSON string (the GraphQL wire shape)
    assert json.loads(nrows["User:1"].properties) == {"name": "ada", "email": "ada@x.io"}
    rrows = {(row["from"], row["to"]): row for row in rels.collect()}
    assert rrows[("User:1", "Order:10")].type == "PLACED"
    assert json.loads(rrows[("User:2", "User:1")].properties) == {}  # NULL map → {}


def test_nodes_by_type_and_point_lookup(spark):
    r = _graph(spark)
    assert {row.id for row in r.nodes_by_type("User").collect()} == {"User:1", "User:2"}
    got = r.node("Order:10")
    assert got is not None and got["label"] == "Order"
    assert r.node("Order:999") is None


def test_relationships_by_type(spark):
    r = _graph(spark)
    rows = r.relationships_by_type("REFERRED").collect()
    assert [(x["from"], x["to"]) for x in rows] == [("User:2", "User:1")]


def test_search_nodes_any_property_contains(spark):
    r = _graph(spark)
    # matches a User property AND an Order note — cross-type, like the
    # reference's ANY(prop IN keys(n) ...) scan
    assert {row.id for row in r.search_nodes("ada").collect()} == {"User:1", "Order:10"}
    assert r.search_nodes("zzz").count() == 0
    # the filter runs inside the scan (pushed before collection): the
    # plan contains the exists predicate, not a post-collect filter
    plan = r.search_nodes("ada")._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan


def test_transform_data_mutation_runs_rule_engine(spark):
    from sql_graph_visualizer_spark.plans.rule_loader import RuleSet
    from sql_graph_visualizer_spark.plans.rules import NodeMapping, NodeRule, RelationshipRule

    users = spark.createDataFrame([(1, "ada"), (2, "grace")], "id long, name string")
    orders = spark.createDataFrame([(10, 1), (11, 2)], "id long, user_id long")
    rules = RuleSet(
        node_rules=[
            NodeRule("users", "users", "User", field_mappings={"name": "name"},
                     id_col="id", priority=1),
            NodeRule("orders", "orders", "Order", id_col="id", priority=2),
        ],
        relationship_rules=[
            RelationshipRule(
                "placed", "orders", "PLACED",
                NodeMapping("User", "user_id"), NodeMapping("Order", "id"),
                priority=3,
            )
        ],
    )
    nodes, edges = GraphQueryResolver.transform_data(
        {"users": users, "orders": orders}, rules
    )
    r = GraphQueryResolver(nodes, edges)
    assert r.nodes_by_type("User").count() == 2
    assert r.relationships_by_type("PLACED").count() == 2
    assert r.node("User:1")["label"] == "User"


def _turn_ids(df) -> set[str]:
    return {f"Turn:{r.conv_id}:{r.turn_idx}" for r in df.select("conv_id", "turn_idx").collect()}


def test_resolver_answers_from_one_node_snapshot(spark, tmp_path):
    """The resolver materializes its nodes once: after the first query,
    node / nodesByType / searchNodes each start at most 2 jobs instead
    of re-running build_transcript_graph over the merge-on-read read. A
    merge committed after the first answer does not change what this
    resolver returns; a new resolver sees it; close() and garbage
    collection leave the CacheManager empty."""
    spark.catalog.clearCache()
    t = _table(spark, tmp_path, buckets=4)
    log = gen_cdc_log(spark, 900, num_convs=12, turns_per_conv=6)
    t.merge_upsert(log.filter("seq < 600"), epoch_id=0, query_id="q")
    t.merge_upsert(log.filter("seq >= 600 AND seq < 750"), epoch_id=1, query_id="q", mode="mor")
    nodes, edges = build_transcript_graph(t.read())
    r = GraphQueryResolver(nodes, edges)
    first = r.node("Conversation:conv-000001")
    assert first is not None and first["label"] == "Conversation"
    for query in (
        lambda: r.node("Turn:conv-000002:1"),
        lambda: r.nodes_by_type("Turn").collect(),
        lambda: r.search_nodes("conv-00000").collect(),
    ):
        j0 = _jobs(spark)
        query()
        assert _jobs(spark) - j0 <= 2

    old_turns = _turn_ids(final_state(log.filter("seq < 750")))
    new_turns = _turn_ids(final_state(log))
    assert old_turns != new_turns
    assert {n.id for n in r.nodes_by_type("Turn").collect()} == old_turns
    t.merge_upsert(log.filter("seq >= 750"), epoch_id=2, query_id="q", mode="mor")
    assert {n.id for n in r.nodes_by_type("Turn").collect()} == old_turns
    assert r.node("Conversation:conv-000001") == first
    fresh = GraphQueryResolver(build_transcript_graph(t.read())[0], edges)
    assert {n.id for n in fresh.nodes_by_type("Turn").collect()} == new_turns

    r.close()
    r.close()  # idempotent
    fresh.close()
    assert _cache_empty(spark)
    dropped = GraphQueryResolver(build_transcript_graph(t.read())[0], edges)
    dropped.node("Conversation:conv-000001")
    assert not _cache_empty(spark)
    del dropped
    gc.collect()
    assert _cache_empty(spark)


def test_release_after_context_stop_is_a_noop(tmp_path):
    """Closing or collecting a resolver after its SparkContext stopped,
    and exiting with one still alive, must not call into the stopped
    JVM (an unpersist there raises a NullPointerException)."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from sql_graph_visualizer_spark.api import GraphQueryResolver
        from sql_graph_visualizer_spark.session import get_spark

        spark = get_spark(app_name="release", master="local[1]", shuffle_partitions=1)
        nodes = spark.createDataFrame(
            [("A:1", "A", {{"k": "v"}})],
            "node_id string, node_type string, properties map<string,string>",
        )
        edges = spark.createDataFrame([("A:1", "A:1", "SELF")], "src string, dst string, rel_type string")
        closed, collected, kept = (
            GraphQueryResolver(nodes.filter(f"node_id != '{{i}}'"), edges) for i in range(3)
        )
        for r in (closed, collected, kept):
            assert r.node("A:1")["label"] == "A"
        spark.stop()
        closed.close()
        del collected
        print("released", flush=True)
        """
    )
    path = os.path.join(str(tmp_path), "release.py")
    with open(path, "w") as f:
        f.write(script)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    out = subprocess.run(
        [sys.executable, path], env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0 and "released" in out.stdout, out.stderr[-3000:]
    assert "Exception ignored" not in out.stderr, out.stderr[-3000:]
    assert "NullPointerException" not in out.stderr, out.stderr[-3000:]
