"""LWW compaction semantics (reference: AddNode overwrite,
graph_aggregate.go:46-59; oracle per FIXTURES.md §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sql_graph_visualizer_spark.operators.compaction import compact_lww, final_state
from sql_graph_visualizer_spark.operators.skew import compact_lww_salted
from sql_graph_visualizer_spark.sources.cdc_gen import gen_cdc_log

COLS = ["seq", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "schema_ver"]


def _mk(spark, rows):
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        "seq long, op string, conv_id string, turn_idx int, role string, text string",
    )


def test_last_writer_wins(spark):
    df = _mk(
        spark,
        [
            (1, "insert", "c1", 0, "user", "v1"),
            (3, "update", "c1", 0, "user", "v3"),
            (2, "update", "c1", 0, "user", "v2"),
            (5, "insert", "c2", 0, "user", "other"),
        ],
    )
    out = {(r.conv_id, r.turn_idx): r.text for r in compact_lww(df).collect()}
    assert out == {("c1", 0): "v3", ("c2", 0): "other"}


def test_delete_then_reinsert_within_batch(spark):
    df = _mk(
        spark,
        [
            (1, "insert", "c1", 0, "user", "v1"),
            (2, "delete", "c1", 0, None, None),
            (3, "insert", "c1", 0, "user", "v3"),
            (4, "insert", "c1", 1, "user", "x"),
            (5, "delete", "c1", 1, None, None),
        ],
    )
    fin = final_state(df, payload_cols=("role", "text"))
    rows = {(r.conv_id, r.turn_idx): r.text for r in fin.collect()}
    # key (c1,0): delete superseded by later insert; key (c1,1): deleted
    assert rows == {("c1", 0): "v3"}


def test_compaction_is_one_row_per_key(spark):
    log = gen_cdc_log(spark, 5000, num_convs=20, turns_per_conv=10)
    c = compact_lww(log)
    assert c.count() == c.select("conv_id", "turn_idx").distinct().count()


def test_salted_compaction_equals_plain(spark):
    log = gen_cdc_log(spark, 5000, num_convs=10, turns_per_conv=5, skew_exponent=4.0)
    plain = compact_lww(log).orderBy("conv_id", "turn_idx")
    salted = compact_lww_salted(log, hot_threshold=50, salt_factor=8).orderBy(
        "conv_id", "turn_idx"
    )
    assert plain.collect() == salted.collect()


def test_final_state_matches_pandas_oracle(spark):
    log = gen_cdc_log(spark, 3000, num_convs=15, turns_per_conv=8)
    pdf = log.toPandas().sort_values("seq")
    last = pdf.groupby(["conv_id", "turn_idx"]).tail(1)
    expected = {
        (r.conv_id, r.turn_idx): r.text for r in last.itertuples() if r.op != "delete"
    }
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in final_state(log, payload_cols=("text",)).collect()
    }
    assert got == expected


def test_generator_is_deterministic_across_partitionings(spark):
    a = gen_cdc_log(spark, 2000, num_convs=10, num_partitions=2)
    b = gen_cdc_log(spark, 2000, num_convs=10, num_partitions=7)
    assert a.orderBy("seq").collect() == b.orderBy("seq").collect()
    # skew exists: hottest conversation dominates
    top = (
        a.groupBy("conv_id").count().orderBy(F.desc("count")).limit(1).collect()[0]["count"]
    )
    assert top > 2000 / 10  # above uniform share


TIED = [(5, "update", "c", 0, "user", "A"), (5, "update", "c", 0, "user", "B")]


def _tied(spark, order):
    # one partition, rows in the given order: the arrival order is fixed
    return _mk(spark, order).coalesce(1)


def test_tie_winner_does_not_depend_on_arrival_order(spark):
    """Two different rows at one (key, seq) resolve by content, not by
    which one a task happens to see first."""
    winners = {
        compact_lww(_tied(spark, order)).collect()[0].text for order in (TIED, TIED[::-1])
    }
    assert winners == {"B"}


def test_routed_tie_winner_does_not_depend_on_arrival_order(spark):
    winners = set()
    for order in (TIED, TIED[::-1]):
        routed = _tied(spark, order).withColumn("__b", F.lit(0))
        out = compact_lww(routed, route_cols=("__b",)).collect()
        assert len(out) == 1
        winners.add(out[0].text)
    assert winners == {"B"}


def test_tie_on_first_order_col_resolves_by_the_next(spark):
    """``order_cols`` is a tuple: a tie on seq goes to the greater
    second column before any payload column is looked at."""
    rows = _mk(spark, TIED).withColumn("src", F.when(F.col("text") == "A", 1).otherwise(0))
    out = compact_lww(rows, order_cols=("seq", "src")).collect()
    assert [r.text for r in out] == ["A"]


def test_routed_form_adds_no_exchange(spark):
    """The MERGE's compact+write shape: rows hash-partitioned on a
    routing column, then the routed fold — exactly one Exchange."""
    log = gen_cdc_log(spark, 500, num_convs=5, turns_per_conv=5)
    routed = log.withColumn("__p", F.pmod(F.hash("conv_id"), F.lit(4))).repartition(4, "__p")
    plan = (
        compact_lww(routed, route_cols=("__p",))._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert "SortAggregate" not in plan
