"""YAML rule loading — the reference's primary UX.

The reference configures its whole transformation in a YAML file with a
``transform_rules:`` list (``config/config.yml:156-520``), loaded and
validated by ``internal/domain/repositories/configrule/
config_rule_repository.go``. Each rule is either

- ``rule_type: node`` — ``source: {type: query|table, value: ...}``,
  ``target_type``, ``field_mappings: {source_col: property}`` (the
  property named ``id`` keys the node), or
- ``rule_type: relationship`` — ``relationship_type``, ``direction``,
  ``source_node``/``target_node`` ``{type, key, target_field}``,
  optional ``properties: {source_col: property}``.

This module parses that exact shape into the Spark-first rule model
(``plans/rules.py``); "running" the rules is still compiling them to
DataFrame plans via ``plans/graph_builder`` — never per-row callbacks.
``source.type: query`` maps naturally onto Spark SQL: the query runs
against registered temp views, so Catalyst plans (and optimizes) the
reference's hand-written extraction SQL too.

Extensions over the reference shape (optional keys, documented here so
YAML files stay portable): ``where`` (P4 predicate pushed into the
scan) and ``priority``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import yaml

from pyspark.sql import DataFrame, SparkSession

from sql_graph_visualizer_spark.plans.rules import NodeMapping, NodeRule, RelationshipRule


@dataclass
class RuleSet:
    """Parsed transform_rules; ``query_sources`` maps a synthetic source
    name (= the rule name) to the extraction SQL for query-type rules."""

    node_rules: list[NodeRule] = field(default_factory=list)
    relationship_rules: list[RelationshipRule] = field(default_factory=list)
    query_sources: dict[str, str] = field(default_factory=dict)


def _source_name(rule: dict, rules: RuleSet) -> str:
    """table-type sources keep the table name; query-type sources get a
    synthetic name (the rule name) and their SQL is recorded."""
    src = rule.get("source")
    if src is None:
        raise ValueError(f"rule {rule.get('name')!r}: missing source")
    if isinstance(src, str):  # shorthand: source: <table>
        return src
    if src.get("type") == "table":
        return str(src["value"])
    if src.get("type") == "query":
        name = str(rule["name"])
        rules.query_sources[name] = str(src["value"])
        return name
    raise ValueError(f"rule {rule.get('name')!r}: unsupported source.type {src.get('type')!r}")


def parse_rules(text: str) -> RuleSet:
    """Parse a YAML document with a ``transform_rules`` list (the
    reference's config shape) into the dataclass rule model."""
    doc = yaml.safe_load(text) or {}
    out = RuleSet()
    for i, rule in enumerate(doc.get("transform_rules") or []):
        kind = rule.get("rule_type")
        priority = int(rule.get("priority", i + 1))
        if kind == "node":
            mappings = dict(rule.get("field_mappings") or {})
            # the property named `id` keys the node (the reference keys
            # GraphNode.ID on the mapped `id` property)
            id_col = next((src for src, prop in mappings.items() if prop == "id"), "id")
            props = {src: prop for src, prop in mappings.items() if prop != "id"}
            out.node_rules.append(
                NodeRule(
                    name=str(rule["name"]),
                    source=_source_name(rule, out),
                    target_type=str(rule["target_type"]),
                    field_mappings=props,
                    id_col=id_col,
                    where=rule.get("where"),
                    priority=priority,
                )
            )
        elif kind == "relationship":
            sn, tn = rule["source_node"], rule["target_node"]
            out.relationship_rules.append(
                RelationshipRule(
                    name=str(rule["name"]),
                    source=_source_name(rule, out),
                    relation_type=str(rule.get("relationship_type") or rule["relation_type"]),
                    source_node=NodeMapping(
                        str(sn["type"]), str(sn["key"]), str(sn.get("target_field", "id"))
                    ),
                    target_node=NodeMapping(
                        str(tn["type"]), str(tn["key"]), str(tn.get("target_field", "id"))
                    ),
                    direction=str(rule.get("direction", "outgoing")),
                    properties=dict(rule.get("properties") or {}),
                    where=rule.get("where"),
                    priority=priority,
                )
            )
        else:
            raise ValueError(f"rule {rule.get('name')!r}: unknown rule_type {kind!r}")
    return out


def resolve_sources(
    spark: SparkSession, ruleset: RuleSet, tables: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Source name → DataFrame for every rule: plain tables pass through;
    query-type sources run as Spark SQL over the given tables (registered
    as temp views) — Catalyst optimizes the extraction SQL together with
    the downstream rule plan."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    out: dict[str, DataFrame] = dict(tables)
    for name, sql in ruleset.query_sources.items():
        out[name] = spark.sql(sql)
    return out
