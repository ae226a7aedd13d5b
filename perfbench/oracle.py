"""DuckDB recomputations over the generated change files.

Every check the benchmark makes compares the engine against these
queries, which read the same gzip JSON-lines files the engine read:

- the live state is last-writer-wins per ``(conv_id, turn_idx)``: the
  event with the highest ``seq`` wins and a winning delete removes the
  row;
- HAS_TURN / USES_TOOL edges and the Conversation / Turn / Tool nodes
  are derived from that state the way the engine's rules define them.

Sets are compared by row count plus an order-independent digest: two
sums of 60-bit slices of each row's md5. ``digest_expr`` builds the
matching Spark expression.
"""

from __future__ import annotations

import json

import duckdb

# the engine's CDC_JSON_SCHEMA; ts stays text (the generator writes it in
# the canonical "YYYY-MM-DD HH:MM:SS" form the digests use)
_COLUMNS = (
    "{seq: 'BIGINT', op: 'VARCHAR', conv_id: 'VARCHAR', turn_idx: 'INTEGER', "
    "role: 'VARCHAR', text: 'VARCHAR', tool: 'VARCHAR', ts: 'VARCHAR', schema_ver: 'INTEGER'}"
)
NULL_TOKEN = "\\N"
SEP = "\x1f"
STATE_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
EDGE_COLS = ("src", "dst", "rel_type")


def _row_text(cols: tuple[str, ...]) -> str:
    parts = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '{NULL_TOKEN}')" for c in cols)
    return f"concat_ws(chr(31), {parts})"


def _digest_sql(rel: str, cols: tuple[str, ...]) -> str:
    h = f"md5({_row_text(cols)})"
    return (
        f"SELECT count(*) AS n, "
        f"coalesce(sum(('0x' || substr({h}, 1, 15))::UBIGINT::HUGEINT), 0) AS h1, "
        f"coalesce(sum(('0x' || substr({h}, 16, 15))::UBIGINT::HUGEINT), 0) AS h2 "
        f"FROM {rel}"
    )


def digest_expr(df, cols: tuple[str, ...]):
    """The Spark twin of ``_digest_sql``: ``(n, h1, h2)`` of ``df``'s
    ``cols``. Timestamps render as ``yyyy-MM-dd HH:mm:ss`` (UTC session)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def text(c: str):
        col = F.col(c)
        if isinstance(df.schema[c].dataType, T.TimestampType):
            col = F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        return F.coalesce(col.cast("string"), F.lit(NULL_TOKEN))

    h = F.md5(F.concat_ws(SEP, *[text(c) for c in cols]))

    def part(start: int):
        return F.conv(F.substring(h, start, 15), 16, 10).cast("decimal(38,0)")

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(part(1)), F.lit(0)).alias("h1"),
        F.coalesce(F.sum(part(16)), F.lit(0)).alias("h2"),
    ).collect()[0]
    return int(row["n"]), int(row["h1"]), int(row["h2"])


class Oracle:
    """LWW state and derived graph of a prefix of the generated logs."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def load(self, files: list[str]) -> None:
        """Recompute the live state from exactly ``files``."""
        paths = json.dumps(sorted(files)).replace('"', "'")
        self.con.execute(
            f"""
            CREATE OR REPLACE TABLE state AS
            SELECT conv_id, turn_idx, role, text, tool, ts FROM (
              SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY seq DESC) AS rn
              FROM read_json({paths}, format = 'newline_delimited', columns = {_COLUMNS})
            ) WHERE rn = 1 AND op <> 'delete'
            """
        )
        self.con.execute(
            """
            CREATE OR REPLACE TABLE edges AS
            SELECT 'Conversation:' || conv_id AS src, 'Turn:' || conv_id || ':' || turn_idx AS dst,
                   'HAS_TURN' AS rel_type FROM state
            UNION ALL
            SELECT 'Turn:' || conv_id || ':' || turn_idx, 'Tool:' || tool, 'USES_TOOL'
            FROM state WHERE tool IS NOT NULL
            """
        )
        # node id -> label and property map, as plans/transcript_rules builds them
        self.con.execute(
            """
            CREATE OR REPLACE TABLE nodes AS
            SELECT 'Conversation:' || conv_id AS id, 'Conversation' AS label,
                   MAP {'conv_id': conv_id, 'n_turns': count(*)::VARCHAR} AS props
            FROM state GROUP BY conv_id
            UNION ALL
            SELECT 'Turn:' || conv_id || ':' || turn_idx, 'Turn',
                   map_from_entries(list_filter(
                     [{'k': 'conv_id', 'v': conv_id}, {'k': 'turn_idx', 'v': turn_idx::VARCHAR},
                      {'k': 'role', 'v': role}], x -> x.v IS NOT NULL))
            FROM state
            UNION ALL
            SELECT DISTINCT 'Tool:' || tool, 'Tool', MAP {'name': tool}
            FROM state WHERE tool IS NOT NULL
            """
        )

    def state_digest(self) -> tuple[int, int, int]:
        return tuple(int(x) for x in self.con.execute(_digest_sql("state", STATE_COLS)).fetchone())

    def edge_digest(self) -> tuple[int, int, int]:
        return tuple(int(x) for x in self.con.execute(_digest_sql("edges", EDGE_COLS)).fetchone())

    def node(self, node_id: str) -> dict | None:
        row = self.con.execute(
            "SELECT id, label, props FROM nodes WHERE id = ?", [node_id]
        ).fetchone()
        if row is None:
            return None
        props = row[2]
        if set(props) == {"key", "value"}:  # DuckDB hands MAPs over as key/value lists
            props = dict(zip(props["key"], props["value"]))
        return {"id": row[0], "label": row[1], "properties": props}

    def node_ids(self, label: str) -> set[str]:
        return {r[0] for r in self.con.execute("SELECT id FROM nodes WHERE label = ?", [label]).fetchall()}

    def edge_set(self, rel_type: str) -> set[tuple[str, str, str]]:
        return set(
            self.con.execute(
                "SELECT src, dst, rel_type FROM edges WHERE rel_type = ?", [rel_type]
            ).fetchall()
        )

    def search(self, q: str) -> set[str]:
        return {
            r[0]
            for r in self.con.execute(
                "SELECT id FROM nodes WHERE len(list_filter(map_values(props), v -> contains(v, ?))) > 0",
                [q],
            ).fetchall()
        }

    def close(self) -> None:
        self.con.close()
