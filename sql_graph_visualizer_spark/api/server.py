"""HTTP transport for the read API — the reference's GraphQL server
re-expressed over the resolver layer, stdlib-only.

The reference mounts its gqlgen schema at ``/graphql`` plus a
playground page, on a goroutine-managed ``http.Server``
(``internal/application/services/graphql/server.go:44-101``,
``StartGraphQLServer`` at 93-101; wired from ``cmd/main.go:211-213``).
This module is the same wiring for :class:`GraphQueryResolver`
(``api/resolvers.py`` — the Query surface of ``schema.resolvers.go``),
kept deliberately thin:

- ``POST /graphql`` with ``{"query": ..., "variables": ...}`` executes
  the reference's five Query fields — ``graph``, ``nodesByType(type)``,
  ``node(id)``, ``relationshipsByType(type)``, ``searchNodes(query)`` —
  and responds with GraphQL-convention JSON (``{"data": ...}`` /
  ``{"errors": [...]}``, always 200 for well-formed requests).
- Every list field accepts optional ``limit``/``offset`` arguments —
  the point of resolvers that RETURN DataFrames: the server pages with
  ``df.offset(o).limit(n)`` (pushed into the scan) instead of
  materializing the whole graph per request the way the reference's
  ``graph`` resolver does.
- ``GET /playground`` serves a minimal query console (parity with the
  reference's playground mount).
- The operation parser is a minimal field+argument matcher for exactly
  this schema, NOT a general GraphQL implementation — same altitude as
  the engine elsewhere: the data plane is Spark, the wire layer is the
  thinnest honest adapter over it (and the sandbox has no GraphQL or
  web framework to import).

Threading: ``ThreadingHTTPServer`` handles each request on its own
thread; Spark supports concurrent driver-side actions, so resolvers'
``collect()`` calls are safe. ``serve_background()`` mirrors
``StartGraphQLServer``'s goroutine shape and returns the bound port.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from pyspark.sql import DataFrame

from sql_graph_visualizer_spark import __version__
from sql_graph_visualizer_spark.api.resolvers import GraphQueryResolver

_PLAYGROUND = b"""<!doctype html><html><head><title>sql-graph-visualizer playground</title>
</head><body><h3>POST /graphql</h3><pre>{"query": "{ nodesByType(type: \\"Conversation\\", limit: 10) { id label properties } }"}</pre>
</body></html>"""

# one field invocation: name, optional (arg: "value" | $var | int, ...).
# The selection-set group must allow NESTED braces (ADVICE r5: every real
# GraphQL client writes `{ graph { nodes { id } } }`) — selections are
# ignored anyway (each field returns its full wire shape), so a greedy
# any-match bounded by the outer closing brace is exact for one field.
_FIELD_RE = re.compile(
    r"^\s*\{\s*(?P<field>\w+)\s*(?:\(\s*(?P<args>[^)]*)\s*\))?\s*(?P<sel>\{[\s\S]*\})?\s*\}\s*$"
)
_ARG_RE = re.compile(r'(\w+)\s*:\s*("(?:[^"\\]|\\.)*"|\$\w+|\d+)')


def _one_balanced_block(sel: str) -> bool:
    """True iff ``sel`` is exactly ONE balanced ``{...}`` block. The
    greedy selection group above spans to the LAST brace, so a sibling
    field (``{ a { x } b { y } }``) would otherwise be silently
    swallowed into field ``a``'s selection and ``b`` dropped from the
    response (ADVICE r6) — this schema serves one field per operation
    and must refuse loudly, not return partial data with a 200."""
    depth = 0
    for i, ch in enumerate(sel):
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return sel[i + 1:].strip() == ""
    return False


def _parse_operation(query: str, variables: dict[str, Any]) -> tuple[str, dict[str, Any]]:
    """Parse ``{ field(arg: "v", limit: 10) { ... } }`` into
    (field, args). Raises ValueError on anything this schema can't
    serve — surfaced as a GraphQL ``errors`` entry."""
    m = _FIELD_RE.match(query.strip())
    if not m:
        raise ValueError("unsupported operation: expected a single Query field")
    sel = m.group("sel")
    if sel is not None and not _one_balanced_block(sel):
        raise ValueError(
            "unsupported operation: one field per operation (sibling "
            "selection detected)"
        )
    args: dict[str, Any] = {}
    for name, raw in _ARG_RE.findall(m.group("args") or ""):
        if raw.startswith("$"):
            if raw[1:] not in variables:
                raise ValueError(f"variable {raw} not provided")
            args[name] = variables[raw[1:]]
        elif raw.startswith('"'):
            args[name] = json.loads(raw)
        else:
            args[name] = int(raw)
    return m.group("field"), args


_REDACTED = "********"
_SECRET_KEYS = ("password", "secret", "token", "key")


def _redact(obj: Any) -> Any:
    """Deep-copy a config tree with secret-bearing values masked.

    The reference's ``config`` resolver and both ``/config`` REST
    handlers return the Neo4j PASSWORD verbatim to any caller
    (``schema.resolvers.go:179-187``, ``cmd/main.go:354-366``) — a
    credential leak this graft deliberately does NOT mirror: the field
    exists (clients read the URI/username to label their UI) but every
    secret is masked before serialization."""
    if isinstance(obj, dict):
        return {
            k: (_REDACTED if any(s in k.lower() for s in _SECRET_KEYS) and obj[k]
                else _redact(v))
            for k, v in obj.items()
        }
    if isinstance(obj, list):
        return [_redact(v) for v in obj]
    return obj


def _page(df: DataFrame, args: dict[str, Any]) -> list[dict[str, Any]]:
    """Collect a resolver DataFrame with limit/offset pushed into the
    plan (never materialize the full graph per request). Collected
    through Arrow: without adaptive execution, ``collect()`` of a limit
    runs Spark's incremental take, one job per step over more and more
    partitions, where ``toArrow()`` runs the page as one job either way.
    Every resolver column is a string, so the rows are the same."""
    offset = int(args.get("offset", 0))
    if offset:
        df = df.offset(offset)
    return df.limit(int(args.get("limit", 1000))).toArrow().to_pylist()


class GraphQLServer:
    """The reference's ``Server`` (server.go:30-101) over a resolver."""

    def __init__(
        self,
        resolver: GraphQueryResolver,
        host: str = "127.0.0.1",
        port: int = 0,
        config: dict[str, Any] | None = None,
    ):
        self.resolver = resolver
        # the reference's Config model shape ({"neo4j": {"uri", "username",
        # "password"}, "mysql": {...}}); served redacted — see _redact
        self.config = config or {}
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test runs
                pass

            def _respond(self, code: int, body: bytes, ctype: str = "application/json"):
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                # REST twins of the reference's plain-HTTP surface
                # (cmd/main.go: /api/health 249-295, /config 354-374 and
                # 337-352, /api/graph 376-431) alongside the GraphQL mount
                path, _, rawq = self.path.partition("?")
                try:
                    if path == "/playground":
                        self._respond(200, _PLAYGROUND, "text/html")
                    elif path == "/api/health":
                        self._respond(200, json.dumps(outer.health()).encode())
                    elif path == "/config":
                        self._respond(200, json.dumps(_redact(outer.config)).encode())
                    elif path == "/api/graph":
                        args: dict[str, Any] = {}
                        for part in rawq.split("&"):
                            k, _, v = part.partition("=")
                            if k in ("limit", "offset") and v.isdigit():
                                args[k] = int(v)
                        nodes, rels = outer.resolver.graph()
                        self._respond(200, json.dumps({
                            "nodes": _page(nodes, args),
                            "relationships": _page(rels, args),
                        }).encode())
                    else:
                        self._respond(404, b'{"errors":[{"message":"not found"}]}')
                except Exception as ex:  # noqa: BLE001
                    self._respond(
                        500, json.dumps({"errors": [{"message": str(ex)}]}).encode()
                    )

            def do_POST(self):
                if self.path != "/graphql":
                    self._respond(404, b'{"errors":[{"message":"not found"}]}')
                    return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    payload = json.loads(self.rfile.read(n) or b"{}")
                    result = outer.execute(
                        payload.get("query", ""), payload.get("variables") or {}
                    )
                    self._respond(200, json.dumps(result).encode())
                except Exception as ex:  # noqa: BLE001 — GraphQL-style error envelope
                    self._respond(
                        200, json.dumps({"errors": [{"message": str(ex)}]}).encode()
                    )

        self._http = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------ execute

    def execute(self, query: str, variables: dict[str, Any]) -> dict[str, Any]:
        """Execute one Query field (schema.graphqls Query root)."""
        field, args = _parse_operation(query, variables)
        r = self.resolver
        if field == "graph":
            nodes, rels = r.graph()
            return {"data": {"graph": {
                "nodes": _page(nodes, args), "relationships": _page(rels, args),
            }}}
        if field == "nodesByType":
            return {"data": {field: _page(r.nodes_by_type(args["type"]), args)}}
        if field == "node":
            return {"data": {field: r.node(args["id"])}}
        if field == "relationshipsByType":
            return {"data": {field: _page(r.relationships_by_type(args["type"]), args)}}
        if field == "searchNodes":
            return {"data": {field: _page(r.search_nodes(args["query"]), args)}}
        if field == "config":
            # schema.resolvers.go:179-188 — served REDACTED (see _redact)
            return {"data": {field: _redact(self.config)}}
        raise ValueError(f"unknown field {field!r}")

    def health(self) -> dict[str, Any]:
        """``/api/health`` (cmd/main.go:249-295): liveness + backend
        connectivity. The reference pings MySQL and hardcodes Neo4j as
        connected; the graft's backend is the SparkSession the resolver's
        DataFrames hang off — checked without running a job (health must
        stay O(1), never a scan)."""
        import time as _time

        try:
            sc = self.resolver.nodes.sparkSession.sparkContext
            engine = "error: context stopped" if sc._jsc is None else "connected"
        except Exception as ex:  # noqa: BLE001
            engine = f"error: {ex}"
        return {
            "status": "healthy" if engine == "connected" else "degraded",
            "timestamp": _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime()),
            "version": __version__,
            "engine": engine,
        }

    # ------------------------------------------------------- lifecycle

    @property
    def port(self) -> int:
        return self._http.server_address[1]

    def serve_background(self) -> int:
        """Start serving on a daemon thread (StartGraphQLServer's
        goroutine shape, server.go:93-101); returns the bound port."""
        self._thread = threading.Thread(target=self._http.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def stop(self) -> None:
        """server.go:83-90 ``Stop``. ``shutdown()`` waits for the serve
        loop to exit, so it is called only if ``serve_background()``
        started one; otherwise it would wait forever."""
        if self._thread is not None:
            self._http.shutdown()
            self._thread.join(timeout=5)
            self._thread = None
        self._http.server_close()
