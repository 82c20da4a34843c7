"""MCP server over the Spark analytics engine — stdlib-only transport layer.

The reference exposes its four tools + prompt through FastMCP and dispatches
stdio/http/sse (reference mcp_clickhouse/mcp_server.py:71-76, :596-616;
main.py:10-17).  FastMCP is not available in this environment, so this module
implements the MCP wire protocol directly from the public spec:

  - JSON-RPC 2.0 messages: ``initialize``, ``ping``, ``tools/list``,
    ``tools/call``, ``prompts/list``, ``prompts/get``;
  - stdio transport: one JSON-RPC message per line on stdin/stdout;
  - HTTP transport: POST /mcp (JSON-RPC request → JSON response) plus the
    reference's GET /health endpoint (reference mcp_server.py:74-103);
  - SSE transport: GET /sse opens an event stream announcing the message
    endpoint; POST /messages?session=… delivers requests whose responses are
    pushed onto the stream.

Registered tools mirror the reference set (mcp_server.py:596-616):
``list_databases``, ``list_tables``, ``run_select_query`` (engine-path error
contract: raises → JSON-RPC tool error), ``run_chdb_select_query``-analog
``run_embedded_select_query`` (embedded-path contract: errors return
``{"status": "error"}`` payloads), and the initial prompt.
"""

from __future__ import annotations

import json
import logging
import queue
import sys
import threading
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from mcp_clickhouse_spark import tools as t
from mcp_clickhouse_spark.config import get_engine_config
from mcp_clickhouse_spark.prompt import INITIAL_PROMPT

logger = logging.getLogger("mcp-clickhouse-spark")

SERVER_NAME = "mcp-clickhouse-spark"
SERVER_VERSION = "0.2.0"
PROTOCOL_VERSION = "2025-06-18"

_LIKE_PARAM = {
    "anyOf": [
        {"type": "string"},
        {"type": "array", "items": {"type": "string"}},
        {"type": "null"},
    ],
    "default": None,
}


@dataclass
class ToolSpec:
    name: str
    description: str
    input_schema: dict
    fn: Callable[..., Any]


@dataclass
class PromptSpec:
    name: str
    description: str
    text: str


class MCPSparkServer:
    """Protocol core: a registry of tools/prompts plus a JSON-RPC dispatcher.

    Transport-agnostic — stdio/http/sse all funnel dicts through
    :meth:`handle_message`, and tests drive it in-memory the same way the
    reference's e2e suite drives an in-memory ``fastmcp.Client``
    (reference tests/test_mcp_server.py:95-96).
    """

    def __init__(self, spark=None) -> None:
        self._spark = spark
        self._spark_lock = threading.Lock()
        self.tools: dict[str, ToolSpec] = {}
        self.prompts: dict[str, PromptSpec] = {}
        self._register_defaults()

    # -- engine session -----------------------------------------------------

    def spark(self):
        """Lazily build the long-lived session from config (the analog of the
        reference's module-level client singletons, mcp_server.py:578-605)."""
        with self._spark_lock:
            if self._spark is None:
                from mcp_clickhouse_spark.session import get_spark, register_testdata

                cfg = get_engine_config()
                self._spark = get_spark(app_name=SERVER_NAME, **cfg.get_session_config())
                register_testdata(self._spark, cfg.warehouse)
            return self._spark

    # -- registry -----------------------------------------------------------

    def add_tool(self, spec: ToolSpec) -> None:
        self.tools[spec.name] = spec

    def add_prompt(self, spec: PromptSpec) -> None:
        self.prompts[spec.name] = spec

    def _register_defaults(self) -> None:
        if not get_engine_config().enabled:  # mirrors CLICKHOUSE_ENABLED gating
            return
        self.add_tool(
            ToolSpec(
                name="list_databases",
                description="List available databases, with optional LIKE / NOT LIKE filters.",
                input_schema={
                    "type": "object",
                    "properties": {"like": _LIKE_PARAM, "not_like": _LIKE_PARAM},
                },
                fn=lambda like=None, not_like=None: t.list_databases(
                    self.spark(), like=like, not_like=not_like
                ),
            )
        )
        self.add_tool(
            ToolSpec(
                name="list_tables",
                description=(
                    "List tables in a database with column metadata; paginated "
                    "via single-use page tokens."
                ),
                input_schema={
                    "type": "object",
                    "properties": {
                        "database": {"type": "string", "default": "default"},
                        "like": _LIKE_PARAM,
                        "not_like": _LIKE_PARAM,
                        "page_token": {"type": ["string", "null"], "default": None},
                        "page_size": {"type": "integer", "default": 50},
                        "include_detailed_columns": {"type": "boolean", "default": True},
                    },
                },
                fn=lambda **kw: t.list_tables(self.spark(), **kw),
            )
        )
        self.add_tool(
            ToolSpec(
                name="run_select_query",
                description=(
                    "Run a read-only SELECT (Spark SQL, or ClickHouse dialect "
                    "with dialect='clickhouse'). Errors raise a tool error."
                ),
                input_schema={
                    "type": "object",
                    "properties": {
                        "query": {"type": "string"},
                        "dialect": {
                            "type": "string",
                            "enum": ["spark", "clickhouse"],
                            "default": "spark",
                        },
                    },
                    "required": ["query"],
                },
                fn=lambda query, dialect="spark": t.run_select_query(
                    self.spark(), query, dialect=dialect
                ),
            )
        )
        self.add_tool(
            ToolSpec(
                name="run_embedded_select_query",
                description=(
                    "Run a read-only SELECT on the embedded engine; errors are "
                    "returned as {'status': 'error'} payloads, never raised."
                ),
                input_schema={
                    "type": "object",
                    "properties": {
                        "query": {"type": "string"},
                        "dialect": {
                            "type": "string",
                            "enum": ["spark", "clickhouse"],
                            "default": "spark",
                        },
                    },
                    "required": ["query"],
                },
                fn=lambda query, dialect="spark": t.run_embedded_select_query(
                    self.spark(), query, dialect=dialect
                ),
            )
        )
        self.add_prompt(
            PromptSpec(
                name="spark_initial_prompt",
                description=(
                    "This prompt helps users understand how to interact and "
                    "perform common operations in the Spark analytics engine"
                ),
                text=INITIAL_PROMPT,
            )
        )

    # -- JSON-RPC dispatch ---------------------------------------------------

    def handle_message(self, msg: dict) -> dict | None:
        """One JSON-RPC message in, one response dict out (None for
        notifications)."""
        if not isinstance(msg, dict) or msg.get("jsonrpc") != "2.0":
            return _err(None, -32600, "invalid request")
        method = msg.get("method")
        msg_id = msg.get("id")
        if method is None:
            return _err(msg_id, -32600, "missing method")
        if msg_id is None:  # notification — no response on the wire
            return None
        params = msg.get("params") or {}
        try:
            if method == "initialize":
                return _ok(
                    msg_id,
                    {
                        "protocolVersion": PROTOCOL_VERSION,
                        "capabilities": {
                            "tools": {"listChanged": False},
                            "prompts": {"listChanged": False},
                        },
                        "serverInfo": {"name": SERVER_NAME, "version": SERVER_VERSION},
                    },
                )
            if method == "ping":
                return _ok(msg_id, {})
            if method == "tools/list":
                return _ok(
                    msg_id,
                    {
                        "tools": [
                            {
                                "name": s.name,
                                "description": s.description,
                                "inputSchema": s.input_schema,
                            }
                            for s in self.tools.values()
                        ]
                    },
                )
            if method == "tools/call":
                return self._call_tool(msg_id, params)
            if method == "prompts/list":
                return _ok(
                    msg_id,
                    {
                        "prompts": [
                            {"name": p.name, "description": p.description, "arguments": []}
                            for p in self.prompts.values()
                        ]
                    },
                )
            if method == "prompts/get":
                p = self.prompts.get(params.get("name", ""))
                if p is None:
                    return _err(msg_id, -32602, f"unknown prompt: {params.get('name')}")
                return _ok(
                    msg_id,
                    {
                        "description": p.description,
                        "messages": [
                            {
                                "role": "user",
                                "content": {"type": "text", "text": p.text},
                            }
                        ],
                    },
                )
            return _err(msg_id, -32601, f"method not found: {method}")
        except Exception as e:  # noqa: BLE001 — protocol boundary
            logger.exception("handler error for %s", method)
            return _err(msg_id, -32603, f"internal error: {e}")

    def _call_tool(self, msg_id, params: dict) -> dict:
        name = params.get("name")
        spec = self.tools.get(name or "")
        if spec is None:
            return _err(msg_id, -32602, f"unknown tool: {name}")
        args = params.get("arguments") or {}
        try:
            result = spec.fn(**args)
        except TypeError as e:
            # bad/missing arguments → invalid params, not a tool crash
            return _err(msg_id, -32602, f"invalid arguments for {name}: {e}")
        except Exception as e:  # noqa: BLE001 — tool error → isError content
            return _ok(
                msg_id,
                {
                    "content": [{"type": "text", "text": str(e)}],
                    "isError": True,
                },
            )
        return _ok(
            msg_id,
            {
                "content": [{"type": "text", "text": json.dumps(result, default=str)}],
                "isError": False,
            },
        )


def _ok(msg_id, result: dict) -> dict:
    return {"jsonrpc": "2.0", "id": msg_id, "result": result}


def _err(msg_id, code: int, message: str) -> dict:
    return {"jsonrpc": "2.0", "id": msg_id, "error": {"code": code, "message": message}}


# --- stdio transport ---------------------------------------------------------


def run_stdio(server: MCPSparkServer) -> None:
    """Newline-delimited JSON-RPC over stdin/stdout (MCP stdio framing)."""
    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        try:
            msg = json.loads(line)
        except json.JSONDecodeError:
            sys.stdout.write(json.dumps(_err(None, -32700, "parse error")) + "\n")
            sys.stdout.flush()
            continue
        resp = server.handle_message(msg)
        if resp is not None:
            sys.stdout.write(json.dumps(resp) + "\n")
            sys.stdout.flush()


# --- http + sse transports ---------------------------------------------------


def _health_text(server: MCPSparkServer) -> tuple[int, str]:
    """GET /health body (reference mcp_server.py:74-103)."""
    if not get_engine_config().enabled:
        return 503, "ERROR - Spark engine is disabled. It must be enabled."
    res = t.health_check(server.spark())
    return res["status"], res["message"]


def make_http_server(server: MCPSparkServer, host: str, port: int):
    """Build (not start) an http.server exposing POST /mcp, GET /health, and
    the SSE endpoints.  Returned object is a ThreadingHTTPServer; callers run
    ``serve_forever()`` (main) or a daemon thread (tests)."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    sse_sessions: dict[str, queue.Queue] = {}

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        # _send writes headers and body as two sends; with Nagle on, the body
        # of every keep-alive reply waits for the client's delayed ACK
        # (~40 ms: a `SELECT 1` tool call took 81 ms, 35 ms with TCP_NODELAY).
        disable_nagle_algorithm = True

        def log_message(self, fmt, *args):  # quiet: route to logger, not stderr
            logger.debug("http: " + fmt, *args)

        def _send(self, status: int, body: bytes, ctype: str) -> None:
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/health":
                status, text = _health_text(server)
                self._send(status, text.encode(), "text/plain")
            elif self.path == "/sse":
                session_id = uuid.uuid4().hex
                q: queue.Queue = queue.Queue()
                sse_sessions[session_id] = q
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                endpoint = f"/messages?session={session_id}"
                self.wfile.write(
                    f"event: endpoint\ndata: {endpoint}\n\n".encode()
                )
                self.wfile.flush()
                try:
                    while True:
                        resp = q.get()
                        if resp is None:
                            break
                        data = json.dumps(resp)
                        self.wfile.write(f"event: message\ndata: {data}\n\n".encode())
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass
                finally:
                    sse_sessions.pop(session_id, None)
            else:
                self._send(404, b"not found", "text/plain")

        def do_POST(self):
            length = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(length)
            try:
                msg = json.loads(raw)
            except json.JSONDecodeError:
                body = json.dumps(_err(None, -32700, "parse error")).encode()
                self._send(400, body, "application/json")
                return
            if self.path.startswith("/messages"):
                # SSE delivery: ack the POST, push the response on the stream.
                session_id = ""
                if "session=" in self.path:
                    session_id = self.path.split("session=", 1)[1].split("&", 1)[0]
                q = sse_sessions.get(session_id)
                if q is None:
                    self._send(404, b"unknown session", "text/plain")
                    return
                resp = server.handle_message(msg)
                if resp is not None:
                    q.put(resp)
                self._send(202, b"accepted", "text/plain")
                return
            resp = server.handle_message(msg)
            if resp is None:  # notification
                self._send(202, b"", "application/json")
                return
            self._send(200, json.dumps(resp).encode(), "application/json")

    return ThreadingHTTPServer((host, port), Handler)


def run_http(server: MCPSparkServer, host: str, port: int) -> None:
    httpd = make_http_server(server, host, port)
    logger.info("MCP http/sse server listening on %s:%s", host, port)
    httpd.serve_forever()
