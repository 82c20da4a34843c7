"""In-memory e2e tests for the MCP protocol layer.

Mirrors the reference's e2e strategy (reference tests/test_mcp_server.py:
91-377 drives tools through an in-memory fastmcp.Client): here every message
goes through ``MCPSparkServer.handle_message`` — the same entry point all
three transports funnel into — plus an HTTP/SSE smoke on an ephemeral port.

Covers: initialize/ping, tools/list, exact rows through tools/call, BOTH
error contracts (engine path raises → isError content; embedded path returns
{"status": "error"} payloads), unknown tool/prompt, invalid arguments,
pagination token walk, prompts, 4-way thread concurrency, TCP_NODELAY on
the HTTP socket, GET /health, POST /mcp, and the SSE endpoint handshake.
"""

from __future__ import annotations

import json
import queue
import socket
import threading
import urllib.request

import pytest

from mcp_clickhouse_spark.mcp_server import (
    MCPSparkServer,
    make_http_server,
)

_NEXT_ID = iter(range(1, 10_000))


def rpc(method: str, params: dict | None = None, msg_id=None) -> dict:
    return {
        "jsonrpc": "2.0",
        "id": next(_NEXT_ID) if msg_id is None else msg_id,
        "method": method,
        **({"params": params} if params is not None else {}),
    }


def call_tool(server: MCPSparkServer, name: str, arguments: dict) -> dict:
    """tools/call → parsed result dict {content, isError}."""
    resp = server.handle_message(
        rpc("tools/call", {"name": name, "arguments": arguments})
    )
    assert "result" in resp, resp
    return resp["result"]


def tool_payload(result: dict):
    """Decode the JSON body of a non-error tool result."""
    assert result["isError"] is False, result
    return json.loads(result["content"][0]["text"])


@pytest.fixture(scope="module")
def server(spark, users, events_ref):
    """Server wired to the shared test session (tempviews = the catalog)."""
    return MCPSparkServer(spark=spark)


# --- protocol lifecycle ------------------------------------------------------


def test_initialize_handshake(server):
    resp = server.handle_message(rpc("initialize", {}))
    res = resp["result"]
    assert res["serverInfo"]["name"] == "mcp-clickhouse-spark"
    assert "tools" in res["capabilities"]
    assert res["protocolVersion"]


def test_ping(server):
    assert server.handle_message(rpc("ping"))["result"] == {}


def test_notification_gets_no_response(server):
    msg = {"jsonrpc": "2.0", "method": "notifications/initialized"}
    assert server.handle_message(msg) is None


def test_invalid_jsonrpc_rejected(server):
    resp = server.handle_message({"method": "tools/list"})  # no jsonrpc field
    assert resp["error"]["code"] == -32600


def test_unknown_method(server):
    resp = server.handle_message(rpc("definitely/not_a_method"))
    assert resp["error"]["code"] == -32601


# --- tools/list + tools/call -------------------------------------------------


def test_tools_list_has_reference_set(server):
    resp = server.handle_message(rpc("tools/list"))
    names = {t["name"] for t in resp["result"]["tools"]}
    assert {
        "list_databases",
        "list_tables",
        "run_select_query",
        "run_embedded_select_query",
    } <= names
    for t in resp["result"]["tools"]:
        assert t["description"]
        assert t["inputSchema"]["type"] == "object"


def test_call_list_databases(server):
    dbs = tool_payload(call_tool(server, "list_databases", {}))
    assert "default" in dbs


def test_call_run_select_query_exact_rows(server):
    """Reference test_mcp_server.py:190-212 — exact ordered rows through the
    full serialization path."""
    res = call_tool(
        server,
        "run_select_query",
        {"query": "SELECT id, name, age FROM users ORDER BY id"},
    )
    payload = tool_payload(res)
    assert payload["columns"] == ["id", "name", "age"]
    assert payload["rows"] == [
        [1, "Alice", 30],
        [2, "Bob", 25],
        [3, "Charlie", 35],
        [4, "Diana", 28],
    ]


def test_call_run_select_query_aggregation(server):
    payload = tool_payload(
        call_tool(
            server,
            "run_select_query",
            {"query": "SELECT COUNT(*) AS n, AVG(age) AS avg_age FROM users"},
        )
    )
    assert payload["rows"] == [[4, 29.5]]


def test_call_clickhouse_dialect(server):
    """dialect='clickhouse' translates CH functions before execution."""
    payload = tool_payload(
        call_tool(
            server,
            "run_select_query",
            {
                "query": "SELECT ucase(name) AS un FROM users WHERE id = 1",
                "dialect": "clickhouse",
            },
        )
    )
    assert payload["rows"] == [["ALICE"]]


# --- the two error contracts -------------------------------------------------


def test_engine_path_error_is_tool_error(server):
    """Engine path (run_select_query): failures surface as isError content —
    the MCP rendering of the reference's raised ToolError."""
    res = call_tool(
        server, "run_select_query", {"query": "SELECT * FROM no_such_table_xyz"}
    )
    assert res["isError"] is True
    assert "Query execution failed" in res["content"][0]["text"]


def test_embedded_path_error_is_status_payload(server):
    """Embedded path: errors come back as {"status": "error"} with
    isError=False — the reference's chDB contract (asymmetric by design)."""
    res = call_tool(
        server,
        "run_embedded_select_query",
        {"query": "SELECT * FROM no_such_table_xyz"},
    )
    assert res["isError"] is False
    payload = tool_payload(res)
    assert payload["status"] == "error"
    assert payload["message"]


def test_readonly_rejected_on_both_paths(server):
    engine = call_tool(server, "run_select_query", {"query": "DROP TABLE users"})
    assert engine["isError"] is True
    embedded = call_tool(
        server, "run_embedded_select_query", {"query": "DROP TABLE users"}
    )
    assert tool_payload(embedded)["status"] == "error"


def test_unknown_tool(server):
    resp = server.handle_message(
        rpc("tools/call", {"name": "no_such_tool", "arguments": {}})
    )
    assert resp["error"]["code"] == -32602


def test_invalid_arguments(server):
    """Missing required arg → invalid-params error, not a tool crash."""
    resp = server.handle_message(
        rpc("tools/call", {"name": "run_select_query", "arguments": {}})
    )
    assert resp["error"]["code"] == -32602


# --- pagination token walk ---------------------------------------------------


def test_list_tables_pagination_walk(server):
    """Walk ALL pages via single-use tokens through the protocol layer."""
    seen: list[str] = []
    token = None
    for _ in range(50):  # hard stop — token walk must terminate
        args = {"database": "default", "page_size": 1}
        if token:
            args["page_token"] = token
        payload = tool_payload(call_tool(server, "list_tables", args))
        seen += [t["name"] for t in payload["tables"]]
        token = payload.get("next_page_token")
        if not token:
            break
    assert "users" in seen and "events_ref" in seen
    assert len(seen) == len(set(seen))  # no page served twice


# --- prompts -----------------------------------------------------------------


def test_prompts_list_and_get(server):
    listing = server.handle_message(rpc("prompts/list"))["result"]["prompts"]
    assert listing and listing[0]["name"] == "spark_initial_prompt"
    got = server.handle_message(
        rpc("prompts/get", {"name": "spark_initial_prompt"})
    )["result"]
    text = got["messages"][0]["content"]["text"]
    assert "run_select_query" in text


def test_unknown_prompt(server):
    resp = server.handle_message(rpc("prompts/get", {"name": "nope"}))
    assert resp["error"]["code"] == -32602


# --- concurrency (reference test_mcp_server.py: 4-way) -----------------------


def test_concurrent_tool_calls(server):
    results: dict[int, dict] = {}

    def worker(i: int) -> None:
        results[i] = call_tool(
            server,
            "run_select_query",
            {"query": f"SELECT {i} AS tag, COUNT(*) AS n FROM users"},
        )

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    for i in range(4):
        assert tool_payload(results[i])["rows"] == [[i, 4]]


# --- http + sse transports on an ephemeral port ------------------------------


@pytest.fixture(scope="module")
def http_base(server):
    httpd = make_http_server(server, "127.0.0.1", 0)  # ephemeral port
    port = httpd.server_address[1]
    th = threading.Thread(target=httpd.serve_forever, daemon=True)
    th.start()
    yield f"http://127.0.0.1:{port}"
    httpd.shutdown()


def test_http_socket_has_nagle_off(server):
    """The accepted socket carries TCP_NODELAY: a reply goes out as two
    sends (headers, then body), and with Nagle on the body would wait for
    the client's delayed ACK on every keep-alive call."""
    httpd = make_http_server(server, "127.0.0.1", 0)
    seen: queue.Queue = queue.Queue()
    finish = httpd.finish_request

    def spy(request, client_address):
        finish(request, client_address)
        seen.put(request.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))

    httpd.finish_request = spy
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{httpd.server_address[1]}/health"
        with urllib.request.urlopen(url, timeout=30) as resp:
            resp.read()
        assert seen.get(timeout=30) != 0
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_http_health(http_base):
    with urllib.request.urlopen(f"{http_base}/health", timeout=30) as resp:
        body = resp.read().decode()
        assert resp.status == 200
        assert "Connected to Spark" in body


def test_http_post_mcp_roundtrip(http_base):
    req = urllib.request.Request(
        f"{http_base}/mcp",
        data=json.dumps(
            rpc("tools/call", {
                "name": "run_select_query",
                "arguments": {"query": "SELECT 41 + 1 AS answer"},
            })
        ).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        body = json.loads(resp.read())
    assert json.loads(body["result"]["content"][0]["text"])["rows"] == [[42]]


def test_http_parse_error(http_base):
    req = urllib.request.Request(
        f"{http_base}/mcp", data=b"{not json", headers={"Content-Type": "application/json"}
    )
    try:
        urllib.request.urlopen(req, timeout=30)
        raised = False
    except urllib.error.HTTPError as e:
        raised = True
        assert e.code == 400
        assert json.loads(e.read())["error"]["code"] == -32700
    assert raised


def test_sse_handshake_and_message(http_base):
    """GET /sse announces the message endpoint; a POST there is answered on
    the stream."""
    sse = urllib.request.urlopen(f"{http_base}/sse", timeout=30)
    # handshake: "event: endpoint" + "data: /messages?session=..."
    assert sse.readline().decode().strip() == "event: endpoint"
    endpoint = sse.readline().decode().strip().removeprefix("data: ")
    assert endpoint.startswith("/messages?session=")
    sse.readline()  # blank separator
    post = urllib.request.Request(
        f"{http_base}{endpoint}",
        data=json.dumps(rpc("ping", msg_id=777)).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(post, timeout=30) as ack:
        assert ack.status == 202
    assert sse.readline().decode().strip() == "event: message"
    payload = json.loads(sse.readline().decode().strip().removeprefix("data: "))
    assert payload["id"] == 777 and payload["result"] == {}
    sse.close()


def test_call_run_select_query_table_function(server):
    """SQL table functions work through the full MCP serialization path:
    numbers() binds inside the server-held session."""
    res = call_tool(
        server,
        "run_select_query",
        {"query": "SELECT SUM(number) AS s, COUNT(*) AS n FROM numbers(100)"},
    )
    payload = tool_payload(res)
    assert payload["columns"] == ["s", "n"]
    assert payload["rows"] == [[4950, 100]]
