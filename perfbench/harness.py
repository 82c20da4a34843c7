"""Server lifecycle, the JSON-RPC client, and answer checking.

Everything the benchmark writes stays under ``.perfbench/`` at the root of
the checkout: the generated warehouse (kept between runs) and one scratch
directory per run (Spark local dirs, the split-layout warehouse, temp
files), removed when the run ends.
"""

from __future__ import annotations

import http.client
import importlib.util
import json
import os
import re
import shutil
import sys
import tempfile
import threading
import time
from dataclasses import dataclass
from decimal import Decimal, InvalidOperation
from pathlib import Path
from typing import Any

ROOT = Path(__file__).resolve().parents[1]
STATE = ROOT / ".perfbench"


class MissingProgram(RuntimeError):
    """The checkout does not hold the program the benchmark drives."""


def require_program() -> None:
    for rel in ("mcp_clickhouse_spark/mcp_server.py", "__spark_entry__.py", "scripts/check_parity.py"):
        if not (ROOT / rel).is_file():
            raise MissingProgram(f"{rel} not found under {ROOT}")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def load_parity_helpers():
    """``canon``, ``rowset`` and ``near`` from scripts/check_parity.py, the
    same comparison the project's oracle-parity gate uses."""
    spec = importlib.util.spec_from_file_location("check_parity", ROOT / "scripts" / "check_parity.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon, mod.rowset, mod.near


def prepare_run_dir() -> Path:
    """Point every temp and scratch location of Spark and Python at a fresh
    per-run directory inside the checkout.  Must run before the JVM starts."""
    run_dir = STATE / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(run_dir / "warehouse")
    # Compiler threads that outlive the phases keep cpu_seconds exact.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UseDynamicNumberOfCompilerThreads"
    )
    tempfile.tempdir = None
    return run_dir


# --- the served session ------------------------------------------------------


@dataclass
class Served:
    server: Any  # mcp_server.MCPSparkServer
    httpd: Any
    thread: threading.Thread
    port: int

    @property
    def spark(self):
        return self.server.spark()


def start_server(warehouse_root: Path) -> tuple[Served, float]:
    """Start the server as it serves, from a cold split-layout warehouse,
    and return it with the set-up time: ``MCPSparkServer()`` through the
    session build, table registration and split rewrite, to the first
    answered ``SELECT 1`` tool call over HTTP."""
    from mcp_clickhouse_spark import mcp_server, session

    # The rewrite cache root is read at import time; each set-up gets an
    # empty one so it always pays the one-time write path.
    warehouse_root.mkdir(parents=True, exist_ok=True)
    session._WAREHOUSE_ROOT = str(warehouse_root)
    session._TABLE_CACHE.clear()
    t0 = time.perf_counter()
    server = mcp_server.MCPSparkServer()
    server.spark()
    httpd = mcp_server.make_http_server(server, "127.0.0.1", 0)
    thread = threading.Thread(target=httpd.serve_forever, name="perfbench-http", daemon=True)
    thread.start()
    served = Served(server, httpd, thread, httpd.server_address[1])
    client = Client(served.port)
    try:
        reply = client.call("run_select_query", {"query": "SELECT 1"})
    finally:
        client.close()
    setup_s = time.perf_counter() - t0
    if reply.is_error or reply.payload != {"columns": ["1"], "rows": [[1]]}:
        stop_http(served)
        raise RuntimeError(f"SELECT 1 answered {reply.payload!r}")
    served.spark.sparkContext.setLogLevel("ERROR")
    return served, setup_s


def stop_http(served: Served) -> None:
    served.httpd.shutdown()
    served.httpd.server_close()
    served.thread.join(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def shutdown_jvm() -> None:
    """Stop the session and the JVM the first ``get_spark`` launched, and
    wait for the JVM process to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits when stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a hung JVM must still go
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _cpu_ticks(stat_path: str) -> int:
    with open(stat_path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime, stime


# JVM threads whose CPU time is left out of ``cpu_seconds``, by the prefix of
# their name as /proc shows it: the JIT compilers ("C1 CompilerThre",
# "C2 CompilerThre") and the garbage collector's workers.
_JVM_SERVICE_THREADS = ("C1 Compiler", "C2 Compiler", "GC Thread", "G1 ")


def cpu_seconds(pids: list[int | None]) -> float:
    """User plus system CPU time of the given processes, threads that have
    already exited included, less the JVM's JIT compiler and garbage
    collector threads, in seconds.

    JIT compilation is warm-up that a long-lived server has finished, and
    how far it has got when a short run measures depends on how busy the
    machine is.  The collector's parallel workers spin while they wait for
    each other, so their CPU time grows with the load other processes put
    on the machine.  Both would make the figure follow the machine rather
    than the program.  These threads live as long as the JVM (compiler
    threads by ``-XX:-UseDynamicNumberOfCompilerThreads``, set in
    ``prepare_run_dir``), so none of their time leaves with them."""
    ticks = 0
    for pid in pids:
        if pid is None:
            continue
        ticks += _cpu_ticks(f"/proc/{pid}/stat")
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(_JVM_SERVICE_THREADS):
                        continue
                ticks -= _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
            except FileNotFoundError:
                continue  # a thread that exited between listing and reading
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, in MiB."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# --- JSON-RPC over HTTP --------------------------------------------------------


@dataclass
class Reply:
    payload: Any
    is_error: bool
    nbytes: int


class Client:
    """One closed-loop MCP client: a keep-alive HTTP connection that sends
    the next ``tools/call`` only after the previous reply is parsed."""

    def __init__(self, port: int) -> None:
        self._conn = http.client.HTTPConnection("127.0.0.1", port, timeout=150)
        self._next_id = 0

    def call(self, tool: str, arguments: dict) -> Reply:
        self._next_id += 1
        body = json.dumps(
            {
                "jsonrpc": "2.0",
                "id": self._next_id,
                "method": "tools/call",
                "params": {"name": tool, "arguments": arguments},
            }
        ).encode()
        self._conn.request("POST", "/mcp", body, {"Content-Type": "application/json"})
        resp = self._conn.getresponse()
        raw = resp.read()
        msg = json.loads(raw)
        if "error" in msg:
            return Reply(msg["error"], True, len(raw))
        result = msg["result"]
        text = result["content"][0]["text"]
        if result.get("isError"):
            return Reply(text, True, len(raw))
        return Reply(json.loads(text), False, len(raw))

    def close(self) -> None:
        self._conn.close()


# --- answer checking -----------------------------------------------------------

_NUMERIC = re.compile(r"^-?\d+(\.\d+)?([eE][-+]?\d+)?$")


def as_wire(value: Any) -> Any:
    """A value as a client sees it after the server's ``json.dumps(...,
    default=str)``, with decimal strings read back as numbers so that
    ``DECIMAL(10,2)`` and ``DECIMAL(12,4)`` renderings of one value agree."""
    value = json.loads(json.dumps(value, default=str))
    return _numbers(value)


def _numbers(v: Any) -> Any:
    if isinstance(v, str) and _NUMERIC.match(v) and ("." in v or "e" in v.lower()):
        try:
            return float(Decimal(v))
        except InvalidOperation:
            return v
    if isinstance(v, list):
        return [_numbers(x) for x in v]
    if isinstance(v, dict):
        return {k: _numbers(x) for k, x in v.items()}
    return v


class Checker:
    """Compares a tool answer with an expected row set the way the parity
    gate does: column names, row count, then the order-insensitive
    canonical row set, with ULP-level float drift accepted."""

    def __init__(self) -> None:
        self.canon, self.rowset, self.near = load_parity_helpers()

    def expected(self, cols: list[str], rows: list) -> tuple[list[str], list[str]]:
        wire = as_wire([list(r) for r in rows])
        return sorted(cols), self.rowset(cols, wire)

    def matches(self, expect: tuple[list[str], list[str]], cols: list[str], rows: list) -> bool:
        ecols, erows = expect
        if sorted(cols) != ecols or len(rows) != len(erows):
            return False
        got = self.rowset(cols, _numbers(rows))
        return got == erows or self.near(got, erows)
