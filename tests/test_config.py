"""Config matrix tests — mirrors reference tests/test_config_interface.py:6-96
(env-var permutations through the typed accessors) against the Spark-engine
env surface documented in config.py."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import mcp_clickhouse_spark.config as config_module

from mcp_clickhouse_spark.config import (
    MCPServerConfig,
    SparkEngineConfig,
    TransportType,
    get_engine_config,
    get_mcp_config,
    reset_config_singletons,
)


@pytest.fixture(autouse=True)
def clean_singletons():
    """Every test sees fresh singletons; env changes take effect."""
    reset_config_singletons()
    yield
    reset_config_singletons()


# --- engine config -----------------------------------------------------------


def test_engine_defaults(monkeypatch):
    for var in (
        "MCP_SPARK_ENABLED",
        "MCP_SPARK_WAREHOUSE",
        "MCP_SPARK_MASTER",
        "SPARK_GRAFT_SF_DIR",
    ):
        monkeypatch.delenv(var, raising=False)
    cfg = SparkEngineConfig()
    assert cfg.enabled is True
    assert cfg.warehouse == "/root/testdata/sf0.1"
    # No master configured: session.get_spark picks local[$SPARK_GRAFT_CPUS]
    # and sizes the session itself.
    assert cfg.master is None
    assert cfg.get_session_config() == {"master": None}


def test_engine_env_overrides(monkeypatch, tmp_path):
    monkeypatch.setenv("MCP_SPARK_WAREHOUSE", str(tmp_path))
    monkeypatch.setenv("MCP_SPARK_MASTER", "local[2]")
    cfg = SparkEngineConfig()
    assert cfg.warehouse == str(tmp_path)
    assert cfg.get_session_config() == {"master": "local[2]"}


def test_engine_warehouse_fallback_to_sf_dir(monkeypatch, tmp_path):
    """SPARK_GRAFT_SF_DIR is the fallback when MCP_SPARK_WAREHOUSE unset."""
    monkeypatch.delenv("MCP_SPARK_WAREHOUSE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert SparkEngineConfig().warehouse == str(tmp_path)


def test_engine_missing_warehouse_raises(monkeypatch):
    """Validation-on-construction: missing warehouse dir = missing required
    env (reference mcp_env.py:167-180 analog)."""
    monkeypatch.setenv("MCP_SPARK_WAREHOUSE", "/no/such/dir/at/all")
    with pytest.raises(ValueError, match="MCP_SPARK_WAREHOUSE"):
        SparkEngineConfig()


def test_engine_disabled_skips_validation(monkeypatch):
    """Disabled engine must not validate the warehouse (the
    CLICKHOUSE_ENABLED=false analog)."""
    monkeypatch.setenv("MCP_SPARK_ENABLED", "false")
    monkeypatch.setenv("MCP_SPARK_WAREHOUSE", "/no/such/dir/at/all")
    cfg = SparkEngineConfig()
    assert cfg.enabled is False


def test_engine_disabled_server_registers_no_tools(monkeypatch):
    monkeypatch.setenv("MCP_SPARK_ENABLED", "false")
    from mcp_clickhouse_spark.mcp_server import MCPSparkServer

    server = MCPSparkServer()
    assert server.tools == {}
    listing = server.handle_message(
        {"jsonrpc": "2.0", "id": 1, "method": "tools/list"}
    )
    assert listing["result"]["tools"] == []


# --- server config -----------------------------------------------------------


def test_server_defaults(monkeypatch):
    for var in (
        "MCP_SPARK_SERVER_TRANSPORT",
        "MCP_SPARK_BIND_HOST",
        "MCP_SPARK_BIND_PORT",
        "MCP_SPARK_QUERY_TIMEOUT",
    ):
        monkeypatch.delenv(var, raising=False)
    cfg = MCPServerConfig()
    assert cfg.server_transport == "stdio"
    assert cfg.bind_host == "127.0.0.1"
    assert cfg.bind_port == 8000
    assert cfg.query_timeout == 30


@pytest.mark.parametrize("transport", ["stdio", "http", "sse", "HTTP", "Stdio"])
def test_server_transport_accepts_case_insensitive(monkeypatch, transport):
    monkeypatch.setenv("MCP_SPARK_SERVER_TRANSPORT", transport)
    assert MCPServerConfig().server_transport == transport.lower()
    assert MCPServerConfig().server_transport in TransportType.values()


def test_server_transport_invalid_raises(monkeypatch):
    monkeypatch.setenv("MCP_SPARK_SERVER_TRANSPORT", "websocket")
    with pytest.raises(ValueError, match="Invalid transport"):
        MCPServerConfig().server_transport


def test_server_env_overrides(monkeypatch):
    monkeypatch.setenv("MCP_SPARK_BIND_HOST", "0.0.0.0")
    monkeypatch.setenv("MCP_SPARK_BIND_PORT", "9123")
    monkeypatch.setenv("MCP_SPARK_QUERY_TIMEOUT", "5")
    cfg = MCPServerConfig()
    assert (cfg.bind_host, cfg.bind_port, cfg.query_timeout) == ("0.0.0.0", 9123, 5)


# --- singletons --------------------------------------------------------------


def test_singletons_cached_until_reset(monkeypatch):
    a = get_engine_config()
    assert get_engine_config() is a
    m = get_mcp_config()
    assert get_mcp_config() is m
    reset_config_singletons()
    assert get_engine_config() is not a
    assert get_mcp_config() is not m


# --- the documented env surface ----------------------------------------------

_ENV_READ = re.compile(
    r"""os\.(?:environ\.get|getenv)\(\s*["']([A-Z0-9_]+)["']"""
    r"""|os\.environ\[\s*["']([A-Z0-9_]+)["']\s*\]"""
)


def test_every_env_var_read_is_documented():
    """config.py's docstring is the one list of knobs: every environment
    variable read anywhere in the package must appear in it."""
    package = Path(config_module.__file__).parent
    read = {
        a or b
        for path in package.rglob("*.py")
        for a, b in _ENV_READ.findall(path.read_text())
    }
    assert "MCP_SPARK_QUERY_TIMEOUT" in read  # the scan itself works
    documented = set(re.findall(r"\b[A-Z][A-Z0-9_]+\b", config_module.__doc__))
    assert sorted(read - documented) == []


# --- the one session policy --------------------------------------------------


def test_session_sizing_policy(spark):
    """session.get_spark sizes every session the same way: shuffle
    partitions follow the session's own parallelism (never below 4), and
    adaptive execution is on."""
    sc = spark.sparkContext
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        max(sc.defaultParallelism, 4)
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
