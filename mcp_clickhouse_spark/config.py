"""Environment configuration for the MCP Spark analytics server.

Analog of the reference's ``mcp_clickhouse/mcp_env.py`` (:1-304): every
runtime knob comes from environment variables with typed accessors, sensible
defaults, and validation-on-first-use, exposed through process-wide
singletons.  Where the reference configures a ClickHouse connection
(host/port/TLS), this engine configures the embedded Spark session — the
warehouse directory of parquet tables plays the role of the database, and
``local[N]`` master string the role of the server address.

Environment variables (every one the package reads; tests/test_config.py
checks this list against the code):

Engine (`SparkEngineConfig`, reference ClickHouseConfig/ChDBConfig):
    MCP_SPARK_ENABLED             enable the engine + its tools (default true)
    MCP_SPARK_WAREHOUSE           parquet warehouse dir (default
                                  $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1)
    MCP_SPARK_MASTER              Spark master (default local[$SPARK_GRAFT_CPUS])

Server (`MCPServerConfig`, reference MCPServerConfig, mcp_env.py:261-289):
    MCP_SPARK_SERVER_TRANSPORT    "stdio" | "http" | "sse" (default stdio)
    MCP_SPARK_BIND_HOST           bind host for http/sse (default 127.0.0.1)
    MCP_SPARK_BIND_PORT           bind port for http/sse (default 8000)
    MCP_SPARK_QUERY_TIMEOUT       SELECT tool timeout seconds (default 30); the
                                  only timeout knob — SETTINGS
                                  max_execution_time can only lower it

Session (read by `session.get_spark` / `session._split_layout`):
    SPARK_GRAFT_SF_DIR            warehouse fallback when MCP_SPARK_WAREHOUSE
                                  is unset
    SPARK_GRAFT_CPUS              cores of the default local master (default:
                                  all cores); shuffle partitions follow the
                                  session's parallelism, max(cores, 4)
    SPARK_GRAFT_DRIVER_MEM        spark.driver.memory (default 8g)
    SPARK_GRAFT_WAREHOUSE         cache dir for split-layout rewrites (default
                                  /tmp/spark_graft_warehouse)
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from enum import Enum


class TransportType(str, Enum):
    """Supported MCP server transport types (reference mcp_env.py:13-24)."""

    STDIO = "stdio"
    HTTP = "http"
    SSE = "sse"

    @classmethod
    def values(cls) -> list[str]:
        return [t.value for t in cls]


@dataclass
class SparkEngineConfig:
    """Typed env-var accessors for the embedded Spark engine."""

    def __init__(self) -> None:
        if self.enabled:
            self._validate()

    @property
    def enabled(self) -> bool:
        return os.getenv("MCP_SPARK_ENABLED", "true").lower() == "true"

    @property
    def warehouse(self) -> str:
        return os.getenv(
            "MCP_SPARK_WAREHOUSE",
            os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        )

    @property
    def master(self) -> str | None:
        """None = ``session.get_spark``'s default, local[$SPARK_GRAFT_CPUS]."""
        return os.getenv("MCP_SPARK_MASTER")

    def get_session_config(self) -> dict:
        """kwargs ready for :func:`session.get_spark` (the analog of the
        reference's ``get_client_config`` → ``clickhouse_connect.get_client``,
        mcp_env.py:135-165).  Sizing is not configured here: get_spark
        derives it from the session it builds."""
        return {"master": self.master}

    def _validate(self) -> None:
        """Missing warehouse = missing required env (mcp_env.py:167-180)."""
        if not os.path.isdir(self.warehouse):
            raise ValueError(
                f"MCP_SPARK_WAREHOUSE does not exist or is not a directory: "
                f"{self.warehouse}"
            )


@dataclass
class MCPServerConfig:
    """Server-level transport/tool settings (reference mcp_env.py:261-289)."""

    @property
    def server_transport(self) -> str:
        transport = os.getenv(
            "MCP_SPARK_SERVER_TRANSPORT", TransportType.STDIO.value
        ).lower()
        if transport not in TransportType.values():
            valid = ", ".join(f'"{t}"' for t in TransportType.values())
            raise ValueError(
                f"Invalid transport '{transport}'. Valid options: {valid}"
            )
        return transport

    @property
    def bind_host(self) -> str:
        return os.getenv("MCP_SPARK_BIND_HOST", "127.0.0.1")

    @property
    def bind_port(self) -> int:
        return int(os.getenv("MCP_SPARK_BIND_PORT", "8000"))

    @property
    def query_timeout(self) -> int:
        return int(os.getenv("MCP_SPARK_QUERY_TIMEOUT", "30"))


_ENGINE_CONFIG: SparkEngineConfig | None = None
_MCP_CONFIG: MCPServerConfig | None = None


def get_engine_config() -> SparkEngineConfig:
    """Singleton accessor (reference get_config, mcp_env.py:237-246)."""
    global _ENGINE_CONFIG
    if _ENGINE_CONFIG is None:
        _ENGINE_CONFIG = SparkEngineConfig()
    return _ENGINE_CONFIG


def get_mcp_config() -> MCPServerConfig:
    global _MCP_CONFIG
    if _MCP_CONFIG is None:
        _MCP_CONFIG = MCPServerConfig()
    return _MCP_CONFIG


def reset_config_singletons() -> None:
    """Testing hook: drop singletons so env changes take effect."""
    global _ENGINE_CONFIG, _MCP_CONFIG
    _ENGINE_CONFIG = None
    _MCP_CONFIG = None
