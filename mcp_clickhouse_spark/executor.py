"""Bounded query execution with timeout + REAL cancellation
(SURVEY.md §2.1 A12/A13).

The reference submits every query to a shared ThreadPoolExecutor(10)
(mcp_clickhouse/mcp_server.py:66-67) and waits with
``future.result(timeout=30s)`` (:437-454); on timeout it calls
``future.cancel()`` — which CANNOT stop a query already running on the
thread. Here the same pool + timeout contract is kept, but timeout handling
is strictly better: each query runs under a Spark job group, and on timeout
``cancelJobGroup`` aborts the distributed job for real.
"""

from __future__ import annotations

import threading
import uuid
from concurrent.futures import Future, ThreadPoolExecutor, TimeoutError as FutureTimeout
from typing import Any, Callable

from pyspark.sql import SparkSession

# Same bound as the reference (:66).
MAX_CONCURRENT_QUERIES = 10

QUERY_EXECUTOR = ThreadPoolExecutor(
    max_workers=MAX_CONCURRENT_QUERIES, thread_name_prefix="mcp-spark-query"
)


class QueryTimeoutError(TimeoutError):
    """Query exceeded the configured timeout (and was really cancelled)."""


def run_with_timeout(
    spark: SparkSession,
    fn: Callable[[], Any],
    timeout_secs: float,
) -> Any:
    """Run ``fn`` on the shared pool under a job group; cancel it after
    ``timeout_secs`` (resolved by the caller from MCP_SPARK_QUERY_TIMEOUT).

    The job group is set on the worker thread (job groups are thread-local
    in Spark), so cancelJobGroup targets exactly this query's jobs.
    """
    group = f"mcp-query-{uuid.uuid4()}"
    started = threading.Event()

    def target() -> Any:
        sc = spark.sparkContext
        sc.setJobGroup(group, "mcp_clickhouse_spark query", interruptOnCancel=True)
        started.set()
        try:
            return fn()
        finally:
            sc.setJobGroup("", "")

    future: Future = QUERY_EXECUTOR.submit(target)
    try:
        return future.result(timeout=timeout_secs)
    except FutureTimeout:
        future.cancel()  # if not yet started
        if started.is_set():
            # Actually stop the running distributed job (the reference's
            # future.cancel() cannot do this — mcp_server.py:451-454).
            spark.sparkContext.cancelJobGroup(group)
            # cancelJobGroup only aborts jobs ALREADY submitted; a query
            # still in driver-side prep (view binding, dialect translation,
            # plan classification) at timeout submits its heavy job a beat
            # LATER and would run unbounded — pinning its worker thread and
            # hanging interpreter exit (threading join). Sweep the group
            # until the worker actually returns.
            def _sweep() -> None:
                import time as _t

                while not future.done():
                    try:
                        spark.sparkContext.cancelJobGroup(group)
                    except Exception:  # session stopped — nothing left to cancel
                        return
                    _t.sleep(0.5)

            threading.Thread(target=_sweep, daemon=True, name="mcp-cancel-sweep").start()
        raise QueryTimeoutError(
            f"Query timed out after {timeout_secs} seconds and was cancelled"
        ) from None
