"""Outside-in tracing: spans recorded by wrappers the benchmark installs
around the public functions of each layer, and removed afterwards.

The program itself is not edited.  Each wrapper replaces one attribute on
the module or class that the caller looks it up on (``tools`` imports
``check_read_only`` by name, so it is patched on ``tools``), records a span
(layer, start, end, parent) on the calling thread, and calls the original.
The executor's worker thread inherits the span of the tool call that
submitted it, because the ``fn`` handed to ``run_with_timeout`` is wrapped
too.  Spans stay in memory; :meth:`Tracer.totals` reduces them at the end.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


_INHERITED = object()  # the wrapped method came from a base class


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    t0: float
    t1: float = 0.0

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.nested: dict[str, int] = defaultdict(int)  # calls below an outermost span
        self.waits_ms: list[float] = []  # run_with_timeout entry → worker start
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _parent(self) -> int | None:
        st = self._stack()
        return st[-1] if st else getattr(self._local, "inherited", None)

    def begin(self, layer: str) -> Span:
        span = Span(next(self._ids), self._parent(), layer, time.perf_counter())
        self._stack().append(span.id)
        return span

    def end(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        self._stack().pop()
        self.spans.append(span)

    # -- wrappers --------------------------------------------------------------

    def wrap(self, owner: object, attr: str, layer: str, outermost_only: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.  With
        ``outermost_only`` a call made inside another call of the same layer
        on the same thread is counted in :attr:`nested` but not timed."""
        raw = owner.__dict__.get(attr, _INHERITED) if isinstance(owner, type) else getattr(owner, attr)
        original = getattr(owner, attr)
        tracer = self
        key = f"depth:{layer}"

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            depth = getattr(tracer._local, key, 0)
            if outermost_only and depth:
                tracer.nested[layer] += 1
                setattr(tracer._local, key, depth + 1)
                try:
                    return original(*args, **kwargs)
                finally:
                    setattr(tracer._local, key, depth)
            setattr(tracer._local, key, depth + 1)
            span = tracer.begin(layer)
            try:
                return original(*args, **kwargs)
            finally:
                tracer.end(span)
                setattr(tracer._local, key, depth)

        wrapper.__perfbench_wrapper__ = True
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, raw))

    def wrap_executor(self, owner: object, attr: str = "run_with_timeout") -> None:
        """Wrap ``run_with_timeout`` so the worker thread records how long the
        call waited for it, and its spans hang under the submitting tool call."""
        raw = getattr(owner, attr)
        tracer = self

        @functools.wraps(raw)
        def wrapper(spark, fn, *args, **kwargs):
            span = tracer.begin("executor.run_with_timeout")
            entered = time.perf_counter()

            def traced_fn():
                tracer.waits_ms.append((time.perf_counter() - entered) * 1e3)
                tracer._local.inherited = span.id
                inner = tracer.begin("tools.worker_fn")
                try:
                    return fn()
                finally:
                    tracer.end(inner)
                    tracer._local.inherited = None

            try:
                return raw(spark, traced_fn, *args, **kwargs)
            finally:
                tracer.end(span)

        wrapper.__perfbench_wrapper__ = True
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, raw))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            if raw is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, raw)

    # -- reduction -------------------------------------------------------------

    def totals(self) -> tuple[dict[str, float], dict[str, float], dict[str, int]]:
        """Per layer: total ms, self ms (minus direct children), span count."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] += s.ms
        total: dict[str, float] = defaultdict(float)
        own: dict[str, float] = defaultdict(float)
        count: dict[str, int] = defaultdict(int)
        for s in self.spans:
            total[s.layer] += s.ms
            own[s.layer] += s.ms - child_ms.get(s.id, 0.0)
            count[s.layer] += 1
        return total, own, count

    def count_under(self, layer: str, ancestor: str) -> int:
        """Spans of ``layer`` with a ``ancestor`` span above them."""
        by_id = {s.id: s for s in self.spans}
        n = 0
        for s in self.spans:
            if s.layer != layer:
                continue
            p = s.parent
            while p is not None and p in by_id:
                if by_id[p].layer == ancestor:
                    n += 1
                    break
                p = by_id[p].parent
        return n


def _call_path_points(spark) -> list[tuple[object, str, str, bool]]:
    """(owner, attribute, layer, outermost_only) for every wrapped call."""
    from pyspark.sql.classic.dataframe import DataFrame

    from mcp_clickhouse_spark import catalog, dialect, mcp_server, tools
    from mcp_clickhouse_spark.sources import system_tables, table_functions

    return [
        (mcp_server.MCPSparkServer, "handle_message", "mcp_server.handle_message", False),
        (tools, "list_databases", "tools.list_databases", False),
        (tools, "list_tables", "tools.list_tables", False),
        (tools, "run_select_query", "tools.run_select_query", False),
        (tools, "run_embedded_select_query", "tools.run_embedded_select_query", False),
        (tools, "_collect", "tools.collect", False),
        (tools, "_execute", "tools.execute", False),
        (tools, "check_read_only", "readonly.lexical", False),
        (tools, "check_read_only_plan", "readonly.plan_parse", False),
        (tools, "describe_table", "catalog.describe", False),
        (catalog, "describe_table", "catalog.describe", False),
        (table_functions, "bind_sql_table_functions", "sources.bind", False),
        (system_tables, "bind_system_tables", "sources.bind", False),
        (dialect, "translate", "dialect.translate", True),
        (type(spark), "sql", "spark.analyze", False),
        (DataFrame, "collect", "spark.execute", False),
        (DataFrame, "toArrow", "spark.execute", False),
    ]


def _setup_points() -> list[tuple[object, str, str, bool]]:
    from mcp_clickhouse_spark import session

    return [
        (session, "get_spark", "session.get_spark", False),
        (session, "register_testdata", "session.register_testdata", False),
        (session, "_split_layout", "session.split_rewrite", False),
    ]


def install_setup(tracer: Tracer) -> None:
    """Wrap the session set-up steps (before the server starts)."""
    for owner, attr, layer, outer in _setup_points():
        tracer.wrap(owner, attr, layer, outer)


def install_call_path(tracer: Tracer, spark) -> None:
    """Wrap every layer a tool call passes through."""
    from mcp_clickhouse_spark import tools

    for owner, attr, layer, outer in _call_path_points(spark):
        tracer.wrap(owner, attr, layer, outer)
    tracer.wrap_executor(tools)


def installed(spark) -> list[str]:
    """The wrapped attributes that still hold a benchmark wrapper."""
    from mcp_clickhouse_spark import tools

    points = _call_path_points(spark) + _setup_points() + [(tools, "run_with_timeout", "", False)]
    return [
        f"{getattr(o, '__name__', o)}.{a}"
        for o, a, _, _ in points
        if getattr(getattr(o, a, None), "__perfbench_wrapper__", False)
    ]
