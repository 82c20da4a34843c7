"""The four workloads: seeded call batches and their expected answers.

A *batch* is the unit a closed-loop client runs without stopping: one
exploration session for ``explore_ch``, one pass over a fixed query set for
the other workloads.  Runs always end on a batch boundary, so every run
issues the same mix of calls and only the order and the literals change
with the seed.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import duckdb
import pyarrow.parquet as pq

from harness import Checker

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
NAMES = ("explore_ch", "analytic_sql", "bulk_result", "pipeline_batch")
QUERIES_FILE = Path(__file__).resolve().parent / "queries.json"
PIPELINE = "pipeline"  # pseudo-tool: an operator called on the served session
NEXT_PAGE = "<next_page_token>"  # argument placeholder: the previous reply's token

# Fixed subsets of queries.json run each pass.  A pass has to fit a run,
# and the set must not change with the seed, or the mix would.
ANALYTIC_PASS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q12_priority_by_flag", "q14_promo_revenue",
    "q18_large_volume_customers", "agg_rollup", "agg_count_distinct",
    "setop_intersect", "join_full_outer", "events_pivot", "subquery_scalar",
    "agg_topk",
)
BULK_PASS = (
    "scan_projection", "join_inner", "win_lag_lead", "join_left",
    "case_when", "win_running_sum", "win_range_frame", "events_session_window",
)
PIPELINE_OPS = (
    "pipe_minhash_lsh", "pipe_span_dedup", "pipe_embed_topk",
    "pipe_text_stats", "pipe_vocab_oov", "pipe_dedup_exact",
)


@dataclass
class Call:
    tool: str
    args: dict
    expect: Any = None  # what check() compares the reply with
    label: str = ""  # the query or operator name, for reports


@dataclass
class Workload:
    name: str
    clients: int
    batches: list[list[list[Call]]] = field(default_factory=list)  # [client][k]


def duckdb_over(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per warehouse table."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# --- explore_ch ------------------------------------------------------------------

_ARROW_TO_SPARK = {
    "int64": "bigint", "int32": "int", "double": "double", "string": "string",
    "large_string": "string", "timestamp[us]": "timestamp_ntz",
    "list<element: float>": "array<float>", "list<item: float>": "array<float>",
}


def _schemas(data_dir: str) -> dict[str, list[list[str]]]:
    out = {}
    for name in TABLES:
        schema = pq.read_schema(os.path.join(data_dir, f"{name}.parquet"))
        out[name] = [[f.name, _ARROW_TO_SPARK.get(str(f.type), str(f.type))] for f in schema]
    return out


def _day(rng: random.Random, start: str, days: int) -> str:
    import datetime as dt

    d = dt.date.fromisoformat(start) + dt.timedelta(days=rng.randrange(days))
    return d.isoformat()


def _ch_templates(rng: random.Random, sf: float, four_line_orders: list[int]) -> list[tuple[str, str, str]]:
    """Eight ClickHouse-dialect calls with seeded literals, each with a
    DuckDB twin.  Exact functions only, so the twins agree to the bit.
    Literals move the rows each call returns by at most one, so that
    rows_per_s does not move with the seed."""
    n_ord, n_part = int(1_500_000 * sf), int(200_000 * sf)
    k1, k2 = rng.randrange(n_ord), rng.choice(four_line_orders)
    ev_day, ev_hours, ev_val = _day(rng, "2024-01-01", 29), rng.randrange(4, 25), rng.randrange(20, 120)
    hr_day, hr_start = _day(rng, "2024-01-01", 29), rng.randrange(0, 18)
    s1 = _day(rng, "1995-01-02", 2000)
    s2 = _day(rng, s1, 300)
    o1 = _day(rng, "1995-01-01", 2000)
    o2 = _day(rng, o1, 400)
    lo = rng.randrange(50_000, 200_000)
    hi = lo + rng.randrange(50_000, 250_000)
    nation, limit = rng.randrange(25), rng.randrange(24, 27)
    disc, p0 = rng.randrange(0, 11) / 100.0, rng.randrange(max(1, n_part - 60))
    hr_from = f"{hr_day} {hr_start:02d}:00:00"
    lookup_order = (
        f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
        f"FROM orders WHERE o_orderkey = {k1}"
    )
    lookup_lines = (
        f"SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice, l_shipdate "
        f"FROM lineitem WHERE l_orderkey = {k2}"
    )
    sample = (
        f"SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer "
        f"WHERE c_nationkey = {nation} ORDER BY c_custkey LIMIT {limit}"
    )
    return [
        ("lookup_order", lookup_order, lookup_order),
        ("lookup_lines", lookup_lines, lookup_lines),
        (
            "events_countif",
            f"SELECT event_type, countIf(value > {ev_val}) AS hi, uniqExact(user_id) AS users, "
            f"count() AS n FROM events WHERE ts >= toDateTime('{ev_day} 00:00:00') "
            f"AND ts < toDateTime('{ev_day} 00:00:00') + INTERVAL {ev_hours} HOUR GROUP BY event_type",
            f"SELECT event_type, count(*) FILTER (WHERE value > {ev_val}) AS hi, "
            f"count(DISTINCT user_id) AS users, count(*) AS n FROM events "
            f"WHERE ts >= TIMESTAMP '{ev_day} 00:00:00' "
            f"AND ts < TIMESTAMP '{ev_day} 00:00:00' + INTERVAL {ev_hours} HOUR GROUP BY event_type",
        ),
        (
            "events_by_hour",
            f"SELECT toStartOfHour(ts) AS hour, count() AS n, max(value) AS top FROM events "
            f"WHERE ts >= toDateTime('{hr_from}') AND ts < toDateTime('{hr_from}') + INTERVAL 6 HOUR "
            f"GROUP BY hour",
            f"SELECT date_trunc('hour', ts) AS hour, count(*) AS n, max(value) AS top FROM events "
            f"WHERE ts >= TIMESTAMP '{hr_from}' AND ts < TIMESTAMP '{hr_from}' + INTERVAL 6 HOUR "
            f"GROUP BY 1",
        ),
        (
            "lines_median",
            f"SELECT l_returnflag, quantileExact(0.5)(l_extendedprice) AS med, count() AS n "
            f"FROM lineitem WHERE l_shipdate >= toDate('{s1}') AND l_shipdate < toDate('{s2}') "
            f"GROUP BY l_returnflag",
            f"SELECT l_returnflag, list_sort(list(l_extendedprice))"
            f"[CAST(floor(0.5 * count(*)) AS BIGINT) + 1] AS med, count(*) AS n "
            f"FROM lineitem WHERE l_shipdate >= DATE '{s1}' AND l_shipdate < DATE '{s2}' "
            f"GROUP BY l_returnflag",
        ),
        (
            "orders_bands",
            f"SELECT multiIf(o_totalprice < {lo}, 'low', o_totalprice < {hi}, 'mid', 'high') AS band, "
            f"count() AS n, uniqExact(o_custkey) AS custs FROM orders "
            f"WHERE o_orderdate >= toDate('{o1}') AND o_orderdate < toDate('{o2}') GROUP BY band",
            f"SELECT CASE WHEN o_totalprice < {lo} THEN 'low' WHEN o_totalprice < {hi} THEN 'mid' "
            f"ELSE 'high' END AS band, count(*) AS n, count(DISTINCT o_custkey) AS custs FROM orders "
            f"WHERE o_orderdate >= DATE '{o1}' AND o_orderdate < DATE '{o2}' GROUP BY 1",
        ),
        ("customer_sample", sample, sample),
        (
            "parts_filter",
            f"SELECT l_linestatus, countIf(l_discount >= {disc}) AS disc, uniqExact(l_suppkey) AS supps, "
            f"sum(l_quantity) AS qty FROM lineitem WHERE l_partkey BETWEEN {p0} AND {p0 + 50} "
            f"GROUP BY l_linestatus",
            f"SELECT l_linestatus, count(*) FILTER (WHERE l_discount >= {disc}) AS disc, "
            f"count(DISTINCT l_suppkey) AS supps, sum(l_quantity) AS qty FROM lineitem "
            f"WHERE l_partkey BETWEEN {p0} AND {p0 + 50} GROUP BY l_linestatus",
        ),
    ]


_SYSTEM_TABLES = "SELECT name FROM system.tables WHERE database = 'default' ORDER BY name"
_SYSTEM_COLUMNS = (
    "SELECT table, count() AS n FROM system.columns WHERE database = 'default' "
    "GROUP BY table ORDER BY table"
)
_REPEATED = ("lookup_order", "lookup_lines", "events_by_hour", "customer_sample")
_NOT_OURS = "_system_%"  # the server's own system.* views are not user tables


def explore_session(
    rng: random.Random, k: int, sf: float, schemas, con, checker: Checker, four_line_orders: list[int]
) -> list[Call]:
    """Session ``k`` of one agent: discover the catalog, then query it."""
    calls = [Call("list_databases", {}, ["default"])]
    names = sorted(schemas)
    page = {"database": "default", "page_size": 5, "include_detailed_columns": True, "not_like": _NOT_OURS}
    for start in range(0, len(names), 5):
        expect = {n: schemas[n] for n in names[start : start + 5]}
        token = NEXT_PAGE if start else None
        calls.append(Call("list_tables", {**page, "page_token": token}, (expect, len(names))))
    # Twelve queries: the eight templates, plus a second draw of the four
    # cheapest, so the slow catalog calls stay inside the top fifth of calls
    # and call_p90_ms does not sit on the boundary between two kinds.
    templates = _ch_templates(rng, sf, four_line_orders)
    templates += [t for t in _ch_templates(rng, sf, four_line_orders) if t[0] in _REPEATED]
    tools = ["run_select_query", "run_embedded_select_query"] * (len(templates) // 2)
    rng.shuffle(tools)
    queries = []
    for tool, (label, ch, twin) in zip(tools, templates):
        res = con.execute(twin)
        expect = checker.expected([d[0] for d in res.description], res.fetchall())
        queries.append(Call(tool, {"query": ch, "dialect": "clickhouse"}, expect, label))
    rng.shuffle(queries)
    if k % 2 == 0:
        sys_call = Call(
            "run_select_query",
            {"query": _SYSTEM_TABLES, "dialect": "clickhouse"},
            checker.expected(["name"], [[n] for n in names]),
            "system_tables",
        )
    else:
        sys_call = Call(
            "run_select_query",
            {"query": _SYSTEM_COLUMNS, "dialect": "clickhouse"},
            checker.expected(["table", "n"], [[n, len(schemas[n])] for n in names]),
            "system_columns",
        )
    queries.insert(rng.randrange(len(queries) + 1), sys_call)
    return calls + queries


# --- analytic_sql, bulk_result, pipeline_batch -------------------------------------


def load_queries() -> dict[str, dict[str, str]]:
    with open(QUERIES_FILE) as fh:
        return json.load(fh)


def _expected_sql(con, checker: Checker, sql: str):
    res = con.execute(sql)
    return checker.expected([d[0] for d in res.description], res.fetchall())


def query_pass(rng: random.Random, texts: dict[str, str], names, expects, alternate: bool) -> list[Call]:
    order = list(names)
    rng.shuffle(order)
    calls = []
    for i, name in enumerate(order):
        tool = "run_embedded_select_query" if alternate and i % 2 else "run_select_query"
        calls.append(Call(tool, {"query": texts[name]}, expects[name], name))
    return calls


def pipeline_pass(rng: random.Random, expects) -> list[Call]:
    order = list(PIPELINE_OPS)
    rng.shuffle(order)
    return [Call(PIPELINE, {}, expects[name], name) for name in order]


def build(name: str, seed: int, data_dir: str, sf: float, batches: int) -> Workload:
    """The workload ``name`` with ``batches`` batches per client, every
    expected answer computed up front by DuckDB."""
    checker = Checker()
    con = duckdb_over(data_dir)
    if name == "explore_ch":
        wl = Workload(name, clients=2)
        schemas = _schemas(data_dir)
        four_line_orders = [k for (k,) in con.execute(
            "SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING count(*) = 4 ORDER BY 1"
        ).fetchall()]
        for c in range(wl.clients):
            wl.batches.append(
                [
                    explore_session(
                        random.Random(f"{seed}:{c}:{k}"), k + c, sf, schemas, con, checker, four_line_orders
                    )
                    for k in range(batches)
                ]
            )
        return wl
    wl = Workload(name, clients=1)
    if name == "pipeline_batch":
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        expects = {
            op: _expected_sql(con, checker, oracles[op]) if op in oracles else None
            for op in PIPELINE_OPS
        }
        wl.batches.append([pipeline_pass(random.Random(f"{seed}:{k}"), expects) for k in range(batches)])
        return wl
    texts = load_queries()[name]
    names = ANALYTIC_PASS if name == "analytic_sql" else BULK_PASS
    expects = {n: _expected_sql(con, checker, texts[n]) for n in names}
    alternate = name == "bulk_result"
    wl.batches.append(
        [query_pass(random.Random(f"{seed}:{k}"), texts, names, expects, alternate) for k in range(batches)]
    )
    return wl


def rows_of(call: Call, payload: Any) -> int:
    if call.tool == "run_select_query":
        return len(payload["rows"])
    if call.tool == "list_tables":
        return len(payload["tables"])
    if call.tool == PIPELINE:
        return len(payload[1])  # (columns, rows)
    return len(payload)  # list_databases, embedded row dicts


def check(checker: Checker, call: Call, payload: Any) -> bool:
    """True when a reply is the right answer for ``call``."""
    if call.tool == "list_databases":
        return payload == call.expect
    if call.tool == "list_tables":
        expect, total = call.expect
        got = {
            t["name"]: [[c["name"], c["column_type"]] for c in t["columns"]] for t in payload["tables"]
        }
        return got == expect and payload["total_tables"] == total
    if call.tool == "run_select_query":
        return checker.matches(call.expect, payload["columns"], payload["rows"])
    if call.tool == "run_embedded_select_query":
        if not isinstance(payload, list):
            return False  # an {"status": "error"} payload
        if not payload:
            return not call.expect[1]
        cols = list(payload[0])
        return checker.matches(call.expect, cols, [list(r.values()) for r in payload])
    if call.tool == PIPELINE:
        cols, rows = payload
        if call.expect is None:
            return len(rows) > 0  # no oracle: the runner also checks repeat agreement
        return checker.matches(call.expect, cols, rows)
    raise ValueError(f"unknown tool {call.tool}")
