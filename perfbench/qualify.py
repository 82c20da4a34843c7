"""Rebuild ``queries.json``: the inventory's DuckDB oracle texts that run
unmodified through ``run_select_query`` and match DuckDB on the
benchmark's warehouse.

    python3 perfbench/qualify.py [--sf 0.01]

Each text is sent once over the MCP path and compared with DuckDB's answer.
Matching texts that return at most ``SMALL_ROWS`` rows feed ``analytic_sql``;
those that return at least ``BULK_ROWS`` feed ``bulk_result``.  The texts
are stored verbatim, so the workloads do not move when the inventory does.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

SMALL_ROWS = 1_000
BULK_ROWS = 1_500  # 15,000 rows at sf0.1, scaled to sf0.01
# Known to disagree with DuckDB or to need more than the plain tool path.
EXCLUDED = {"sql_asof_join_star", "agg_foreach", "pipe_embed_label_centroids"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--out", default=str(Path(__file__).resolve().parent / "queries.json"))
    args = ap.parse_args()

    harness.require_program()
    import datagen
    import workloads

    run_dir = harness.prepare_run_dir()
    data = datagen.ensure(str(harness.STATE / "data"), args.sf)
    os.environ["MCP_SPARK_WAREHOUSE"] = data
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = workloads.duckdb_over(data)
    checker = harness.Checker()
    served, _ = harness.start_server(run_dir / "warehouse" / "0")
    client = harness.Client(served.port)
    small, bulk, report = {}, {}, []
    try:
        for name, sql in sorted(oracles.items()):
            if name in EXCLUDED:
                continue
            try:
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                expect = checker.expected(cols, res.fetchall())
            except Exception as e:  # noqa: BLE001 — record and move on
                report.append((name, "duckdb-error", str(e)[:80]))
                continue
            t0 = time.perf_counter()
            reply = client.call("run_select_query", {"query": sql})
            ms = (time.perf_counter() - t0) * 1e3
            if reply.is_error:
                report.append((name, "spark-error", str(reply.payload)[:80]))
                continue
            rows = reply.payload["rows"]
            if not checker.matches(expect, reply.payload["columns"], rows):
                report.append((name, "mismatch", f"{len(rows)} rows"))
                continue
            report.append((name, "ok", f"{len(rows)} rows {ms:.0f} ms"))
            if len(rows) <= SMALL_ROWS:
                small[name] = sql
            elif len(rows) >= BULK_ROWS:
                bulk[name] = sql
    finally:
        client.close()
        harness.stop_http(served)
        harness.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    for row in report:
        print(*row, sep="\t")
    with open(args.out, "w") as fh:
        json.dump({"sf": args.sf, "analytic_sql": small, "bulk_result": bulk}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(small)} analytic, {len(bulk)} bulk, {len(report)} tried")
    return 0


if __name__ == "__main__":
    sys.exit(main())
