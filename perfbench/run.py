#!/usr/bin/env python3
"""Tool-path benchmark: drives the MCP server the way an MCP client does.

    python3 perfbench/run.py --workload explore_ch --seed 1 --seconds 12 --trace 0

Starts ``mcp_server.MCPSparkServer`` on the session config the server
serves with, exposes it with ``make_http_server`` on an ephemeral localhost
port, and runs closed-loop clients that send JSON-RPC ``tools/call``
requests and check every answer against DuckDB.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs the workload untraced, traced, and
untraced again, and prints the per-layer metrics.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402
import workloads  # noqa: E402

SF = 0.01
# Batches run untimed before measuring: the first calls after start pay JIT
# and code-generation costs that a long-lived server has already paid.  A
# pipeline pass takes about 15 s cold, 3.5 s the second time and 2-2.4 s
# by the fifth; more warm-up would not fit the run budget on a busy host.
WARMUP_BATCHES = {"explore_ch": 1, "analytic_sql": 1, "bulk_result": 1, "pipeline_batch": 4}
# Batches prepared per measured phase; more than a phase can use.
BATCHES_PER_PHASE = {"explore_ch": 6, "analytic_sql": 30, "bulk_result": 30, "pipeline_batch": 30}


@dataclass
class Record:
    call: Any
    ms: float
    nbytes: int
    payload: Any
    is_error: bool
    rows: int = 0


@dataclass
class Batch:
    seconds: float
    records: list[Record]


@dataclass
class Phase:
    wall_s: float = 0.0
    cpu_s: float = 0.0  # harness.cpu_seconds over the phase
    batches: list[list[Batch]] = field(default_factory=list)  # [client]
    failed: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def records(self) -> list[Record]:
        return [r for client in self.batches for b in client for r in b.records]

    def rate(self, per_record) -> float:
        """Median over a client's batches of ``sum(per_record) / seconds``,
        summed over clients: a rate that one slow batch does not move."""
        return sum(
            statistics.median(sum(per_record(r) for r in b.records) / b.seconds for b in client)
            for client in self.batches
        )


class Runner:
    def __init__(self, wl, served, data_dir: str) -> None:
        self.wl, self.served, self.data_dir = wl, served, data_dir
        self.checker = harness.Checker()
        self.tracer = None
        self.op_jobs: dict[str, list[int]] = {}
        self._ops = None
        self._reference: dict[str, list[str]] = {}

    # -- one call ---------------------------------------------------------------

    def _pipeline(self, call) -> Record:
        """Run one pipeline operator on the served session, as a job group."""
        if self._ops is None:
            import __spark_entry__ as entry

            self._ops = entry.queries()
        spark = self.served.spark
        sc = spark.sparkContext
        group = f"perfbench-{call.label}-{time.perf_counter_ns()}"
        sc.setJobGroup(group, f"perfbench {call.label}")
        span = self.tracer.begin(f"pipeline.{call.label}") if self.tracer else None
        t0 = time.perf_counter()
        try:
            table = self._ops[call.label](spark, self.data_dir).toArrow()
        finally:
            ms = (time.perf_counter() - t0) * 1e3
            if span is not None:
                self.tracer.end(span)
            sc.setJobGroup("", "")
        spark.catalog.clearCache()
        if self.tracer:
            self.op_jobs.setdefault(call.label, []).append(
                len(sc.statusTracker().getJobIdsForGroup(group))
            )
        return Record(call, ms, table.nbytes, table, False)

    def _tool(self, client, call, prev: Record | None) -> Record:
        args = dict(call.args)
        if args.get("page_token") == workloads.NEXT_PAGE:
            ok = prev is not None and not prev.is_error
            args["page_token"] = prev.payload.get("next_page_token") if ok else None
        t0 = time.perf_counter()
        reply = client.call(call.tool, args)
        ms = (time.perf_counter() - t0) * 1e3
        return Record(call, ms, reply.nbytes, reply.payload, reply.is_error)

    # -- one phase --------------------------------------------------------------

    def run_phase(self, seconds: float | None, first: int, count: int) -> Phase:
        """Run batches ``first``, ``first + 1``, ... on every client until
        ``seconds`` have passed, always finishing the batch in progress.
        With ``seconds`` None, run all ``count`` batches."""
        phase = Phase(batches=[[] for _ in range(self.wl.clients)])
        errors: list[BaseException] = []
        pids = [os.getpid(), harness.jvm_pid()]
        cpu0 = harness.cpu_seconds(pids)
        start = time.perf_counter()
        deadline = None if seconds is None else start + seconds

        def client_loop(c: int) -> None:
            client = harness.Client(self.served.port)
            try:
                for k in range(first, first + count):
                    if k > first and deadline is not None and time.perf_counter() >= deadline:
                        break
                    t0, records, prev = time.perf_counter(), [], None
                    for call in self.wl.batches[c][k]:
                        if call.tool == workloads.PIPELINE:
                            prev = self._pipeline(call)
                        else:
                            prev = self._tool(client, call, prev)
                        records.append(prev)
                    phase.batches[c].append(Batch(time.perf_counter() - t0, records))
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)
            finally:
                client.close()

        threads = [threading.Thread(target=client_loop, args=(c,)) for c in range(self.wl.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        phase.wall_s = time.perf_counter() - start
        phase.cpu_s = harness.cpu_seconds(pids) - cpu0
        if errors:
            raise errors[0]
        self._check(phase)
        return phase

    def _check(self, phase: Phase) -> None:
        """Check every reply of a phase, after it has ended."""
        for rec in phase.records:
            payload = rec.payload
            if rec.call.tool == workloads.PIPELINE:
                cols = payload.column_names
                payload = (cols, harness.as_wire([list(r.values()) for r in payload.to_pylist()]))
            ok = not rec.is_error
            if ok:
                try:
                    ok = workloads.check(self.checker, rec.call, payload)
                except (KeyError, TypeError, ValueError, IndexError, AttributeError):
                    ok = False
            if ok and rec.call.tool == workloads.PIPELINE and rec.call.expect is None:
                # no oracle: every call must return the first call's row set
                got = self.checker.rowset(*payload)
                ok = self._reference.setdefault(rec.call.label, got) == got
            print(f"call {rec.call.tool} {rec.call.label or '-'} {rec.ms:.1f} ms", file=sys.stderr)
            if ok:
                rec.rows = workloads.rows_of(rec.call, payload)
            else:
                phase.failed += 1
                print(f"wrong answer: {rec.call.tool} {rec.call.label or rec.call.args}", file=sys.stderr)
            rec.payload = None  # free big results


# --- Spark job accounting ---------------------------------------------------------


def job_mark(sc) -> tuple[int, list[int]]:
    """Run a one-task marker job and return its job id and stage ids; job
    and stage ids are sequential, so two marks bound the work between."""
    group = f"perfbench-mark-{time.perf_counter_ns()}"
    sc.setJobGroup(group, "perfbench marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    jid = max(tracker.getJobIdsForGroup(group))
    return jid, list(tracker.getJobInfo(jid).stageIds)


def count_work(sc, before, after) -> tuple[int, int, int]:
    """Jobs, stages and completed tasks between two marks."""
    s0, s1 = max(before[1]), min(after[1])
    tracker = sc.statusTracker()
    tasks = 0
    for sid in range(s0 + 1, s1):
        info = tracker.getStageInfo(sid)
        if info is not None:
            tasks += info.numCompletedTasks
    return after[0] - before[0] - 1, s1 - s0 - 1, tasks


# --- metrics ------------------------------------------------------------------------


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(phase: Phase, setup_s: float) -> dict:
    """The gated metrics: set-up time, and the CPU time the server spends
    per completed call.  Wall-clock latency and throughput move with the
    load other tenants put on a shared host far more than CPU time does, so
    they are reported by ``client_view`` and not gated."""
    return {
        "setup_s": metric(setup_s, "s"),
        "cpu_ms_per_call": metric(phase.cpu_s * 1e3 / len(phase.records), "ms"),
    }


def client_view(phase: Phase) -> dict:
    """Latency and throughput as the clients saw them."""
    lat = sorted(r.ms for r in phase.records)
    return {
        "call_p50_ms": metric(statistics.median(lat), "ms"),
        "call_p90_ms": metric(statistics.quantiles(lat, n=10)[8] if len(lat) > 1 else lat[0], "ms"),
        "calls_per_s": metric(phase.rate(lambda r: 1), "1/s"),
        "rows_per_s": metric(phase.rate(lambda r: r.rows), "rows/s"),
    }


def per_layer(tracer, traced: Phase, untraced_after: Phase, setup_layers: dict, op_jobs: dict) -> dict:
    total, own, count = tracer.totals()
    n = max(1, len(traced.records))
    tool_calls = max(1, count.get("mcp_server.handle_message", 0))
    select_calls = max(1, count.get("executor.run_with_timeout", 0))
    outer = count.get("dialect.translate", 0)
    pages = count.get("tools.list_tables", 0)
    replies = [r.nbytes for r in traced.records if r.call.tool != workloads.PIPELINE]

    def per_select(layer: str) -> dict:
        return metric(total.get(layer, 0.0) / select_calls, "ms")

    def per_call(layer: str) -> dict:
        return metric(total.get(layer, 0.0) / n, "ms")

    out = {
        "mcp_server.dispatch_ms": metric(own.get("mcp_server.handle_message", 0.0) / tool_calls, "ms"),
        "mcp_server.response_bytes": metric(statistics.mean(replies) if replies else 0.0, "bytes"),
        "executor.handoff_wait_ms": metric(statistics.mean(tracer.waits_ms) if tracer.waits_ms else 0.0, "ms"),
        "tools.marshal_ms": metric(
            (own.get("tools.collect", 0.0) + own.get("tools.worker_fn", 0.0)) / select_calls, "ms"
        ),
        "readonly.lexical_ms": per_select("readonly.lexical"),
        "readonly.plan_parse_ms": per_select("readonly.plan_parse"),
        "sources.bind_ms": per_select("sources.bind"),
        "dialect.translate_ms": per_select("dialect.translate"),
        "dialect.translate_calls": metric(
            (outer + tracer.nested.get("dialect.translate", 0)) / outer if outer else 0.0, "count"
        ),
        "spark.analyze_ms": per_call("spark.analyze"),
        "spark.execute_ms": per_call("spark.execute"),
        "spark.jobs": metric(traced.jobs / n, "count"),
        "spark.stages": metric(traced.stages / n, "count"),
        "spark.tasks": metric(traced.tasks / n, "count"),
        "catalog.describe_ms": per_call("catalog.describe"),
        "catalog.sql_calls": metric(
            tracer.count_under("spark.analyze", "tools.list_tables") / pages if pages else 0.0, "count"
        ),
    }
    for op in workloads.PIPELINE_OPS:
        calls = count.get(f"pipeline.{op}", 0)
        out[f"pipeline.{op}_ms"] = metric(total.get(f"pipeline.{op}", 0.0) / calls if calls else 0.0, "ms")
        jobs = op_jobs.get(op, [])
        out[f"pipeline.{op}_jobs"] = metric(statistics.mean(jobs) if jobs else 0.0, "count")
    for step in ("get_spark", "register_testdata", "split_rewrite"):
        out[f"session.{step}_s"] = metric(setup_layers.get(f"session.{step}", 0.0) / 1e3, "s")
    out["trace.overhead_frac"] = metric(
        1.0 - traced.rate(lambda r: 1) / untraced_after.rate(lambda r: 1), "fraction"
    )
    return out


# --- main ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description="MCP tool-path benchmark")
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help=argparse.SUPPRESS)
    args = ap.parse_args()
    try:
        harness.require_program()
    except harness.MissingProgram as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    run_dir = harness.prepare_run_dir()
    try:
        return run(args, run_dir)
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: Path) -> int:
    import datagen
    import tracing

    data_dir = datagen.ensure(str(harness.STATE / "data"), args.sf)
    os.environ["MCP_SPARK_WAREHOUSE"] = data_dir
    warm, per_phase = WARMUP_BATCHES[args.workload], BATCHES_PER_PHASE[args.workload]
    phases = 3 if args.trace else 1
    wl = workloads.build(args.workload, args.seed, data_dir, args.sf, warm + per_phase * phases)

    setup_tracer = tracing.Tracer()
    if args.trace:
        tracing.install_setup(setup_tracer)
    try:
        served, setup_s = harness.start_server(run_dir / "warehouse")
    finally:
        setup_tracer.uninstall()
    runner = Runner(wl, served, data_dir)
    sc = served.spark.sparkContext
    try:
        done = [runner.run_phase(None, 0, warm)]
        marks = [job_mark(sc)]
        for i in range(phases):
            tracer = tracing.Tracer()
            if i == 1:  # the middle phase of a traced run
                runner.tracer = tracer
                tracing.install_call_path(tracer, served.spark)
            try:
                phase = runner.run_phase(args.seconds, warm + i * per_phase, per_phase)
                marks.append(job_mark(sc))
            finally:
                tracer.uninstall()
                runner.tracer = None
            phase.jobs, phase.stages, phase.tasks = count_work(sc, marks[-2], marks[-1])
            done.append(phase)
            if i == 0:
                rss_mb = harness.peak_rss_mb([os.getpid(), harness.jvm_pid()])
            if i == 1:
                traced, left = (phase, tracer), tracing.installed(served.spark)
                if left:
                    raise RuntimeError(f"wrappers left installed: {left}")
    finally:
        harness.stop_http(served)

    attempted = sum(len(p.records) for p in done)
    failed = sum(p.failed for p in done)
    untraced = done[1]
    e2e = end_to_end(untraced, setup_s)
    summary = ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in {**e2e, **client_view(untraced)}.items())
    print(
        f"{args.workload} seed={args.seed}: {summary}, peak_rss_mb={rss_mb:.0f} MiB, "
        f"error_rate={failed / attempted:.4g} ({failed}/{attempted}), "
        f"calls={len(untraced.records)}, wall={untraced.wall_s:.2f} s"
    )
    if args.trace:
        phase, tracer = traced
        metrics = per_layer(tracer, phase, done[3], setup_tracer.totals()[0], runner.op_jobs)
        for k, v in metrics.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
    else:
        metrics = e2e
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
