#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>}

Timing = full query execution to materialized result (collect), which is
what the DuckDB baseline measures too. The session is warmed with one
trivial job first so JVM/codegen startup isn't billed to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# The headline set: one representative per operator family, correctness-
# checked queries only (see mcp_clickhouse_spark/inventory/).
HEADLINE = [
    "q1_pricing_summary",
    "scan_projection",
    "join_star_revenue",
    "join_asof",
    "agg_count_distinct",
    "agg_rollup",
    "win_running_sum",
    "events_session_window",
    "events_tumbling_window",
    "shim_limit_by",
    "pipe_dedup_exact",
    "pipe_minhash_lsh",
    "pipe_embed_topk",
    "pipe_text_stats",
    # round-5 pipeline additions (fresh-execution queries only: the
    # dedup-funnel/clustering queries localCheckpoint their iterative
    # stages, so a repeat-timing harness would measure cached replays —
    # they are excluded on honesty grounds, see PLANS.md for their story).
    "pipe_span_dedup",
    "pipe_vocab_oov",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    import __spark_entry__ as entrymod
    from mcp_clickhouse_spark.session import get_spark

    # The served session policy, exactly as MCPSparkServer builds it: shuffle
    # partitions max(cores, 4), AQE on.  AQE off was measured faster on every
    # headline query at sf0.1 on 32 cores (interleaved min-of-3: q1
    # 0.56→0.34 s, join_star 0.82→0.58 s, total −1.5 s) — its per-exchange
    # scheduler job dominates when the input is megabytes — but whether the
    # served policy should switch it off for small inputs is measured on the
    # tool path, not decided here.
    spark = get_spark(app_name="mcp-clickhouse-spark-bench")
    qs = entrymod.queries()

    # Materialize via Arrow (df.toArrow): the full result set crosses the
    # JVM→client boundary in columnar batches, the same native-fetch path the
    # DuckDB baseline uses.  Row-at-a-time py4j collect() was costing ~1 s on
    # 100k-row results (join_asof 1.57 s → 0.55 s measured) — serialization
    # overhead, not query execution.
    def materialize(df) -> None:
        try:
            df.toArrow()
        except Exception:  # pragma: no cover — pre-Arrow fallback
            df.collect()

    # Interleaved power-run protocol: one untimed warm pass over the whole
    # list (JIT/codegen/page cache), then THREE timed rounds of the full
    # list (A/B/C), per-query result = min across rounds.  Interleaving is
    # the load-noise defense: a transient CPU spike contaminates one round,
    # not every consecutive sample of one query — back-to-back best-of-2
    # swung ±25-40% under round-end system load and masked real wins
    # (r4 verdict).  Per-query spread (max−min) is emitted so external load
    # shows up as data instead of as a fake regression.  Cache cleared
    # between runs so persisted intermediates (e.g. the MinHash banded
    # frame) never carry over.
    ROUNDS = 3
    WARM_PASSES = 6  # sub-second queries keep speeding up through ~6-9 JVM
    # executions as C2 finishes compiling the generated code; measured on
    # this box: 1 warm pass → 8.5 s total, 3 → 7.8 s, 6 → 6.8 s.  6 untimed
    # passes + 3 timed rounds ≈ steady state, matching the warm best-of-N
    # protocol the DuckDB baseline is timed under.
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(WARM_PASSES):
        for name in HEADLINE:
            materialize(qs[name](spark, sf_dir))
            spark.catalog.clearCache()
    for _ in range(ROUNDS):
        for name in HEADLINE:
            t0 = time.perf_counter()
            materialize(qs[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
            spark.catalog.clearCache()
    times = {name: round(min(s), 3) for name, s in samples.items()}
    spread = {name: round(max(s) - min(s), 3) for name, s in samples.items()}

    # Additive keys (contract: never remove/rename): the effective
    # parallelism of the live session, so a cross-core-count comparison is
    # interpretable.  At small SFs the small-table scan-split cap (8 files)
    # bounds scan stages at 8 tasks regardless of cores — tables >= 1M rows
    # scale their scan split with max(8, cores // 2)
    # (session._split_file_cap), which is where 8-vs-32 core runs genuinely
    # diverge once the data is big enough.
    from mcp_clickhouse_spark.session import _split_file_cap

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "spread": spread,
                "rounds": ROUNDS,
                "sf": sf,
                "cpus": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                "scan_split_cap_big_tables": _split_file_cap(spark, 10**9),
            }
        )
    )


if __name__ == "__main__":
    main()
