#!/usr/bin/env python
"""Per-query JOB-level profile of the bench headline set (guide §1).

Runs each headline query under the bench protocol (warm passes, then one
timed pass) on the served session policy with spark.eventLog enabled and a per-query job description,
then parses the event log to report, per query:

  - number of Spark jobs the single materialization launched (each job is
    a driver round-trip + scheduling floor — the per-query constant)
  - per-job wall ms
  - per-stage: task count, total task time, shuffle read/write bytes

Usage: python scripts/job_profile.py [query ...]
Prints one JSON object; not part of the driver contract.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import HEADLINE  # noqa: E402

LOGDIR = "/tmp/spark_graft_eventlog"


def main() -> None:
    names = sys.argv[1:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from mcp_clickhouse_spark.session import get_spark

    os.makedirs(LOGDIR, exist_ok=True)
    spark = get_spark(
        app_name="job-profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{LOGDIR}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    app_id = sc.applicationId
    qs = entrymod.queries()

    def mat(df):
        try:
            df.toArrow()
        except Exception:
            df.collect()

    # warm (2 passes is enough for job-structure profiling)
    for _ in range(2):
        for n in names:
            mat(qs[n](spark, sf_dir))
            spark.catalog.clearCache()
    # timed, labelled
    wall: dict[str, float] = {}
    for n in names:
        sc.setJobDescription(f"profile:{n}")
        t0 = time.perf_counter()
        mat(qs[n](spark, sf_dir))
        wall[n] = round(time.perf_counter() - t0, 3)
        sc.setJobDescription(None)
        spark.catalog.clearCache()
    spark.stop()

    # parse the event log (Spark 4: rolling dir eventlog_v2_<appid>/events_*)
    logfile = Path(LOGDIR) / app_id
    if not logfile.exists():
        cands = sorted(Path(LOGDIR).glob(f"eventlog_v2_{app_id}/events_*")) or sorted(
            Path(LOGDIR).glob(f"{app_id}*")
        )
        logfile = cands[0]
    jobs: dict[int, dict] = {}
    stage_to_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(logfile) as fh:
        for line in fh:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                jid = ev["Job ID"]
                jobs[jid] = {
                    "desc": desc,
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
                for s in ev.get("Stage Infos", []):
                    stage_to_job[s["Stage ID"]] = jid
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
                stages[sid] = {
                    "name": si.get("Stage Name", "")[:60],
                    "tasks": si.get("Number of Tasks"),
                    "ms": (si.get("Completion Time", 0) - si.get("Submission Time", 0)),
                    "shuf_read": acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0)
                    + (acc.get("internal.metrics.shuffle.read.localBytesRead", 0) or 0),
                    "shuf_write": acc.get("internal.metrics.shuffle.write.bytesWritten", 0),
                    "task_time": acc.get("internal.metrics.executorRunTime", 0),
                }

    per_query: dict[str, dict] = {}
    for jid, j in sorted(jobs.items()):
        d = j["desc"]
        if not d.startswith("profile:"):
            continue
        qname = d[len("profile:"):]
        pq = per_query.setdefault(qname, {"wall_s": wall.get(qname), "jobs": []})
        jst = [
            {
                "stage": sid,
                **{k: stages[sid][k] for k in ("tasks", "ms", "shuf_read", "shuf_write", "task_time")},
                "name": stages[sid]["name"],
            }
            for sid in j["stages"]
            if sid in stages
        ]
        pq["jobs"].append(
            {
                "job": jid,
                "ms": j.get("t1", j["t0"]) - j["t0"],
                "stages": jst,
            }
        )
    for q in per_query.values():
        q["n_jobs"] = len(q["jobs"])
        q["job_ms_total"] = sum(j["ms"] for j in q["jobs"])
    print(json.dumps(per_query, indent=1))


if __name__ == "__main__":
    main()
