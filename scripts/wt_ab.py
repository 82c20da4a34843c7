#!/usr/bin/env python
"""Interleaved A/B of a code change against a base git revision, exported
once (``git archive``) to ``$TMPDIR/wt_<sha>``. The side that runs first flips
every round (ABBA), so a load ramp cannot systematically penalize one side.
Extra env (SPARK_GRAFT_*) passes through to both sides.

``wt_ab.py BASE_REV ROUNDS [query ...]``: bench.py ROUNDS times per side;
reports the per-query MIN per side (the query list filters the report).

``wt_ab.py BASE_REV --perfbench WORKLOAD SEED SEED [...]``: one pair of
``perfbench/run.py --workload WORKLOAD --seed S --seconds 6 --trace 0`` runs
per seed (``run_seconds`` of BENCHMARK.json); for each end-to-end metric,
the median and quartiles per side and the pairs the change wins, then the
failed operations per side.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def base_checkout(base_rev: str) -> Path:
    git = ["git", "-C", str(REPO)]
    sha = subprocess.run(
        [*git, "rev-parse", "--short", base_rev], check=True, capture_output=True, text=True
    ).stdout.strip()
    wt = Path(tempfile.gettempdir()) / f"wt_{sha}"
    if not wt.exists():  # extract aside, then rename: a cut export is never reused
        part = tempfile.mkdtemp(prefix=f"wt_{sha}.")
        archive = subprocess.run([*git, "archive", sha], check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", part], input=archive, check=True)
        Path(part).rename(wt)
    return wt


def last_json(cwd: Path, args: list[str]) -> dict:
    """Run a script of the checkout at ``cwd``; return its last JSON line."""
    proc = subprocess.run([sys.executable, *args], capture_output=True, text=True, cwd=cwd)
    cands = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not cands:
        sys.stderr.write(proc.stderr)
        sys.exit(f"{args[0]} failed (rc={proc.returncode}) in {cwd}")
    return json.loads(cands[-1])


def ab_runs(base: Path, rounds: int, args, summary) -> dict[str, list[dict]]:
    """Each side's outputs of ``args(round)`` over ``rounds`` ABBA rounds."""
    runs: dict[str, list[dict]] = {"base": [], "head": []}
    for r in range(rounds):
        order = (("base", base), ("head", REPO))
        for name, cwd in order[::-1] if r % 2 else order:
            runs[name].append(last_json(cwd, args(r)))
            print(f"# round {r + 1} {name}: {summary(runs[name][-1])}", file=sys.stderr, flush=True)
    return runs


def bench_mode(base: Path, rounds: int, only: list[str]) -> None:
    runs = ab_runs(
        base, rounds, lambda r: ["bench.py"], lambda o: f"total={sum(o['queries'].values()):.3f}"
    )
    best = {n: {k: min(o["queries"][k] for o in rs) for k in rs[0]["queries"]} for n, rs in runs.items()}
    qnames = [k for k in best["head"] if not only or k in only]
    print(f"{'query':26s} {'base':>9s} {'head':>9s} {'delta':>9s}")
    for qn in qnames:
        b, h = best["base"].get(qn, float('nan')), best["head"][qn]
        print(f"{qn:26s} {b:9.3f} {h:9.3f} {h - b:+9.3f}")
    tb = sum(best["base"].values())
    th = sum(best["head"].values())
    print(f"{'TOTAL':26s} {tb:9.3f} {th:9.3f} {th - tb:+9.3f}")


def perfbench_mode(base: Path, workload: str, seeds: list[str]) -> None:
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    args = ["perfbench/run.py", "--workload", workload, "--seconds", str(spec["run_seconds"])]
    runs = ab_runs(
        base, len(seeds), lambda r: [*args, "--seed", seeds[r], "--trace", "0"],
        lambda o: ", ".join(f"{k}={v['value']:.4g}" for k, v in o["metrics"].items())
        + f", failed {o['failed']}",
    )
    for m in spec["end_to_end"]:
        side = {n: [o["metrics"][m["name"]]["value"] for o in rs] for n, rs in runs.items()}
        print(f"{workload} {m['name']} ({m['unit']}, {m['better']} is better)")
        for n, v in side.items():
            q1, med, q3 = statistics.quantiles(v, n=4, method="inclusive")
            print(f"  {n}: median {med:.4g} [q1 {q1:.4g}, q3 {q3:.4g}]")
        sign = 1 if m["better"] == "lower" else -1
        wins = sum(sign * (b - h) > 0 for b, h in zip(side["base"], side["head"]))
        print(f"  head wins {wins}/{len(seeds)} pairs")
    print("failed operations: " + ", ".join(
        f"{n} {sum(o['failed'] for o in rs)}/{sum(o['attempted'] for o in rs)}"
        for n, rs in runs.items()
    ))


def main() -> None:
    base = base_checkout(sys.argv[1])
    if sys.argv[2] == "--perfbench":
        if len(sys.argv) < 6:
            sys.exit("perfbench mode needs at least two seeds (pairs) for quartiles")
        perfbench_mode(base, sys.argv[3], sys.argv[4:])
    else:
        bench_mode(base, int(sys.argv[2]), sys.argv[3:])


if __name__ == "__main__":
    main()
