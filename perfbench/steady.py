"""Steadiness check: run each workload once per seed and report, for
every end-to-end metric, the median, the quartiles and the spread
(Q3 - Q1) / median next to the bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--workloads build serve]
        [--json out.json]

Runs are sequential, one Spark process at a time, from the checkout
root; a run that fails or prints no result is reported and counted.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"ok": False, "wall": wall, "rc": proc.returncode,
                "stderr": proc.stderr[-2000:]}
    res = json.loads(lines[-1])
    env = json.loads(lines[-2])["env"] if len(lines) > 1 else {}
    return {"ok": res["correct"], "wall": wall, "result": res, "env": env}


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--json", type=Path)
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {}
    for wl in args.workloads:
        runs = []
        for seed in args.seeds:
            r = run_once(wl, seed, args.seconds, 0)
            runs.append(r)
            print(f"{wl} seed={seed} ok={r['ok']} wall={r['wall']:.1f}s",
                  file=sys.stderr, flush=True)
        good = [r["result"]["metrics"] for r in runs if r.get("result")]
        stats = {}
        for name, bound in bounds.items():
            vals = [m[name]["value"] for m in good]
            if len(vals) >= 2:
                stats[name] = summarize(vals) | {"bound": bound,
                                                 "values": vals}
        report[wl] = {"runs": len(runs),
                      "failed_runs": sum(not r["ok"] for r in runs),
                      "mean_run_wall_s": statistics.mean(
                          r["wall"] for r in runs),
                      "envs": [r.get("env") for r in runs],
                      "metrics": stats}
        print(f"\n{wl}: {len(runs)} runs, "
              f"{report[wl]['failed_runs']} failed, mean run wall "
              f"{report[wl]['mean_run_wall_s']:.1f} s")
        print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>8}")
        for name, s in stats.items():
            print(f"{name:<14}{s['median']:>12.4g}{s['q1']:>12.4g}"
                  f"{s['q3']:>12.4g}{s['spread']:>9.3f}{s['bound']:>8.2f}")
    if args.json:
        args.json.write_text(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
