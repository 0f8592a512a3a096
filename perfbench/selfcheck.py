"""Tiny-size self-check of the benchmark itself.

    python3 perfbench/selfcheck.py

Asserts, for every workload at self-check input sizes, that
  * the result line has exactly the contract's keys, the run is
    correct, and every metric BENCHMARK.json names is emitted with its
    unit (end-to-end metrics untraced, per-layer metrics traced), the
    end-to-end ones non-zero;
  * a deliberately corrupted output counts as a failed operation;
and that in a directory holding only BENCHMARK.json and the benchmark's
own files the command exits non-zero without printing a result.
Exits 1 on the first broken assertion.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KEYS = {"correct", "attempted", "failed", "metrics"}


def run(workload: str, *flags: str, cwd: Path = ROOT
        ) -> tuple[int, dict | None]:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        bench["command"] + ["--workload", workload, "--seed", "3",
                            "--seconds", "0", *flags],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return proc.returncode, None


def check(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(wl, "--scale", "tiny", "--trace", str(trace))
            check(rc == 0 and res is not None and set(res) == KEYS,
                  f"{wl} trace={trace}: exit 0 and result keys")
            check(res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 1,
                  f"{wl} trace={trace}: correct, "
                  f"{res['attempted']} attempted, 0 failed")
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{wl} trace={trace}: every {section} "
                  "metric emitted with its unit")
            vals = [v["value"] for v in res["metrics"].values()]
            check(all(isinstance(v, float) and math.isfinite(v)
                      for v in vals), f"{wl} trace={trace}: finite values")
            if section == "end_to_end":
                check(all(v > 0 for v in vals),
                      f"{wl}: end-to-end metrics non-zero")
        rc, res = run(wl, "--scale", "tiny", "--corrupt")
        check(rc == 0 and res is not None and not res["correct"]
              and res["failed"] >= 1,
              f"{wl}: a corrupted output counts as a failure")

    bare = ROOT / ".perfbench_work" / "selfcheck-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in bench["paths"]:
        shutil.copytree(ROOT / p, bare / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = run("build", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and res is None,
          "without the program: non-zero exit and no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
