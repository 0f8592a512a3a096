"""Density-controlled N vs 4N scaling sampler.

Motivation (measured, see BENCH.md §1c/§3): on this one-die sandbox the
pinned local[2] vs local[8] comparison gives every phase a uniform
~0.79 scaling ratio because 8 active streams share the die's LLC and
memory bandwidth while 2 streams enjoy ~4x the per-core bandwidth —
a hardware term that does NOT exist on a real N -> 4N cluster, where
per-NODE executor density (and therefore per-core bandwidth) is
identical at both cluster sizes; what changes is the node count.

This sampler equalizes the machine conditions of the two levels:

  * N level ("dense"):  C independent replicas of the identical job,
    each pinned to its own disjoint N-core set (cores 0..N-1,
    N..2N-1, ...) — all C*N cores active, same die pressure as the
    big level. Each replica is a stand-in for "one N-core executor
    group on a fully-loaded node".
  * 4N level ("big"):   one job pinned to the same C*N cores.

Per-job efficiency = median(dense replica walls) / (C * T_big) —
both levels now see the same per-core cache/bandwidth, so the ratio
measures the SOFTWARE's scaling (shuffle width, stragglers, serial
stages), which is the thing that transfers to a real cluster.

Straight-pinned numbers (BENCH.md §1, from the samplers kept in git
history at commit 7ae147d) remain the primary disclosure; this protocol
is reported alongside them, labeled.

Usage:
    python tools/density.py --servers 800000 \
        --pages /dev/shm/askg-scaling-pages-800000 \
        --cores 2 --copies 4 --pairs 3 \
        --out density_800k.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from askg_spark.session import DEFAULT_CONFS  # noqa: E402


def _zip_pkg() -> str:
    path = os.path.join(tempfile.gettempdir(), "askg_spark_density.zip")
    with zipfile.ZipFile(path, "w") as zf:
        pkg = os.path.join(REPO, "askg_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return path


def _load_avg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _steal_ticks() -> int:
    """Cumulative hypervisor steal ticks (all vCPUs, 10 ms each). On a
    shared VM, steal inflates every measured duration; the per-sample
    delta makes co-tenant interference auditable per run."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def steal_cores(window: float = 15.0) -> float:
    """Average stolen cores over `window` seconds."""
    s0, t0 = _steal_ticks(), time.monotonic()
    time.sleep(window)
    return (_steal_ticks() - s0) * 0.01 / (time.monotonic() - t0)


def _dense_cmd(copy: int, cores: int, servers: int, zip_path: str,
               pages: str, driver_mem: str) -> list[str]:
    lo, hi = copy * cores, (copy + 1) * cores - 1
    return [
        "taskset", "-c", f"{lo}-{hi}",
        "spark-submit", "--master", f"local[{cores}]",
        "--driver-memory", driver_mem,
        "--py-files", zip_path,
        os.path.join(REPO, "askg_spark", "cli.py"),
        "bench", "--servers", str(servers), "--pages", pages,
    ]


def run_big(cores: int, servers: int, zip_path: str, pages: str,
            timeout: int) -> dict:
    """One bench run with the whole process tree pinned to cores
    0..cores-1 (JVM, shuffle/GC threads and Python workers alike)."""
    load, steal0, t0 = _load_avg(), _steal_ticks(), time.monotonic()
    proc = subprocess.run(
        _dense_cmd(0, cores, servers, zip_path, pages,
                   DEFAULT_CONFS["spark.driver.memory"]),
        capture_output=True, text=True, timeout=timeout, cwd=REPO)
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not line:
        raise RuntimeError(
            f"bench produced no JSON (rc={proc.returncode}):\n"
            + proc.stderr[-8000:])
    wall = time.monotonic() - t0
    rec = json.loads(line[-1])
    rec.update(cores=cores, load_before=load, load_after=_load_avg(),
               steal_corepct=round(
                   100 * (_steal_ticks() - steal0) * 0.01 / wall, 1),
               harness_wall=round(wall, 1))
    return rec


def run_dense(cores: int, copies: int, servers: int, zip_path: str,
              pages: str, timeout: int, driver_mem: str) -> dict:
    """Launch `copies` pinned replicas simultaneously; wait for all."""
    load = _load_avg()
    steal0 = _steal_ticks()
    t0 = time.monotonic()
    procs = [
        subprocess.Popen(
            _dense_cmd(i, cores, servers, zip_path, pages, driver_mem),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, cwd=REPO)
        for i in range(copies)
    ]
    walls, recs, errs = [], [], []
    for p in procs:
        try:
            out, err = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            out, err = p.communicate()
        lines = [ln for ln in out.splitlines() if ln.startswith("{")]
        if lines:
            rec = json.loads(lines[-1])
            recs.append(rec)
            walls.append(rec["sec"])
        else:
            errs.append(err[-3000:])
    harness_wall = time.monotonic() - t0
    steal_pct = 100 * (_steal_ticks() - steal0) * 0.01 / harness_wall
    walls.sort()
    med = (walls[len(walls) // 2] if len(walls) % 2
           else 0.5 * (walls[len(walls) // 2 - 1] + walls[len(walls) // 2]))
    return {
        "cmd": "dense", "cores": cores, "copies": copies,
        "walls": walls, "median_wall": round(med, 2) if walls else None,
        "ok_copies": len(walls),
        "pages": recs[0]["pages"] if recs else None,
        "triples": recs[0]["triples"] if recs else None,
        "stage_sec": recs[0].get("stage_sec") if recs else None,
        "load_before": load, "load_after": _load_avg(),
        "steal_corepct": round(steal_pct, 1),
        "harness_wall": round(harness_wall, 1),
        "errors": errs,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--servers", type=int, required=True)
    ap.add_argument("--pages", type=str, required=True)
    ap.add_argument("--cores", type=int, default=2,
                    help="cores per dense replica (= N)")
    ap.add_argument("--copies", type=int, default=4,
                    help="dense replicas (= 4N / N)")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--timeout", type=int, default=4000)
    ap.add_argument("--steal-gate", type=float, default=0.2)
    ap.add_argument("--load-gate", type=float, default=1.5)
    ap.add_argument("--driver-mem", type=str, default="20g",
                    help="per-replica driver memory (copies run "
                         "concurrently; keep copies*mem well under RAM)")
    ap.add_argument("--out", type=str, required=True)
    args = ap.parse_args()

    zip_path = _zip_pkg()
    big = args.cores * args.copies
    done = 0
    while done < args.pairs:
        sc = steal_cores()
        load = _load_avg()
        if sc > args.steal_gate or load > args.load_gate:
            print(f"waiting: steal {sc:.2f} cores, load {load}",
                  file=sys.stderr, flush=True)
            time.sleep(45)
            continue
        # big level first (scarcer-clean: shorter window)
        rec_big = run_big(big, args.servers, zip_path, args.pages,
                          args.timeout)
        rec_big["gated"] = True
        with open(args.out, "a") as fh:
            fh.write(json.dumps(rec_big) + "\n")
        print(f"big[{big}]: {rec_big['sec']}s "
              f"steal {rec_big['steal_corepct']}%", flush=True)
        rec_d = run_dense(args.cores, args.copies, args.servers,
                          zip_path, args.pages, args.timeout,
                          args.driver_mem)
        with open(args.out, "a") as fh:
            fh.write(json.dumps(rec_d) + "\n")
        if rec_d["median_wall"]:
            eff = rec_d["median_wall"] / (args.copies * rec_big["sec"])
            print(f"dense[{args.copies}x{args.cores}]: walls "
                  f"{rec_d['walls']} steal {rec_d['steal_corepct']}% "
                  f"-> pair efficiency {eff:.3f}", flush=True)
        done += 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
