"""Measurement plumbing shared by the workloads: the pinned Spark
session, process-tree CPU and RSS meters, host steal/load, spans, and
the event-log reader that charges Spark jobs and task counters to the
span that submitted them.

Everything a run writes goes under ``<checkout>/.perfbench_work``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
# Sized to a 4-core / 15 GiB host shared with other jobs (session.py's
# default, 48g, targets a 32-core box). The heap is committed at its
# full size from the start (-Xms): a heap that grows on demand made the
# tree's peak RSS swing by a quarter between identical runs.
HEAP = "3g"

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------ statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive
    method), defined for any non-empty sample."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    cuts = statistics.quantiles(xs, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


# ------------------------------------------------------ host and process

def _proc_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the Spark JVM, Python daemon and
    its workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(d)
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """Core-seconds used so far by the process tree. A reaped child's
    time lives on in its parent's cutime/cstime, so workers that exit
    mid-run stay counted."""
    ticks = 0
    for p in tree_pids(root):
        st = _proc_stat(str(p))
        if st:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK


def tree_rss_mb(root: int) -> float:
    pages = 0
    for p in tree_pids(root):
        st = _proc_stat(str(p))
        if st:
            pages += int(st[21])
    return pages * _PAGE / 2**20


class RssPeak:
    """Samples the process tree's summed RSS every ``period`` seconds
    on a daemon thread; ``stop()`` joins it and returns the peak."""

    def __init__(self, root: int, period: float = 0.25) -> None:
        self.root, self.period, self.peak = root, period, 0.0
        self._halt = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self) -> None:
        while not self._halt.wait(self.period):
            self.peak = max(self.peak, tree_rss_mb(self.root))

    def stop(self) -> float:
        self._halt.set()
        self._t.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb(self.root))
        return self.peak


def steal_ticks() -> int:
    """Cumulative hypervisor-steal jiffies across all vCPUs (same
    /proc/stat read as bench.py)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the event log uses
    end: float
    pass_no: int

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Spans:
    items: list[Span] = field(default_factory=list)
    pass_no: int = 0

    def add(self, name: str, start: float, end: float) -> None:
        self.items.append(Span(name, start, end, self.pass_no))

    def timed(self, name: str, fn):
        t0 = time.time()
        try:
            return fn()
        finally:
            self.add(name, t0, time.time())


# ---------------------------------------------------------- event log

LAYER_COUNTERS = ("tasks", "task_cpu_s", "shuffle_write_mb", "spill_mb",
                  "gc_s")


def read_event_log(path: Path) -> tuple[list[tuple[int, float, list[int]]],
                                        dict[int, dict[str, float]]]:
    """-> (jobs as (job_id, submit_epoch_s, stage_ids), per-stage task
    counters). A stage id can reappear, skipped, in later jobs; its
    tasks belong to the first job that lists it."""
    jobs, stages = [], {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append((ev["Job ID"], ev["Submission Time"] / 1e3,
                             list(ev["Stage IDs"])))
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], dict.fromkeys(
                    LAYER_COUNTERS, 0.0))
                st["tasks"] += 1
                st["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                st["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
                st["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics", {})
                                           .get("Shuffle Bytes Written", 0)
                                           / 2**20)
    return jobs, stages


def charge_jobs(spans: list[Span], jobs, stages) -> dict[int, dict]:
    """Counters per span index: each job goes to the span whose window
    holds its submission time; jobs outside every span are dropped."""
    owner: dict[int, int] = {}
    for job_id, _, stage_ids in sorted(jobs):
        for s in stage_ids:
            owner.setdefault(s, job_id)
    per_span: dict[int, dict] = {}
    for job_id, submit, stage_ids in jobs:
        hit = next((i for i, sp in enumerate(spans)
                    if sp.start <= submit <= sp.end), None)
        if hit is None:
            continue
        acc = per_span.setdefault(hit, dict.fromkeys(LAYER_COUNTERS, 0.0)
                                  | {"jobs": 0})
        acc["jobs"] += 1
        for s in stage_ids:
            if owner[s] == job_id and s in stages:
                for k, v in stages[s].items():
                    acc[k] += v
    return per_span


# ------------------------------------------------------------- session

class Session:
    """The pinned Spark session, with the event log on when traced."""

    def __init__(self, run_dir: Path) -> None:
        self.run_dir = run_dir
        self.local_dir = run_dir / "local"
        self.evlog_dir = run_dir / "eventlog"
        for d in (self.local_dir, self.evlog_dir, run_dir / "tmp"):
            d.mkdir(parents=True, exist_ok=True)
        env = os.environ
        env["SPARK_LOCAL_DIRS"] = str(self.local_dir)
        env["ASKG_DRIVER_MEM"] = HEAP
        env["TMPDIR"] = str(run_dir / "tmp")
        tempfile.tempdir = None
        # Python workers are forked by the JVM and import askg_spark
        # from the checkout, not from this process's sys.path.
        env["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(
                os.pathsep) if p])
        for k in ("ASKG_MASTER", "ASKG_SHUFFLE_PARTITIONS",
                  "SPARK_GRAFT_CPUS", "PYSPARK_GATEWAY_PORT"):
            env.pop(k, None)
        self.master = f"local[{n_cores()}]"
        self.spark = None

    def _confs(self, trace: bool) -> dict[str, str]:
        confs = {
            "spark.driver.memory": HEAP,
            "spark.local.dir": str(self.local_dir),
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.run_dir / 'tmp'} -XX:-UsePerfData "
                f"-Xms{HEAP}",
        }
        if trace:
            confs |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.evlog_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        return confs

    def start(self, trace: bool = False):
        from askg_spark.session import get_spark

        self.spark = get_spark("perfbench", master=self.master,
                               extra_confs=self._confs(trace))
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def event_log(self) -> Path:
        """The finished event log; call after ``close()``."""
        logs = [p for p in self.evlog_dir.iterdir()
                if not p.name.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        return logs[0]

    def env(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "master": sc.master,
            "heap": HEAP,
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "shuffle_partitions": int(
                self.spark.conf.get("spark.sql.shuffle.partitions")),
            "pyspark": pyspark.__version__,
            "pythonpath": os.environ["PYTHONPATH"],
        }

    def close(self) -> None:
        """Stop Spark and wait for the gateway JVM (and with it the
        Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def persistent_rdds(spark) -> list:
    return list(spark.sparkContext._jsc.getPersistentRDDs().values())


def release_cached(spark) -> list[int]:
    """Drop the catalog cache and unpersist every persisted RDD (cached
    frames, localCheckpoints); return the ids of any still persisted."""
    spark.catalog.clearCache()
    for rdd in persistent_rdds(spark):
        rdd.unpersist(True)
    return sorted(r.id() for r in persistent_rdds(spark))


def new_run_dir() -> Path:
    d = WORK / f"run-{os.getpid()}-{time.time_ns()}"
    d.mkdir(parents=True)
    return d


def drop_run_dir(d: Path) -> None:
    shutil.rmtree(d, ignore_errors=True)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
