"""askg benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg|corpus --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Set-up generates the inputs from the
seed and runs one untimed full-size pass; then timed passes run until
``--seconds`` have passed and the workload's pass floor is met, each
starting from an empty Spark cache. ``--trace 1`` runs the same with
Spark's event log on and reports per-layer metrics instead of
end-to-end ones; the tracing overhead is the traced run's
``trace.batch_s`` against an untraced run's ``batch_s``.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it records the pinned environment.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {
    "setup_s": "s", "batch_s": "s", "batch_cpu_s": "core-s",
    "req_p50_ms": "ms", "req_p90_ms": "ms", "req_per_s": "1/s",
    "peak_rss_mb": "MB",
}

BUILD_LAYERS = ["extract", "linking", "cc", "canonicalize", "relations",
                "triples", "materialize"]
CORPUS_LAYERS = ["dedup.exact", "dedup.ngram", "dedup.minhash",
                 "dedup.simhash", "dedup.clusters", "textops.top_terms",
                 "textops.collocations", "textops.quality", "bpe.train",
                 "bpe.encode"]
# span name -> self-time metric
SPAN_TIMES = {
    "extract": "extract.s", "linking": "linking.s", "cc": "cc.s",
    "canonicalize": "canonicalize.s", "relations": "relations.plan_s",
    "triples": "triples.plan_s", "materialize": "materialize.s",
    "search.term": "search.term_ms", "search.semantic": "search.semantic_ms",
    "graphops.neighbors": "graphops.neighbors_ms",
    **{layer: layer + "_s" for layer in CORPUS_LAYERS},
}
SERVE_SPANS = {"search.term", "search.semantic", "graphops.neighbors"}
_COUNTER_UNITS = {"tasks": "count", "task_cpu_s": "core-s",
                  "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s"}

PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "input.gen_s": "s",
    **{m: ("ms" if m.endswith("_ms") else "s") for m in SPAN_TIMES.values()},
    "extract.mentions_out": "count", "extract.rejects_out": "count",
    "linking.edges_out": "count", "canonicalize.entities_out": "count",
    "canonicalize.entities_per_mention": "ratio",
    "triples.rows_out": "count",
    "serve.jobs_per_req": "count", "serve.tasks_per_req": "count",
    "dedup.planted_found": "count", "bpe.jobs_per_merge": "count",
    "spark.cached_rdds_after_pass": "count",
    "host.steal_pct": "%", "host.load1": "load",
    "trace.batch_s": "s",
    "trace.span_coverage": "ratio",
    **{f"{layer}.{c}": u for layer in BUILD_LAYERS + CORPUS_LAYERS
       for c, u in _COUNTER_UNITS.items()},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: self-check input sizes")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter the first checked output (self-check)")
    return ap.parse_args(argv)


def timed_phase(run, wl, seconds: float, floor: int) -> list:
    """Timed passes until ``seconds`` have passed and at least
    ``floor`` passes ran."""
    from perfbench.harness import persistent_rdds, release_cached, tree_cpu_s
    from perfbench.workloads import PassRecord

    recs: list = []
    pid = os.getpid()
    t_end = time.monotonic() + seconds
    while time.monotonic() < t_end or len(recs) < floor:
        run.check("pass starts with nothing cached",
                  release_cached(run.spark), [])
        run.spans.pass_no += 1
        n0 = len(run.spans.items)
        rec = PassRecord()
        c0, t0 = tree_cpu_s(pid), time.monotonic()
        run.guarded(wl.name, lambda: wl.one_pass(rec))
        rec.wall, rec.cpu = time.monotonic() - t0, tree_cpu_s(pid) - c0
        if rec.batch_wall is None:
            rec.batch_wall, rec.batch_cpu = rec.wall, rec.cpu
        rec.spans = run.spans.items[n0:]
        rec.cached_after = len(persistent_rdds(run.spark))
        recs.append(rec)
    return recs


def end_to_end(recs, setup_s: float, peak_rss: float) -> dict:
    from perfbench.harness import median, quantile

    lat = [x for r in recs for x in r.latencies_ms]
    if not lat:  # a batch user's request is one whole pass
        lat = [r.wall * 1e3 for r in recs]
    return {
        "setup_s": setup_s,
        "batch_s": median([r.batch_wall for r in recs]),
        "batch_cpu_s": median([r.batch_cpu for r in recs]),
        "req_p50_ms": quantile(lat, 0.5),
        "req_p90_ms": quantile(lat, 0.9),
        # completed requests per second of request time
        "req_per_s": len(lat) / (sum(lat) / 1e3) if lat else 0.0,
        "peak_rss_mb": peak_rss,
    }


def per_layer(recs, evlog) -> dict:
    from perfbench.harness import charge_jobs, median, read_event_log

    out: dict[str, float] = {}
    by_span: dict[str, list[float]] = {}
    for r in recs:
        for sp in r.spans:
            by_span.setdefault(sp.name, []).append(sp.dur)
    for span, metric in SPAN_TIMES.items():
        if span in by_span:
            scale = 1e3 if metric.endswith("_ms") else 1.0
            out[metric] = median(by_span[span]) * scale

    jobs, stages = read_event_log(evlog)
    per_pass: dict[str, list[dict]] = {}
    req_jobs = req_tasks = n_req = 0
    for r in recs:
        charged = charge_jobs(r.spans, jobs, stages)
        sums: dict[str, dict] = {}
        for i, sp in enumerate(r.spans):
            acc = sums.setdefault(sp.name, {})
            for k, v in charged.get(i, {}).items():
                acc[k] = acc.get(k, 0.0) + v
            if sp.name in SERVE_SPANS:
                n_req += 1
                req_jobs += charged.get(i, {}).get("jobs", 0)
                req_tasks += charged.get(i, {}).get("tasks", 0)
        for name, acc in sums.items():
            per_pass.setdefault(name, []).append(acc)
    for name, accs in per_pass.items():
        for c in _COUNTER_UNITS:
            out[f"{name}.{c}"] = median([a.get(c, 0.0) for a in accs])
    if n_req:
        out["serve.jobs_per_req"] = req_jobs / n_req
        out["serve.tasks_per_req"] = req_tasks / n_req
    if "bpe.train" in per_pass:
        out["bpe.jobs_per_merge"] = median([
            a.get("jobs", 0) / max(r.extra.get("n_merges", 0), 1)
            for a, r in zip(per_pass["bpe.train"], recs)])
    if "planted_found" in recs[-1].extra:
        out["dedup.planted_found"] = recs[-1].extra["planted_found"]
    out["spark.cached_rdds_after_pass"] = median(
        [r.cached_after for r in recs])
    out["trace.batch_s"] = median([r.batch_wall for r in recs])
    out["trace.span_coverage"] = median([
        sum(sp.dur for sp in r.spans if sp.name not in SERVE_SPANS)
        / r.batch_wall for r in recs if r.batch_wall])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "askg_spark" / "pipeline.py").is_file():
        print(f"askg_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Run

    run_dir = harness.new_run_dir()
    rss = harness.RssPeak(os.getpid())
    steal0, t_run = harness.steal_ticks(), time.monotonic()
    session = harness.Session(run_dir)
    try:
        t = time.monotonic()
        session.start(trace=bool(args.trace))
        start_s = time.monotonic() - t
        env = session.env()
        run = Run(session, args.seed, args.scale, args.corrupt)
        wl = WORKLOADS[args.workload](run)
        t = time.monotonic()
        wl.generate()
        gen_s = time.monotonic() - t
        t = time.monotonic()
        wl.setup()
        warm_s = time.monotonic() - t
        recs = timed_phase(run, wl, args.seconds,
                           run.sizes["min_passes"][wl.name])
        counts = wl.counts() if args.trace and hasattr(wl, "counts") else {}
        peak = rss.stop()
        session.close()
        wall = time.monotonic() - t_run
        steal_pct = 100 * (harness.steal_ticks() - steal0) * 0.01 / wall
        load1 = os.getloadavg()[0]
        if args.trace:
            metrics = per_layer(recs, session.event_log())
            metrics |= counts | {
                "session.start_s": start_s, "session.warmup_s": warm_s,
                "input.gen_s": gen_s, "host.steal_pct": steal_pct,
                "host.load1": load1}
            catalog = PER_LAYER
        else:
            metrics = end_to_end(recs, start_s + gen_s + warm_s, peak)
            catalog = END_TO_END
    finally:
        rss.stop()
        session.close()
        harness.drop_run_dir(run_dir)

    env |= {"workload": args.workload, "seed": args.seed,
            "scale": args.scale,
            "pass_walls_s": [round(r.wall, 3) for r in recs],
            "batch_walls_s": [round(r.batch_wall, 3) for r in recs],
            "steal_pct_of_one_core": round(steal_pct, 3),
            "load1_end": load1}
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": float(metrics.get(name, 0.0)),
                           "unit": unit}
                    for name, unit in catalog.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
