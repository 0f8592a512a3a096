"""Bench harness: every shared view build and every query of
``__spark_entry__.queries()`` at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:

  {"metric": "headline_suite", "value": <total sec>, "unit": "sec",
   "queries": {"build:<view>": sec, ..., <query>: sec, ...},
   "sf": <dir>, ...extras}

Each view of ``askg_spark.session.VIEWS`` is built in its own
``build:<view>`` row first, so no query row pays for a build that
others share, whatever the order. Then every query runs in contract
order through one action, a ``noop`` write: it evaluates every column,
where a ``count()`` may prune projected UDF columns. Extras: the
untimed warmup's wall (``warmup_s``), KG throughput from the
``build:kg`` row, ANN recall from the ``ann_recall_report`` rows and
host steal over the suite.
"""
from __future__ import annotations

import json
import os
import sys
import time


def _steal_ticks() -> int:
    """Cumulative hypervisor-steal jiffies across all vCPUs. The
    sandbox is a shared VM whose identical runs vary up to 2x with
    co-tenant load (BENCH.md measurement protocol); recording the
    per-run steal delta + load makes each recorded sample auditable."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from askg_spark import session
    from askg_spark.pipeline import PipelineConfig, run_pipeline
    from askg_spark.webcorpus import render_pages

    spark = session.get_spark("askg-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(row, fn, *args):
        t0 = time.monotonic()
        fn(*args)
        timings[row] = round(time.monotonic() - t0, 3)

    @session.operator_scope
    def run_query(query):
        # the scope frees what the query stored once its rows are written
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Untimed warmup: a 200-doc pipeline pass starts the Python worker
    # pool and compiles the hot codegen paths. The first pipeline run
    # in a session measured ~22s at sf0.1 and every later one ~11.5s
    # with identical work; without this pass the one-time startup
    # lands on whichever row runs first.
    t0 = time.monotonic()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    warm = run_pipeline(spark, render_pages(docs.limit(200)),
                        PipelineConfig())
    warm.triples.count()
    session.release(warm.mentions, warm.entities)
    extras["warmup_s"] = round(time.monotonic() - t0, 2)

    t_all = time.monotonic()
    steal0 = _steal_ticks()
    for name in session.VIEWS:
        timed(f"build:{name}", session.view, spark, name, sf_dir)
    qs = entrymod.queries()
    for name, query in qs.items():
        timed(name, run_query, query)
    total = round(time.monotonic() - t_all, 2)
    # steal as % of ONE core over the suite window (jiffy = 10 ms)
    extras["steal_corepct"] = round(
        100 * (_steal_ticks() - steal0) * 0.01 / max(total, 1e-9), 1)

    n_docs = docs.count()
    n_triples = session.view(spark, "kg", sf_dir)["triples"].count()
    extras["kg_docs"] = n_docs
    extras["kg_triples"] = n_triples
    extras["kg_docs_per_sec"] = round(n_docs / timings["build:kg"], 1)
    extras["kg_triples_per_sec"] = round(n_triples / timings["build:kg"], 1)
    n_exact = session.view(spark, "ann_exact", sf_dir)["topk"].count()
    hits: dict[str, int] = {}
    for r in qs["ann_recall_report"](spark, sf_dir).collect():
        hits[r["method"]] = hits.get(r["method"], 0) + r["n_hits"]
    for method, n in sorted(hits.items()):
        extras[f"ann_{method}_recall"] = round(n / n_exact, 4)

    print(json.dumps({
        "metric": "headline_suite",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        **extras,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
