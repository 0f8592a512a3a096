"""Measure cc.connected_components final_collapse="serial" vs "loop"
on a synthetic 10^7-vertex match graph (5-vertex chains — the realistic
dedup-cluster shape: many small components), asserting identical
labels. The "loop" mode is the 10^12-design path (no serial task
anywhere); this benchmark pins its measured cost next to the default.

Usage: python tools/cc_collapse_bench.py [n_vertices] [master]
Prints one JSON line.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F

from askg_spark.cc import connected_components
from askg_spark.session import get_spark


def vname(c):
    return F.concat(F.lit("v"), F.lpad(c.cast("string"), 9, "0"))


def main() -> int:
    n = int(float(sys.argv[1])) if len(sys.argv) > 1 else 10_000_000
    master = sys.argv[2] if len(sys.argv) > 2 else "local[32]"
    spark = get_spark("cc-collapse-bench", master=master,
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    verts = spark.range(n).select(vname(F.col("id")).alias("id")).persist()
    n_verts = verts.count()
    # chain edge (k, k+1) unless k % 5 == 4 -> components of size 5;
    # chains (not stars) force real label propagation through both
    # collapse modes
    edges = (spark.range(n)
             .filter((F.col("id") % 5 != 4) & (F.col("id") + 1 < n))
             .select(vname(F.col("id")).alias("src"),
                     vname(F.col("id") + 1).alias("dst"))
             .persist())
    n_edges = edges.count()

    timings, checks = {}, {}
    for mode in ("serial", "loop"):
        t0 = time.monotonic()
        lab = connected_components(edges, verts, final_collapse=mode)
        agg = lab.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("component").alias("n_components"),
            F.expr("bit_xor(xxhash64(id, component))").alias("hash_xor"),
        ).collect()[0]
        timings[mode] = round(time.monotonic() - t0, 2)
        checks[mode] = (agg["n_rows"], agg["n_components"], agg["hash_xor"])

    assert checks["serial"] == checks["loop"], (
        f"label sets diverge: {checks}")
    assert checks["serial"][0] == n_verts
    assert checks["serial"][1] == (n + 4) // 5

    print(json.dumps({
        "metric": "cc_final_collapse",
        "n_vertices": n_verts,
        "n_edges": n_edges,
        "n_components": checks["serial"][1],
        "serial_sec": timings["serial"],
        "loop_sec": timings["loop"],
        "identical_labels": True,
        "master": master,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
