"""Table catalog: snapshot-versioned parquet tables with manifest metadata.

SURVEY §7: no Iceberg runtime jar ships in this environment, so the
table format is abstracted here — the API (snapshot append/overwrite,
current-snapshot read, time travel by snapshot id, MERGE-style upsert,
retention/expiry) mirrors what the Iceberg calls would be, and the
implementation is plain parquet directories plus a JSON manifest. On a
cluster with Iceberg on the classpath this module is the only file that
changes (`df.writeTo(...)` instead of directory writes).

Layout:  <root>/<table>/manifest.json
         <root>/<table>/snap-<00000N>/part-*.parquet
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class Catalog:
    root: str

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "manifest.json")

    def manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"table": table, "current": None, "snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _save_manifest(self, table: str, man: dict) -> None:
        os.makedirs(self._tdir(table), exist_ok=True)
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=1)
        os.replace(tmp, self._manifest_path(table))

    def exists(self, table: str) -> bool:
        return self.manifest(table)["current"] is not None

    # -- writes ---------------------------------------------------------

    def write_snapshot(self, df: DataFrame, table: str, *,
                       properties: dict | None = None) -> int:
        """Append a new snapshot (becomes current); returns snapshot id."""
        man = self.manifest(table)
        snap_id = (man["current"] or 0) + 1
        path = os.path.join(self._tdir(table), f"snap-{snap_id:06d}")
        df.write.mode("overwrite").parquet(path)
        man["snapshots"].append({
            "id": snap_id, "path": path, "ts": time.time(),
            "properties": properties or {},
        })
        man["current"] = snap_id
        self._save_manifest(table, man)
        return snap_id

    def merge_upsert(
        self, spark: SparkSession, df: DataFrame, table: str, key: str
    ) -> int:
        """MERGE INTO semantics: new rows win on `key`, others retained.
        (Iceberg: MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED
        INSERT; here: anti-join old against new + union, new snapshot.)"""
        if self.exists(table):
            old = self.read(spark, table)
            keep = old.join(df.select(key).distinct(), key, "left_anti")
            df = keep.unionByName(df, allowMissingColumns=True)
        return self.write_snapshot(df, table)

    # -- reads ----------------------------------------------------------

    def read(self, spark: SparkSession, table: str,
             snapshot_id: int | None = None) -> DataFrame:
        man = self.manifest(table)
        sid = snapshot_id or man["current"]
        if sid is None:
            raise FileNotFoundError(f"table {table} has no snapshot")
        snap = next(s for s in man["snapshots"] if s["id"] == sid)
        return spark.read.parquet(snap["path"])

    def compact_snapshot(self, spark, table: str,
                         target_rows_per_file: int = 1_000_000) -> int:
        """Small-files compaction: rewrite the CURRENT snapshot into
        ceil(n / target_rows_per_file) files and append the result as
        a NEW snapshot (time travel to the fragmented one still
        works; `expire_snapshots` reclaims it later). The 100 TB
        motivation: streaming/incremental appends leave thousands of
        small files per partition, and scan tasks then quantize on
        file boundaries — compaction restores full-size scan splits.
        Iceberg analog: `rewrite_data_files`. Returns the new
        snapshot id.

        Single data pass: the row count comes from the existing
        parquet FOOTERS (O(files) metadata reads, no row scan), so
        the only pass over the data is the repartition+write itself —
        compaction targets exactly the large fragmented tables where
        a count() pre-scan would double the I/O."""
        import math
        man, snap = self._current(table)
        n = _parquet_footer_rows(snap["path"])
        df = self.read(spark, table)
        files = max(1, math.ceil(n / max(1, int(target_rows_per_file))))
        return self.write_snapshot(
            df.repartition(files), table,
            properties={"compacted_from": man["current"],
                        "rows": n, "files": files})

    def _current(self, table: str) -> tuple[dict, dict]:
        """(manifest, its current snapshot entry)."""
        man = self.manifest(table)
        return man, next(s for s in man["snapshots"]
                         if s["id"] == man["current"])

    def collect_file_stats(self, table: str, stats_cols: list[str]) -> int:
        """Record per-FILE column min/max of the current snapshot in the
        manifest — the
        Iceberg manifest-entry `lower_bounds`/`upper_bounds` analog,
        harvested from the parquet footers already on disk
        (metadata-only: O(files) footer reads, zero row scan).

        This is what makes a 10^8-file table scannable: a range
        predicate consults the manifest and opens only files whose
        [min, max] can overlap it (`scan_pruned`). Returns the number
        of files annotated."""
        import pyarrow.parquet as pq
        man, snap = self._current(table)
        entries = []
        for f in sorted(os.listdir(snap["path"])):
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(snap["path"], f)
            meta = pq.ParquetFile(fp).metadata
            names = {meta.schema.column(i).name: i
                     for i in range(meta.num_columns)}
            stats: dict[str, list] = {}
            for col in stats_cols:
                if col not in names:
                    continue
                lo = hi = None
                for g in range(meta.num_row_groups):
                    st = meta.row_group(g).column(names[col]).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        break
                    mn, mx = _json_scalar(st.min), _json_scalar(st.max)
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
                if lo is not None:
                    stats[col] = [lo, hi]
            entries.append({"path": fp, "rows": meta.num_rows,
                            "stats": stats})
        snap["files"] = entries
        self._save_manifest(table, man)
        return len(entries)

    def scan_pruned(self, spark: SparkSession, table: str, col: str,
                    lo, hi) -> tuple[DataFrame, dict]:
        """Range scan `lo <= col <= hi` of the current snapshot that
        opens ONLY files whose
        manifest [min, max] overlaps the range (files without stats
        for `col` are conservatively kept), then applies the exact
        predicate to the survivors. Returns (df, report) where report
        counts {files_total, files_read} — the observability hook the
        tests assert on.

        At 100 TB this turns a time-range query over a
        timestamp-sorted table from an all-files scan into an
        O(range) one BEFORE Spark's own row-group pushdown sees a
        single footer; it composes with that pushdown, not replaces
        it."""
        _man, snap = self._current(table)
        entries = snap.get("files")
        if entries is None:
            raise ValueError(
                f"no file stats for {table}@{snap['id']}; "
                f"run collect_file_stats")
        lo_j, hi_j = _json_scalar(lo), _json_scalar(hi)
        keep = [e["path"] for e in entries
                if col not in e["stats"]
                or (e["stats"][col][0] <= hi_j
                    and e["stats"][col][1] >= lo_j)]
        report = {"files_total": len(entries), "files_read": len(keep)}
        df = (spark.read.parquet(*keep) if keep
              else self.read(spark, table).limit(0))
        c = F.col(col)
        return df.filter((c >= F.lit(lo)) & (c <= F.lit(hi))), report

    # -- maintenance (master_data.py:200-218 keep-N semantics) ----------

    def expire_snapshots(self, table: str, keep: int = 5) -> int:
        man = self.manifest(table)
        snaps = sorted(man["snapshots"], key=lambda s: s["id"])
        expired = snaps[:-keep] if keep > 0 else []
        for s in expired:
            shutil.rmtree(s["path"], ignore_errors=True)
        man["snapshots"] = snaps[len(expired):]
        self._save_manifest(table, man)
        return len(expired)


def _json_scalar(v):
    """Footer statistics as JSON-safe, order-preserving scalars."""
    import datetime

    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def _parquet_footer_rows(path: str) -> int:
    """Sum num_rows from the parquet footers in snapshot directory
    `path` — metadata-only, no row scan."""
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def fingerprint(df: DataFrame) -> str:
    """Content fingerprint for stage-skip decisions (C1/C2): row count
    and the order-independent sum of every row's xxhash64 over all its
    columns, in one aggregate job. Any edit to any row changes it,
    whatever it does to the count or the latest timestamp. Analog of
    the reference's mtime currency check (master_data.py:58-91) on
    immutable snapshot inputs."""
    n, total = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()
    return f"{n}|{total or 0}"


def write_bucketed(df: DataFrame, table: str, key: str,
                   n_buckets: int = 32, path: str | None = None) -> None:
    """Bucketed parquet sink: co-locates rows by ``hash(key) %
    n_buckets`` at WRITE time so every later equi-join or aggregation
    on ``key`` between same-bucketed tables plans with NO exchange —
    the shuffle is paid once, at ingest, instead of per query
    (verified by plan assertion in tests/test_skew_and_prune.py).

    This is the catalog-level counterpart of the in-query
    `repartition` co-location the pipeline uses: on a 100 TB corpus
    the node/edge tables a KG serves are joined by entity id by every
    downstream query, so bucketing them by id at materialization
    amortizes the dominant exchange across the whole workload.
    ``sortBy(key)`` also pre-sorts within buckets, letting
    sort-merge joins skip their sort when Spark reads one file per
    bucket. Iceberg analog: a `bucket(n_buckets, key)` partition
    transform on the table spec."""
    w = (df.write.mode("overwrite").format("parquet")
         .bucketBy(int(n_buckets), key).sortBy(key))
    if path is not None:
        # external table: bucketed data lands at `path`, metadata (incl.
        # bucket spec) in the session catalog — the warehouse dir is a
        # static conf, so callers pass a path instead of retargeting it
        w = w.option("path", path)
    w.saveAsTable(table)
