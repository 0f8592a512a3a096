"""Local mirror of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB
over the same parquet tables; compare row count, sorted column names,
and a canonical sha256 VALUE HASH over the sorted rows.

The r4 lesson (VERDICT r4 ask #3): the old mirror normalized floats
with %.10g, which silently forgave last-ulp cross-engine differences
the driver's hash does not — a query could pass here and go red at the
gate. This version serializes every cell EXACTLY (repr round-trip for
floats, full-precision decimals, hex bytes), sorts rows canonically,
and hashes — so mirror-green requires bit-level value equality, at
least as strict as any sane driver hash. A mismatch prints both
hashes plus the first differing rows for debugging. Each query runs
inside an operator scope and the shared views are released at the end,
so a run leaves no stored frame behind.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""
from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal


def _norm_cell(v) -> str:
    """Canonical EXACT serialization of one cell — no rounding, no
    truncation, engine-agnostic:
    - float: 'NaN' for NaN, else repr() (shortest round-trip — two
      floats serialize equal IFF they are the same double, so a 1-ulp
      libm difference FAILS here exactly as it would at the gate)
    - Decimal (DuckDB HUGEINT/DECIMAL, Spark DecimalType): fixed-point
      string with trailing zeros stripped, so 3.00 == 3
    - datetime/date: tz-stripped isoformat
    - bytes: hex
    - bool before int (bool is an int subclass)
    - list/tuple/dict(struct): recursive
    - str: JSON-quoted, and no other type's form starts with '"', so
      no other value (None, a list, ...) serializes equal to a string
    """
    if isinstance(v, str):
        return json.dumps(v)
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr round-trip: two floats serialize equal IFF same double.
        # Deliberately NOT coerced to int when integral — a Spark
        # DOUBLE 3.0 against an oracle BIGINT 3 is a type-contract
        # bug this mirror must catch, not forgive.
        return repr(v)
    if isinstance(v, Decimal):
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s or "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{_norm_cell(v[k])}" for k in sorted(v)) + "}"
    return f"{type(v).__name__}:{v}"


def canonical_rows(cols, rows) -> list[tuple[str, ...]]:
    """Rows as tuples of serialized cells with columns sorted by name
    (the driver's documented pre-hash step), then the rows sorted —
    a canonical order-insensitive form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def value_hash(canon: list[tuple[str, ...]]) -> str:
    """sha256 over the canonical rows. Every row is prefixed with its
    cell count and every cell with its byte length, so no cell content
    can pass for a boundary: two rowsets hash equal only if their cells
    are equal."""
    h = hashlib.sha256()
    for row in canon:
        h.update(f"{len(row)}:".encode())
        for cell in row:
            b = cell.encode()
            h.update(f"{len(b)}:".encode())
            h.update(b)
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import duckdb

    import __spark_entry__ as entrymod
    from askg_spark.session import get_spark, operator_scope, release_views

    spark = get_spark("check-oracles", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    @operator_scope
    def spark_rows(fn):
        # the scope frees what the query stored once its rows are read
        sdf = fn(spark, sf_dir)
        return sdf.columns, [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            scols, srows = spark_rows(fn)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            sc = canonical_rows(scols, srows)
            oc = canonical_rows(ocols, orows)
            sh, oh = value_hash(sc), value_hash(oc)
            if sh != oh:
                sset, oset = set(sc), set(oc)
                extra = [r for r in sc if r not in oset][:3]
                miss = [r for r in oc if r not in sset][:3]
                problems.append(
                    f"hash {sh[:16]} != {oh[:16]}; "
                    f"spark-extra={extra} missing={miss}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"ok    {name}: {len(srows)} rows")
    release_views()
    print(f"\n{failures} failing" if failures else "\nall oracle checks pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
