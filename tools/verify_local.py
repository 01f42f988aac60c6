"""Local replica of the driver's correctness gate.

Runs every registered query through Spark AND its DuckDB oracle on the
same parquet tables, then compares row count, schema shape, and
order-insensitive values (columns sorted by name — the driver's rule).

Usage:
    python tools/verify_local.py [--sf /root/testdata/sf0.01] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def canon_value(v) -> str:
    """Format one cell the way the driver's pandas canonicalizer sees it.

    The driver hashes FORMATTED values (CORRECTNESS_r01 showed hash_match
    false for int64 `3` vs float64 `3.0`), so this is deliberately
    type-strict: no Decimal→float collapse, no rounding. Queries must emit
    the same type AND the same rounding on both sides.
    """
    import datetime
    import decimal

    if v is None:
        return "NULL"
    # numpy scalars/arrays → python (toPandas / duckdb .df() both emit them)
    if type(v).__module__ == "numpy":
        v = v.tolist() if getattr(v, "ndim", 0) else v.item()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)  # keeps the int/float distinction: 3 vs 3.0
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        # pandas astype(str) formats midnight timestamps date-only — the
        # driver-green r1 date queries prove its canonicalizer does the same
        v = v.replace(tzinfo=None)
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return str(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, bytearray):
        return bytes(v).hex()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize(rows: list[tuple]) -> list[tuple]:
    """Canonicalize rows: per-cell strict formatting, then order-insensitive."""
    return sorted(tuple(canon_value(v) for v in r) for r in rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument(
        "--json",
        default=None,
        help="also write a per-query pass/fail matrix to this path "
        "(VERDICT r5 item 6: the round-close sweep must be an auditable "
        "artifact, not a narrative claim)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    results: dict[str, dict] = {}

    import __spark_entry__ as entry_mod
    from etl4s_spark.session import get_spark
    from tools.harness import TABLES, run_query

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.names or sorted(qs)

    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        if name not in qs:
            print(f"  {name}: NOT REGISTERED")
            results[name] = {"status": "fail", "err": "not_registered"}
            n_fail += 1
            continue
        # go through pandas like the driver does — dtype coercions
        # (nullable int → float64, etc.) are part of what we verify
        rec = run_query(spark, name, args.sf, "pandas")
        if rec["error"]:
            print(f"FAIL {name}: spark error: {rec['error']}")
            results[name] = {"status": "fail", "err": "spark:" + rec["error"].split(":")[0]}
            n_fail += 1
            continue
        scols = sorted(rec["result"].columns)
        spdf = rec["result"][scols]
        srows = [tuple(row) for row in spdf.itertuples(index=False, name=None)]
        dt = rec["build_s"] + rec["exec_s"]
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {dt:.1f}s)")
            results[name] = {
                "status": "rows_only", "spark_rows": len(srows), "sec": round(dt, 2),
            }
            n_rows_only += 1
            continue
        try:
            # .df(), not .fetchall(): the driver's pandas path turns
            # HUGEINT/DECIMAL into float64 — we must see the same values
            dpdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            results[name] = {"status": "fail", "err": f"duckdb:{type(e).__name__}"}
            n_fail += 1
            continue
        dcols = sorted(dpdf.columns)
        dpdf = dpdf[dcols]
        drows = [tuple(row) for row in dpdf.itertuples(index=False, name=None)]

        problems = []
        import numpy as _np

        for r in srows[:1] + drows[:1]:
            for v in r:
                if isinstance(v, (list, _np.ndarray)):
                    problems.append(
                        "array-typed output column — driver canonicalizer cannot "
                        "hash list cells; emit array_join/to_json instead"
                    )
                    break
            if problems:
                break
        if scols != dcols:
            problems.append(f"columns differ: spark={scols} duck={dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount differs: spark={len(srows)} duck={len(drows)}")
        if not problems:
            ns, nd = normalize(srows), normalize(drows)
            if ns != nd:
                diffs = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            results[name] = {"status": "fail", "err": " | ".join(problems)[:300]}
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, {dt:.1f}s)")
            results[name] = {
                "status": "pass", "spark_rows": len(srows), "sec": round(dt, 2),
            }
            n_pass += 1

    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    if args.json:
        import json as _json

        with open(args.json, "w") as f:
            _json.dump(
                {
                    "sf": args.sf,
                    "n_pass": n_pass,
                    "n_rows_only": n_rows_only,
                    "n_fail": n_fail,
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {args.json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
