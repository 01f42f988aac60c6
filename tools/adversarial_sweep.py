"""Adversarial-input sweep: run EVERY declared query against a corpus
variant built to break it, and record crashes — the regenerable form of
the round-6 hardening sweeps (VERDICT r6 item 8; previously the harness
lived only as test pins + BASELINE.md prose).

Variants (derived from the real tables so schemas never drift):

- ``zero``  — every table truncated to 0 rows. At 100 TB an empty
  filtered slice is routine (new partition, quiet tenant, matching-
  nothing predicate); queries must flow empty-in -> empty-out or a
  well-formed scalar row. The r6 sweep found 12 crashers (ANSI
  div-by-zero ratios, None scalar collects, theta aggs over zero
  sketches, empty-dir schema inference, empty-frame PQ training) — all
  fixed and pinned in tests/test_empty_input.py.
- ``nulls`` — content columns null-injected deterministically by key
  hash: documents.text 50% / lang 20%, events.props 33% / event_type
  20%, embeddings.embedding 25%. The isNotNull / try_* discipline must
  hold (r6: 0 crashers).

This sweep checks CRASH-RESISTANCE, not values (oracles are checked by
tools/verify_local.py on real data): a query passes when it builds and
collects without raising. Row counts are recorded so vacuity is
auditable.

Usage:
    python tools/adversarial_sweep.py --variant zero  [-o OUT.json]
    python tools/adversarial_sweep.py --variant nulls [-o ...]
    python tools/adversarial_sweep.py --variant both  [-o ...]   # default
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import TABLES, run_query  # noqa: E402

# (table, column) -> 1-in-k null rate keyed on a stable id column
_NULL_SPECS = {
    "documents": [("text", "doc_id", 2), ("lang", "doc_id", 5)],
    "events": [("props", "event_id", 3), ("event_type", "event_id", 5)],
    "embeddings": [("embedding", "vec_id", 4)],
}


def build_variant(spark, sf_dir: str, variant: str, out_dir: str) -> None:
    from pyspark.sql import functions as F

    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if variant == "zero":
            df = df.limit(0)
        else:
            for col, key, k in _NULL_SPECS.get(t, []):
                df = df.withColumn(
                    col,
                    F.when(F.pmod(F.xxhash64(key), F.lit(k)) == 0, None).otherwise(
                        F.col(col)
                    ),
                )
        df.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def sweep(spark, variant_dir: str, names: list[str]) -> dict:
    out: dict[str, dict] = {}
    for name in names:
        rec = run_query(spark, name, variant_dir, "collect")
        if rec["error"]:  # the crash IS the finding
            out[name] = {"ok": False, "err": rec["error"][:300]}
        else:
            out[name] = {"ok": True, "rows": rec["rows"]}
        print(
            f"{'PASS' if out[name]['ok'] else 'CRASH'} {name} "
            f"{out[name].get('rows', out[name].get('err'))}",
            file=sys.stderr,
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--variant", choices=("zero", "nulls", "both"), default="both")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("-o", "--out", default=None)
    ap.add_argument("names", nargs="*", help="subset of query names (default: all)")
    args = ap.parse_args()

    from etl4s_spark.queries import QUERIES, load_all
    from etl4s_spark.session import get_spark

    load_all()
    spark = get_spark("adversarial_sweep")
    names = args.names or sorted(QUERIES)
    variants = ("zero", "nulls") if args.variant == "both" else (args.variant,)

    doc: dict = {"sf_base": args.sf, "variants": {}}
    for variant in variants:
        vdir = tempfile.mkdtemp(prefix=f"etl4s_adv_{variant}_")
        try:
            build_variant(spark, args.sf, variant, vdir)
            res = sweep(spark, vdir, names)
        finally:
            shutil.rmtree(vdir, ignore_errors=True)
        crashed = sorted(n for n, r in res.items() if not r["ok"])
        doc["variants"][variant] = {
            "n_queries": len(res),
            "n_crashed": len(crashed),
            "crashed": crashed,
            "results": res,
        }
        print(
            json.dumps(
                {"variant": variant, "n": len(res), "crashed": crashed}
            )
        )
    if args.out:
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
