#!/usr/bin/env python
"""Dump registry queries' formatted physical plans to one text file.

Builds each query (its eager gate jobs run; the query itself does not),
writes `explain('formatted')` under a `## name` heading, then frees the
query's held storage (`release_cached`) and clears the cache, so each
plan starts from a clean session. Expression ids (`#123L`), exchange
plan ids and RDD ids are rewritten to `#`, `plan_id=` and `RDD[]`, so
dumps of two versions of the code diff cleanly. One shape still varies
between runs of the same code: knn_grid's broadcast side, which AQE
picks from whichever query stage finishes first.

Usage:
  python scripts/dump_plans.py --sf SF_DIR [--out PATH] [names...]
    no names = every registry query, in queries() order;
    default --out PLANS.md
  diff -u a.md b.md    # plans of two checkouts
"""

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_IDS = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
)


def normalize(plan: str) -> str:
    for pat, rep in _IDS:
        plan = pat.sub(rep, plan)
    return plan.strip()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="registry query names")
    ap.add_argument("--sf", required=True, help="scale-factor data directory")
    ap.add_argument("--out", default=os.path.join(REPO, "PLANS.md"))
    args = ap.parse_args()

    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    from cadastre_pg_spark.operators.held import release_cached
    from cadastre_pg_spark.plans.audit import explain_string

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    names = args.names or list(qs)
    out = [f"# Physical plans (scripts/dump_plans.py, input {args.sf})\n"]
    for name in names:
        if name not in qs:
            print(f"skip unknown {name}", flush=True)
            continue
        try:
            df = qs[name](spark, args.sf)
            s = normalize(explain_string(df, "formatted"))
            release_cached(df)
        except Exception as exc:  # noqa: BLE001 - recorded in the dump
            s = f"PLAN FAILED: {type(exc).__name__}: {exc}"
        spark.catalog.clearCache()
        out.append(f"\n## {name}\n\n```\n{s}\n```\n")
        print(name, flush=True)
    with open(args.out, "w") as fh:
        fh.write("".join(out))
    print(f"{args.out} written ({len(out) - 1} queries)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
