"""Row digest of registry queries, for diffing two versions of the code.

Runs named queries at one sf and writes, per query, its rows sorted
(floats as `float.hex`, so equality is bitwise) and its `skipped()`
rows to JSON; `--compare` diffs two such files. An output over LIMIT
rows is recorded as its count and two order-independent sums of row
hashes, taken over each row's string cast (a double's string cast
round-trips, so equal sums still mean bitwise-equal floats).

Usage:
  python scripts/row_digest.py --sf SF_DIR --out a.json minhash_lsh winnow_pairs
  python scripts/row_digest.py --sf ... --cases extra.py --out a.json
  python scripts/row_digest.py --compare a.json b.json

`--cases FILE` adds the callables of FILE's `CASES` dict
({label: fn(spark, sf_dir) -> DataFrame}), for forms of an operator the
registry does not run (another hash, a forced-low cap).
"""

import argparse
import json
import os
import runpy
import sys

LIMIT = 200_000
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _cell(v):
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    return v if v is None or isinstance(v, (int, str, bool)) else repr(v)


def _rows(df):
    from pyspark.sql import functions as F

    if df is None:
        return None
    n = df.count()
    if n > LIMIT:
        s = F.concat_ws(
            "\x1f", *[F.coalesce(df[c].cast("string"), F.lit("\x00")) for c in df.columns]
        )
        sums = df.agg(
            F.sum(F.xxhash64(s).cast("decimal(38,0)")),
            F.sum(F.hash(s).cast("decimal(38,0)")),
        ).first()
        return {"columns": df.columns, "n": n, "sums": [str(v) for v in sums]}
    out = [[_cell(v) for v in r] for r in df.collect()]
    return {"columns": df.columns, "rows": sorted(out, key=json.dumps)}


def digest(spark, sf_dir, runs):
    from cadastre_pg_spark.operators.held import release_cached, skipped

    out = {}
    for name, fn in runs.items():
        df = fn(spark, sf_dir)
        out[name] = {"rows": _rows(df), "skipped": _rows(skipped(df))}
        release_cached(df)
        rows = out[name]["rows"]
        print(f"{name}: {rows.get('n', len(rows.get('rows', [])))} rows", flush=True)
    return out


def compare(a_path, b_path) -> int:
    with open(a_path) as fa, open(b_path) as fb:
        a, b = json.load(fa), json.load(fb)
    bad = 0
    for name in sorted(set(a) | set(b)):
        x, y = a.get(name, {}), b.get(name, {})
        diff = [k for k in ("rows", "skipped") if x.get(k) != y.get(k)]
        bad += bool(diff)
        print(f"{'DIFF ' + '+'.join(diff) if diff else 'equal'}: {name}")
    print(f"{len(set(a) | set(b)) - bad} equal, {bad} differ")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="registry query names")
    ap.add_argument("--sf", help="scale-factor data directory")
    ap.add_argument("--cases", help="python file defining CASES")
    ap.add_argument("--out")
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)

    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    qs = E.queries()
    runs = {n: qs[n] for n in args.names}
    if args.cases:
        runs.update(runpy.run_path(args.cases)["CASES"])
    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .config("spark.sql.shuffle.partitions", str(args.cores * 2))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    result = digest(spark, args.sf, runs)
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
