"""Per-query profiler for the optimization round.

For each named query, in one bench-identical session, records:
  - build_s : driver-side DataFrame construction (plan building)
  - run1_s  : first action (bench-identical aggregate) — what bench times
  - run2_s  : second action (steady state; codegen/AQE caches warm)
  - jobs, stages, tasks triggered by run1 (via the status tracker)

Usage: python scripts/profile_queries.py out.json name1 name2 ...
       (no names = top 40 by committed bench_queries.json)
"""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    out_path = sys.argv[1]
    names = sys.argv[2:]
    import bench as B
    import __spark_entry__ as E
    from pyspark.sql import SparkSession
    import pyspark.sql.functions as F

    if not names:
        d = json.load(open(os.path.join(REPO, "bench_queries.json")))
        names = [k for k, _ in sorted(d["times"].items(), key=lambda kv: -kv[1])][:40]

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("profile")
        .config("spark.sql.shuffle.partitions", str(CPUS * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    def _warm(it):
        for pdf in it:
            yield pdf

    spark.range(0, CPUS * 4, 1, CPUS).mapInPandas(_warm, schema="id long").count()

    from cadastre_pg_spark.operators.held import release_cached

    qs = E.queries()
    st = spark.sparkContext.statusTracker()
    # AGG_COL lives inside bench's child template; re-extract it by exec
    agg_col = {}
    import re

    m = re.search(r"AGG_COL = \{\{(.*?)\}\}", B._CHILD, re.S)
    if m:
        agg_col = eval("{" + m.group(1) + "}")  # noqa: S307 - our own file

    def action(d, name):
        if name in agg_col:
            return d.agg(
                F.count(F.lit(1)).alias("n"), F.sum(agg_col[name]).alias("s")
            ).first()["n"]
        return d.count()

    res = {}
    for name in names:
        if name.startswith("__") or name not in qs:
            continue
        spark.sparkContext.setJobDescription(name)
        j0 = set(st.getJobIdsForGroup(None) or [])
        t0 = time.time()
        d = qs[name](spark, sf_dir=SF_DIR)
        t1 = time.time()
        action(d, name)
        t2 = time.time()
        j1 = set(st.getJobIdsForGroup(None) or [])
        njobs = len(j1 - j0)
        action(d, name)
        t3 = time.time()
        release_cached(d)
        res[name] = {
            "build_s": round(t1 - t0, 3),
            "run1_s": round(t2 - t1, 3),
            "run2_s": round(t3 - t2, 3),
            "jobs_run1": njobs,
            "total_bench_shape_s": round(t2 - t0, 3),
        }
        print(name, json.dumps(res[name]), flush=True)
    with open(out_path, "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
