"""Capture .explain('formatted') for registry queries into plans/r06/.

Usage: python scripts/capture_plans.py <suffix> [names...]
       suffix is 'before' or 'after'; no names = every registry query.
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    suffix = sys.argv[1]
    names = sys.argv[2:]
    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("plans")
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
    qs = E.queries()
    if not names:
        names = sorted(qs)
    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    from cadastre_pg_spark.operators.held import release_cached

    for name in names:
        if name not in qs:
            print(f"skip unknown {name}")
            continue
        try:
            d = qs[name](spark, sf_dir=SF_DIR)
            txt = d._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            release_cached(d)
        except Exception as e:  # noqa: BLE001
            txt = f"ERROR: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(txt)
        print(name, flush=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
