"""Fixed cost of a Python task, with the session's worker daemon and
with Spark's stock one.

Times no-op stages over 100 rows on local[min(4, nproc)]: a JVM stage
on 4 partitions, then mapInArrow and mapInPandas on 4 and on 16
partitions (one and four waves). Each configuration runs in two
sessions, alternating (session.get_spark's, then one that sets
spark.python.daemon.module back to pyspark.daemon), after one warm-up
pass per session. Prints, per configuration, where its workers import
pyspark from and the median and range of each stage's wall time.

Usage: python scripts/python_task_cost.py [repeats]   (default 7;
       run from the repo root so workers can import the package)
"""

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from cadastre_pg_spark.session import get_spark  # noqa: E402

CORES = min(4, len(os.sched_getaffinity(0)))


def noop_arrow(it):
    for batch in it:
        yield batch.slice(0, 0)


def noop_pandas(it):
    for pdf in it:
        yield pdf.iloc[:0]


def pyspark_file(it):
    import pandas as pd
    import pyspark

    for _ in it:
        pass
    yield pd.DataFrame({"file": [pyspark.__file__]})


def stages(spark) -> dict:
    def df(parts):
        return spark.range(0, 100, 1, parts)

    return {
        "jvm/4": lambda: df(4).selectExpr("id + 1 AS id").collect(),
        "mapInArrow/4": lambda: df(4).mapInArrow(noop_arrow, "id long").collect(),
        "mapInArrow/16": lambda: df(16).mapInArrow(noop_arrow, "id long").collect(),
        "mapInPandas/4": lambda: df(4).mapInPandas(noop_pandas, "id long").collect(),
        "mapInPandas/16": lambda: df(16).mapInPandas(noop_pandas, "id long").collect(),
    }


def measure(spark, repeats: int) -> tuple:
    spark.sparkContext.setLogLevel("ERROR")
    files = {
        r.file
        for r in spark.range(0, CORES, 1, CORES)
        .mapInPandas(pyspark_file, "file string")
        .collect()
    }
    times = {}
    for name, run in stages(spark).items():
        run()
        times[name] = []
        for _ in range(repeats):
            t = time.perf_counter()
            run()
            times[name].append(time.perf_counter() - t)
    spark.stop()
    return files, times


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    sessions = {
        "session daemon": lambda: get_spark(
            app="python_task_cost", cores=CORES, driver_memory="2g"
        ),
        "stock daemon": lambda: SparkSession.builder.master(f"local[{CORES}]")
        .config("spark.python.daemon.module", "pyspark.daemon")
        .getOrCreate(),
    }
    files, times = {}, {}
    for _ in range(2):
        for label, start in sessions.items():
            f, t = measure(start(), repeats)
            files.setdefault(label, set()).update(f)
            for name, ts in t.items():
                times.setdefault(label, {}).setdefault(name, []).extend(ts)
    for label in sessions:
        print(f"{label}: workers import {sorted(files[label])}")
        for name, ts in times[label].items():
            print(
                f"  {name:15s} median {statistics.median(ts):.3f} s"
                f"  range {min(ts):.3f}-{max(ts):.3f} s"
            )


if __name__ == "__main__":
    main()
