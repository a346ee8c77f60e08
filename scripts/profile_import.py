"""Per-job profile of one warm run_import.

Writes the import_resume benchmark's pages for a seed (10,000 make_page
rows, one parquet file) to a temporary directory, runs run_import once
cold, then once more into a fresh base_dir under a job group, and
prints for every job of that warm call its wall time, the tasks it ran
and the operator clusters of its stages (the RDD operation graph the
status store keeps per stage), then the total number of Python tasks:
tasks of stages that run a Python operator (plans.audit.PYTHON_NODES:
MapInPandas, MapInArrow, ArrowEvalPython, BatchEvalPython,
FlatMapGroupsInPandas) rather than read its output from a cache.
Last, the census of the warm placement stage's executed plans
(plans.audit.executed_census): BroadcastExchange and Union nodes,
Python nodes under a broadcast and elsewhere (e.g. the parcel
generator feeding the gate aggregate), and scans of the extract
output.

Usage: python scripts/profile_import.py [seed]   (default 0;
       local[min(4, nproc)], like perfbench)
"""

import os
import re
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cadastre_pg_spark import pipeline  # noqa: E402
from cadastre_pg_spark.lineage.checkpoints import new_run_id  # noqa: E402
from cadastre_pg_spark.plans.audit import (  # noqa: E402
    PYTHON_NODES,
    executed_census,
    execution_ids,
)
from cadastre_pg_spark.session import get_spark  # noqa: E402
from perfbench import trace as T  # noqa: E402
from perfbench import workloads as W  # noqa: E402

GROUP = "profile_import"


def stage_graph(store, sid: int) -> tuple:
    """(cluster names outermost first, with codegen ids (' (3)')
    stripped; ids of the RDDs under a Python operator's cluster; ids
    of the cached RDDs; child -> parents edges) of one stage."""
    graph = store.operationGraphForStage(sid)
    names, py_nodes, cached = [], set(), set()
    todo = [(graph.rootCluster(), False)]
    while todo:
        c, under_py = todo.pop(0)
        name = re.sub(r" \(\d+\)$", "", c.name())
        under_py = under_py or name in PYTHON_NODES
        if not name.startswith("stage ") and name not in names:
            names.append(name)
        for n in T._seq(c.childNodes()):
            if under_py:
                py_nodes.add(n.id())
            if n.cached():
                cached.add(n.id())
        todo.extend((k, under_py) for k in T._seq(c.childClusters()))
    parents = {}
    for e in T._seq(graph.edges()):
        parents.setdefault(e.toId(), []).append(e.fromId())
    return names, py_nodes, cached, parents


def profile(spark, group: str) -> list:
    """(job id, wall s, tasks run, python tasks, clusters) per job.

    A stage that lists a Python operator runs it unless the operator is
    behind a cached RDD that an earlier-submitted stage also lists: the
    first stage fills the cache, and a concurrent one waits on the
    block lock and reads it. Each stage counts once, in the first job
    that lists it."""
    sc = spark.sparkContext
    T._drain_listener_bus(sc)
    store = sc._jsc.sc().statusStore()
    jobs, stages = [], {}
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        wall = (job.completionTime().get().getTime() - job.submissionTime().get().getTime()) / 1e3
        mine = []
        for sid in T._seq(job.stageIds()):
            if sid in stages:
                continue
            att = store.lastStageAttempt(sid)
            if att.status().toString() != "COMPLETE":  # skipped: its output was reused
                continue
            stages[sid] = {
                "tasks": att.numCompleteTasks(),
                "submitted": att.submissionTime().get().getTime(),
                "graph": stage_graph(store, sid),
            }
            mine.append(sid)
        jobs.append((jid, wall, sorted(mine)))

    filled = set()  # cached RDD ids an earlier stage computes
    py_tasks = {}
    for sid in sorted(stages, key=lambda k: (stages[k]["submitted"], k)):
        _, py_nodes, cached, parents = stages[sid]["graph"]
        todo = list(cached & filled)
        behind_cache = set()
        while todo:
            n = todo.pop()
            if n not in behind_cache:
                behind_cache.add(n)
                todo.extend(parents.get(n, []))
        py_tasks[sid] = stages[sid]["tasks"] if py_nodes - behind_cache else 0
        filled |= cached

    return [
        (
            jid,
            wall,
            sum(stages[s]["tasks"] for s in mine),
            sum(py_tasks[s] for s in mine),
            [stages[s]["graph"][0] for s in mine],
        )
        for jid, wall, mine in jobs
    ]


def main() -> None:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    cores = min(4, len(os.sched_getaffinity(0)))
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    spark = get_spark(app="profile_import", cores=cores, driver_memory="4g")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="profile_import-")
    try:
        W.ImportResume(seed, work, T.Tracer()).generate()
        pages = os.path.join(work, "pages.parquet")

        def call(base):
            t = time.perf_counter()
            pipeline.run_import(
                spark,
                base,
                new_run_id(),
                n_parcels=W.IMPORT_PARCELS,
                level=W.LEVEL,
                pages_df=spark.read.parquet(pages),
            )
            return time.perf_counter() - t

        cold = call(os.path.join(work, "cold"))
        census = {}
        run_stage = pipeline.run_stage

        def placement_census(*args, **kwargs):
            """run_stage, with the census of placement's executions."""
            if kwargs["stage"] != "placement":
                return run_stage(*args, **kwargs)
            before = execution_ids(spark)
            out = run_stage(*args, **kwargs)
            extract = os.path.join(kwargs["base_dir"], "extract")
            census.update(executed_census(spark, before, scan=extract))
            return out

        # full scan locations in the plan strings, for the extract match
        spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
        pipeline.run_stage = placement_census
        spark.sparkContext.setJobGroup(GROUP, "warm run_import")
        try:
            warm = call(os.path.join(work, "warm"))
        finally:
            pipeline.run_stage = run_stage
            spark.sparkContext.setJobGroup(None, None)

        rows = profile(spark, GROUP)
        print(
            f"local[{cores}], {W.IMPORT_PAGES} pages, seed {seed}: "
            f"cold call {cold:.2f} s, warm call {warm:.2f} s"
        )
        print(f"{'job':>4} {'wall_s':>7} {'tasks':>5} {'py':>3}  stages: operator clusters")
        for jid, wall, tasks, py, clusters in rows:
            stages = " | ".join(", ".join(c) for c in clusters)
            print(f"{jid:>4} {wall:7.2f} {tasks:>5} {py:>3}  {stages}")
        print(
            f"jobs {len(rows)}, tasks {sum(r[2] for r in rows)}, "
            f"python tasks {sum(r[3] for r in rows)}"
        )
        print(
            "placement plans: {broadcasts} BroadcastExchange, {unions} Union, "
            "{python_build} Python nodes under a broadcast, {python_probe} "
            "elsewhere, {scans} extract scans".format(**census)
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
