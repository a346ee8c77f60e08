"""Spans, counters and Spark-side measurements for the traced run.

Spans are recorded by wrappers this module installs around the public
entry points of each layer (operators.tiling, pipeline, and
operators.spatial_join and lineage.checkpoints as pipeline calls them);
nothing inside the package is edited. Session start and warm-up are
timed directly by the runner. Spark-side counts are read after an iteration's
clock stops:

- jobs / stages / tasks: the iteration's job group via statusTracker;
- shuffle write and spill bytes: the status store's stage records;
- rows and Python time of the polyfill node: SQL metrics of the
  executed plan, reached through the same `_jdf.queryExecution()` hook
  that plans/audit.py uses;
- Python-worker bytes: the SQL status store, over every query
  execution the iteration started (run_import's writes run under query
  executions of their own, out of reach of any one DataFrame).
"""

import contextlib
import itertools
import re
import time

from py4j.protocol import Py4JJavaError

_PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")


class Tracer:
    """In-memory span and counter store; written out once at exit."""

    def __init__(self):
        self.on = False
        self.spans = []  # dicts: id, name, parent, start, end, iteration
        self.iteration = None
        self._stack = []
        self._ids = itertools.count(1)
        self._installed = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "parent": parent,
                    "start": start,
                    "end": time.perf_counter(),
                    "iteration": self.iteration,
                }
            )

    def wrap(self, owner, attr: str, name) -> None:
        """Replace owner.attr by a span-recording wrapper (undone by
        uninstall). `name` is a string or a function of the call's
        keyword arguments."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name(kwargs) if callable(name) else name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._installed.append((owner, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._installed):
            setattr(owner, attr, original)
        self._installed.clear()

    def install_layer_wrappers(self) -> None:
        from cadastre_pg_spark import pipeline
        from cadastre_pg_spark.lineage import checkpoints
        from cadastre_pg_spark.operators import tiling

        self.wrap(tiling, "raster_burn", "tiling.raster_burn")
        self.wrap(tiling, "tile_extract", "tiling.tile_extract")
        self.wrap(pipeline, "run_import", "pipeline.run_import")
        # run_import reaches these through the names pipeline imported
        self.wrap(pipeline, "run_stage", lambda kw: f"pipeline.stage.{kw['stage']}")
        self.wrap(pipeline, "cell_spatial_join", "spatial_join.build")
        self.wrap(pipeline, "release_cached", "spatial_join.release_cached")
        self.wrap(checkpoints.CheckpointLog, "committed", "lineage.committed")
        self.wrap(checkpoints.CheckpointLog, "append", "lineage.append")

    def iteration_spans(self, iteration: int, name: str | None = None) -> list:
        return [
            s
            for s in self.spans
            if s["iteration"] == iteration and (name is None or s["name"] == name)
        ]

    def total(self, iteration: int, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.iteration_spans(iteration, name))

    def self_times(self) -> dict:
        """Per span name: total duration minus the time its direct
        children cover (children run sequentially on one thread)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = {}
        for s in self.spans:
            d = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump_spans(self, t0: float) -> list:
        return [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]


# ------------------------------------------------------ job groups


def job_stats(sc, group: str) -> dict:
    """Jobs, tasks, shuffle-write and spill bytes of one job group."""
    _drain_listener_bus(sc)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    tasks = shuffle = spill = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None:
            tasks += info.numCompletedTasks
        try:
            data = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage has no attempt record
            continue
        shuffle += data.shuffleWriteBytes()
        spill += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return {"jobs": len(jobs), "tasks": tasks, "shuffle_write_bytes": shuffle, "spill_bytes": spill}


def _drain_listener_bus(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)


# ------------------------------------------------ executed-plan walk


def plan_nodes(*dfs) -> list:
    """(node name, output column names, {metric: value}) for every node
    of the dfs' executed plans, descending into AQE stages and cached
    relations. Metrics are deduplicated by accumulator id, since a
    cached relation appears under every plan that reads it."""
    seen = set()
    out = []
    todo = [df._jdf.queryExecution().executedPlan() for df in dfs]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        metrics = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            if m.id() in seen:
                continue
            seen.add(m.id())
            metrics[kv._1()] = m.value()
        cols = [a.name() for a in _seq(p.output())]
        out.append((p.nodeName(), cols, metrics))
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        elif cls == "InMemoryTableScanExec":
            todo.append(p.relation().cachedPlan())
        todo.extend(_seq(p.children()))
    return out


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def polyfill_counts(nodes) -> dict:
    """Output rows and summed Python time of the polyfill mapInPandas
    (the node whose output carries the cover's is_full flag)."""
    rows = ms = 0
    for name, cols, m in nodes:
        if name == "MapInPandas" and "is_full" in cols:
            rows += m.get("pythonNumRowsReceived", 0)
            ms += m.get("pythonTotalTime", 0)
    return {"rows": rows, "python_s": ms / 1000.0}


# --------------------------------------------- SQL status store walk

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def sql_execution_ids(spark) -> set:
    store = spark._jsparkSession.sharedState().statusStore()
    return {e.executionId() for e in _seq(store.executionsList())}


def python_bytes_since(spark, before: set) -> dict:
    """Python-worker bytes of every SQL execution not in `before`, read
    from the SQL status store. Values come from the live accumulator
    when it still exists, else from the store's formatted total
    (three significant digits). A metric counts once: a cached plan
    shows up in the graph of every execution that reads it."""
    sc = spark.sparkContext
    _drain_listener_bus(sc)
    store = spark._jsparkSession.sharedState().statusStore()
    acc_ctx = sc._jvm.org.apache.spark.util.AccumulatorContext
    sent = recv = 0
    seen = set()
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        if eid in before:
            continue
        values = None
        for node in _seq(store.planGraph(eid).allNodes()):
            if node.name() not in _PYTHON_NODES:
                continue
            for pm in _seq(node.metrics()):
                if pm.name() not in ("data sent to Python workers", "data returned from Python workers"):
                    continue
                if pm.accumulatorId() in seen:
                    continue
                seen.add(pm.accumulatorId())
                acc = acc_ctx.get(pm.accumulatorId())
                if acc.isDefined():
                    v = acc.get().value()
                else:
                    if values is None:
                        values = store.executionMetrics(eid)
                    text = values.get(pm.accumulatorId())  # a Scala Option
                    v = _parse_size(text.get()) if text.isDefined() else 0
                if pm.name().startswith("data sent"):
                    sent += v
                else:
                    recv += v
    return {"bytes_to_worker": sent, "bytes_from_worker": recv}


def _parse_size(text: str) -> int:
    # single-task form "17.4 MiB"; multi-task form "total (...)\n17.4 MiB (...)"
    m = re.search(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)", text.split("\n")[-1])
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)]) if m else 0
