"""Physical-plan auditing: programmatic access to .explain output so
tests can ASSERT the plan shape (pushdown reached the scan, the build
side broadcast, codegen spans cover the hot path) instead of hoping.
"""

from pyspark.sql import DataFrame


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def plan_has(df: DataFrame, needle: str, mode: str = "formatted") -> bool:
    return needle in explain_string(df, mode)


def audit(df: DataFrame) -> dict:
    """Summary booleans the tests / BENCH notes assert on."""
    import re

    s = explain_string(df, "formatted")
    # formatted mode marks codegen stages with a '* ' prefix
    has_codegen = "WholeStageCodegen" in s or bool(
        re.search(r"\n[\s:+|-]*\* \w", s)
    )
    return {
        "broadcast_join": "BroadcastHashJoin" in s,
        # simple/extended modes print "Exchange hashpartitioning(...)",
        # formatted mode prints "Exchange (n)" + "Arguments: hashpartitioning"
        "shuffle_exchange": "hashpartitioning(" in s,
        "codegen": has_codegen,
        "pushed_filters": "PushedFilters: [" in s and not _only_empty_filters(s),
        "columnar_scan": "Scan parquet" in s,
        "aqe": "AdaptiveSparkPlan" in s,
        "arrow_eval": ("MapInPandas" in s) or ("ArrowEvalPython" in s),
    }


def _only_empty_filters(s: str) -> bool:
    import re

    pushed = re.findall(r"PushedFilters: \[(.*?)\]", s)
    return all(p.strip() == "" for p in pushed) if pushed else True


def scan_read_schema(df: DataFrame) -> list[str]:
    """Columns each parquet scan actually reads (column pruning check)."""
    import re

    s = explain_string(df, "formatted")
    out = []
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", s):
        out.append(sorted(c.split(":")[0] for c in m.split(",") if c))
    return out


PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")


def execution_ids(spark) -> set:
    """Ids of the SQL executions the session has recorded so far."""
    store = spark._jsparkSession.sharedState().statusStore()
    return {e.executionId() for e in _seq(store.executionsList())}


def executed_census(spark, before: set, scan: str = "") -> dict:
    """Node census of the executed plans of every SQL execution not in
    `before` (an `execution_ids` snapshot): BroadcastExchange and Union
    nodes, Python nodes on a broadcast's build side and elsewhere (the
    probe side), all Python nodes by name (`python`), and parquet scans
    whose location contains `scan` (plan strings abbreviate a location
    past spark.sql.maxMetadataStringLength chars). The plans come from the
    SQL status store, so a write's plan counts too; a cached plan
    counts under every scan that reads it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(("broadcasts", "unions", "python_build", "python_probe", "scans"), 0)
    out["python"] = {}
    for eid in execution_ids(spark) - before:
        graph = store.planGraph(eid)
        nodes = {n.id(): n for n in _seq(graph.allNodes())}
        children = {}
        for e in _seq(graph.edges()):
            children.setdefault(e.toId(), []).append(e.fromId())
        roots = set(nodes) - {c for cs in children.values() for c in cs}
        todo = [(r, False) for r in roots]
        while todo:
            nid, build = todo.pop()
            name = nodes[nid].name().strip()
            build = build or name == "BroadcastExchange"
            out["broadcasts"] += name == "BroadcastExchange"
            out["unions"] += name == "Union"
            if name in PYTHON_NODES:
                out["python_build" if build else "python_probe"] += 1
                out["python"][name] = out["python"].get(name, 0) + 1
            if name == "Scan parquet" and scan and scan in nodes[nid].desc():
                out["scans"] += 1
            todo.extend((c, build) for c in children.get(nid, []))
    return out


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out
