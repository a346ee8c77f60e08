"""Closed-loop benchmark of the cadastre_pg_spark engine.

    python3 perfbench/run.py --workload tile_burn --seed 1 --seconds 6 --trace 0

One client, one job at a time: a single driver process on
local[min(4, nproc)] with the driver heap sized to the host. setup_s is
session start, worker warm-up, input generation and one cold
iteration; then the run iterates for --seconds, and at least the
workload's min_iterations times. Every iteration is
checked against a reference computed once outside the timed region; a
mismatch, an exception or a timeout counts as a failed iteration and
is never retried.

--trace 0 prints the end-to-end metrics. --trace 1 runs the iterations
in pairs of one untraced and one traced, which goes first alternating
from pair to pair, and prints the per-layer metrics, among them the
tracing overhead: the median over pairs of traced minus untraced
rows_per_s. Both write a sidecar JSON (host facts, every iteration,
spans) under .perfbench/results/ in the checkout; the last stdout line
is the result object.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

ITERATION_TIMEOUT_S = 120.0  # an iteration past this is cancelled and fails


def cpu_ticks() -> tuple:
    """(steal, total) jiffies from /proc/stat, for the run's steal share."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def host_facts() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_bytes": mem.get("MemTotal", 0),
        "mem_available_bytes": mem.get("MemAvailable", 0),
        "loadavg_before": list(os.getloadavg()),
    }


class RssMonitor(threading.Thread):
    """Samples the resident memory of this process and all its
    descendants (JVM, Python workers) from /proc; keeps the peak, and
    the peak per process name (java, python) for the sidecar.

    Each process counts its proportional set size (Pss), so pages shared
    between processes count once: a child the JVM forks to spawn a
    command would otherwise add the whole heap again while it lives."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.peak_by_name = {}
        self._stop_evt = threading.Event()

    def _sample(self) -> None:
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = set(), {os.getpid()}
        while frontier:
            tree |= frontier
            frontier = {p for p, pp in parent.items() if pp in frontier and p not in tree}
        by_name = {}
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(line for line in f if line.startswith("Pss:"))
                rss = int(pss.split()[1]) * 1024
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except (OSError, IndexError, ValueError, StopIteration):
                continue
            by_name[name] = by_name.get(name, 0) + rss
        self.peak = max(self.peak, sum(by_name.values()))
        for name, rss in by_name.items():
            self.peak_by_name[name] = max(self.peak_by_name.get(name, 0), rss)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._sample()
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self._sample()


def configure_env(scratch: str, heap_gib: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let Python workers import the package. The heap
    starts at the JVM's default size and grows as the engine fills it,
    so peak RSS follows the heap the workload actually uses. The young
    generation has a fixed size (a sixth of the heap): left to the
    collector's pause-time tuning it ranged over hundreds of MB from
    run to run and made peak RSS a reading of that tuning rather than
    of the data the engine keeps."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["OMP_NUM_THREADS"] = "1"
    # every JVM (the launcher too) keeps its perf data out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        [
            os.environ.get("SPARK_SUBMIT_OPTS", ""),
            f"-Xmn{heap_gib * 1024 // 6}m",
            f"-Djava.io.tmpdir={tmp}",
        ]
    ).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={os.path.join(scratch, 'spark-local')}",
            f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
            "pyspark-shell",
        ]
    )


def driver_heap_gib(host: dict) -> int:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    return max(1, min(4, host["mem_total_bytes"] // (4 << 30)))


def start_session(cores: int, mem: str):
    from cadastre_pg_spark import session

    spark = session.get_spark(app="perfbench", cores=cores, driver_memory=mem)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cores: int) -> None:
    """Start one Python worker per core (pandas and Arrow imported by
    mapInPandas), so the first iteration does not pay the worker spawn."""

    def touch(batches):
        import numpy  # noqa: F401

        yield from batches

    spark.range(0, cores * 1000, 1, cores).mapInPandas(touch, "id long").collect()


def shutdown_gateway() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs and records iterations of one workload."""

    def __init__(self, wl, tracer):
        self.wl = wl
        self.tracer = tracer
        self.records = []

    def iteration(self, spark, it: int, traced: bool, step=None) -> dict:
        """One timed iteration of `step` (default: the workload's
        iterate); the clock covers build, action and the release of
        cached inputs. Correctness and layer reads follow."""
        step = step or self.wl.iterate
        sc = spark.sparkContext
        group = f"it{it}"
        sc.setJobGroup(group, group)
        timer = threading.Timer(ITERATION_TIMEOUT_S, sc.cancelAllJobs)
        self.tracer.on = traced
        self.tracer.iteration = it
        rec = {"it": it, "op": step.__name__, "group": group, "traced": traced}
        if traced:
            from perfbench import trace as T

            rec["sql_before"] = T.sql_execution_ids(spark)
        timer.start()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("bench.iteration"):
                rec.update(step(spark, it))
            rec["seconds"] = time.perf_counter() - t0
        except Exception as e:  # an iteration that raises counts as failed
            rec["seconds"] = time.perf_counter() - t0
            rec["error"] = f"{type(e).__name__}: {str(e)[:500]}"
        finally:
            timer.cancel()
            self.tracer.on = False
        rec["persisted_rdds_after"] = sc._jsc.getPersistentRDDs().size()
        if "error" not in rec:
            try:
                rec["ok"] = bool(self.wl.check(spark, rec))
                if traced:
                    rec["jobs"] = T.job_stats(sc, group)
                    rec["layers"] = self.wl.layer_metrics(spark, it, rec)
            except Exception as e:
                rec["error"] = f"check: {type(e).__name__}: {str(e)[:500]}"
        rec["ok"] = rec.get("ok", False) and "error" not in rec
        for k in ("df", "sql_before"):
            rec.pop(k, None)
        self.records.append(rec)
        return rec


def load_spec() -> dict:
    """Metric names and units, from the BENCHMARK.json beside this
    directory."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import cadastre_pg_spark  # noqa: F401  (fails fast outside a checkout)

    from perfbench import trace as T
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    host = host_facts()
    cores = min(4, host["nproc"])
    heap_gib = driver_heap_gib(host)
    mem = f"{heap_gib}g"
    scratch = os.path.join(OUT, f"run-{os.getpid()}")
    data_dir = os.path.join(scratch, "data")
    os.makedirs(data_dir, exist_ok=True)
    configure_env(scratch, heap_gib)

    monitor = RssMonitor()
    monitor.start()
    tracer = T.Tracer()
    if args.trace:
        tracer.install_layer_wrappers()
    wl = W.WORKLOADS[args.workload](args.seed, data_dir, tracer)
    runner = Runner(wl, tracer)
    ticks0 = cpu_ticks()
    t_run = time.perf_counter()
    spark = None
    setup = {}
    try:
        t = time.perf_counter()
        spark = start_session(cores, mem)
        setup["start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        warm_up(spark, cores)
        setup["warm_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.generate()
        setup["generate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.reference()
        untimed_reference_s = time.perf_counter() - t
        # the first iteration in a process is set-up (JIT and codegen
        # still cold)
        setup["cold_s"] = runner.iteration(spark, -1, False)["seconds"]

        it = 0
        t_measure = time.perf_counter()
        # a traced run pairs each traced iteration with an untraced one
        # beside it, so the overhead is measured in the same run (host
        # speed drifts between runs); which goes first alternates, so
        # iterations still speeding up as the JIT warms favour neither
        batch = 2 if args.trace else 1
        while it < wl.min_iterations or time.perf_counter() - t_measure < args.seconds:
            for k in range(batch):
                runner.iteration(spark, it + k, traced=bool(args.trace) and (it // 2 + k + args.seed) % 2 == 1)
            it += batch
        measure_s = time.perf_counter() - t_measure
        if wl.resume is not None:
            runner.iteration(spark, it, bool(args.trace), wl.resume)

        kernels = W.kernel_rates(args.seed) if args.trace else {}
    finally:
        if spark is not None:
            spark.stop()
        shutdown_gateway()
        tracer.uninstall()
        monitor.stop()
        shutil.rmtree(scratch, ignore_errors=True)

    ticks1 = cpu_ticks()
    host["steal_share_during_run"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    recs = runner.records
    attempted = len(recs)
    failed = sum(1 for r in recs if not r["ok"])
    measured_ok = [r for r in recs if r["it"] >= 0 and r["op"] == "iterate" and r["ok"]]

    def rates(traced: bool) -> list:
        return [wl.rows / r["seconds"] for r in measured_ok if r["traced"] == traced]

    rows_per_s = median(rates(bool(args.trace)))
    e2e = {
        "rows_per_s": {"value": rows_per_s, "unit": "1/s"},
        "setup_s": {"value": sum(setup.values()), "unit": "s"},
        "peak_rss_mb": {"value": monitor.peak / (1 << 20), "unit": "MB"},
    }
    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "cores": cores,
        "driver_memory": mem,
        "input_rows": wl.rows,
        "samples": len(rates(bool(args.trace))),
        "error_rate": failed / attempted if attempted else 1.0,
        "setup": setup,
        "peak_rss_mb_by_process": {k: v / (1 << 20) for k, v in monitor.peak_by_name.items()},
        "untimed_reference_s": untimed_reference_s,
        "measure_s": measure_s,
        "run_s": time.perf_counter() - t_run,
        "iterations": [{k: v for k, v in r.items() if k != "layers"} for r in recs],
        "end_to_end": {k: v["value"] for k, v in e2e.items()},
    }
    if wl.name == "import_resume":
        summary["resume_s"] = median([r["seconds"] for r in recs if r["op"] == "resume" and r["ok"]])

    spec = load_spec()
    if args.trace:
        samples = {}
        for r in recs:
            for k, v in r.get("layers", {}).items():
                samples.setdefault(k, []).append(v)
        measured = {k: median(v) for k, v in samples.items()}
        measured.update(kernels)
        measured["session.start_s"] = setup["start_s"]
        measured["session.warm_s"] = setup["warm_s"]
        measured["session.persisted_rdds_after"] = recs[-1]["persisted_rdds_after"]
        measured["trace.rows_per_s_traced"] = rows_per_s
        measured["trace.iteration_s"] = median([r["seconds"] for r in measured_ok if r["traced"]])
        pairs = {}
        for r in measured_ok:
            pairs.setdefault(r["it"] // 2, {})[r["traced"]] = wl.rows / r["seconds"]
        diffs = [p[True] - p[False] for p in pairs.values() if len(p) == 2]
        if diffs:
            measured["trace.overhead_rows_per_s"] = median(diffs)
        # a metric of a layer this workload does not call reads 0 and is listed here
        summary["not_exercised"] = [m["name"] for m in spec["per_layer"] if m["name"] not in measured]
        summary["per_layer"] = measured
        summary["spans"] = tracer.dump_spans(t_run)
        summary["self_time_s"] = tracer.self_times()
        metrics = {
            m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    side = os.path.join(OUT, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(side, "w") as f:
        json.dump(summary, f, indent=1, default=str)

    line = (
        f"perfbench {wl.name} seed={args.seed} rows_per_s={rows_per_s:.1f} "
        f"(median of {summary['samples']}) setup_s={e2e['setup_s']['value']:.3f} "
        f"peak_rss_mb={e2e['peak_rss_mb']['value']:.1f} "
        f"error_rate={summary['error_rate']:.3f} ({failed}/{attempted})"
    )
    if "resume_s" in summary:
        line += f" resume_s={summary['resume_s']:.3f}"
    print(line + f" host={json.dumps(host)} sidecar={os.path.relpath(side, ROOT)}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
