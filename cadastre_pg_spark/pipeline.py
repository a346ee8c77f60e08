"""End-to-end import pipeline — the engine's restatement of the
reference's flagship `cmd_import` lifecycle (SURVEY.md §3.1,
cadastre-pg/src/cli.rs:116-661):

reference stage                         -> engine stage
------------------------------------------------------------------
collect_archives + checksum skip (J5)   -> pages table, per-dep
                                           partitions whose content hash
                                           _checkpoints holds are skipped
decode + parse (S2-S8)                  -> byte-identical html->text
                                           extraction (Arrow kernel)
geometry build + reproject (J2, R)      -> deterministic page points
hash dedup (J3/H1)                      -> sha anti-join vs committed
spatial placement (J9 workload)         -> cell join points x parcels
COPY staging + merge (S10/J4)           -> idempotent partitioned
                                           parquet + dedup-merge
ImportReport (A4)                       -> per-stage metrics rows

Each stage commits per-partition lineage; re-running resumes from the
last committed partition (north rule). The extract stage skips by a
census of its input pages. The placement stage is derived: its census
is hashed on the driver from the extract partitions committed in the
log, the placement code version and the parcel set's parameters
(`chained_census`), so a resume with unchanged pages skips it without
evaluating dedup, the join or the parcel generator, and its build side
is built only inside the stage's processing and released after it,
whether the stage succeeds or raises.

Every Python stage on the import path runs in one wave
(`session.one_wave`): at most the session's cores and never more tasks
than input units, because a Python task pays a fixed latency whatever
its size: ~0.07-0.1 s per wave on a 4-core host under
`worker_daemon`, ~0.3 s under Spark's stock daemon, whose workers
re-read Spark's archives on every task. The generators size themselves
from their row counts and polyfill spreads the parcels over the cores.
The extraction keeps the input's partitioning, one task for a
single-file pages scan: a hash exchange on `dep_part` spreading it over
the cores measured slower end to end and raised peak memory.
"""

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from .data.pages import extract_text_udf, generate_pages
from .data.parcels import generate_parcels
from .data.synthetic import lat_col, lon_col
from .lineage.checkpoints import CheckpointLog, chained_census, run_stage
from .operators.spatial_join import cell_spatial_join, release_cached

DEP_PARTS = 16  # dep_part = pmod(xxhash64(dep), DEP_PARTS): the commit unit

# bump when dedup or placement changes what it writes for the same
# extract output: every placement partition is then reprocessed
PLACEMENT_VERSION = "1"
PARCEL_SCALE = 20.0  # size_scale of run_import's parcel set


def run_import(
    spark: SparkSession,
    base_dir: str,
    run_id: str,
    n_pages: int = 2000,
    n_parcels: int = 100,
    level: int = 10,
    pages_df=None,
) -> dict:
    """Returns {stage: rows_committed} plus placement output path.
    pass `pages_df` to import a pre-materialized pages table (e.g. a
    parquet scan) instead of generating synthetically."""
    report = {}

    pages = (pages_df if pages_df is not None else generate_pages(spark, n_pages)).withColumn(
        "dep_part", F.pmod(F.xxhash64("dep"), F.lit(DEP_PARTS)).cast("int")
    )
    extract = extract_text_udf("8859-15")

    # stage 1: decode/extract (skip-committed partitions, J5 semantics)
    def do_extract(df):
        key = F.pmod(F.abs(F.xxhash64("url")), F.lit(1 << 22))
        return df.select(
            "url",
            "dep",
            "dep_part",
            extract(F.col("html")).alias("text"),  # the Arrow kernel runs ONCE
            lon_col(key).alias("lon"),
            lat_col(key).alias("lat"),
        ).withColumn("text_sha", F.sha2("text", 256))

    out_extract, m1 = run_stage(
        spark,
        pages,
        stage="extract",
        run_id=run_id,
        partition_col="dep_part",
        base_dir=base_dir,
        process=do_extract,
    )
    report["extract"] = sum(r.rows for r in m1.collect())

    extracted = spark.read.parquet(out_extract)

    # stage 2: content dedup (J3) — exact sha; the survivor is the
    # min-url row, NOT an arbitrary dropDuplicates pick, so placement
    # output (lon/lat derive from the surviving url) and the stage
    # content hashes stay deterministic across runs/partitionings —
    # required by the resume protocol's skip-on-identical-input check
    from pyspark.sql import Window

    w_sha = Window.partitionBy("text_sha").orderBy(F.col("url").asc())
    deduped = (
        extracted.withColumn("_rn", F.row_number().over(w_sha))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # stage 3: spatial placement (J9) against the parcel build side.
    # join identity: full xxhash64 (collision-free in practice; no abs —
    # F.abs(Long.MIN_VALUE) would ANSI-overflow). The 22-bit capped key
    # is used only for the lon/lat derivation in stage 1.
    points = deduped.select(
        F.xxhash64("url").alias("point_id"), "url", "dep_part", "lon", "lat"
    )
    built = []

    def do_place(df):
        # the build side (gate aggregate, persisted cover) is built
        # here, so a skipped stage never pays for it. url and dep_part
        # ride through the join (point_id is unique after the dedup):
        # the extract output is scanned once, with no join-back
        parcels = generate_parcels(spark, n_parcels, size_scale=PARCEL_SCALE).select(
            F.xxhash64("parcel_id").alias("parcel_id"), "xs", "ys", "ring_offsets"
        )
        joined = cell_spatial_join(df, parcels, level=level)
        built.append(joined)
        return joined.select("point_id", "parcel_id", "url", "dep_part")

    # chained census: the sha dedup is global, so every placement
    # partition depends on every committed extract partition; the
    # parcels are generate_parcels' deterministic output, identified
    # by its parameters (an aggregate over them would run the generator)
    census = chained_census(
        "placement",
        PLACEMENT_VERSION,
        (level, n_parcels, PARCEL_SCALE),
        CheckpointLog(spark, base_dir).committed("extract").items(),
    )
    try:
        out_place, m2 = run_stage(
            spark,
            points,
            stage="placement",
            run_id=run_id,
            partition_col="dep_part",
            base_dir=base_dir,
            process=do_place,
            census=census,
        )
    finally:
        for joined in built:
            release_cached(joined)  # build-side caches die with the stage
    report["placement"] = sum(r.rows for r in m2.collect())
    report["out_dir"] = out_place
    return report


def import_metrics(spark: SparkSession, base_dir: str):
    """The A4-style report from the lineage table itself."""
    log = CheckpointLog(spark, base_dir)
    return (
        log.read()
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("rows").alias("rows"),
            F.sum("bytes").alias("bytes"),
            F.max("committed_at").alias("last_commit"),
        )
    )


def derive_status(has_fatal: bool, has_errors: bool, has_success: bool) -> str:
    """The reference's report finalization matrix, verbatim
    (cadastre-pg/src/report.rs:211-226): fatal always fails; errors
    alongside successful entities demote to PartialSuccess; errors with
    nothing imported fail; clean runs succeed."""
    if has_fatal:
        return "Failed"
    if has_errors and has_success:
        return "PartialSuccess"
    if has_errors:
        return "Failed"
    return "Success"


def finalize_report(spark: SparkSession, base_dir: str, errors_df=None):
    """A4 typed ImportReport: per-stage metrics plus the run-level
    status. `errors_df` (level string, message string) carries run
    errors; level 'Fatal' maps to the reference's ErrorLevel::Fatal.
    Returns (metrics_df, status_str)."""
    metrics = import_metrics(spark, base_dir)
    agg = metrics.agg(F.coalesce(F.sum("rows"), F.lit(0)).alias("rows")).first()
    has_success = (agg["rows"] or 0) > 0
    has_fatal = has_errors = False
    if errors_df is not None:
        counts = errors_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("level") == "Fatal", 1).otherwise(0)).alias("fatal"),
        ).first()
        has_errors = (counts["n"] or 0) > 0
        has_fatal = (counts["fatal"] or 0) > 0
    return metrics, derive_status(has_fatal, has_errors, has_success)
