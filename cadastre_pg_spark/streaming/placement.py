"""Streaming spatial placement: a POINT STREAM joined against the
static parcel build side — the north-star workload with Structured
Streaming semantics (geotagged pages arrive continuously; placement
output is append-only).

Stream-static inner equi-joins are natively supported, so the stream
runs the batch plan itself: `cell_spatial_join` with the stream as its
probe side. Its gates read the static parcels once at build time, the
persisted cover fills on the first micro-batch and every later batch
reuses it. No state is needed — each point is placed exactly once on
arrival (contrast streaming/dedup, which is stateful by nature).

Batch == stream equality is the test invariant: the same input files
through placement_stream equal cell_spatial_join on the batch read.
"""

from pyspark.sql import DataFrame, SparkSession

from ..operators.held import hold
from ..operators.spatial_join import cell_spatial_join

POINT_SCHEMA = "point_id long, lon double, lat double"


def placement_stream(
    spark: SparkSession,
    path: str,
    parcels: DataFrame,
    level: int = 10,
    query_name: str = "placement",
    max_files_per_trigger: int | None = None,
    out_path: str | None = None,
    checkpoint: str | None = None,
):
    """Point parquet stream at `path` x static `parcels` ->
    (point_id, parcel_id) rows, planned by cell_spatial_join (so the
    same measured gates pick broadcast/shuffle and flat/compact cover).
    max_files_per_trigger caps each micro-batch (None = everything
    available in one batch).

    Sink: with out_path, an append parquet sink (DISTRIBUTED writes +
    checkpointed offsets — the scale shape; a memory sink would funnel
    every placed row through the driver); otherwise the memory sink
    `query_name`, the small-result test convenience.

    The returned query holds the join's persisted build side:
    `release_cached(query)` frees it after `query.stop()`."""
    reader = spark.readStream.format("parquet").schema(POINT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    placed = cell_spatial_join(reader.load(path), parcels, level=level)
    writer = placed.writeStream.outputMode("append")
    if out_path:
        query = (
            writer.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint or out_path + "_ckpt")
            .start()
        )
    else:
        query = writer.format("memory").queryName(query_name).start()
    return hold(query, placed)
