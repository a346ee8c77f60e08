"""JSON-Lines corpus interchange: the sibling of sources/shards.py
for the format pretraining pipelines actually exchange (one JSON
object per line, gzip-compressed shard files) — parquet shards are
the internal fast path, JSONL is what leaves the cluster or arrives
from a crawler.

Reference lineage: the reference's export side writes one artifact
per département with a per-file census (cadastre-pg/src/export/
postgres.rs COPY batches + report counters); this sink emits one
JSONL shard per deterministic shuffle bucket with the same manifest
census as write_shards, so either format resumes/verifies through
identical loader logic.

Scale shape (100 TB): writing is ONE exchange
(repartition(n_shards, shard) + sortWithinPartitions + partitionBy) —
each task streams its shard in final training order straight into the
.json.gz file; Spark's JSON writer preserves within-file row order.
Reading back ALWAYS takes an explicit schema: schema inference is a
full extra pass over 100 TB and silently widens types, so read_jsonl
refuses to infer.
"""

import os

from pyspark.sql import DataFrame, SparkSession

from .shards import _verify_routed, _write_routed

DOC_SCHEMA = "doc_id long, pos long, text string"


def write_jsonl(
    docs: DataFrame,
    path: str,
    n_shards: int = 16,
    salt: str = "gs:",
    hash_fn: str = "xxhash64",
    compression: str = "gzip",
) -> DataFrame:
    """Write `docs` (doc_id, text) to `path` as `n_shards` gzip JSONL
    shard directories in deterministic training order, plus the same
    manifest census write_shards emits (under `path/_manifest`, as
    parquet — the manifest is loader metadata, not interchange).
    Returns the manifest DataFrame."""

    def save(ordered):
        (
            ordered.select("shard", "doc_id", "pos", "text")
            .write.mode("overwrite")
            .partitionBy("shard")
            .option("compression", compression)
            .json(path)
        )

    return _write_routed(docs.select("doc_id", "text"), path, n_shards, salt, hash_fn, save)


def read_jsonl(
    spark: SparkSession, path: str, schema: str = DOC_SCHEMA
) -> DataFrame:
    """Read a JSONL corpus with an ENFORCED schema (no inference pass;
    malformed lines surface as nulls under the default PERMISSIVE
    mode rather than silently re-typing columns). The partitionBy
    `shard` directory column comes back automatically."""
    return spark.read.schema(schema).json(path)


def read_jsonl_shard(
    spark: SparkSession, path: str, shard: int, schema: str = DOC_SCHEMA
) -> DataFrame:
    """One shard back in training order (within-file order is the
    written order; a multi-file shard re-sorts by pos, cheap at
    one-shard granularity)."""
    return (
        spark.read.schema(schema)
        .json(os.path.join(path, f"shard={shard}"))
        .orderBy("pos")
    )


def verify_jsonl(
    spark: SparkSession, path: str, schema: str = DOC_SCHEMA
) -> DataFrame:
    """Recompute the manifest census from the JSONL files and join it
    against the stored manifest — one row per shard with an `intact`
    flag. Truncated, duplicated, or reordered shards all surface as
    count/min/max/checksum drift (same rule as shards.verify_shards,
    so a loader can verify either format with one code path)."""
    return _verify_routed(spark, read_jsonl(spark, path, schema), path)
