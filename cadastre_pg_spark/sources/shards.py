"""Sharded training-corpus sink: materialize corpus.global_shuffle's
deterministic (shard, pos) order as one parquet directory per shard,
plus a per-shard MANIFEST the training loader (and any resume logic)
reads instead of listing files.

The reference's export side writes one artifact per département with
a per-file census (cadastre-pg/src/export/postgres.rs COPY batches +
report counters); this is the webtext analog — one artifact per
training shard with a per-shard census, except the routing key is the
deterministic shuffle hash instead of a spatial code.

Scale shape (100 TB): writing is `repartition(n_shards, shard)` +
`sortWithinPartitions(shard, pos)` + `partitionBy(shard)` — ONE
exchange, then each task streams its shard rows in final training
order straight into the file (parquet preserves row order within a
file). The manifest is a per-shard aggregate over the same routed
rows: counts, token totals, the (first, last) position ids, and an
order-sensitive BIGINT position checksum sum(pos * (doc_id % 2^20))
that a loader can cheaply recompute to detect truncated or reordered
shards. No collect besides the n_shards-row manifest itself.
"""

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cadastre_pg_spark.operators.corpus import global_shuffle
from cadastre_pg_spark.operators.dedup import n_words

MANIFEST_DIR = "_manifest"


def write_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 16,
    salt: str = "gs:",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Write `docs` (doc_id, text, ...) to `path` as `n_shards`
    parquet shard directories in deterministic training order, and a
    manifest under `path/_manifest`. Returns the manifest DataFrame:
    (shard, n_docs, n_tokens, first_pos, last_pos, pos_checksum)."""

    def save(ordered):
        ordered.write.mode("overwrite").partitionBy("shard").parquet(path)

    return _write_routed(docs, path, n_shards, salt, hash_fn, save)


def _write_routed(docs, path, n_shards, salt, hash_fn, save) -> DataFrame:
    """The format-independent half of a sharded write: route `docs` by
    global_shuffle, hand the rows in (shard, pos) order, one shard per
    task, to `save(ordered)`, then write the per-shard manifest census
    under `path/_manifest` and return it."""
    plan = global_shuffle(docs, n_shards=n_shards, salt=salt, hash_fn=hash_fn)
    routed = docs.join(plan.select("doc_id", "shard", "pos"), "doc_id")
    save(routed.repartition(n_shards, "shard").sortWithinPartitions("shard", "pos"))
    manifest = (
        routed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(n_words(F.col("text"))).cast("long").alias("n_tokens"),
            F.min("pos").cast("long").alias("first_pos"),
            F.max("pos").cast("long").alias("last_pos"),
            _pos_checksum().alias("pos_checksum"),
        )
        .orderBy("shard")
    )
    manifest.write.mode("overwrite").parquet(os.path.join(path, MANIFEST_DIR))
    return manifest


def _pos_checksum():
    """The order-sensitive BIGINT position checksum of a shard."""
    return F.sum(F.col("pos") * F.pmod(F.col("doc_id"), F.lit(1 << 20))).cast("long")


def read_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """Read one shard back in training order (parquet preserves
    within-file row order; a multi-file shard re-sorts by pos, which
    is cheap at one-shard granularity)."""
    return spark.read.parquet(os.path.join(path, f"shard={shard}")).orderBy(
        "pos"
    )


def verify_shards(spark: SparkSession, path: str) -> DataFrame:
    """Recompute the manifest census from the written files and join
    it against the stored manifest: one row per shard with an
    `intact` flag — the loader-side integrity check. Positions and
    doc ids come from the data files themselves, so truncation,
    duplication, or reorder all surface as checksum/count drift."""
    return _verify_routed(spark, spark.read.parquet(path), path)


def _verify_routed(spark: SparkSession, data: DataFrame, path: str) -> DataFrame:
    """verify_shards over `data`, the rows read back from `path` in
    any format: (shard, n_docs, pos_checksum, intact) per stored
    manifest row."""
    got = data.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("g_docs"),
        F.min("pos").cast("long").alias("g_first"),
        F.max("pos").cast("long").alias("g_last"),
        _pos_checksum().alias("g_checksum"),
    )
    stored = spark.read.parquet(os.path.join(path, MANIFEST_DIR))
    return (
        stored.join(got, "shard", "left")
        .select(
            "shard",
            "n_docs",
            "pos_checksum",
            (
                (F.col("g_docs") == F.col("n_docs"))
                & (F.col("g_first") == F.col("first_pos"))
                & (F.col("g_last") == F.col("last_pos"))
                & (F.col("g_checksum") == F.col("pos_checksum"))
            ).alias("intact"),
        )
        .orderBy("shard")
    )
