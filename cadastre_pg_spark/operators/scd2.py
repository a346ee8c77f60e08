"""SCD-2 temporal versioning as window/join dataflow (SURVEY.md group V).

Re-expresses the reference's per-entity point-lookup upsert
(cadastre-pg/src/versioning/upsert.rs:83-182, temporal.rs:62-163) as
set-oriented Spark plans: one shuffle per operation instead of one
round-trip per entity.

Validity convention matches the reference's table (postgres.rs:423-424):
valid_from <= t < valid_to, valid_to IS NULL = currently active.
"""

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def build_history(
    df: DataFrame,
    key: str,
    ts: str,
    attrs: list[str],
    tiebreak: str,
) -> DataFrame:
    """Snapshot stream -> SCD-2 history: valid_from = ts, valid_to =
    next version's ts (NULL for the open row). `tiebreak` makes the
    ordering total so engine and oracle agree on equal timestamps."""
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(tiebreak).asc())
    return df.select(
        key,
        *attrs,
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("valid_to"),
    )


def current_snapshot(history: DataFrame, key: str) -> DataFrame:
    """Latest (open) version per key — A5 'top-1 by recency'
    (upsert.rs:93-98) as a window rank."""
    return history.filter(F.col("valid_to").isNull())


def as_of(history: DataFrame, at: Column) -> DataFrame:
    """Point-in-time lookup (J8; tests/postgres_integration.rs:258-295):
    valid_from <= at AND (valid_to IS NULL OR valid_to > at)."""
    return history.filter(
        (F.col("valid_from") <= at)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > at))
    )


def merge_snapshot(
    current: DataFrame,
    incoming: DataFrame,
    key: str,
    hash_col: str,
    vintage: Column,
) -> DataFrame:
    """V2/V3/V6 upsert matrix in ONE full-outer join:

    - hash equal  -> Unchanged (reactivate: valid_to stays/returns NULL)
    - hash differs-> Updated   (close old at vintage, emit new open row)
    - only incoming-> Inserted (new open row)
    - only current -> Ended    (close at vintage)

    Returns the new current-state rows plus closed rows, with a
    `change` column for the A4-style report."""
    cur = current.select(
        F.col(key).alias("k"),
        F.col(hash_col).alias("cur_hash"),
        F.col("valid_from").alias("cur_from"),
    )
    inc = incoming.select(F.col(key).alias("k"), F.col(hash_col).alias("inc_hash"))
    j = cur.join(inc, "k", "full_outer")
    unchanged = (
        j.filter(F.col("cur_hash") == F.col("inc_hash"))
        .select(
            F.col("k").alias(key),
            F.col("cur_hash").alias(hash_col),
            F.col("cur_from").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
            F.lit("unchanged").alias("change"),
        )
    )
    updated_closed = (
        j.filter(
            F.col("cur_hash").isNotNull()
            & F.col("inc_hash").isNotNull()
            & (F.col("cur_hash") != F.col("inc_hash"))
        )
        .select(
            F.col("k").alias(key),
            F.col("cur_hash").alias(hash_col),
            F.col("cur_from").alias("valid_from"),
            vintage.cast("date").alias("valid_to"),
            F.lit("closed").alias("change"),
        )
    )
    updated_new = (
        j.filter(
            F.col("cur_hash").isNotNull()
            & F.col("inc_hash").isNotNull()
            & (F.col("cur_hash") != F.col("inc_hash"))
        )
        .select(
            F.col("k").alias(key),
            F.col("inc_hash").alias(hash_col),
            vintage.cast("date").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
            F.lit("updated").alias("change"),
        )
    )
    inserted = (
        j.filter(F.col("cur_hash").isNull())
        .select(
            F.col("k").alias(key),
            F.col("inc_hash").alias(hash_col),
            vintage.cast("date").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
            F.lit("inserted").alias("change"),
        )
    )
    ended = (
        j.filter(F.col("inc_hash").isNull())
        .select(
            F.col("k").alias(key),
            F.col("cur_hash").alias(hash_col),
            F.col("cur_from").alias("valid_from"),
            vintage.cast("date").alias("valid_to"),
            F.lit("ended").alias("change"),
        )
    )
    return unchanged.unionByName(updated_closed).unionByName(updated_new).unionByName(
        inserted
    ).unionByName(ended)
