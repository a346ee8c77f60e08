"""What an operator hands its caller besides the rows: the storage the
result holds and the operator's skip report.

An operator that persists or localCheckpoints an intermediate cannot
free it before the caller's terminal action, so the result holds it
until `release_cached(result)`. An operator that drops over-cap
buckets never drops them silently: `skipped(result)` returns them as
a DataFrame. Both ride on the Python DataFrame object, not on its
plan, so a projection of a result keeps them only through `hold`.
This module is the only code that knows how they are attached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_HELD = "_cadastre_held"
_SKIPPED = "_cadastre_skipped"


def hold(
    out: DataFrame, *sources: DataFrame, skipped: DataFrame | None = None
) -> DataFrame:
    """Make `out` hold the storage of `sources`, attach the skip report
    `skipped` when given, and return `out`.

    A source that already holds storage (an operator result, or a
    projection passed through `hold`) contributes what it holds; any
    other source is itself the held storage (a persisted or
    localCheckpointed frame). So `hold(out.select(...), out)` carries
    a result's storage through a projection, and `hold(out, a, b)`
    composes two results."""
    held = []
    for src in sources:
        held.extend(getattr(src, _HELD, [src]))
    setattr(out, _HELD, held)
    if skipped is not None:
        setattr(out, _SKIPPED, skipped)
    return out


def skipped(df: DataFrame) -> DataFrame | None:
    """The rows the operator behind `df` skipped, or None when it
    skipped nothing it reports."""
    return getattr(df, _SKIPPED, None)


def release_cached(df: DataFrame) -> None:
    """Free the storage `df` holds. Call after its terminal action;
    safe to call twice.

    Each held frame is unpersisted, and the RDD behind a
    localCheckpoint is unpersisted too (`DataFrame.unpersist` alone
    leaves a checkpoint's blocks registered). A released result may
    not be evaluated again: the checkpoints it reads are gone."""
    for frame in getattr(df, _HELD, []):
        frame.unpersist()
        plan = frame._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
