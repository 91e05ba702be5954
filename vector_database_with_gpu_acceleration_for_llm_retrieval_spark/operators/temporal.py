"""Temporal joins Spark lacks as built-ins: as-of and range joins, and
a bucketed interval join for interval sides too big to broadcast.

The brief's custom-operator rule (a): express them as compositions of
existing DataFrame ops where the semantics allow — all of these do,
so there is no Python in the hot path and Catalyst optimizes the whole
plan.

* **as-of join** — for every left row, the single most recent right row
  at-or-before its timestamp (per key). Implemented with the classic
  union-and-carry-forward shape: tag both sides, union on (key, ts),
  sort within key, carry the last seen right values forward with
  ``last(..., ignorenulls=True)`` over an unbounded-preceding window,
  keep the left rows. ONE shuffle on the key — the same cost as a
  plain equi-join, versus the naive per-left-row subquery which is a
  range cross join. At 100 TB: pre-partition both inputs by the key so
  the union inherits co-partitioning and the window is shuffle-free.

* **range join** — rows matched to intervals (band dimension). The
  band table must be small: this is a broadcast non-equi join, so each
  row streams against the broadcast intervals with no shuffle of the
  fact side. ``interval_join_bucketed`` is the scale path when the
  interval side is too big to broadcast: a shuffle equi-join on a
  coarse bucket key with the exact containment predicate as a filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "range_join_bands", "interval_join_bucketed"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """For each row of ``left``: the latest ``right`` row with
    ``right.on <= left.on`` within the same ``by`` key (ties at equal
    timestamps resolve to the right row — "at or before").

    Returns ``left`` plus ``<value_col><suffix>`` columns (null when no
    right row precedes).
    """
    lcols = left.columns
    l_tagged = left.select(
        F.col(by), F.col(on), F.lit(1).alias("__is_left"),
        F.struct(*lcols).alias("__l"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in value_cols],
    )
    r_tagged = right.select(
        F.col(by), F.col(on), F.lit(0).alias("__is_left"),
        F.lit(None).cast(l_tagged.schema["__l"].dataType).alias("__l"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)
    # at equal ts the right row must sort BEFORE the left row so the
    # carry-forward includes it ("at or before" semantics); right rows
    # tying on (by, on) get a deterministic final order by their value
    # columns, so the carried row is stable across runs/engines (the
    # greatest value tuple wins) instead of partition-order-dependent
    w = (
        Window.partitionBy(by)
        .orderBy(
            F.col(on).asc(),
            F.col("__is_left").asc(),
            *[F.asc_nulls_first(f"__r_{c}") for c in value_cols],
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "__is_left",
        "__l",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__rv_{c}")
            for c in value_cols
        ],
    ).filter(F.col("__is_left") == 1)
    return carried.select(
        *[F.col("__l")[c].alias(c) for c in lcols],
        *[F.col(f"__rv_{c}").alias(f"{c}{suffix}") for c in value_cols],
    )


def range_join_bands(
    facts: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Join each fact row to the band whose ``[lo, hi)`` interval
    contains ``value_col``. ``bands`` must be small → broadcast
    non-equi join (fact side streams, no shuffle)."""
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return facts.join(F.broadcast(bands), cond, "left")


def interval_join_bucketed(
    facts: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket: int = 16,
) -> DataFrame:
    """Containment join of facts into ``[lo, hi)`` intervals when the
    interval side is TOO BIG to broadcast — the scale path next to
    :func:`range_join_bands` (broadcast non-equi, small-bands only).

    Classic bucketed range join: both sides are keyed by a coarse
    bucket ``floor(x / bucket)`` — each fact lands in exactly one
    bucket, each interval explodes to the buckets its span covers —
    then a shuffle EQUI-join on the bucket key runs the exact
    containment predicate as a post-filter. No cartesian, no
    broadcast; the join parallelizes across buckets. Because a fact's
    bucket is unique, each qualifying (fact, interval) pair matches
    exactly once — no dedup pass needed.

    ``bucket`` should sit near the typical interval length: the
    interval side then explodes to ~2 rows each, while much smaller
    buckets inflate the interval fan-out and much bigger ones degrade
    bucket selectivity (more post-filtered pairs). Values must be
    integral (days, epoch seconds, cents…). Returns the inner join of
    facts × matching intervals.
    """
    b = int(bucket)
    fb = facts.withColumn("__bk", F.floor(F.col(value_col) / b).cast("long"))
    ib = intervals.withColumn(
        "__bk",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / b).cast("long"),
                # hi is exclusive: an interval ending exactly on a
                # bucket boundary does not reach into that bucket
                F.floor((F.col(hi_col) - 1) / b).cast("long"),
            )
        ),
    )
    return (
        fb.join(ib, "__bk")
        .filter((F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col)))
        .drop("__bk")
    )
