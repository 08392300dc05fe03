"""As-of (point-in-time) join and range join helpers (C4 extensions).

Spark has no native ASOF JOIN; the scalable composition is the
union-and-window trick: tag left/right rows, union them, then one
window pass per key carries the most recent right-side value forward.
Cost = ONE shuffle on (key) + an ordered window — versus the naive
correlated-subquery / range-join which explodes to |L|x|R| candidate
pairs per key. This is the idiomatic large-scale as-of used in
time-series joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str] | None = None,
    direction: str = "backward",
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right_ts <= left_ts`` for the same ``on`` key (direction
    'backward'; 'forward' gives the earliest right row >= left_ts).

    Implementation: union with a side tag; window per key ordered by
    (ts, side) with ``last(value, ignorenulls)`` carrying right values
    onto subsequent left rows. Right rows at the exact same timestamp
    ARE visible to the left row (side tag orders right first).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(direction)
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    l_tag = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).cast("timestamp").alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in value_cols],
        F.lit(None).cast("timestamp").alias("_rts"),
    )
    r_tag = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).cast("timestamp").alias("_ts"),
        F.lit(-1).alias("_side"),
        F.lit(None).cast(l_tag.schema["_lrow"].dataType).alias("_lrow"),
        *[F.col(c).alias(f"_rv_{c}") for c in value_cols],
        F.col(right_ts).cast("timestamp").alias("_rts"),
    )
    u = l_tag.unionByName(r_tag)
    if direction == "backward":
        w = (
            Window.partitionBy("_k")
            .orderBy(F.col("_ts").asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        carry = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        w = (
            Window.partitionBy("_k")
            .orderBy(F.col("_ts").asc(), F.col("_side").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        carry = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
    carried = u.select(
        "_k",
        "_ts",
        "_side",
        "_lrow",
        F.when(F.lit(True), carry("_rts")).alias(f"{right_ts}{suffix}"),
        *[carry(f"_rv_{c}").alias(f"{c}{suffix}") for c in value_cols],
    )
    out = carried.filter(F.col("_side") == 0).select(
        *[F.col("_lrow")[c].alias(c) for c in left.columns],
        f"{right_ts}{suffix}",
        *[f"{c}{suffix}" for c in value_cols],
    )
    return out
