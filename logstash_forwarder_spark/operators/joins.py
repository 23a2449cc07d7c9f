"""Join operators Spark lacks natively, built scalably from primitives.

* ``asof_join`` — most-recent-match join (each left row matched to the
  latest right row with ``right.on <= left.on`` per ``by`` key), via the
  union + ignorenulls-last-value window trick: one shuffle on the ``by``
  key, one sort — no per-group pandas, no range explosion. The classic
  streaming-telemetry lookup the reference's event stream invites.
* ``range_bucket_join`` — equi-join on bucketized range keys + residual
  filter, the standard way to keep a range predicate off a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: str,
    value_cols: list[str],
    suffix: str = "_matched",
) -> DataFrame:
    """For each left row: values of the latest right row with
    ``right.on <= left.on`` within the same ``by`` group (NULLs if none).

    Implementation: tag and union both sides, window-sort by (by, on, side)
    — right rows sort before left rows at equal ``on`` — and carry right
    values forward with ``last(ignorenulls=True)``. One shuffle + one sort,
    both on the ``by`` key: survives arbitrarily large sides.
    """
    from pyspark.sql import types as T

    lcols = left.columns
    # carry ONE struct of all value columns, not each column independently:
    # per-column last(ignorenulls) would backfill a NULL field of the latest
    # right row from an older right row, emitting a composite match that
    # never existed as a single right row.
    vals_type = T.StructType([right.schema[c] for c in value_cols])
    tagged_r = right.select(
        F.col(by),
        F.col(on),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_rvals"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in (by, on)],
    )
    tagged_l = left.select(
        F.col(by),
        F.col(on),
        F.lit(1).alias("_side"),
        F.lit(None).cast(vals_type).alias("_rvals"),
        *[F.col(c) for c in lcols if c not in (by, on)],
    )
    u = tagged_r.unionByName(tagged_l)
    w = (
        W.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = u.select(
        "*", F.last("_rvals", ignorenulls=True).over(w).alias("_carr")
    )
    out = carried.filter(F.col("_side") == 1).select(
        F.col(by),
        F.col(on),
        *[F.col(c) for c in lcols if c not in (by, on)],
        *[F.col("_carr").getField(c).alias(f"{c}{suffix}") for c in value_cols],
    )
    return out


def range_bucket_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Join ``left.left_point BETWEEN right.right_lo AND right.right_hi``
    without a cross product: explode each right interval into the buckets it
    covers, equi-join on bucket, then apply the exact range filter."""
    r = right.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                (F.col(right_lo) / bucket_width).cast("long"),
                (F.col(right_hi) / bucket_width).cast("long"),
            )
        ),
    )
    le = left.withColumn("_bucket", (F.col(left_point) / bucket_width).cast("long"))
    out = le.join(r, "_bucket", how).filter(
        (F.col(left_point) >= F.col(right_lo))
        & (F.col(left_point) <= F.col(right_hi))
    )
    return out.drop("_bucket")

