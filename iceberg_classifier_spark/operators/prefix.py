"""Two-level distributed prefix sum (Blelloch, "Prefix Sums and Their
Applications", 1990).

A corpus-wide running sum written as one window over the whole frame sorts
every row on a single partition. Here the order axis is cut into buckets:
per-bucket subtotals, one window over the small bucket dimension for each
bucket's offset (broadcast back), and a running window PARTITIONED by
bucket. Offset plus local running sum is the global running sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def running_sums(
    df: DataFrame,
    bucket: str,
    order: list[str | Column],
    sums: dict[str, str | Column],
) -> tuple[DataFrame, DataFrame]:
    """For each ``{out: col}`` in ``sums``, add column ``out``: the
    inclusive running sum of ``col`` over ``df`` in ``order``.

    ``bucket`` names a column of ``df`` that never decreases along
    ``order``; for a descending order, negate the bucket. Returns
    ``(df_with_sums, subtotals)``, where ``subtotals`` has one row per
    bucket with each ``out`` summed over the bucket, so a caller that
    also needs the grand total can read it without another pass over
    ``df``.
    """
    subtotals = df.groupBy(bucket).agg(
        *(F.sum(c).alias(o) for o, c in sums.items())
    )
    before = Window.orderBy(bucket)
    offsets = subtotals.select(
        bucket,
        *((F.sum(o).over(before) - F.col(o)).alias(f"_off_{o}") for o in sums),
    )
    within = (
        Window.partitionBy(bucket)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_sums = df.join(F.broadcast(offsets), bucket).select(
        *df.columns,
        *(
            (F.col(f"_off_{o}") + F.sum(c).over(within)).alias(o)
            for o, c in sums.items()
        ),
    )
    return with_sums, subtotals
