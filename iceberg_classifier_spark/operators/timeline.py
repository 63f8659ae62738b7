"""The order timeline: the calendar day index, the order→ship delay and
the survival risk set over it.

Every daily query numbers days from the fixed origin 1995-01-01, so both
engines bucket an order onto the same integer day.
The ship delay is ``l_shipdate − o_orderdate`` in days, clamped below at
0 and right-censored at ``HORIZON`` days ("still unshipped after 60 days"
is censored, not an event). The survival queries aggregate the delay rows
to a ≤61-row day table first and run the risk set and the curve on that
bounded frame, so their unpartitioned windows never see a fact-sized
input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.sources.tables import load

HORIZON = 60

# the oracles' spelling of ship_delay()
DELAY_SQL = (
    "least(greatest(datediff('day', o_orderdate, l_shipdate), 0), "
    f"{HORIZON})"
)


def order_day() -> Column:
    """Days from 1995-01-01 to ``o_orderdate``."""
    return F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
    )


def raw_delay() -> Column:
    """Days from ``o_orderdate`` to ``l_shipdate``, never negative."""
    return F.greatest(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ),
        F.lit(0),
    )


def ship_delay() -> Column:
    """``raw_delay()`` censored at ``HORIZON`` days."""
    return F.least(raw_delay(), F.lit(HORIZON))


def delay_obs(spark: SparkSession, sf_dir: str, *cols: Column) -> DataFrame:
    """``(t, *cols)``: one row per ``lineitem ⋈ orders`` line, ``t`` its
    ``ship_delay()``."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        ship_delay().alias("t"), *cols
    )


def delay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(t, d, c)``: per delay day, the lines that shipped (``d``) and
    those censored at ``HORIZON`` (``c``)."""
    obs = delay_obs(
        spark, sf_dir, (raw_delay() < HORIZON).cast("bigint").alias("ev")
    )
    return obs.groupBy("t").agg(
        F.sum("ev").alias("d"),
        (F.count(F.lit(1)) - F.sum("ev")).alias("c"),
    )


def at_risk(col: str | Column) -> Column:
    """The risk set at day ``t``: ``col`` summed over the rows with
    ``t' ≥ t``, as the total minus the exclusive running sum in ``t``
    order (exact integers, no float fold)."""
    before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    return F.sum(col).over(Window.partitionBy()) - F.coalesce(
        F.sum(col).over(before), F.lit(0)
    )


def km_survival() -> Column:
    """Kaplan–Meier Ŝ(t) = Π(1 − d/n_risk) over the columns ``d`` and
    ``n_risk``, as exp(Σ ln(·)) in ``t`` order: a fixed fold order on both
    engines. A day on which every subject at risk has the event (d =
    n_risk) drops the curve to exactly 0 through a flag, not a −inf log."""
    wt = Window.orderBy("t")
    dead = F.max((F.col("d") == F.col("n_risk")).cast("int")).over(wt)
    logsum = F.sum(
        F.when(F.col("d") == F.col("n_risk"), F.lit(0.0)).otherwise(
            F.log(1 - F.col("d") * 1.0 / F.col("n_risk"))
        )
    ).over(wt)
    return F.when(dead == 1, F.lit(0.0)).otherwise(F.exp(logsum))
