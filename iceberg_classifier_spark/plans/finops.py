"""Finance/queueing wave 45: Lindley waiting-time replay, risk-adjusted
return ratios, Wilder RSI, and Kelly sizing.

- `lindley_queue_replay` — per-user G/G/1 waiting-time replay via the
  Lindley recursion W_{i} = max(0, W_{i-1} + s_{i-1} - a_i) folded
  order-pinned over each user's event stream (deterministic service
  times), aggregated to one fleet-wide congestion row.
- `sharpe_sortino_daily` — Sharpe and Sortino ratios of day-over-day
  revenue changes (sample sd / target-0 downside deviation) from
  exact integer moments over the bounded calendar frame.
- `rsi_wilder_daily` — 14-day Relative Strength Index with Wilder's
  recursive smoothing, an order-pinned fold over the day frame;
  emits overbought/oversold day counts and the closing RSI.
- `kelly_criterion_daily` — Kelly optimal fraction f* = p - (1-p)/b
  from the win rate and payoff ratio of daily revenue changes, plus
  the expectancy per day.

Determinism: service times and daily sums are exact int64; both
Lindley and Wilder folds run over explicitly sorted bounded lists so
both engines execute the identical IEEE-double recursion; outputs
rounded 6dp.

Scale: `lindley_queue_replay` is the per-key stateful-replay shape —
each user's fold is local to its group (the applyInPandasWithState
layout), with ONE shuffle on user_id and a map-side-combinable
global summary; the daily ops reduce the fact table to the bounded
calendar frame in one pass and fold/window only there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "lindley_queue_replay",
    oracle="""
    WITH jobs AS (
      SELECT user_id,
             CAST(epoch_us(ts) AS DOUBLE) AS t,
             CAST(event_id AS DOUBLE) AS eid,
             CAST((30 + event_id % 60) * 1000000 AS DOUBLE) AS s
      FROM events
    ), folded AS (
      SELECT user_id,
             list_reduce(
               list_prepend(
                 [-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
                 list([t, eid, s] ORDER BY t, eid)),
               (a, b) -> [
                 b[1], b[3],
                 CASE WHEN a[7] = 0 THEN 0.0
                      ELSE greatest(0.0, a[3] + a[2] - (b[1] - a[1])) END,
                 a[4] + CASE WHEN a[7] = 0 THEN 0.0
                      ELSE greatest(0.0, a[3] + a[2] - (b[1] - a[1])) END,
                 greatest(a[5], CASE WHEN a[7] = 0 THEN 0.0
                      ELSE greatest(0.0, a[3] + a[2] - (b[1] - a[1])) END),
                 a[6] + CASE WHEN a[7] = 0 THEN 0.0
                      WHEN greatest(0.0, a[3] + a[2] - (b[1] - a[1])) > 0
                      THEN 1.0 ELSE 0.0 END,
                 a[7] + 1.0]) AS acc
      FROM jobs GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(acc[7]) AS BIGINT) AS n_jobs,
           CAST((2 * CAST(sum(acc[4]) AS BIGINT)
                 + CAST(sum(acc[7]) AS BIGINT))
                // (2 * CAST(sum(acc[7]) AS BIGINT)) AS DOUBLE)
             / 1000000 AS mean_wait_s,
           CAST(CAST(max(acc[5]) AS BIGINT) AS DOUBLE) / 1000000
             AS max_wait_s,
           CAST((2000000 * CAST(sum(acc[6]) AS BIGINT)
                 + CAST(sum(acc[7]) AS BIGINT))
                // (2 * CAST(sum(acc[7]) AS BIGINT)) AS DOUBLE)
             / 1000000 AS p_wait
    FROM folded
    """,
)
def lindley_queue_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G/G/1 waiting-time replay: each user's event stream is a queue
    (arrivals at event time, deterministic service 30 + id%60 s);
    the Lindley recursion W_i = max(0, W_{i-1} + s_{i-1} - a_i) is
    folded order-pinned per user, then summarized fleet-wide: mean
    and worst wait plus the delay probability P(W>0). The queueing-
    replay complement of `erlang_c_staffing` (closed-form M/M/c) and
    `littles_law_audit` (flow identity) — replay needs no
    distributional assumption.

    Determinism: arrival/service times are exact integer-valued
    microsecond doubles (< 2^53, so every +/- in the fold is exact);
    both engines fold the identical (ts, event_id)-sorted list;
    ratios round 6dp.

    Scale: the per-key stateful-replay shape — ONE shuffle on
    user_id, each fold local to its bounded per-user group (the
    applyInPandasWithState layout in batch form), and the summary is
    a map-side-combinable global agg over one row per user.
    """
    ev = load(spark, sf_dir, "events")
    jobs = ev.select(
        "user_id",
        F.unix_micros("ts").cast("double").alias("t"),
        F.col("event_id").cast("double").alias("eid"),
        ((30 + F.col("event_id") % 60) * 1000000).cast("double").alias("s"),
    )
    w_new = (
        "CASE WHEN a[6] = 0D THEN 0D"
        " ELSE greatest(0D, a[2] + a[1] - (x[0] - a[0])) END"
    )
    folded = (
        jobs.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.array("t", "eid", "s"))).alias("xs"))
        .select(
            "user_id",
            F.expr(
                "aggregate(xs,"
                " array(-1D, 0D, 0D, 0D, 0D, 0D, 0D),"
                f" (a, x) -> array(x[0], x[2], {w_new},"
                f" a[3] + {w_new},"
                f" greatest(a[4], {w_new}),"
                f" a[5] + CASE WHEN a[6] = 0D THEN 0D"
                f" WHEN {w_new} > 0D THEN 1D ELSE 0D END,"
                " a[6] + 1D))"
            ).alias("acc"),
        )
    )
    return folded.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.element_at("acc", 7)).cast("bigint").alias("n_jobs"),
        # the Lindley accumulators are integer-valued doubles (micro units
        # and counts), so the 6dp emits round in exact int64 HALF_UP —
        # ((2e6*a + b) div (2b)) / 1e6 — instead of a double boundary
        F.expr(
            "CAST((2 * CAST(sum(element_at(acc, 4)) AS BIGINT)"
            " + CAST(sum(element_at(acc, 7)) AS BIGINT))"
            " div (2 * CAST(sum(element_at(acc, 7)) AS BIGINT)) AS DOUBLE) / 1000000"
        ).alias("mean_wait_s"),
        (
            F.max(F.element_at("acc", 5)).cast("bigint").cast("double")
            / 1000000
        ).alias("max_wait_s"),
        F.expr(
            "CAST((2000000 * CAST(sum(element_at(acc, 6)) AS BIGINT)"
            " + CAST(sum(element_at(acc, 7)) AS BIGINT))"
            " div (2 * CAST(sum(element_at(acc, 7)) AS BIGINT)) AS DOUBLE) / 1000000"
        ).alias("p_wait"),
    )


def _daily_changes_sql() -> str:
    return """
    daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), chg AS (
      SELECT d, y - lag(y) OVER (ORDER BY d) AS dy
      FROM daily QUALIFY dy IS NOT NULL
    )"""


def _daily_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("d")
    return daily.select(
        "d", (F.col("y") - F.lag("y").over(w)).alias("dy")
    ).where(F.col("dy").isNotNull())


@query(
    "sharpe_sortino_daily",
    oracle=f"""
    WITH {_daily_changes_sql()}, mom AS (
      -- squared-daily-dollar sums crossed 2^63 at the sf10 decade:
      -- s2/sneg stay HUGEINT (Spark: DECIMAL(38,0)) and convert to
      -- DOUBLE exactly once, identically on both engines; the inner
      -- factor is widened FIRST so dy*dy itself never computes in
      -- BIGINT (dy^2 crosses 2^63 around two decades further out)
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dy) AS BIGINT) AS s1,
             sum(CAST(dy AS HUGEINT) * dy) AS s2,
             sum(CASE WHEN dy < 0 THEN CAST(dy AS HUGEINT) * dy
                      ELSE 0 END) AS sneg
      FROM chg
    )
    SELECT n AS n_days,
           round(s1 * 1.0 / n, 6) AS mean_chg,
           round(sqrt((CAST(s2 AS DOUBLE) - s1 * 1.0 / n * s1) / (n - 1)), 6)
             AS sd_chg,
           round(sqrt(CAST(sneg AS DOUBLE) / n), 6) AS downside_dev,
           round((s1 * 1.0 / n)
                 / sqrt((CAST(s2 AS DOUBLE) - s1 * 1.0 / n * s1) / (n - 1)), 6)
             AS sharpe_daily,
           round((s1 * 1.0 / n) / sqrt(CAST(sneg AS DOUBLE) / n), 6)
             AS sortino_daily,
           round((s1 * 1.0 / n)
                 / sqrt((CAST(s2 AS DOUBLE) - s1 * 1.0 / n * s1) / (n - 1))
                 * sqrt(252.0), 6) AS sharpe_annualized
    FROM mom
    """,
)
def sharpe_sortino_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk-adjusted performance of day-over-day revenue changes:
    Sharpe (mean / sample sd), Sortino (mean / target-0 downside
    deviation — penalizes only losses), and the sqrt(252)-annualized
    Sharpe. Complements `var_cvar_daily` (tail quantiles) and
    `garman_klass_volatility` (range-based sigma) with the ratio
    family portfolio dashboards actually report.

    Determinism: changes are exact int64 dollars, all three moments
    are exact integer sums; ratios are closed-form doubles rounded
    6dp.

    Scale: ONE fact pass to the bounded calendar frame; the lag and
    moment agg run on <=2.4k rows (documented bounded window).
    """
    chg = _daily_changes(spark, sf_dir)
    mom = chg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dy").cast("bigint").alias("s1"),
        F.sum(F.col("dy").cast("decimal(38,0)") * F.col("dy")).alias("s2"),
        F.sum(
            F.when(
                F.col("dy") < 0,
                F.col("dy").cast("decimal(38,0)") * F.col("dy"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("sneg"),
    )
    mean = F.col("s1") * 1.0 / F.col("n")
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1") * 1.0 / F.col("n") * F.col("s1"))
        / (F.col("n") - 1)
    )
    dd = F.sqrt(F.col("sneg").cast("double") / F.col("n"))
    return mom.select(
        F.col("n").alias("n_days"),
        F.round(mean, 6).alias("mean_chg"),
        F.round(sd, 6).alias("sd_chg"),
        F.round(dd, 6).alias("downside_dev"),
        F.round(mean / sd, 6).alias("sharpe_daily"),
        F.round(mean / dd, 6).alias("sortino_daily"),
        F.round(mean / sd * F.sqrt(F.lit(252.0)), 6).alias(
            "sharpe_annualized"
        ),
    )


def _wilder_step(cnt: str, ag: str, al: str, n70: str, n30: str,
                 srsi: str, crsi: str, last: str, g: str, l: str) -> str:
    """Shared Wilder-RSI fold body: identical text instantiated with
    1-indexed (DuckDB) or 0-indexed (Spark) accumulator refs so both
    engines execute the same IEEE-double recursion.

    Accumulator: [count, avgG, avgL, n_over70, n_under30, sum_rsi,
    n_rsi, last_rsi]. The first 14 changes accumulate plain sums; the
    14th converts to the seed average; later steps apply Wilder's
    (avg*13 + x)/14 smoothing. RSI = 100*avgG/(avgG+avgL) (50 when
    both averages are zero) is tallied from the 14th change on.
    """
    new_g = (
        f"CASE WHEN {cnt} < 13 THEN {ag} + {g}"
        f" WHEN {cnt} = 13 THEN ({ag} + {g}) / 14"
        f" ELSE ({ag} * 13 + {g}) / 14 END"
    )
    new_l = (
        f"CASE WHEN {cnt} < 13 THEN {al} + {l}"
        f" WHEN {cnt} = 13 THEN ({al} + {l}) / 14"
        f" ELSE ({al} * 13 + {l}) / 14 END"
    )
    rsi = (
        f"CASE WHEN ({new_g}) + ({new_l}) = 0 THEN 50.0"
        f" ELSE 100.0 * ({new_g}) / (({new_g}) + ({new_l})) END"
    )
    return (
        f"{cnt} + 1, {new_g}, {new_l},"
        f" {n70} + CASE WHEN {cnt} >= 13 AND ({rsi}) > 70 THEN 1.0"
        f" ELSE 0.0 END,"
        f" {n30} + CASE WHEN {cnt} >= 13 AND ({rsi}) < 30 THEN 1.0"
        f" ELSE 0.0 END,"
        f" {srsi} + CASE WHEN {cnt} >= 13 THEN ({rsi}) ELSE 0.0 END,"
        f" {crsi} + CASE WHEN {cnt} >= 13 THEN 1.0 ELSE 0.0 END,"
        f" CASE WHEN {cnt} >= 13 THEN ({rsi}) ELSE {last} END"
    )


_WILDER_DUCK = _wilder_step(
    "a[1]", "a[2]", "a[3]", "a[4]", "a[5]", "a[6]", "a[7]", "a[8]",
    "greatest(b[2], 0.0)", "greatest(-b[2], 0.0)",
)
_WILDER_SPARK = _wilder_step(
    "a[0]", "a[1]", "a[2]", "a[3]", "a[4]", "a[5]", "a[6]", "a[7]",
    "greatest(x[1], 0D)", "greatest(-x[1], 0D)",
)


@query(
    "rsi_wilder_daily",
    oracle=f"""
    WITH {_daily_changes_sql()}, folded AS (
      SELECT list_reduce(
               list_prepend(
                 [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
                 list([CAST(d AS DOUBLE), CAST(dy AS DOUBLE)]
                      ORDER BY d)),
               (a, b) -> [{_WILDER_DUCK}]) AS raw
      FROM chg
    )
    SELECT CAST(raw[1] AS BIGINT) AS n_change_days,
           CAST(raw[7] AS BIGINT) AS n_rsi_days,
           round(raw[6] / raw[7], 6) AS mean_rsi,
           round(raw[8], 6) AS last_rsi,
           CAST(raw[4] AS BIGINT) AS n_overbought,
           CAST(raw[5] AS BIGINT) AS n_oversold
    FROM folded
    """,
)
def rsi_wilder_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day Relative Strength Index of daily revenue with Wilder's
    recursive smoothing: gains/losses split from day-over-day
    changes, a 14-sample seed average, then
    avg = (avg*13 + x)/14 per day; RSI = 100 avgG/(avgG+avgL).
    Emits the closing RSI, the mean RSI over the evaluable days, and
    the overbought (>70) / oversold (<30) day counts — the momentum
    complement of `ewma_user_activity` (plain EWMA) and
    `events_ohlc_bars` (price bars).

    Determinism: changes are exact int64; both engines fold the
    identical d-sorted list through the identical shared-template
    IEEE-double recursion (`_wilder_step` instantiates the same text
    for DuckDB and Spark), so every division by 14 happens in the
    same order; outputs rounded 6dp.

    Scale: ONE fact pass to the bounded calendar frame; the fold is
    a single ~2.4k-element in-memory reduction (documented bounded
    collect) — Wilder smoothing is inherently sequential, and the
    bounded day frame is the right place to pay that.
    """
    chg = _daily_changes(spark, sf_dir)
    folded = chg.agg(
        F.expr(
            "aggregate("
            " array_sort(collect_list(array(CAST(d AS DOUBLE),"
            "                               CAST(dy AS DOUBLE)))),"
            " array(0D, 0D, 0D, 0D, 0D, 0D, 0D, 0D),"
            f" (a, x) -> array({_WILDER_SPARK}))"
        ).alias("raw")
    )
    return folded.select(
        F.element_at("raw", 1).cast("bigint").alias("n_change_days"),
        F.element_at("raw", 7).cast("bigint").alias("n_rsi_days"),
        F.round(
            F.element_at("raw", 6) / F.element_at("raw", 7), 6
        ).alias("mean_rsi"),
        F.round(F.element_at("raw", 8), 6).alias("last_rsi"),
        F.element_at("raw", 4).cast("bigint").alias("n_overbought"),
        F.element_at("raw", 5).cast("bigint").alias("n_oversold"),
    )


@query(
    "kelly_criterion_daily",
    oracle=f"""
    WITH {_daily_changes_sql()}, mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_win,
             CAST(sum(CASE WHEN dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_loss,
             CAST(sum(CASE WHEN dy > 0 THEN dy ELSE 0 END) AS BIGINT)
               AS s_win,
             CAST(sum(CASE WHEN dy < 0 THEN -dy ELSE 0 END) AS BIGINT)
               AS s_loss
      FROM chg
    )
    SELECT n AS n_days, n_win, n_loss,
           round(n_win * 1.0 / n, 6) AS p_win,
           round((s_win * 1.0 / n_win) / (s_loss * 1.0 / n_loss), 6)
             AS payoff_ratio,
           round(n_win * 1.0 / n
                 - (1.0 - n_win * 1.0 / n)
                   / ((s_win * 1.0 / n_win) / (s_loss * 1.0 / n_loss)),
                 6) AS kelly_fraction,
           round((n_win * 1.0 / n) * (s_win * 1.0 / n_win)
                 - (1.0 - n_win * 1.0 / n) * (s_loss * 1.0 / n_loss), 6)
             AS expectancy
    FROM mom
    """,
)
def kelly_criterion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kelly position sizing from the win/loss profile of daily
    revenue changes: win rate p, payoff ratio b = avg win / avg
    loss, optimal fraction f* = p - (1-p)/b, and the per-day
    expectancy p*avgwin - (1-p)*avgloss. The bet-sizing complement
    of `sharpe_sortino_daily` (risk-adjusted level) and
    `var_cvar_daily` (tail).

    Determinism: all five moments are exact int64 conditional sums;
    the ratios are closed-form doubles rounded 6dp.

    Scale: ONE fact pass to the bounded calendar frame, then a
    single conditional-aggregate row — map-side combinable end to
    end.
    """
    chg = _daily_changes(spark, sf_dir)
    mom = chg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("dy") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_win"),
        F.sum(F.when(F.col("dy") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_loss"),
        F.sum(F.when(F.col("dy") > 0, F.col("dy")).otherwise(0))
        .cast("bigint")
        .alias("s_win"),
        F.sum(F.when(F.col("dy") < 0, -F.col("dy")).otherwise(0))
        .cast("bigint")
        .alias("s_loss"),
    )
    p = F.col("n_win") * 1.0 / F.col("n")
    b = (F.col("s_win") * 1.0 / F.col("n_win")) / (
        F.col("s_loss") * 1.0 / F.col("n_loss")
    )
    return mom.select(
        F.col("n").alias("n_days"),
        "n_win",
        "n_loss",
        F.round(p, 6).alias("p_win"),
        F.round(b, 6).alias("payoff_ratio"),
        F.round(p - (1.0 - p) / b, 6).alias("kelly_fraction"),
        F.round(
            p * (F.col("s_win") * 1.0 / F.col("n_win"))
            - (1.0 - p) * (F.col("s_loss") * 1.0 / F.col("n_loss")),
            6,
        ).alias("expectancy"),
    )
