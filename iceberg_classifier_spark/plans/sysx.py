"""Count-model/spectral/scheduling wave 51: negative-binomial fit,
daily periodogram, and first-fit-decreasing packing replay.

- `negative_binomial_fit` — method-of-moments NB fit of per-customer
  order counts (zeros included via the customer left join): r and p
  from exact mean/variance, plus the zero/one-probability audit
  P(0) = p^r, P(1) = r p^r (1-p) against observed shares — the
  overdispersion upgrade of a Poisson count model, no gamma
  functions needed.
- `periodogram_daily` — discrete-Fourier periodogram of mean-centered
  daily revenue at harmonics k=1..30: normalized power shares and
  the top-5 dominant periods (the weekly cycle should win).
- `ffd_bin_packing_replay` — first-fit-decreasing packing of the 40
  largest daily workloads into 8 fixed-capacity bins, folded
  order-pinned with the bin-load vector as the accumulator; emits
  per-bin loads/utilization and the overflow count — the compaction
  planner's core loop as a value-checked query.

Determinism: counts/sizes are exact int64; trig sums normalize to
dimensionless power shares before rounding; the packing fold is the
identical nested-CASE first-fit both engines execute over the same
descending order.

Scale: NB reduces to the bounded count histogram; the periodogram is
a 30 x calendar-frame bounded cross join; packing folds 40 items.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "negative_binomial_fit",
    oracle="""
    WITH counts AS (
      SELECT c.c_custkey,
             CAST(count(o.o_orderkey) AS BIGINT) AS k
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS s1,
             CAST(sum(k * k) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1
      FROM counts
    ), fit AS (
      SELECT n, n0, n1,
             s1 * 1.0 / n AS m,
             (s2 - s1 * 1.0 / n * s1) / (n - 1) AS v
      FROM mom
    )
    SELECT n AS n_customers,
           round(m, 6) AS mean_orders,
           round(v, 6) AS var_orders,
           round(v / m, 6) AS dispersion_index,
           round(m * m / (v - m), 6) AS r_shape,
           round(m / v, 6) AS p_prob,
           round(n0 * 1.0 / n, 6) AS p0_observed,
           round(exp((m * m / (v - m)) * ln(m / v)), 6) AS p0_predicted,
           round(n1 * 1.0 / n, 6) AS p1_observed,
           round((m * m / (v - m)) * exp((m * m / (v - m)) * ln(m / v))
                 * (1 - m / v), 6) AS p1_predicted
    FROM fit
    """,
)
def negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial fit of per-customer order
    counts, zeros included (customer LEFT JOIN orders — the
    never-ordered customers are exactly the zero class): dispersion
    index v/m, NB(r, p) with r = m²/(v-m), p = m/v, and the
    closed-form zero/one-probability audit P(0) = p^r = exp(r ln p),
    P(1) = r p^r (1-p) against the observed shares — overdispersion
    diagnostics with no gamma function anywhere. The count-model
    complement of `fano_burstiness` (window dispersion) and
    `eb_shrunken_rates` (Bayes shrinkage).

    Determinism: every moment and class count is exact int64; the
    fit and predicted probabilities are closed-form doubles rounded
    6dp.

    Scale: ONE outer-join pass combining map-side into per-customer
    counts, then a single moment row; the join broadcasts neither
    side but shuffles once on the customer key — the same shape as
    `q13_order_count_dist`.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    counts = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("k"))
    )
    mom = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s1"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("s2"),
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    m = F.col("s1") * 1.0 / F.col("n")
    v = (F.col("s2") - F.col("s1") * 1.0 / F.col("n") * F.col("s1")) / (
        F.col("n") - 1
    )
    r = m * m / (v - m)
    p = m / v
    p0 = F.exp(r * F.log(p))
    return mom.select(
        F.col("n").alias("n_customers"),
        F.round(m, 6).alias("mean_orders"),
        F.round(v, 6).alias("var_orders"),
        F.round(v / m, 6).alias("dispersion_index"),
        F.round(r, 6).alias("r_shape"),
        F.round(p, 6).alias("p_prob"),
        F.round(F.col("n0") * 1.0 / F.col("n"), 6).alias("p0_observed"),
        F.round(p0, 6).alias("p0_predicted"),
        F.round(F.col("n1") * 1.0 / F.col("n"), 6).alias("p1_observed"),
        F.round(r * p0 * (1 - p), 6).alias("p1_predicted"),
    )


_PG_KMAX = 30
_PI = "3.141592653589793"


@query(
    "periodogram_daily",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS DOUBLE) AS t,
             CAST(y AS DOUBLE) AS y,
             CAST(count(*) OVER () AS DOUBLE) AS n,
             avg(y) OVER () AS ybar
      FROM daily
    ), terms AS (
      SELECT k.k, i.n,
             (i.y - i.ybar) * cos(2 * {_PI} * k.k * i.t / i.n) AS c,
             (i.y - i.ybar) * sin(2 * {_PI} * k.k * i.t / i.n) AS s
      FROM idx i CROSS JOIN (
        SELECT CAST(unnest(generate_series(1, {_PG_KMAX})) AS DOUBLE)
          AS k) k
    ), power AS (
      SELECT k, max(n) AS n,
             (sum(c) * sum(c) + sum(s) * sum(s)) AS pw
      FROM terms GROUP BY k
    ), nrm AS (
      SELECT k, n, pw / sum(pw) OVER () AS share
      FROM power
    )
    SELECT CAST(k AS BIGINT) AS harmonic,
           round(n / k, 6) AS period_days,
           round(share, 6) AS power_share
    FROM nrm
    ORDER BY share DESC, k LIMIT 5
    """,
)
def periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram of mean-centered daily revenue at
    harmonics k = 1..{_PG_KMAX}: per-harmonic power
    |sum (y-ybar) e^(-2 pi i k t / N)|^2, normalized to power SHARES
    (dimensionless, so cross-engine float drift stays ~1e-13 of a
    unit), reporting the 5 dominant periods. The frequency-domain
    complement of `acf_daily_counts` / `pacf_durbin_levinson` (lag
    domain) and `seasonal_dow_index` (fixed weekly folding).

    Determinism: daily sums exact int64; each trig term is the
    identical closed form; normalization divides out the magnitude
    before the 6dp round; the top-5 tie-breaks on harmonic.

    Scale: ONE fact pass to the calendar frame, then a fixed
    {_PG_KMAX} x days bounded expansion (~72k lightweight rows)
    combining map-side to {_PG_KMAX} power rows.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    idx = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1)
        .cast("double")
        .alias("t"),
        F.col("y").cast("double").alias("y"),
        F.count(F.lit(1)).over(wall).cast("double").alias("n"),
        F.avg("y").over(wall).alias("ybar"),
    )
    ks = spark.range(1, _PG_KMAX + 1).select(
        F.col("id").cast("double").alias("k")
    )
    ang = 2 * F.lit(float(_PI)) * F.col("k") * F.col("t") / F.col("n")
    terms = idx.crossJoin(F.broadcast(ks)).select(
        "k",
        "n",
        ((F.col("y") - F.col("ybar")) * F.cos(ang)).alias("c"),
        ((F.col("y") - F.col("ybar")) * F.sin(ang)).alias("s"),
    )
    power = terms.groupBy("k").agg(
        F.max("n").alias("n"),
        (
            F.sum("c") * F.sum("c") + F.sum("s") * F.sum("s")
        ).alias("pw"),
    )
    nrm = power.select(
        "k", "n", (F.col("pw") / F.sum("pw").over(wall)).alias("share")
    )
    return (
        nrm.select(
            F.col("k").cast("bigint").alias("harmonic"),
            F.round(F.col("n") / F.col("k"), 6).alias("period_days"),
            F.round("share", 6).alias("power_share"),
        )
        .orderBy(F.desc("power_share"), "harmonic")
        .limit(5)
    )


_BINS = 8
_ITEMS = 40


def _ffd_step(acc: str, size: str, cap: str) -> str:
    """Shared first-fit fold body: acc = [load_1..load_8, overflow];
    the item goes to the FIRST bin whose load + size fits the
    capacity, else counts as overflow. Instantiated with 0- or
    1-indexed accessors so both engines run the same nested CASE.
    """
    def a(i: int) -> str:
        return acc.format(i=i)

    sel = "CASE " + " ".join(
        f"WHEN {a(i)} + {size} <= {cap} THEN {i}"
        for i in range(1, _BINS + 1)
    ) + " ELSE 0 END"
    slots = ", ".join(
        f"{a(i)} + CASE WHEN ({sel}) = {i} THEN {size} ELSE 0.0 END"
        for i in range(1, _BINS + 1)
    )
    ovf = a(_BINS + 1) + f" + CASE WHEN ({sel}) = 0 THEN 1.0 ELSE 0.0 END"
    return f"{slots}, {ovf}"


@query(
    "ffd_bin_packing_replay",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS sz
      FROM orders GROUP BY 1
    ), items AS (
      SELECT d, sz FROM daily ORDER BY sz DESC, d LIMIT {_ITEMS}
    ), cap AS (
      SELECT CAST(ceil(sum(sz) * 1.2 / {_BINS}) AS BIGINT) AS cap,
             CAST(sum(sz) AS BIGINT) AS total
      FROM items
    ), folded AS (
      SELECT c.cap, c.total,
             list_reduce(
               list_prepend([{", ".join(["0.0"] * (_BINS + 1))}],
                 (SELECT list([CAST(sz AS DOUBLE), CAST(c.cap AS DOUBLE)]
                        ORDER BY sz DESC, d) FROM items)),
               (a, b) -> [{_ffd_step("a[{i}]", "b[1]", "b[2]")}]) AS acc
      FROM cap c
    ), bins AS (
      SELECT cap, total,
             unnest(generate_series(1, {_BINS})) AS bin_id,
             acc FROM folded
    )
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           CAST(acc[bin_id] AS BIGINT) AS load_k,
           CAST(cap AS BIGINT) AS capacity_k,
           round(acc[bin_id] / cap, 6) AS utilization,
           CAST(acc[{_BINS + 1}] AS BIGINT) AS n_overflow,
           total AS total_k
    FROM bins ORDER BY bin_id
    """,
)
def ffd_bin_packing_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing of the {_ITEMS} largest daily
    workloads ($1k-quantized revenue) into {_BINS} bins sized at
    120% of the even split: items fold in descending size order
    through a bin-load-vector accumulator, each placed in the FIRST
    bin with room (the classic 11/9 OPT + 6/9 guarantee), overflow
    tallied. Emits per-bin load/utilization — the planning loop
    behind `compact_small_files` (which packs greedily by running
    sum) as an exactly value-checked operator.

    Determinism: sizes and capacity are exact int64; both engines
    fold the identical (size desc, day)-pinned list through the
    identical nested-CASE first-fit; loads stay integer-valued
    doubles throughout.

    Scale: ONE fact pass to the calendar frame, a TakeOrdered for
    the top-{_ITEMS} items, then an O({_ITEMS} x {_BINS}) fold on
    one row — the packing itself is deliberately bounded, as a real
    compaction planner packs per partition, not globally.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
            " AS DOUBLE) / 1000.0) AS BIGINT)"
        ).alias("sz")
    )
    items = daily.orderBy(F.desc("sz"), "d").limit(_ITEMS)
    cap = items.agg(
        F.ceil(F.sum("sz") * 1.2 / _BINS).cast("bigint").alias("cap"),
        F.sum("sz").cast("bigint").alias("total"),
    )
    folded = (
        items.crossJoin(F.broadcast(cap))
        .select(
            "cap",
            "total",
            F.array(
                (-F.col("sz")).cast("double"),
                F.col("d").cast("double"),
                F.col("cap").cast("double"),
            ).alias("el"),
        )
        .groupBy("cap", "total")
        .agg(F.array_sort(F.collect_list("el")).alias("xs"))
        .select(
            "cap",
            "total",
            F.expr(
                f"aggregate(xs, array({', '.join(['0D'] * (_BINS + 1))}),"
                f" (a, x) -> array({_ffd_step('a[{i}]', '(-x[0])', 'x[2]')}))"
                .replace("a[1]", "a[0]")
                .replace("a[2]", "a[1]")
                .replace("a[3]", "a[2]")
                .replace("a[4]", "a[3]")
                .replace("a[5]", "a[4]")
                .replace("a[6]", "a[5]")
                .replace("a[7]", "a[6]")
                .replace("a[8]", "a[7]")
                .replace("a[9]", "a[8]")
            ).alias("acc"),
        )
    )
    bins = folded.select(
        "cap",
        "total",
        F.posexplode(F.col("acc")).alias("i0", "load"),
    ).where(F.col("i0") < _BINS)
    ovf = folded.select(
        F.element_at("acc", _BINS + 1).cast("bigint").alias("n_overflow")
    )
    return (
        bins.crossJoin(F.broadcast(ovf))
        .select(
            (F.col("i0") + 1).cast("bigint").alias("bin_id"),
            F.col("load").cast("bigint").alias("load_k"),
            F.col("cap").cast("bigint").alias("capacity_k"),
            F.round(F.col("load") / F.col("cap"), 6).alias("utilization"),
            "n_overflow",
            F.col("total").alias("total_k"),
        )
        .orderBy("bin_id")
    )
