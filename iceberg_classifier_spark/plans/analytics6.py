"""Analytics wave 6 — time-series decomposition, weighted sampling
without replacement, sequential hypothesis testing, and a quality-ordered
training curriculum.

Numeric discipline: exact int64 micro-units feed every float; integer
division is used ONLY on non-negative values (Spark's `div` truncates
toward zero while DuckDB's `//` floors — they agree only for
non-negatives, so anything signed stays in round(double, 6) form built
from identical integer inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.prefix import running_sums
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "ts_decomposition_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
               AS x_micro
      FROM events GROUP BY 1
    ), tr AS (
      SELECT day, x_micro,
             CAST(sum(x_micro) OVER w AS BIGINT) AS wsum,
             CAST(count(*) OVER w AS BIGINT) AS wcnt
      FROM daily
      WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 3 DAY PRECEDING
                                          AND INTERVAL 3 DAY FOLLOWING)
    ), trend AS (
      SELECT day, x_micro,
             CASE WHEN wcnt = 7
                  THEN round(CAST(wsum AS DOUBLE) / wcnt, 6) END AS trend
      FROM tr
    ), dows AS (
      SELECT dayofweek(day) AS dow,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list(x_micro - trend ORDER BY day)),
                   (a, v) -> a + v) / count(*), 6) AS seasonal
      FROM trend WHERE trend IS NOT NULL GROUP BY 1
    )
    SELECT t.day, t.x_micro, t.trend,
           round(d.seasonal, 6) AS seasonal,
           round(t.x_micro - t.trend - d.seasonal, 6) AS residual
    FROM trend t JOIN dows d ON d.dow = dayofweek(t.day)
    WHERE t.trend IS NOT NULL
    ORDER BY t.day
    """,
)
def ts_decomposition_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily event-value series:
    trend = centered 7-day moving average (only where the full window
    exists), seasonal = day-of-week mean of the detrended series,
    residual = remainder — the explainability report behind anomaly
    triage ("is Monday low, or is this Monday low?"). Daily sums are
    exact 1e-4-unit integers; averages are round-6 doubles from those
    integers (avg folds over counts, identical both engines at 6 dp).

    Scale: one map-side-combinable groupBy(day) collapses the corpus;
    the moving-average RANGE window, the dow means, and the join all run
    on the |days| dimension.
    """
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 10000).cast("bigint"))
            .cast("bigint")
            .alias("x_micro")
        )
    )
    w = (
        Window.partitionBy()
        .orderBy(F.unix_date("day"))
        .rangeBetween(-3, 3)
    )
    tr = daily.select(
        "day",
        "x_micro",
        F.sum("x_micro").over(w).cast("bigint").alias("wsum"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("wcnt"),
    )
    trend = tr.select(
        "day",
        "x_micro",
        F.when(
            F.col("wcnt") == 7,
            F.round(F.col("wsum").cast("double") / F.col("wcnt"), 6),
        ).alias("trend"),
    )
    # day-ordered fold: the detrended values are ~1e9-magnitude doubles,
    # where a shuffle-order sum can flip the 6th decimal
    dows = (
        trend.where(F.col("trend").isNotNull())
        .groupBy(F.dayofweek("day").alias("dow"))
        .agg(
            F.round(
                F.expr(
                    "aggregate(sort_array(collect_list(struct(day,"
                    " x_micro - trend AS t))), CAST(0.0 AS DOUBLE),"
                    " (a, e) -> a + e.t)"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("seasonal")
        )
    )
    return (
        trend.where(F.col("trend").isNotNull())
        .join(F.broadcast(dows), F.dayofweek(trend.day) == dows.dow)
        .select(
            "day",
            "x_micro",
            "trend",
            F.round("seasonal", 6).alias("seasonal"),
            F.round(
                F.col("x_micro") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
        .orderBy("day")
    )


_HEX = "0123456789abcdef"
_ES_K = 10


@query(
    "weighted_sample_es_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS w
      FROM documents
    ), keyed AS (
      -- quantize ln(u)/w to exact pico-units BEFORE ranking: libm-vs-JVM
      -- ln() ulp drift reordered near-tied keys at the sf1 top-k boundary;
      -- the 1e-12 grid is ~8 orders coarser than the drift, so both
      -- engines compute the identical int64 and the identical sample
      SELECT doc_id, w,
             CAST(round(ln((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, 13),
                     k -> CAST(strpos('{_HEX}',
                            substr(md5(CAST(doc_id AS VARCHAR)),
                                   CAST(k AS INTEGER), 1)) - 1 AS BIGINT))),
                   (acc, c) -> acc * 16 + c) AS DOUBLE) + 0.5)
                / 4503599627370496) / w * 1e12) AS BIGINT) AS es_pico
      FROM d WHERE w > 0
    )
    SELECT doc_id, w AS weight,
           round(CAST(es_pico AS DOUBLE) / 1e12, 6) AS es_key
    FROM keyed ORDER BY es_pico DESC, doc_id LIMIT {_ES_K}
    """,
)
def weighted_sample_es_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    each document draws u from its portable md5 hash and competes with
    key u^(1/w) — the top-k keys are a weighted sample where longer
    documents win proportionally more often. Ordering by ln(u)/w is the
    monotone-equivalent form that avoids the pow; u=(hash52+0.5)/2^52 is
    exactly reproducible, and the ranking key is quantized to exact
    pico-unit int64s before the top-k (JVM-vs-libm ln() ulp drift
    reordered near-tied keys at the sf1 boundary), so the SAMPLE ITSELF
    is value-checked (the usual sample() is engine-random and
    untestable).

    Scale: map-only key computation + one bounded TakeOrdered — the
    standard distributed weighted-sampling plan (per-partition top-k then
    merge). Complements sample_weighted_det (Bernoulli, replacement-
    agnostic) with the fixed-size-without-replacement variant.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("bigint").alias("w"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 0.5
    ) / 4503599627370496
    return (
        d.where(F.col("w") > 0)
        .select(
            "doc_id",
            F.col("w").alias("weight"),
            F.round(F.log(u) / F.col("w") * 1e12)
            .cast("bigint")
            .alias("es_pico"),
        )
        .orderBy(F.desc("es_pico"), "doc_id")
        .limit(_ES_K)
        .select(
            "doc_id",
            "weight",
            F.round(F.col("es_pico").cast("double") / 1e12, 6).alias(
                "es_key"
            ),
        )
    )


# SPRT: H0 purchase share p0 vs H1 p1, alpha = beta = 0.05
_P0, _P1 = 0.2, 0.25


@query(
    "sprt_sequential_test",
    oracle=f"""
    WITH e AS (
      SELECT ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
      FROM events
    ), walk AS (
      SELECT row_number() OVER (ORDER BY ts, event_id) AS n,
             sum(hit) OVER (ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS k
      FROM e
    ), llr AS (
      SELECT n, k,
             k * ln({_P1} / {_P0})
               + (n - k) * ln((1 - {_P1}) / (1 - {_P0})) AS llr
      FROM walk
    ), crossing AS (
      SELECT n, k, llr,
             CASE WHEN llr >= ln(19.0) THEN 'accept_h1'
                  WHEN llr <= -ln(19.0) THEN 'accept_h0' END AS decision
      FROM llr
    ), first_cross AS (
      SELECT * FROM crossing WHERE decision IS NOT NULL
      ORDER BY n LIMIT 1
    ), tail AS (
      SELECT n, k, llr, 'inconclusive' AS decision
      FROM llr ORDER BY n DESC LIMIT 1
    )
    SELECT decision, CAST(n AS BIGINT) AS n_at_decision,
           CAST(k AS BIGINT) AS k_at_decision, round(llr, 6) AS llr
    FROM (SELECT * FROM first_cross UNION ALL
          SELECT * FROM tail WHERE NOT EXISTS (SELECT 1 FROM first_cross))
    """,
)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test over the ordered event
    stream: is the purchase share p1=0.25 (H1) or p0=0.20 (H0)? The
    log-likelihood ratio is a closed form of the running counts
    (k·ln(p1/p0) + (n-k)·ln(q1/q0)), so the walk needs only a running
    purchase count; the test reports the FIRST boundary crossing
    (±ln 19 for alpha=beta=0.05) — the early-stopping machinery of
    sequential A/B testing, on a batch stream.

    Scale: the running counts (n, k) are
    ``operators.prefix.running_sums`` over day buckets — never a
    single-partition window over the event stream; the first crossing is
    a bounded TakeOrdered.
    """
    e = load(spark, sf_dir, "events").select(
        "ts",
        "event_id",
        F.to_date("ts").alias("bkt"),
        (F.col("event_type") == "purchase").cast("bigint").alias("hit"),
    )
    # n is a running count: over a ROWS frame, the running sum of a
    # constant 1 is row_number
    walk, _ = running_sums(
        e, "bkt", ["ts", "event_id"], {"n": F.lit(1), "k": "hit"}
    )
    import math

    llr = walk.select(
        "n",
        "k",
        (
            F.col("k") * math.log(_P1 / _P0)
            + (F.col("n") - F.col("k")) * math.log((1 - _P1) / (1 - _P0))
        ).alias("llr"),
    )
    a = math.log(19.0)
    crossing = llr.select(
        "n",
        "k",
        "llr",
        F.when(F.col("llr") >= a, F.lit("accept_h1"))
        .when(F.col("llr") <= -a, F.lit("accept_h0"))
        .alias("decision"),
    )
    first_cross = (
        crossing.where(F.col("decision").isNotNull())
        .orderBy("n")
        .limit(1)
        .withColumn("prio", F.lit(0))
    )
    tail = (
        crossing.orderBy(F.desc("n"))
        .limit(1)
        .select("n", "k", "llr", F.lit("inconclusive").alias("decision"))
        .withColumn("prio", F.lit(1))
    )
    # one plan, no driver-side branch: the crossing row (prio 0) wins the
    # bounded 2-row merge when it exists
    picked = first_cross.unionByName(tail).orderBy("prio").limit(1)
    return picked.select(
        "decision",
        F.col("n").cast("bigint").alias("n_at_decision"),
        F.col("k").cast("bigint").alias("k_at_decision"),
        F.round("llr", 6).alias("llr"),
    )


@query(
    "curriculum_quality_schedule",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT)
               AS n_distinct
      FROM documents
    ), scored AS (
      SELECT doc_id, n_tok,
             CAST(n_distinct * 1000000 // n_tok AS BIGINT) AS ttr_micro
      FROM d WHERE n_tok > 0
    ), g AS (
      SELECT ttr_micro, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(n_tok) AS BIGINT) AS toks
      FROM scored GROUP BY 1
    ), c AS (
      SELECT ttr_micro, cnt, toks,
             sum(cnt) OVER (ORDER BY ttr_micro DESC
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER () AS n
      FROM g
    ), dec AS (
      SELECT least(((cum - 1) * 10) // n, 9) AS decile,
             CAST(sum(cnt) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS tokens
      FROM c GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_docs, tokens,
           CAST(sum(tokens) OVER (ORDER BY decile
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_tokens
    FROM dec ORDER BY decile
    """,
)
def curriculum_quality_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered training curriculum: documents ranked by type-token
    ratio (distinct/total tokens, exact ppm), cut into quality deciles
    BY VALUE-GROUPED rank arithmetic (cumulative counts over distinct
    score values — never a per-document ntile), with per-decile and
    cumulative token budgets — the schedule a curriculum-learning run
    feeds highest-quality-first. Ties share a score value and land in the
    decile of their group's last cumulative position, identically on both
    engines (no within-tie ordering is ever needed).

    Scale: score is map-only; the decile assignment runs on the distinct-
    score dimension via one cumulative window (two-level bucketed at
    extreme cardinality); the rollup is 10 rows.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("bigint").alias("n_tok"),
        F.size(F.array_distinct(F.split(F.trim(F.col("text")), " ")))
        .cast("bigint")
        .alias("n_distinct"),
    )
    scored = d.where(F.col("n_tok") > 0).select(
        "doc_id",
        "n_tok",
        F.expr("n_distinct * 1000000 div n_tok").cast("bigint").alias("ttr_micro"),
    )
    g = scored.groupBy("ttr_micro").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("n_tok").cast("bigint").alias("toks"),
    )
    wc = (
        Window.partitionBy()
        .orderBy(F.desc("ttr_micro"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "ttr_micro",
        "cnt",
        "toks",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    dec = (
        c.select(
            F.least(F.expr("((cum - 1) * 10) div n"), F.lit(9)).alias("decile"),
            "cnt",
            "toks",
        )
        .groupBy("decile")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("tokens"),
        )
    )
    wd = (
        Window.partitionBy()
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dec.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_docs",
        "tokens",
        F.sum("tokens").over(wd).cast("bigint").alias("cum_tokens"),
    ).orderBy("decile")


@query(
    "growth_accounting_daily",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), firsts AS (
      SELECT user_id, min(day) AS first_day FROM act GROUP BY 1
    ), per_day AS (
      SELECT a.day,
             CAST(count(*) AS BIGINT) AS dau,
             CAST(sum(CASE WHEN f.first_day = a.day THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_users
      FROM act a JOIN firsts f USING (user_id) GROUP BY 1
    ), ret AS (
      SELECT a.day, CAST(count(*) AS BIGINT) AS retained
      FROM act a JOIN act p
        ON p.user_id = a.user_id AND p.day = a.day - 1
      GROUP BY 1
    )
    SELECT CAST(d.day AS VARCHAR) AS day, d.dau, d.new_users,
           d.dau - d.new_users AS returning,
           COALESCE(r.retained, 0) AS retained_from_prev,
           COALESCE(lag(d.dau) OVER (ORDER BY d.day), 0)
             - COALESCE(r.retained, 0) AS churned_from_prev
    FROM per_day d LEFT JOIN ret r ON r.day = d.day
    ORDER BY day
    """,
)
def growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: DAU split into new vs returning users,
    plus day-over-day retained and churned counts — the new/retained/
    churned/resurrected ledger every growth team keeps (resurrected =
    returning - retained_from_prev, derivable from the output).

    Scale: the corpus collapses once to the distinct (user, day) activity
    frame (map-side combinable dedup); first-seen days are one combinable
    MIN on the user dimension; the day-over-day self-join runs on the
    activity frame keyed by user — all downstream frames are
    dimension-sized. The final lag window is over |days| rows.
    """
    act = (
        load(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    firsts = act.groupBy("user_id").agg(F.min("day").alias("first_day"))
    per_day = (
        act.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dau"),
            F.sum((F.col("first_day") == F.col("day")).cast("int"))
            .cast("bigint")
            .alias("new_users"),
        )
    )
    a, p = act.alias("a"), act.alias("p")
    ret = (
        a.join(
            p,
            (F.col("p.user_id") == F.col("a.user_id"))
            & (F.col("p.day") == F.date_sub(F.col("a.day"), 1)),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("retained"))
    )
    wl = Window.partitionBy().orderBy("day")
    return (
        per_day.join(ret, "day", "left")
        .select(
            "day",
            "dau",
            "new_users",
            (F.col("dau") - F.col("new_users")).alias("returning"),
            F.coalesce("retained", F.lit(0)).alias("retained_from_prev"),
            (
                F.coalesce(F.lag("dau").over(wl), F.lit(0))
                - F.coalesce("retained", F.lit(0))
            ).alias("churned_from_prev"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "new_users",
            "returning",
            "retained_from_prev",
            "churned_from_prev",
        )
        .orderBy("day")
    )


@query(
    "user_type_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), u AS (
      SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_types,
             ln(CAST(sum(c) AS DOUBLE))
               - list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(c * ln(CAST(c AS DOUBLE)) ORDER BY event_type)),
                 (a, v) -> a + v) / sum(c) AS h
      FROM c GROUP BY 1
    )
    SELECT user_id, n AS n_events, n_types, round(h, 6) AS entropy
    FROM u ORDER BY h DESC, user_id LIMIT 20
    """,
)
def user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy of each user's event-type
    mix (H = ln n − Σ c·ln c / n, folded in sorted type order — the same
    fixed-order identity doc_entropy_filter uses), reporting the 20 most
    diverse users — the segmentation feature separating single-purpose
    users from explorers.

    Scale: one map-side-combinable groupBy(user, type), a per-user fold
    over ≤|types| elements, and a bounded TakeOrdered — no unbounded
    window anywhere.
    """
    c = load(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    u = c.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        (
            F.log(F.sum("c").cast("double"))
            - F.expr(
                "aggregate(sort_array(collect_list(struct(event_type,"
                " c * ln(CAST(c AS DOUBLE)) AS t))), CAST(0.0 AS DOUBLE),"
                " (a, e) -> a + e.t)"
            )
            / F.sum("c")
        ).alias("h"),
    )
    return (
        u.orderBy(F.desc("h"), "user_id")
        .limit(20)
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            "n_types",
            F.round("h", 6).alias("entropy"),
        )
    )


@query(
    "orders_backlog_aging",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS asof FROM orders),
    open_o AS (
      SELECT date_diff('day', o_orderdate, mx.asof) AS age_days,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders CROSS JOIN mx
      WHERE o_orderstatus = 'O'
    ), b AS (
      SELECT CASE WHEN age_days <= 30 THEN 'a_0_30d'
                  WHEN age_days <= 90 THEN 'b_31_90d'
                  WHEN age_days <= 365 THEN 'c_91_365d'
                  ELSE 'd_over_1y' END AS bucket,
             cents
      FROM open_o
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS backlog_cents
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: unfinished (status O) orders bucketed by
    age as of the latest order date — the operations report behind "how
    stale is our backlog", with the exact cents value stuck in each
    bucket. Ages are whole-day integer diffs; the as-of date rides in as
    a broadcast 1-row frame, never a collect.

    Scale: one pushed-filter scan (status = 'O' reaches the parquet
    reader) + a map-side-combinable 4-bucket rollup.
    """
    o = load(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("asof"))
    b = (
        o.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff(F.to_date("asof"), F.to_date("o_orderdate")).alias(
                "age_days"
            ),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .select(
            F.when(F.col("age_days") <= 30, "a_0_30d")
            .when(F.col("age_days") <= 90, "b_31_90d")
            .when(F.col("age_days") <= 365, "c_91_365d")
            .otherwise("d_over_1y")
            .alias("bucket"),
            "cents",
        )
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("backlog_cents"),
        )
        .orderBy("bucket")
    )


@query(
    "market_concentration_hhi",
    oracle="""
    WITH s AS (
      SELECT su.s_nationkey AS nation, l.l_suppkey AS supp,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem l JOIN supplier su ON su.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ), agg AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(sum(c * c) AS BIGINT) AS sumsq
      FROM s GROUP BY 1
    )
    SELECT CAST(nation AS BIGINT) AS nation, n_suppliers, total,
           round(CAST(sumsq AS DOUBLE)
                 / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 6)
             AS hhi,
           round(CAST(total AS DOUBLE) * CAST(total AS DOUBLE)
                 / CAST(sumsq AS DOUBLE), 2) AS effective_suppliers
    FROM agg ORDER BY nation
    """,
)
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market concentration per supplier nation: HHI
    = sum of squared within-nation volume shares (1/n = perfectly even,
    1 = monopoly) plus the effective-supplier count 1/HHI — the
    concentration lens procurement and antitrust analyses apply. The
    share squares come from exact int64 per-supplier counts via the
    identity HHI = sum(c^2)/total^2, with the only floats being two
    final divisions of exact integers (cast to double BEFORE the product
    so total^2 can never overflow int64 at scale).

    Scale: one map-side-combinable groupBy(nation, supplier) collapses
    the fact table; the rollup runs on the supplier dimension with a
    broadcast-dim join.
    """
    li = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier")
    s = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation"), F.col("l_suppkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    agg = s.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("c").cast("bigint").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sumsq"),
    )
    td = F.col("total").cast("double")
    return agg.select(
        F.col("nation").cast("bigint").alias("nation"),
        "n_suppliers",
        "total",
        F.round(F.col("sumsq").cast("double") / (td * td), 6).alias("hhi"),
        F.round(td * td / F.col("sumsq").cast("double"), 2).alias(
            "effective_suppliers"
        ),
    ).orderBy("nation")


_CONF_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


@query(
    "conformal_interval_coverage",
    oracle=f"""
    WITH o AS (
      SELECT {_CONF_CENTS} AS cents, c_mktsegment AS seg, o_orderkey AS k
      FROM orders JOIN customer ON c_custkey = o_custkey
    ), pred AS (
      SELECT seg, CAST(sum(cents) // count(*) AS BIGINT) AS pred_cents,
             CAST(count(*) AS BIGINT) AS n_train
      FROM o WHERE k % 3 != 0 GROUP BY 1
    ), calib AS (
      SELECT o.seg, abs(o.cents - p.pred_cents) AS r
      FROM o JOIN pred p ON p.seg = o.seg
      WHERE o.k % 3 = 0
    ), g AS (
      SELECT seg, r, count(*) AS c FROM calib GROUP BY 1, 2
    ), cum AS (
      SELECT seg, r, c,
             sum(c) OVER (PARTITION BY seg ORDER BY r
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY seg) AS n_cal
      FROM g
    ), qh AS (
      SELECT seg, CAST(min(r) AS BIGINT) AS qhat_cents,
             CAST(min(n_cal) AS BIGINT) AS n_calib
      FROM cum WHERE cum >= (9 * (n_cal + 1) + 9) // 10
      GROUP BY 1
    )
    SELECT p.seg AS segment, p.n_train, q.n_calib, p.pred_cents,
           q.qhat_cents,
           CAST((SELECT sum(c) FROM cum
                 WHERE cum.seg = p.seg AND cum.r <= q.qhat_cents)
                * 1000000 // q.n_calib AS BIGINT) AS coverage_ppm
    FROM pred p JOIN qh q ON q.seg = p.seg
    ORDER BY segment
    """,
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals: a deterministic per-segment
    point predictor (train-split mean in integer cents) is calibrated on
    a held-out split — q̂ = the ⌈0.9·(n+1)⌉-th smallest absolute residual
    per segment, found by value-grouped cumulative counts — and the
    realized calibration coverage of pred ± q̂ is reported in exact ppm
    (split conformal guarantees ≥ 90% marginal coverage; the audit column
    proves it held). Every quantity is exact int64 on both engines; no
    per-row rank anywhere.

    Scale: two passes over the joined fact (train means, calib
    residuals), both map-side combinable; the quantile runs on the
    distinct-residual dimension per segment (two-level bucketed at
    extreme cardinality); the report is |segments| rows.
    """
    o = (
        load(spark, sf_dir, "orders")
        .join(
            F.broadcast(load(spark, sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.expr(_CONF_CENTS).alias("cents"),
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderkey").alias("k"),
        )
    )
    pred = (
        o.where(F.col("k") % 3 != 0)
        .groupBy("seg")
        .agg(
            F.expr("CAST(sum(cents) div count(1) AS BIGINT)").alias("pred_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
        )
    )
    calib = (
        o.where(F.col("k") % 3 == 0)
        .join(F.broadcast(pred), "seg")
        .select("seg", F.abs(F.col("cents") - F.col("pred_cents")).alias("r"))
    )
    g = calib.groupBy("seg", "r").agg(F.count(F.lit(1)).alias("c"))
    wc = (
        Window.partitionBy("seg")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        "seg",
        "r",
        "c",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(Window.partitionBy("seg")).alias("n_cal"),
    )
    qh = (
        cum.where(F.col("cum") >= F.expr("(9 * (n_cal + 1) + 9) div 10"))
        .groupBy("seg")
        .agg(
            F.min("r").cast("bigint").alias("qhat_cents"),
            F.min("n_cal").cast("bigint").alias("n_calib"),
        )
    )
    cov = (
        cum.join(F.broadcast(qh), "seg")
        .where(F.col("r") <= F.col("qhat_cents"))
        .groupBy("seg")
        .agg(F.sum("c").alias("covered"))
    )
    return (
        pred.join(qh, "seg")
        .join(cov, "seg")
        .select(
            F.col("seg").alias("segment"),
            "n_train",
            "n_calib",
            "pred_cents",
            "qhat_cents",
            F.expr("CAST(covered * 1000000 div n_calib AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("segment")
    )
