"""Analytics wave 4 — distribution comparison and corpus-statistics
operators: two-sample KS, mutual information, autocorrelation, robust
(trimmed/winsorized) means, PMI collocations, feature hashing, Zipf fit,
and a columnar-layout RLE audit.

Discipline matches the rest of the repo: every aggregate that feeds a
float is an exact int64 first; float folds run in an explicitly sorted
order both engines replay; ratios are emitted as integer micro-units or
as round(x, 6) of a double computed from identical integer inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.prefix import running_sums
from iceberg_classifier_spark.operators.terms import ranked_words, word_tokens
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_O_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"

# KS critical-value coefficient for alpha = 0.05 (two-sided, asymptotic).
_KS_C05 = 1.358


@query(
    "ks_two_sample",
    oracle=f"""
    WITH o AS (
      SELECT {_O_CENTS} AS cents, c_mktsegment AS seg
      FROM orders JOIN customer ON c_custkey = o_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), g AS (
      SELECT cents,
             sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS c2
      FROM o GROUP BY 1
    ), c AS (
      SELECT cents,
             sum(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum1,
             sum(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum2
      FROM g
    ), t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM g)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
           round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
                 / (n1 * n2), 6) AS d_stat,
           (CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE) / (n1 * n2))
             > {_KS_C05} * sqrt(CAST(n1 + n2 AS DOUBLE) / (n1 * n2))
             AS reject_05
    FROM c CROSS JOIN t GROUP BY n1, n2
    """,
    headline=True,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: are BUILDING and MACHINERY
    customers' order totals drawn from the same distribution? The exact
    statistic D = max_x |F1(x) - F2(x)| is computed over integer cents so
    the max runs on int64 cross-products (cum1*n2 - cum2*n1) — no float
    enters until the final display division.

    Scale: one shuffle groups duplicates by value (map-side combinable);
    the ECDF prefix-sum is then ``operators.prefix.running_sums`` over
    cents-range buckets, never a single-partition global sort over all
    distinct values.
    """
    o = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    g = (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .select(
            F.expr(_O_CENTS).alias("cents"),
            (F.col("c_mktsegment") == "BUILDING").cast("bigint").alias("b1"),
            (F.col("c_mktsegment") == "MACHINERY").cast("bigint").alias("b2"),
        )
        .groupBy("cents")
        .agg(F.sum("b1").alias("c1"), F.sum("b2").alias("c2"))
        .withColumn("bkt", F.expr("cents div 1000000"))
    )
    c, _ = running_sums(g, "bkt", ["cents"], {"cum1": "c1", "cum2": "c2"})
    # NOTE(r10 opt): deriving t from bkt's subtotals was tried and A/B-
    # measured 1.21× SLOWER — AQE stage reuse already runs g's exchange
    # once across all three consumers, so the direct agg costs nothing
    # extra, while routing t through bkt serializes an extra two-stage agg
    # chain into the broadcast's critical path
    t = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d = F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")))
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("n1", "n2")
        .agg(
            d.cast("bigint").alias("d_num"),
            F.round(d.cast("double") / (F.col("n1") * F.col("n2")), 6).alias(
                "d_stat"
            ),
            (
                d.cast("double") / (F.col("n1") * F.col("n2"))
                > _KS_C05
                * F.sqrt(
                    (F.col("n1") + F.col("n2")).cast("double")
                    / (F.col("n1") * F.col("n2"))
                )
            ).alias("reject_05"),
        )
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            "d_num",
            "d_stat",
            "reject_05",
        )
    )


@query(
    "mutual_info_events",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS o
      FROM events GROUP BY 1, 2
    ), rt AS (SELECT event_type, sum(o) AS rt FROM obs GROUP BY 1),
    ct AS (SELECT hr, sum(o) AS ct FROM obs GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    cells AS (
      SELECT obs.event_type, obs.hr,
             CAST(obs.o AS DOUBLE) / tot.n
               * ln(CAST(obs.o AS DOUBLE) * tot.n / (rt.rt * ct.ct))
               AS term
      FROM obs JOIN rt USING (event_type) JOIN ct USING (hr) CROSS JOIN tot
    ), mi AS (
      SELECT list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(term ORDER BY event_type, hr)),
               (a, v) -> a + v) AS mi_nats,
             count(*) AS n_cells
      FROM cells
    ), ht AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(-(CAST(rt AS DOUBLE) / tot.n) * ln(CAST(rt AS DOUBLE) / tot.n)
                    ORDER BY event_type)), (a, v) -> a + v) AS h_type
      FROM rt CROSS JOIN tot
    ), hh AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(-(CAST(ct AS DOUBLE) / tot.n) * ln(CAST(ct AS DOUBLE) / tot.n)
                    ORDER BY hr)), (a, v) -> a + v) AS h_hour
      FROM ct CROSS JOIN tot
    )
    SELECT tot.n AS n, CAST(mi.n_cells AS BIGINT) AS n_cells,
           round(mi.mi_nats, 6) AS mi_nats,
           round(ht.h_type, 6) AS h_type, round(hh.h_hour, 6) AS h_hour,
           round(mi.mi_nats / ht.h_type, 6) AS uncertainty_coef
    FROM tot CROSS JOIN mi CROSS JOIN ht CROSS JOIN hh
    """,
)
def mutual_info_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day — the
    dependence audit behind "is activity mix time-stable?" (0 nats =
    independent; the uncertainty coefficient MI/H(type) normalizes it).
    Every count is exact int64; the MI/entropy sums fold over cells in
    SORTED (type, hour) order on both engines — never a shuffle-order
    float sum.

    Scale: the contingency table is one map-side-combinable count agg
    (|types|x24 cells regardless of event volume); marginals, folds, and
    the final row all run on that dimension-sized frame.
    """
    e = load(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("rt"))
    ct = obs.groupBy("hr").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    cells = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "hr")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "hr",
            (
                F.col("o").cast("double")
                / F.col("n")
                * F.log(
                    F.col("o").cast("double")
                    * F.col("n")
                    / (F.col("rt") * F.col("ct"))
                )
            ).alias("term"),
        )
    )
    fold = "aggregate({arr}, CAST(0.0 AS DOUBLE), (a, v) -> a + v.t)"
    mi = cells.agg(
        F.expr(
            fold.format(
                arr="sort_array(collect_list(struct(event_type, hr, term AS t)))"
            )
        ).alias("mi_nats"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    ht = (
        rt.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.expr(
                "-(CAST(rt AS DOUBLE) / n) * ln(CAST(rt AS DOUBLE) / n)"
            ).alias("t"),
        )
        .agg(
            F.expr(
                fold.format(arr="sort_array(collect_list(struct(event_type, t)))")
            ).alias("h_type")
        )
    )
    hh = (
        ct.crossJoin(F.broadcast(tot))
        .select(
            "hr",
            F.expr("-(CAST(ct AS DOUBLE) / n) * ln(CAST(ct AS DOUBLE) / n)").alias(
                "t"
            ),
        )
        .agg(
            F.expr(fold.format(arr="sort_array(collect_list(struct(hr, t)))")).alias(
                "h_hour"
            )
        )
    )
    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(ht))
        .crossJoin(F.broadcast(hh))
        .select(
            "n",
            "n_cells",
            F.round("mi_nats", 6).alias("mi_nats"),
            F.round("h_type", 6).alias("h_type"),
            F.round("h_hour", 6).alias("h_hour"),
            F.round(F.col("mi_nats") / F.col("h_type"), 6).alias(
                "uncertainty_coef"
            ),
        )
    )


@query(
    "acf_daily_counts",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), st AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM daily
    ), den AS (
      SELECT CAST(sum((n * x - s) * (n * x - s)) AS BIGINT) AS den
      FROM daily CROSS JOIN st
    ), lags AS (SELECT unnest(range(1, 8)) AS lag)
    SELECT lag, st.n AS n_days, CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum((st.n * a.x - st.s) * (st.n * b.x - st.s))
                      AS DOUBLE) / den.den, 6) AS acf
    FROM daily a CROSS JOIN lags
    JOIN daily b ON b.day = a.day + CAST(lag AS INTEGER)
    CROSS JOIN st CROSS JOIN den
    GROUP BY lag, st.n, den.den ORDER BY lag
    """,
)
def acf_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..7 — the
    seasonality screen (a weekly cycle shows as a lag-7 peak). The usual
    r_k = sum((x_t - mean)(x_{t+k} - mean)) / sum((x_t - mean)^2) is
    multiplied through by n^2 so numerator and denominator are EXACT
    int64 sums of (n*x - S) cross-products — the mean never exists as a
    float. (At extreme scale the int64 products would need DECIMAL; at
    any realistic daily-count magnitude they fit with room.)

    Scale: the only corpus pass is the map-side-combinable groupBy(day);
    the moment sums are windows over the |days| dimension (not separate
    agg+crossJoin subplans re-scanning the corpus), and the 7-lag
    self-join broadcasts the tiny daily series — two corpus passes, zero
    dimension shuffles.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    wd = Window.partitionBy()  # |days| dimension frame — bounded
    a = (
        daily.select(
            "day",
            "x",
            F.count(F.lit(1)).over(wd).cast("bigint").alias("n"),
            F.sum("x").over(wd).cast("bigint").alias("s"),
        )
        .withColumn(
            "den",
            F.sum((F.col("n") * F.col("x") - F.col("s")) ** 2)
            .over(wd)
            .cast("bigint"),
        )
        .alias("a")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag"))
    b = daily.select(F.col("day").alias("bday"), F.col("x").alias("bx"))
    pairs = a.crossJoin(F.broadcast(lags)).join(
        F.broadcast(b),
        F.col("bday") == F.expr("date_add(a.day, CAST(lag AS INT))"),
    )
    return (
        pairs.groupBy("lag", "n", "den")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(
                    (F.col("n") * F.col("a.x") - F.col("s"))
                    * (F.col("n") * F.col("bx") - F.col("s"))
                ).cast("double")
                / F.col("den"),
                6,
            ).alias("acf"),
        )
        .select("lag", F.col("n").alias("n_days"), "n_pairs", "acf")
        .orderBy("lag")
    )


@query(
    "trimmed_winsor_price",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority AS pri, {_O_CENTS} AS cents FROM orders
    ), g AS (
      SELECT pri, cents, CAST(count(*) AS BIGINT) AS cnt
      FROM o GROUP BY 1, 2
    ), c AS (
      SELECT pri, cents, cnt,
             sum(cnt) OVER (PARTITION BY pri ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM g
    ), t AS (
      SELECT pri, CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) // 10 AS k
      FROM g GROUP BY 1
    ), b AS (
      SELECT pri,
             min(CASE WHEN cum >= k + 1 THEN cents END) AS lo,
             min(CASE WHEN cum >= n - k THEN cents END) AS hi
      FROM c JOIN t USING (pri) GROUP BY 1
    ), mid AS (
      SELECT pri,
             CAST(sum(greatest(least(cum, n - k) - greatest(cum - cnt, k),
                               0) * cents) AS BIGINT) AS mid_sum
      FROM c JOIN t USING (pri) GROUP BY 1
    )
    SELECT t.pri AS priority, t.n, t.k AS k_trim,
           b.lo AS lo_cents, b.hi AS hi_cents,
           CAST(mid_sum * 10000 // (t.n - 2 * t.k) AS BIGINT)
             AS trimmed_microdollar,
           CAST((mid_sum + t.k * (b.lo + b.hi)) * 10000 // t.n AS BIGINT)
             AS winsor_microdollar
    FROM t JOIN b USING (pri) JOIN mid USING (pri) ORDER BY priority
    """,
)
def trimmed_winsor_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed and winsorized mean order value per priority — the
    robust-location stats a metrics pipeline publishes when a few whale
    orders would swamp the plain mean. Rank arithmetic runs on grouped
    (value, count) rows: each distinct value contributes
    clamp(min(cum, n-k) - max(cum-cnt, k)) rows to the trimmed middle, so
    no per-row ranking ever happens. Means are exact integer micro-dollars.

    Scale: groupBy(priority, cents) is map-side combinable; the
    cumulative window runs over distinct values per group (dimension-
    sized), not raw rows — the same shape weighted_median_price uses.
    """
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"), F.expr(_O_CENTS).alias("cents")
    )
    g = o.groupBy("pri", "cents").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    wc = (
        Window.partitionBy("pri")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.withColumn("cum", F.sum("cnt").over(wc))
    t = g.groupBy("pri").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.expr("CAST(sum(cnt) AS BIGINT) div 10").alias("k"),
    )
    j = c.join(F.broadcast(t), "pri")
    b = j.groupBy("pri").agg(
        F.min(F.when(F.col("cum") >= F.col("k") + 1, F.col("cents"))).alias("lo"),
        F.min(
            F.when(F.col("cum") >= F.col("n") - F.col("k"), F.col("cents"))
        ).alias("hi"),
    )
    mid = j.groupBy("pri").agg(
        F.sum(
            F.greatest(
                F.least(F.col("cum"), F.col("n") - F.col("k"))
                - F.greatest(F.col("cum") - F.col("cnt"), F.col("k")),
                F.lit(0),
            )
            * F.col("cents")
        )
        .cast("bigint")
        .alias("mid_sum")
    )
    return (
        t.join(b, "pri")
        .join(mid, "pri")
        .select(
            F.col("pri").alias("priority"),
            "n",
            F.col("k").alias("k_trim"),
            F.col("lo").alias("lo_cents"),
            F.col("hi").alias("hi_cents"),
            F.expr("mid_sum * 10000 div (n - 2 * k)")
            .cast("bigint")
            .alias("trimmed_microdollar"),
            F.expr("(mid_sum + k * (lo + hi)) * 10000 div n")
            .cast("bigint")
            .alias("winsor_microdollar"),
        )
        .orderBy("priority")
    )


@query(
    "token_pmi_pairs",
    oracle="""
    WITH t AS (
      SELECT string_split(trim(text), ' ') AS toks FROM documents
    ), uni AS (
      SELECT unnest(toks) AS w FROM t
    ), cx AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1
    ), tt AS (SELECT CAST(count(*) AS BIGINT) AS total FROM uni),
    pr AS (
      SELECT toks[i + 1] AS x, toks[i + 2] AS y
      FROM (SELECT toks, unnest(range(len(toks) - 1)) AS i
            FROM t WHERE len(toks) >= 2)
    ), cxy AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS cxy FROM pr GROUP BY 1, 2
    ), pt AS (SELECT CAST(count(*) AS BIGINT) AS p FROM pr)
    SELECT cxy.x AS tok_x, cxy.y AS tok_y, cxy.cxy AS c_xy,
           a.c AS c_x, b.c AS c_y,
           round(ln(CAST(cxy.cxy AS DOUBLE)) + 2 * ln(CAST(tt.total AS DOUBLE))
                 - ln(CAST(pt.p AS DOUBLE)) - ln(CAST(a.c AS DOUBLE))
                 - ln(CAST(b.c AS DOUBLE)), 6) AS pmi
    FROM cxy JOIN cx a ON a.w = cxy.x JOIN cx b ON b.w = cxy.y
    CROSS JOIN tt CROSS JOIN pt
    WHERE cxy.cxy * 2000 >= pt.p
    ORDER BY tok_x, tok_y
    """,
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs — collocation
    mining, the statistic behind phrase detection in LLM-corpus prep
    (word2phrase, Gensim Phrases). The support floor is RELATIVE
    (c_xy >= P/2000), so the candidate set stays bounded as the corpus
    grows. PMI is evaluated as a pure-log expression
    ln(c_xy) + 2ln(T) - ln(P) - ln(c_x) - ln(c_y) — identical IEEE ops on
    both engines, and no T^2-style integer product that could overflow at
    corpus scale.

    Scale: two map-side-combinable groupBys (unigrams, adjacent pairs);
    the survivors of the relative-support filter form a small frame that
    joins the unigram dimension; AQE broadcasts the filtered side.
    """
    t = load(spark, sf_dir, "documents").select(
        F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    uni = t.select(F.explode("toks").alias("w"))
    cx = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tt = uni.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    pr = t.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS x, toks[i + 1] AS y))"
            )
        ).alias("p")
    ).select("p.x", "p.y")
    cxy = pr.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("cxy"))
    pt = pr.agg(F.count(F.lit(1)).cast("bigint").alias("p"))
    a, b = cx.alias("a"), cx.alias("b")
    return (
        cxy.crossJoin(F.broadcast(pt))
        .where(F.col("cxy") * 2000 >= F.col("p"))
        .join(a, F.col("x") == F.col("a.w"))
        .join(b, F.col("y") == F.col("b.w"))
        .crossJoin(F.broadcast(tt))
        .select(
            F.col("x").alias("tok_x"),
            F.col("y").alias("tok_y"),
            F.col("cxy").alias("c_xy"),
            F.col("a.c").alias("c_x"),
            F.col("b.c").alias("c_y"),
            F.round(
                F.log(F.col("cxy").cast("double"))
                + 2 * F.log(F.col("total").cast("double"))
                - F.log(F.col("p").cast("double"))
                - F.log(F.col("a.c").cast("double"))
                - F.log(F.col("b.c").cast("double")),
                6,
            ).alias("pmi"),
        )
        .orderBy("tok_x", "tok_y")
    )


_HEX = "0123456789abcdef"


@query(
    "feature_hash_bow",
    oracle=f"""
    WITH w AS (
      SELECT source, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ), h AS (
      SELECT source, word,
             ((strpos('{_HEX}', substr(md5(word), 1, 1)) - 1) * 16
              + strpos('{_HEX}', substr(md5(word), 2, 1)) - 1) % 64 AS slot
      FROM w
    )
    SELECT source, CAST(slot AS BIGINT) AS slot,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT word) AS BIGINT) AS n_distinct
    FROM h GROUP BY 1, 2 ORDER BY source, slot
    """,
)
def feature_hash_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the "hashing trick"): project the unbounded token
    vocabulary onto 64 fixed slots with a portable md5-derived hash and
    emit per-source slot counts — the fixed-width bag-of-words featurizer
    that needs no vocabulary build, plus the collision audit (distinct
    tokens per slot) that tells you whether 64 slots is too few.

    Scale: map-only hash + one map-side-combinable groupBy on
    (source, slot) — output is |sources| x 64 regardless of corpus size.
    The md5 fold is the repo's standard portable hash (DuckDB rebuilds
    identical slots); swap for xxhash64 at full scale, same plan.
    """
    w = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    )
    slot = (F.conv(F.substring(F.md5("word"), 1, 2), 16, 10).cast("bigint") % 64)
    return (
        w.select("source", "word", slot.alias("slot"))
        .groupBy("source", F.col("slot").cast("bigint").alias("slot"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.count_distinct("word").cast("bigint").alias("n_distinct"),
        )
        .orderBy("source", "slot")
    )


_ZIPF_TOP = 256


@query(
    "zipf_token_fit",
    oracle=f"""
    WITH w AS (
      SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents
    ), cnt AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1
    ), top AS (
      SELECT word, c,
             row_number() OVER (ORDER BY c DESC, word) AS rk
      FROM cnt ORDER BY c DESC, word LIMIT {_ZIPF_TOP}
    ), pts AS (
      SELECT rk, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
      FROM top
    ), sums AS (
      SELECT CAST(count(*) AS DOUBLE) AS m,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(x ORDER BY rk)), (a, v) -> a + v) AS sx,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(y ORDER BY rk)), (a, v) -> a + v) AS sy,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(x * y ORDER BY rk)), (a, v) -> a + v) AS sxy,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(x * x ORDER BY rk)), (a, v) -> a + v) AS sxx,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(y * y ORDER BY rk)), (a, v) -> a + v) AS syy
      FROM pts
    )
    SELECT CAST(m AS BIGINT) AS n_top,
           round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS slope,
           round((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m,
                 6) AS intercept,
           round((m * sxy - sx * sy) * (m * sxy - sx * sy)
                 / ((m * sxx - sx * sx) * (m * syy - sy * sy)), 6) AS r2
    FROM sums
    """,
)
def zipf_token_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-256 token frequencies: OLS of ln(freq)
    on ln(rank). Natural corpora fit slope near -1; a corpus whose slope
    drifts after filtering has had its tail clipped — a standard curation
    regression check. All five OLS sums fold over points in RANK order on
    both engines (fixed float summation order), and ranks come from a
    deterministic (count DESC, token) tiebreak.

    Scale: one map-side-combinable token count, then a global top-k
    (TakeOrdered — never a full sort); the regression runs on 256 points.
    """
    top = ranked_words(
        word_tokens(load(spark, sf_dir, "documents")), range(1, _ZIPF_TOP + 1)
    )
    pts = top.select(
        "rk",
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    fold = (
        "aggregate(sort_array(collect_list(struct(rk, {v} AS v))),"
        " CAST(0.0 AS DOUBLE), (a, e) -> a + e.v)"
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.expr(fold.format(v="x")).alias("sx"),
        F.expr(fold.format(v="y")).alias("sy"),
        F.expr(fold.format(v="x * y")).alias("sxy"),
        F.expr(fold.format(v="x * x")).alias("sxx"),
        F.expr(fold.format(v="y * y")).alias("syy"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("m").cast("bigint").alias("n_top"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("m"), 6).alias(
            "intercept"
        ),
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
    )


@query(
    "rle_layout_audit",
    oracle="""
    WITH e AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, ts, event_id,
             event_type, user_id
      FROM events
    ), f AS (
      SELECT day,
             CASE WHEN lag(event_type) OVER w1 IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS t1,
             CASE WHEN lag(user_id) OVER w1 IS DISTINCT FROM user_id
                  THEN 1 ELSE 0 END AS u1,
             CASE WHEN lag(event_type) OVER w2 IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS t2,
             CASE WHEN lag(user_id) OVER w2 IS DISTINCT FROM user_id
                  THEN 1 ELSE 0 END AS u2
      FROM e
      WINDOW w1 AS (PARTITION BY day ORDER BY ts, event_id),
             w2 AS (PARTITION BY day ORDER BY event_type, ts, event_id)
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(t1) AS BIGINT) AS rt1, CAST(sum(u1) AS BIGINT) AS ru1,
             CAST(sum(t2) AS BIGINT) AS rt2, CAST(sum(u2) AS BIGINT) AS ru2
      FROM f
    )
    SELECT * FROM (
      SELECT 'ts' AS sort_key, 'event_type' AS col, rt1 AS n_runs, n_rows,
             rt1 * 1000000 // n_rows AS runs_ppm FROM s
      UNION ALL
      SELECT 'ts', 'user_id', ru1, n_rows, ru1 * 1000000 // n_rows FROM s
      UNION ALL
      SELECT 'type_ts', 'event_type', rt2, n_rows,
             rt2 * 1000000 // n_rows FROM s
      UNION ALL
      SELECT 'type_ts', 'user_id', ru2, n_rows, ru2 * 1000000 // n_rows
      FROM s
    ) ORDER BY sort_key, col
    """,
)
def rle_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-layout RLE audit: for two candidate within-partition sort
    orders (arrival order ts vs type-clustered), count value CHANGES per
    column inside each day partition — a proxy for run-length/dictionary
    encoding efficiency of the written files. Sorting by event_type first
    collapses the type column to ~|types| runs per partition: the
    measured argument for clustering the sort key you filter on.

    Scale: both windows partition by day, so every sort is row-group
    local (the same locality a writer's sortWithinPartitions has) — no
    global sort. Counting boundary transitions per partition then summing
    approximates run counts to within one run per partition boundary,
    exactly like parquet pages.
    """
    e = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "ts", "event_id", "event_type", "user_id"
    )
    w1 = Window.partitionBy("day").orderBy("ts", "event_id")
    w2 = Window.partitionBy("day").orderBy("event_type", "ts", "event_id")

    def chg(col: str, w: Window) -> F.Column:
        prev = F.lag(col).over(w)
        return (
            ~(prev.eqNullSafe(F.col(col)))
        ).cast("bigint")

    f = e.select(
        chg("event_type", w1).alias("t1"),
        chg("user_id", w1).alias("u1"),
        chg("event_type", w2).alias("t2"),
        chg("user_id", w2).alias("u2"),
    )
    s = f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("t1").cast("bigint").alias("rt1"),
        F.sum("u1").cast("bigint").alias("ru1"),
        F.sum("t2").cast("bigint").alias("rt2"),
        F.sum("u2").cast("bigint").alias("ru2"),
    )
    out = s.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("ts").alias("sort_key"),
                    F.lit("event_type").alias("col"),
                    F.col("rt1").alias("n_runs"),
                    F.col("n_rows").alias("n_rows"),
                ),
                F.struct(
                    F.lit("ts").alias("sort_key"),
                    F.lit("user_id").alias("col"),
                    F.col("ru1").alias("n_runs"),
                    F.col("n_rows").alias("n_rows"),
                ),
                F.struct(
                    F.lit("type_ts").alias("sort_key"),
                    F.lit("event_type").alias("col"),
                    F.col("rt2").alias("n_runs"),
                    F.col("n_rows").alias("n_rows"),
                ),
                F.struct(
                    F.lit("type_ts").alias("sort_key"),
                    F.lit("user_id").alias("col"),
                    F.col("ru2").alias("n_runs"),
                    F.col("n_rows").alias("n_rows"),
                ),
            )
        ).alias("r")
    ).select("r.sort_key", "r.col", "r.n_runs", "r.n_rows")
    return out.select(
        "sort_key",
        "col",
        "n_runs",
        "n_rows",
        F.expr("n_runs * 1000000 div n_rows").alias("runs_ppm"),
    ).orderBy("sort_key", "col")


@query(
    "fano_burstiness",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT CAST(count(DISTINCT day) AS BIGINT) AS n FROM daily
    ), per_user AS (
      SELECT user_id, CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS s2
      FROM daily GROUP BY 1
    )
    SELECT user_id, span.n AS n_days, s AS total_events,
           round(CAST(span.n * s2 - s * s AS DOUBLE) / (span.n * s), 6)
             AS fano
    FROM per_user CROSS JOIN span
    QUALIFY row_number() OVER (ORDER BY s DESC, user_id) <= 20
    ORDER BY total_events DESC, user_id
    """,
)
def fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance/mean of the daily count series, inactive days
    counted as zero) for the 20 most active users — the burstiness index
    that separates steady heartbeat traffic (~1 for Poisson) from bursty
    campaign-driven users (>>1). Zero-days contribute nothing to the sums,
    so var and mean come from the exact identity
    fano = (n*sum(x^2) - S^2) / (n*S) — pure int64 until the final 6dp
    display division.

    Scale: daily counts are one map-side-combinable groupBy(user, day);
    per-user moments a second combinable agg on the (user, day) dimension;
    the active-day span broadcasts as a 1-row frame; top-20 is a bounded
    TakeOrdered.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    span = daily.agg(F.count_distinct("day").cast("bigint").alias("n"))
    per_user = daily.groupBy("user_id").agg(
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    # top-20 via TakeOrdered — never a rank window over the user dimension
    return (
        per_user.orderBy(F.desc("s"), "user_id")
        .limit(20)
        .crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.col("n").alias("n_days"),
            F.col("s").alias("total_events"),
            F.round(
                (F.col("n") * F.col("s2") - F.col("s") * F.col("s")).cast("double")
                / (F.col("n") * F.col("s")),
                6,
            ).alias("fano"),
        )
        .orderBy(F.desc("total_events"), "user_id")
    )


@query(
    "cross_corr_types",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events
    ), types AS (SELECT DISTINCT event_type FROM events),
    cnt AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT d.day, t.event_type, COALESCE(c.x, 0) AS x
      FROM days d CROSS JOIN types t
      LEFT JOIN cnt c ON c.day = d.day AND c.event_type = t.event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.x) AS BIGINT) AS sy,
             CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
             CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
             CAST(sum(b.x * b.x) AS BIGINT) AS syy
      FROM grid a JOIN grid b
        ON a.day = b.day AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr
    FROM pairs ORDER BY type_a, type_b
    """,
)
def cross_corr_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between every pair of event types' daily count
    series (dense grid — a type with no events on a day counts 0, which a
    naive join would silently skip) — the co-movement screen behind
    "do purchases track clicks?". Numerator and variance terms are the
    exact int64 moment identities; only the final corr is a double, built
    from the identical IEEE expression on both engines.

    Scale: one map-side-combinable groupBy(day, type) collapses the corpus;
    the dense grid, the |types|^2/2 pair join, and the moment sums all run
    on the (days x types) dimension, never on raw events.
    """
    e = load(spark, sf_dir, "events")
    cnt = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    days = cnt.select("day").distinct()
    types = cnt.select("event_type").distinct()
    grid = (
        days.crossJoin(types)
        .join(cnt, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("x", F.lit(0)).alias("x"))
    )
    a, b = grid.alias("a"), grid.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("a.x").cast("bigint").alias("sx"),
            F.sum("b.x").cast("bigint").alias("sy"),
            F.sum(F.col("a.x") * F.col("b.x")).cast("bigint").alias("sxy"),
            F.sum(F.col("a.x") * F.col("a.x")).cast("bigint").alias("sxx"),
            F.sum(F.col("b.x") * F.col("b.x")).cast("bigint").alias("syy"),
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.col("n").alias("n_days"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            6,
        ).alias("corr"),
    ).orderBy("type_a", "type_b")


@query(
    "mann_whitney_u",
    oracle=f"""
    WITH o AS (
      SELECT {_O_CENTS} AS cents, c_mktsegment AS seg
      FROM orders JOIN customer ON c_custkey = o_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), g AS (
      SELECT cents,
             sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS c2
      FROM o GROUP BY 1
    ), c AS (
      SELECT cents, c1, c2, c1 + c2 AS t,
             coalesce(sum(c1 + c2) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM g
    ), s AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
             CAST(sum(c1 * (2 * cb + t + 1)) AS BIGINT) AS r1_2,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      FROM c
    )
    SELECT n1, n2,
           CAST(r1_2 - n1 * (n1 + 1) AS BIGINT) AS u1_doubled,
           round((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2 - n1 * n2 / 2.0)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                        * ((n1 + n2 + 1)
                           - CAST(tie3 AS DOUBLE)
                             / ((n1 + n2) * (n1 + n2 - 1.0)))), 6) AS z,
           abs((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2 - n1 * n2 / 2.0)
               / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                      * ((n1 + n2 + 1)
                         - CAST(tie3 AS DOUBLE)
                           / ((n1 + n2) * (n1 + n2 - 1.0))))) > 1.96
             AS reject_05
    FROM s
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (BUILDING vs MACHINERY order totals) —
    the nonparametric location companion to ks_two_sample's shape test.
    Midranks are computed by VALUE-GROUPED cumulative counts over the
    distinct-cents dimension in doubled integer units (midrank×2 =
    2·cum_before + tie_size + 1), so the rank sum, U (reported doubled to
    stay integral under ties), and the tie-correction term Σ(t³−t) are
    exact int64 on both engines; only the final normal-approximation
    z-score is float, as one identical IEEE expression.

    Scale: one broadcast join + one map-combinable value groupBy; the
    midrank cumulative count is ``operators.prefix.running_sums`` over
    cents-range buckets, as in ks_two_sample — never a per-row rank,
    never a single-partition pass over the distinct-value frame.
    """
    o = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    g = (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .select(
            F.expr(_O_CENTS).alias("cents"),
            (F.col("c_mktsegment") == "BUILDING").cast("bigint").alias("b1"),
            (F.col("c_mktsegment") == "MACHINERY").cast("bigint").alias("b2"),
        )
        .groupBy("cents")
        .agg(F.sum("b1").alias("c1"), F.sum("b2").alias("c2"))
        .withColumn("t", F.col("c1") + F.col("c2"))
        .withColumn("bkt", F.expr("cents div 1000000"))
    )
    cum, _ = running_sums(g, "bkt", ["cents"], {"cum": "t"})
    # count of all values strictly below this one: the inclusive running
    # count minus this value's own tie group
    c = cum.withColumn("cb", F.col("cum") - F.col("t"))
    s = c.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cb") + F.col("t") + 1))
        .cast("bigint")
        .alias("r1_2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3"),
    )
    u2 = F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)
    mean_shift = u2.cast("double") / 2 - F.col("n1") * F.col("n2") / F.lit(2.0)
    sd = F.sqrt(
        F.col("n1").cast("double") * F.col("n2") / 12
        * (
            (F.col("n1") + F.col("n2") + 1)
            - F.col("tie3").cast("double")
            / ((F.col("n1") + F.col("n2")) * (F.col("n1") + F.col("n2") - F.lit(1.0)))
        )
    )
    return s.select(
        "n1",
        "n2",
        u2.cast("bigint").alias("u1_doubled"),
        F.round(mean_shift / sd, 6).alias("z"),
        (F.abs(mean_shift / sd) > 1.96).alias("reject_05"),
    )
