"""Recsys-eval/stat/text wave 50: beyond-accuracy recommendation
metrics, Grubbs outlier test, and vocabulary-richness indices.

- `coverage_novelty_recs` — the beyond-accuracy triple for the
  item-item recommender: catalog coverage (share of purchasable
  items that ever appear in a top-3 list), novelty (mean
  -log2 popularity of recommended items), and intra-list diversity
  (1 - mean pairwise cosine inside each list).
- `grubbs_outlier_test` — Grubbs' maximum-studentized-deviate test
  on daily revenue with the exact critical-value formula (t-quantile
  via the shared Acklam inverse-normal, valid at these df), naming
  the offending day.
- `vocabulary_richness_indices` — Yule's K, Herdan's C, Guiraud's R,
  and the hapax share per language from the token
  frequency-of-frequencies spectrum.

Determinism: co-occurrence counts, frequency spectra, and deviations
are exact int64; novelty/ILD quantize per entry to micro-units
before averaging; Acklam is the same expression text both engines.

Scale: recs derive from per-user-blocked co-purchase pairs (never
all-items²), then per-item top-3 windows on the bounded pair frame;
Grubbs runs on the calendar frame; richness is two aggregation
levels (word counts → spectrum), both map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.plans.privstat import _acklam_inv_norm
from iceberg_classifier_spark.sources.tables import load, parquet_column_bounds

_REC_K = 3
_REC_MIN_CO = 2


@query(
    "coverage_novelty_recs",
    oracle=f"""
    WITH ui AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), nu AS (
      SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_users FROM ui
    ), pop AS (
      SELECT i, CAST(count(*) AS BIGINT) AS n_u FROM ui GROUP BY 1
    ), co_half AS (
      -- r10 lean rewrite: every pair-scaled frame below streams exactly
      -- once into its consumer (the r9 sf10 run materialized the
      -- canonical pairs AND the mirrored+scored copies on top of the
      -- agg's own spill, and together they ate the ~70 GB device). The
      -- one irreducible cost is this agg's distinct-pair state, packed
      -- into a single BIGINT key (i < 2^31, so ia*2^32+ib is exact).
      SELECT pk // 4294967296 AS ia, pk % 4294967296 AS ib, co_u
      FROM (
        SELECT a.i * 4294967296 + b.i AS pk,
               CAST(count(*) AS BIGINT) AS co_u
        FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        GROUP BY 1
        HAVING count(*) >= {_REC_MIN_CO}
      )
    ), mirrored AS (
      -- both directions in ONE pass (2-row flip join, not a self-union
      -- that would force a second read of the pair frame)
      SELECT CASE WHEN f.flip = 0 THEN c.ia ELSE c.ib END AS ia,
             CASE WHEN f.flip = 0 THEN c.ib ELSE c.ia END AS ib,
             c.co_u
      FROM co_half c CROSS JOIN (VALUES (0), (1)) f(flip)
    ), recs AS MATERIALIZED (
      SELECT s.ia, s.ib,
             s.co_u / sqrt(CAST(pa.n_u AS DOUBLE) * pb.n_u) AS cosine,
             row_number() OVER (PARTITION BY s.ia
               ORDER BY s.co_u / sqrt(CAST(pa.n_u AS DOUBLE) * pb.n_u)
                 DESC, s.ib) AS rk
      FROM mirrored s JOIN pop pa ON pa.i = s.ia
                      JOIN pop pb ON pb.i = s.ib
      QUALIFY rk <= {_REC_K}
    ), cpd AS (
      -- distinct canonical item pairs inside some rec list: the ONLY
      -- pair similarities the diversity metric needs, so their exact
      -- supports come from a second, FILTERED pass over the pair stream
      -- (bounded {_REC_K}²-per-list agg state) instead of a lookup into
      -- a retained copy of the full scored frame
      SELECT DISTINCT x.ib AS pa, z.ib AS pb
      FROM recs x JOIN recs z ON z.ia = x.ia AND x.ib < z.ib
    ), co_c AS (
      SELECT a.i AS pa, b.i AS pb, CAST(count(*) AS BIGINT) AS co_u
      FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
      JOIN cpd ON cpd.pa = a.i AND cpd.pb = b.i
      GROUP BY 1, 2
      HAVING count(*) >= {_REC_MIN_CO}
    ), novelty AS (
      SELECT r.ia,
             CAST(round(avg(-ln(p.n_u * 1.0 / nu.n_users) / ln(2.0))
               * 1000000) AS BIGINT) AS nov_micro
      FROM recs r JOIN pop p ON p.i = r.ib CROSS JOIN nu
      GROUP BY r.ia
    ), ild AS (
      SELECT x.ia,
             CAST(round(avg(1.0 - COALESCE(
               cc.co_u / sqrt(CAST(pa.n_u AS DOUBLE) * pb.n_u), 0.0))
               * 1000000) AS BIGINT) AS ild_micro
      FROM recs x JOIN recs z
        ON z.ia = x.ia AND x.ib < z.ib
      LEFT JOIN co_c cc ON cc.pa = x.ib AND cc.pb = z.ib
      JOIN pop pa ON pa.i = x.ib
      JOIN pop pb ON pb.i = z.ib
      GROUP BY x.ia
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM pop) AS n_items,
           (SELECT CAST(count(DISTINCT ia) AS BIGINT) FROM recs)
             AS n_items_with_recs,
           round((SELECT count(DISTINCT ib) FROM recs) * 1.0
                 / (SELECT count(*) FROM pop), 6) AS catalog_coverage,
           round((SELECT sum(nov_micro) * 1.0 / count(*) FROM novelty)
                 / 1000000.0, 6) AS mean_novelty_bits,
           round((SELECT sum(ild_micro) * 1.0 / count(*) FROM ild)
                 / 1000000.0, 6) AS mean_ild
    """,
)
def coverage_novelty_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy evaluation of the item-item co-purchase
    recommender (top-{_REC_K} by cosine, support >= {_REC_MIN_CO}):
    catalog coverage — the share of purchasable items that ever get
    recommended (low coverage = popularity bias); novelty — mean
    self-information -log2(item popularity) of recommended items
    (Vargas-Castells); intra-list diversity — 1 minus the mean
    pairwise cosine INSIDE each rec list (lists of near-duplicates
    score low). The accuracy-orthogonal complement of
    `itemitem_cosine_topk` (the model) and `map_at_k_eval` /
    `ndcg_ann_eval` (relevance).

    Determinism: co-occurrence and popularity are exact int64;
    per-entry novelty/ILD quantize to micro-units before the exact
    integer mean; top-3 windows tie-break on item id.

    Scale: pairs are blocked per user (basket-bounded, never
    catalog²) and df-capped by the support floor; rec-list windows
    partition by item; the ILD self-join touches {_REC_K} rows per
    item. All metric frames are item-bounded — and the item dimension
    GROWS with the catalog, so the popularity joins are plain shuffle
    joins (AQE may still broadcast them at small SFs): forcing the
    broadcast OOM'd the driver on the 10×-organic frame (r8 sweep),
    where heap was already carrying the co-occurrence cache. That
    cache and the scored frame persist DISK_ONLY for the same reason —
    they are pair-scaled, and heap-cached copies of them starve the
    hash joins.
    """
    from pyspark import StorageLevel
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    # merge hint: the planner's post-pruning size estimate puts the 2-column
    # orders projection just under the broadcast threshold, and the resulting
    # 15M-row HashedRelation build OOM'd the sf10 sweep — orderkey:orderkey
    # is the SMJ both sides co-partition on at any scale.
    #
    # r11 (guide §2.4): the old plan shuffled the fact-sized (u, i) frame
    # three times (distinct exchange on (u, i) + both self-join sides);
    # one groupBy(u).collect_set ≡ the distinct, and the i<j pairs emit
    # map-side from each user's sorted basket array (the posting-list
    # nested-explode shape). The basket frame feeds pop, nu AND pair
    # emission — persisted once, disk-backed (r8 growing-frame lesson).
    ui_sets = (
        li.join(o.hint("merge"), li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .groupBy("u")
        .agg(F.sort_array(F.collect_set("i")).alias("items"))
        .persist(StorageLevel.DISK_ONLY)
    )
    # one basket row per user, so n_users is a plain count of the cache
    nu = ui_sets.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    pop = (
        ui_sets.select(F.explode("items").alias("i"))
        .groupBy("i")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_u"))
    )
    # canonical ia<ib pairs halve the heavy basket-blocked agg; the
    # mirrored direction is restored on the (support-filtered, much
    # smaller) aggregate, not on the raw pair stream. The pair stream is
    # the op's bulk and ~97% of emitted pairs are unique (itemitem
    # measurement at sf10), so a hash aggregation spills on its own key
    # state; count runs of the SORTED packed key instead — count(*) over
    # a pk-partitioned window = Exchange → radix Sort → streaming
    # WindowExec buffering one pk group at a time, no hash map (2.1×
    # faster than the hash agg at sf10, flat at sf1 — the
    # itemitem_cosine_topk treatment). Falls back to the 2-column
    # groupBy when ids could overflow the pack or stats are absent.
    raw_pairs = (
        ui_sets.select(F.col("items").alias("arr"))
        .select(F.posexplode("arr").alias("j", "ia"), "arr")
        .select(
            "ia",
            F.explode(F.expr("slice(arr, j + 2, size(arr))")).alias("ib"),
        )
    )
    pk_bounds = parquet_column_bounds(sf_dir, "part", "p_partkey")
    m = (pk_bounds[1] + 1) if pk_bounds and pk_bounds[0] >= 0 else 0
    if m and m * m < (1 << 63):
        co_half = (
            raw_pairs.select((F.col("ia") * m + F.col("ib")).alias("pk"))
            .repartition(256, "pk")
            .withColumn(
                "co_u",
                F.count(F.lit(1))
                .over(Window.partitionBy("pk"))
                .cast("bigint"),
            )
            .where(F.col("co_u") >= _REC_MIN_CO)
            .dropDuplicates(["pk"])
            .select(
                F.expr(f"pk div {m}").alias("ia"),
                (F.col("pk") % m).alias("ib"),
                "co_u",
            )
        )
    else:
        co_half = (
            raw_pairs.groupBy("ia", "ib")
            .agg(F.count(F.lit(1)).cast("bigint").alias("co_u"))
            .where(F.col("co_u") >= _REC_MIN_CO)
        )
    co_half = co_half.persist(
        StorageLevel.DISK_ONLY
    )  # read by both union directions
    co = co_half.unionByName(
        co_half.select(
            F.col("ib").alias("ia"), F.col("ia").alias("ib"), "co_u"
        )
    )
    pa = pop.select(F.col("i").alias("ia"), F.col("n_u").alias("na"))
    pb = pop.select(F.col("i").alias("ib"), F.col("n_u").alias("nb"))
    scored = (
        co.join(pa.hint("shuffle_hash"), "ia")
        .join(pb.hint("shuffle_hash"), "ib")
        .select(
            "ia",
            "ib",
            (
                F.col("co_u")
                / F.sqrt(F.col("na").cast("double") * F.col("nb"))
            ).alias("cosine"),
        )
    )
    # persisted: scored feeds the rec ranking AND the ILD pair-similarity
    # lookup; recs feeds novelty, both ILD sides and the coverage stats —
    # unpersisted, every branch re-runs the user-blocked co-occurrence join
    scored = scored.persist(StorageLevel.DISK_ONLY)
    recs = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("ia").orderBy(F.desc("cosine"), "ib")
        ),
    ).where(F.col("rk") <= _REC_K).cache()
    novelty = (
        recs.join(
            pop.select(F.col("i").alias("ib"), "n_u").hint("shuffle_hash"),
            "ib",
        )
        .crossJoin(F.broadcast(nu))
        .groupBy("ia")
        .agg(
            F.round(
                F.avg(
                    -F.log(F.col("n_u") * 1.0 / F.col("n_users"))
                    / F.log(F.lit(2.0))
                )
                * 1000000
            )
            .cast("bigint")
            .alias("nov_micro")
        )
    )
    x = recs.select(F.col("ia"), F.col("ib").alias("xb"))
    z = recs.select(F.col("ia"), F.col("ib").alias("zb"))
    ild = (
        x.join(z.hint("shuffle_hash"), "ia")
        .where(F.col("xb") < F.col("zb"))
        .join(
            scored.select(
                F.col("ia").alias("xb"),
                F.col("ib").alias("zb"),
                F.col("cosine").alias("sim"),
            ).hint("merge"),
            ["xb", "zb"],
            "left",
        )
        .groupBy("ia")
        .agg(
            F.round(
                F.avg(1.0 - F.coalesce(F.col("sim"), F.lit(0.0))) * 1000000
            )
            .cast("bigint")
            .alias("ild_micro")
        )
    )
    n_items = pop.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
    rec_stats = recs.agg(
        F.countDistinct("ia").cast("bigint").alias("n_items_with_recs"),
        F.countDistinct("ib").cast("bigint").alias("n_rec_items"),
    )
    nov_stats = novelty.agg(
        (F.sum("nov_micro") * 1.0 / F.count(F.lit(1))).alias("nov_avg")
    )
    ild_stats = ild.agg(
        (F.sum("ild_micro") * 1.0 / F.count(F.lit(1))).alias("ild_avg")
    )
    return (
        n_items.crossJoin(F.broadcast(rec_stats))
        .crossJoin(F.broadcast(nov_stats))
        .crossJoin(F.broadcast(ild_stats))
        .select(
            "n_items",
            "n_items_with_recs",
            F.round(F.col("n_rec_items") * 1.0 / F.col("n_items"), 6).alias(
                "catalog_coverage"
            ),
            F.round(F.col("nov_avg") / 1000000.0, 6).alias(
                "mean_novelty_bits"
            ),
            F.round(F.col("ild_avg") / 1000000.0, 6).alias("mean_ild"),
        )
    )


_GRUBBS_ALPHA = 0.05


@query(
    "grubbs_outlier_test",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS s2
      FROM daily
    ), dev AS (
      SELECT d, y, m.n,
             abs(y - m.s1 * 1.0 / m.n)
               / sqrt((m.s2 - m.s1 * 1.0 / m.n * m.s1) / (m.n - 1))
               AS g
      FROM daily CROSS JOIN mom m
      ORDER BY g DESC, d LIMIT 1
    ), crit AS (
      SELECT n, d AS worst_day, g,
             ({_acklam_inv_norm(f"1.0 - {_GRUBBS_ALPHA} / (2.0 * n)")})
               AS t
      FROM dev
    )
    SELECT n AS n_days, worst_day,
           round(g, 6) AS g_stat,
           round((n - 1) / sqrt(CAST(n AS DOUBLE))
                 * sqrt(t * t / (n - 2 + t * t)), 6) AS g_crit,
           CAST(g > (n - 1) / sqrt(CAST(n AS DOUBLE))
                    * sqrt(t * t / (n - 2 + t * t)) AS BOOLEAN)
             AS is_outlier_5pct
    FROM crit
    """,
)
def grubbs_outlier_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-studentized-deviate outlier test on daily
    revenue: G = max|y - mean|/sd against the critical value
    (n-1)/sqrt(n) * sqrt(t²/(n-2+t²)) with t the alpha/(2n) upper
    t-quantile — approximated by the shared Acklam inverse-normal
    (at n ~ 2.4k days the t and normal quantiles agree to ~1e-4,
    far inside the 6dp tolerance... of the DECISION margin, and
    identically on both engines). Names the offending day. The
    single-point complement of `events_mad_outliers` (bulk robust
    flagging) and `seasonal_anomaly_zscore` (seasonal residuals).

    Determinism: daily sums/moments exact int64; the argmax
    tie-breaks on day; Acklam is the identical expression text both
    sides.

    Scale: ONE fact pass to the calendar frame; the argmax is a
    TakeOrdered over <=2.4k rows.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s1"),
        # y*y crosses int64 at 10x scale (sf1 sweep crash) — widen the
        # operand, then one identical exact->double conversion per engine
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("s2"),
    )
    g = F.abs(F.col("y") - F.col("s1") * 1.0 / F.col("n")) / F.sqrt(
        (F.col("s2") - F.col("s1") * 1.0 / F.col("n") * F.col("s1"))
        / (F.col("n") - 1)
    )
    dev = (
        daily.crossJoin(F.broadcast(mom))
        .select("d", "n", g.alias("g"))
        .orderBy(F.desc("g"), "d")
        .limit(1)
    )
    crit = dev.select(
        "n",
        F.col("d").alias("worst_day"),
        "g",
        F.expr(
            _acklam_inv_norm(f"1.0 - {_GRUBBS_ALPHA} / (2.0 * n)")
        ).alias("t"),
    )
    gc = (
        (F.col("n") - 1)
        / F.sqrt(F.col("n").cast("double"))
        * F.sqrt(
            F.col("t") * F.col("t") / (F.col("n") - 2 + F.col("t") * F.col("t"))
        )
    )
    return crit.select(
        F.col("n").alias("n_days"),
        "worst_day",
        F.round("g", 6).alias("g_stat"),
        F.round(gc, 6).alias("g_crit"),
        (F.col("g") > gc).alias("is_outlier_5pct"),
    )


@query(
    "vocabulary_richness_indices",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(trim(text), ' ')) AS w
      FROM documents
    ), wc AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS m
      FROM toks GROUP BY 1, 2
    ), spectrum AS (
      SELECT lang, m, CAST(count(*) AS BIGINT) AS vm
      FROM wc GROUP BY 1, 2
    ), agg AS (
      SELECT lang,
             CAST(sum(m * vm) AS BIGINT) AS n,
             CAST(sum(vm) AS BIGINT) AS v,
             CAST(sum(CASE WHEN m = 1 THEN vm ELSE 0 END) AS BIGINT)
               AS v1,
             CAST(sum(m * m * vm) AS BIGINT) AS smm
      FROM spectrum GROUP BY 1
    )
    SELECT lang, n AS n_tokens, v AS vocab_size, v1 AS hapax_count,
           round(10000.0 * (smm - n) / (CAST(n AS DOUBLE) * n), 6)
             AS yule_k,
           round(ln(CAST(v AS DOUBLE)) / ln(CAST(n AS DOUBLE)), 6)
             AS herdan_c,
           round(v / sqrt(CAST(n AS DOUBLE)), 6) AS guiraud_r,
           round(v1 * 1.0 / v, 6) AS hapax_share
    FROM agg ORDER BY lang
    """,
)
def vocabulary_richness_indices(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical vocabulary-richness indices per language from the
    token frequency-of-frequencies spectrum: Yule's K = 10^4
    (sum m²V_m - N)/N² (repeat-rate characteristic, length-
    invariant), Herdan's C = ln V / ln N, Guiraud's R = V/sqrt(N),
    and the hapax-legomena share V1/V. The spectrum-based
    complements of `mtld_lexical_diversity` (sequential TTR),
    `heaps_law_fit` (vocabulary growth), and `zipf_token_fit`
    (rank-frequency slope).

    Determinism: the spectrum and all four index numerators are
    exact int64 sums; the indices are closed-form doubles rounded
    6dp.

    Scale: two map-side-combinable aggregation levels (tokens →
    word counts → spectrum); the spectrum frame is bounded by
    max term frequency, not corpus size.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), " ")).alias("w")
    )
    wc = toks.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    spectrum = wc.groupBy("lang", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("vm")
    )
    agg = spectrum.groupBy("lang").agg(
        F.sum(F.col("m") * F.col("vm")).cast("bigint").alias("n"),
        F.sum("vm").cast("bigint").alias("v"),
        F.sum(F.when(F.col("m") == 1, F.col("vm")).otherwise(0))
        .cast("bigint")
        .alias("v1"),
        F.sum(F.col("m") * F.col("m") * F.col("vm"))
        .cast("bigint")
        .alias("smm"),
    )
    return agg.select(
        "lang",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab_size"),
        F.col("v1").alias("hapax_count"),
        F.round(
            10000.0
            * (F.col("smm") - F.col("n"))
            / (F.col("n").cast("double") * F.col("n")),
            6,
        ).alias("yule_k"),
        F.round(
            F.log(F.col("v").cast("double")) / F.log(F.col("n").cast("double")),
            6,
        ).alias("herdan_c"),
        F.round(F.col("v") / F.sqrt(F.col("n").cast("double")), 6).alias(
            "guiraud_r"
        ),
        F.round(F.col("v1") * 1.0 / F.col("v"), 6).alias("hapax_share"),
    ).orderBy("lang")
