"""Curation wave 5: robust per-dimension scaling, temporal-split leakage
auditing, and duplicate-cluster demography.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.prefix import running_sums
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "robust_mad_scaler",
    oracle="""
    WITH ex AS (
      SELECT d.d AS dim,
             CAST(round(CAST(e.embedding[d.d] AS DOUBLE) * 1000000) AS BIGINT)
               AS v6
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS d) d
    ), n AS (SELECT count(*) // 64 AS n FROM ex),
    med AS (
      SELECT dim, CAST(min(v6) AS BIGINT) AS med6 FROM (
        SELECT dim, v6,
               sum(c) OVER (PARTITION BY dim ORDER BY v6
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT dim, v6, count(*) AS c FROM ex GROUP BY 1, 2)
      ) WHERE cum >= ((SELECT n FROM n) + 1) // 2
      GROUP BY 1
    ), dev AS (
      SELECT ex.dim, abs(ex.v6 - m.med6) AS a6
      FROM ex JOIN med m ON m.dim = ex.dim
    ), mad AS (
      SELECT dim, CAST(min(a6) AS BIGINT) AS mad6 FROM (
        SELECT dim, a6,
               sum(c) OVER (PARTITION BY dim ORDER BY a6
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT dim, a6, count(*) AS c FROM dev GROUP BY 1, 2)
      ) WHERE cum >= ((SELECT n FROM n) + 1) // 2
      GROUP BY 1
    )
    SELECT CAST(med.dim AS INTEGER) AS dim, med.med6 AS median_micro,
           mad.mad6 AS mad_micro, CAST((SELECT n FROM n) AS BIGINT) AS n
    FROM med JOIN mad ON mad.dim = med.dim
    ORDER BY dim
    """,
)
def robust_mad_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-dimension scaler statistics for the embedding store:
    lower median and MAD (median absolute deviation) of every dimension
    in exact integer micro-units — the outlier-immune alternative to
    mean/std standardization (one corrupted vector can move a mean
    arbitrarily; it moves a median by at most one rank). Both quantiles
    use value-grouped cumulative counts over the (dim, value) dimension —
    no per-row rank — and the same v6 quantization on both engines makes
    every statistic bit-exact.

    Scale: two passes (values, then deviations vs the broadcast median
    table); each pass is a map-combinable (dim, value) groupBy plus a
    dimension-sized cumulative window partitioned by dim (64 independent
    partitions — parallel, bounded by distinct values per dim).
    """
    ex = load(spark, sf_dir, "embeddings").select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000000).cast("bigint"),
            )
        ).alias("d0", "v6")
    ).select((F.col("d0") + 1).cast("int").alias("dim"), "v6")
    n_row = ex.groupBy().agg((F.count(F.lit(1)) / 64).cast("bigint").alias("n"))

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        g = df.groupBy("dim", col).agg(F.count(F.lit(1)).alias("c"))
        wc = (
            Window.partitionBy("dim")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = g.withColumn("cum", F.sum("c").over(wc))
        return (
            cum.crossJoin(F.broadcast(n_row))
            .where(F.col("cum") >= F.expr("(n + 1) div 2"))
            .groupBy("dim")
            .agg(F.min(col).cast("bigint").alias(out))
        )

    med = lower_median(ex, "v6", "med6")
    dev = ex.join(F.broadcast(med), "dim").select(
        "dim", F.abs(F.col("v6") - F.col("med6")).alias("a6")
    )
    mad = lower_median(dev, "a6", "mad6")
    return (
        med.join(mad, "dim")
        .crossJoin(F.broadcast(n_row))
        .select(
            "dim",
            F.col("med6").alias("median_micro"),
            F.col("mad6").alias("mad_micro"),
            F.col("n").cast("bigint").alias("n"),
        )
        .orderBy("dim")
    )


@query(
    "temporal_split_leakage_audit",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t FROM events
    ), n AS (SELECT count(*) AS n FROM e),
    bound AS (
      SELECT CAST(min(t) AS BIGINT) AS t80 FROM (
        SELECT t, sum(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT t, count(*) AS c FROM e GROUP BY 1)
      ) WHERE cum >= (4 * (SELECT n FROM n) + 4) // 5
    ), lab AS (
      SELECT user_id, CASE WHEN t <= (SELECT t80 FROM bound)
                           THEN 'train' ELSE 'test' END AS split
      FROM e
    ), counts AS (
      SELECT CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test
      FROM lab
    ), utr AS (SELECT DISTINCT user_id FROM lab WHERE split = 'train'),
    ute AS (SELECT DISTINCT user_id FROM lab WHERE split = 'test'),
    u AS (
      SELECT (SELECT count(*) FROM utr) AS users_train,
             (SELECT count(*) FROM ute) AS users_test,
             (SELECT count(*) FROM utr JOIN ute USING (user_id))
               AS users_overlap
    )
    SELECT (SELECT t80 FROM bound) AS boundary_epoch_us,
           counts.n_train, counts.n_test,
           CAST(u.users_train AS BIGINT) AS users_train,
           CAST(u.users_test AS BIGINT) AS users_test,
           CAST(u.users_overlap AS BIGINT) AS users_overlap,
           CAST(u.users_overlap * 1000000 // u.users_test AS BIGINT)
             AS overlap_ppm
    FROM counts, u
    """,
)
def temporal_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split audit: the split boundary is the exact
    80th-percentile event time (value-grouped cumulative counts over
    distinct timestamps — no per-row rank), and the report quantifies
    ENTITY leakage across the boundary: users active on both sides, in
    exact ppm of test users. High overlap is expected for behavioral data
    and is precisely what a per-user model must handle with
    grouped_kfold_assign instead — this op measures the tradeoff a team
    weighs between temporal and grouped splits.

    Scale: one distinct-timestamp rollup; the cumulative count over it is
    ``operators.prefix.running_sums`` over day buckets, so no
    single-partition pass over the distinct-timestamp frame at any
    cardinality. The user-overlap is a distinct-key semi-join —
    all shuffle keys are user ids or timestamps, map-side combined.
    """
    e = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    n_row = e.agg(F.count(F.lit(1)).alias("n"))
    g = e.groupBy("t").agg(F.count(F.lit(1)).alias("c")).withColumn(
        "bkt", F.expr("t div 86400000000")  # one day in microseconds
    )
    cum, _ = running_sums(g, "bkt", ["t"], {"cum": "c"})
    bound = (
        cum.crossJoin(F.broadcast(n_row))
        .where(F.col("cum") >= F.expr("(4 * n + 4) div 5"))
        .agg(F.min("t").cast("bigint").alias("t80"))
    )
    lab = e.crossJoin(F.broadcast(bound)).select(
        "user_id",
        F.when(F.col("t") <= F.col("t80"), F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    counts = lab.agg(
        F.sum((F.col("split") == "train").cast("bigint")).alias("n_train"),
        F.sum((F.col("split") == "test").cast("bigint")).alias("n_test"),
    )
    utr = lab.where(F.col("split") == "train").select("user_id").distinct()
    ute = lab.where(F.col("split") == "test").select("user_id").distinct()
    u = (
        utr.agg(F.count(F.lit(1)).alias("users_train"))
        .crossJoin(ute.agg(F.count(F.lit(1)).alias("users_test")))
        .crossJoin(utr.join(ute, "user_id").agg(F.count(F.lit(1)).alias("users_overlap")))
    )
    return (
        bound.crossJoin(counts)
        .crossJoin(u)
        .select(
            F.col("t80").alias("boundary_epoch_us"),
            "n_train",
            "n_test",
            F.col("users_train").cast("bigint").alias("users_train"),
            F.col("users_test").cast("bigint").alias("users_test"),
            F.col("users_overlap").cast("bigint").alias("users_overlap"),
            F.expr("CAST(users_overlap * 1000000 div users_test AS BIGINT)").alias(
                "overlap_ppm"
            ),
        )
    )


@query(
    "dup_cluster_size_histogram",
    oracle="""
    WITH cl AS (
      SELECT text, count(*) AS sz FROM documents GROUP BY text
    ), tot AS (SELECT count(*) AS docs FROM documents)
    SELECT CAST(length(printf('%b', sz)) - 1 AS INTEGER) AS size_bucket,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz) * 1000000 // (SELECT docs FROM tot) AS BIGINT)
             AS docs_share_ppm,
           CAST(sum(sz - 1) AS BIGINT) AS removable_docs
    FROM cl GROUP BY 1 ORDER BY 1
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster demography: exact-duplicate clusters (grouped by
    content) histogrammed by ⌊log₂ size⌋ — the readout that tells a
    curation team whether duplication is a long tail of pairs or a few
    mega-clusters (which changes dedup strategy: hash-groupBy handles
    both, but near-dup LSH thresholds tune differently), plus the
    removable-doc count per bucket (cluster size − 1 kept copies).

    Scale: one content groupBy (at 100 TB: fingerprint+length first, as
    dedup_exact documents) and a ~30-bucket rollup.
    """
    cl = load(spark, sf_dir, "documents").groupBy("text").agg(
        F.count(F.lit(1)).alias("sz")
    )
    tot = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("docs")
    )
    return (
        cl.groupBy((F.length(F.bin("sz")) - 1).cast("int").alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("bigint").alias("removable_docs"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "size_bucket",
            "n_clusters",
            "n_docs",
            F.expr("CAST(n_docs * 1000000 div docs AS BIGINT)").alias(
                "docs_share_ppm"
            ),
            "removable_docs",
        )
        .orderBy("size_bucket")
    )
