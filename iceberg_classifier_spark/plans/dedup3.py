"""Dedup wave 3: skew-hardened MinHash dedup on a PATHOLOGICAL corpus.

dedup_minhash_lsh enumerates candidate pairs with a band-key self-join —
correct for natural corpora, but a corpus where half the documents are
verbatim copies of one template (crawl boilerplate, spam farms) puts all
copies in ONE band bucket and the self-join emits O(n²) pairs from that
bucket: the classic LSH hot-bucket blowup. For DEDUP (as opposed to pair
reporting) the fix is structural, not salt: each bucket only needs its
MIN doc_id (the representative), and min is associative — map-side
combine crushes the hot bucket to one row per partition before the
shuffle, so no executor ever materializes the clique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark import api
from iceberg_classifier_spark.plans.dedup import N_BANDS, N_MINHASH, _bands_oracle
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_HOT = 100  # bucket-size threshold for the hot-bucket report


@query(
    "dedup_minhash_skewed",
    oracle=f"""
    WITH t0 AS (
      SELECT text AS template FROM documents
      ORDER BY doc_id LIMIT 1
    ), docs_sk AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 2 = 0 THEN t0.template ELSE d.text END
               AS text
      FROM documents d CROSS JOIN t0
    ), {_bands_oracle("docs_sk")},
    sizes AS (
      SELECT band, key, min(doc_id) AS lowest, count(*) AS sz
      FROM bands GROUP BY 1, 2
    ), per_doc AS (
      SELECT b.doc_id, min(m.lowest) AS lowest
      FROM bands b JOIN sizes m USING (band, key)
      GROUP BY b.doc_id
    )
    SELECT CAST((SELECT count(*) FROM docs_sk) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM per_doc WHERE lowest = doc_id)
                + (SELECT count(*) FROM docs_sk) - (SELECT count(*) FROM per_doc)
                AS BIGINT) AS n_kept,
           CAST((SELECT count(*) FROM per_doc WHERE lowest < doc_id)
                AS BIGINT) AS n_rejected,
           CAST((SELECT max(sz) FROM sizes) AS BIGINT) AS max_bucket,
           CAST((SELECT count(*) FROM sizes WHERE sz >= {_HOT}) AS BIGINT)
             AS n_hot_buckets
    """,
)
def dedup_minhash_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash dedup under adversarial skew: a corpus where every even
    doc_id is a verbatim copy of the first document (one template → every
    copy lands in the SAME band buckets). A doc is rejected iff any of its
    band buckets contains a lower doc_id; docs too short to shingle are
    kept. Reports the funnel plus the hot-bucket profile (max bucket size,
    buckets ≥ {_HOT}).

    Scale: the decision plan contains NO band-key self-join — the bucket
    representative comes from ``groupBy(band, band_hash).agg(min(doc_id))``
    joined back per doc, both associative aggregations with map-side
    partial combine, so the hot bucket costs O(copies) rows through one shuffle
    instead of the O(copies²) pairs the pair-join plan would emit (at 100
    TB with a 1%-boilerplate crawl, that is the difference between a
    10-minute stage and an un-runnable one). The plan-shape test pins
    the no-self-join property; the salted-agg alternative
    (skew_salted_join) applies when even the per-bucket row stream must
    be split, trading one extra reduce level.
    """
    d = load(spark, sf_dir, "documents")
    t0 = d.orderBy("doc_id").limit(1).select(F.col("text").alias("template"))
    docs_sk = d.crossJoin(F.broadcast(t0)).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.col("template"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # cached: the band keys feed the bucket-min agg, the join-back and
    # the hot-bucket stats — uncached each branch re-runs the md5 +
    # 32-hash signature work over the corpus
    keys = api.minhash_band_keys(
        api.minhash_signatures(docs_sk, n_hashes=N_MINHASH),
        n_hashes=N_MINHASH,
        bands=N_BANDS,
    ).cache()
    # bucket representative via associative window min (map-side combinable
    # in the grouped rewrite below — NEVER a bucket self-join)
    bmin = keys.groupBy("band", "band_hash").agg(
        F.min("doc_id").alias("lowest"), F.count(F.lit(1)).alias("sz")
    )
    per_doc = (
        keys.join(bmin.select("band", "band_hash", "lowest"), ["band", "band_hash"])
        .groupBy("doc_id")
        .agg(F.min("lowest").alias("lowest"))
    )
    n_docs = docs_sk.count()
    n_shingled = per_doc.count()
    funnel = per_doc.agg(
        F.sum(F.when(F.col("lowest") == F.col("doc_id"), 1).otherwise(0))
        .cast("bigint")
        .alias("kept_shingled"),
        F.sum(F.when(F.col("lowest") < F.col("doc_id"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rejected"),
    )
    hot = bmin.agg(
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.sum(F.when(F.col("sz") >= _HOT, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hot_buckets"),
    )
    return (
        funnel.crossJoin(F.broadcast(hot))
        .select(
            F.lit(n_docs).cast("bigint").alias("n_docs"),
            (F.col("kept_shingled") + F.lit(n_docs - n_shingled))
            .cast("bigint")
            .alias("n_kept"),
            "n_rejected",
            "max_bucket",
            "n_hot_buckets",
        )
    )
