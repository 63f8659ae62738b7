"""Streaming wave 2: INCREMENTAL corpus dedup — new documents arrive as
micro-batches and are checked against the already-accepted corpus via a
persistent MinHash/LSH band-key signature store, foreachBatch-MERGEd per
batch. Marries the repo's two existing pieces (dedup_minhash_lsh's
signature machinery, streaming_foreachbatch_upsert's versioned-store
MERGE harness) into the shape a production corpus ingest actually runs:
the 100 TB corpus is deduped ONCE, then each day's increment only pays
for its own signatures plus a key-join against the store.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark import api
from iceberg_classifier_spark.plans.dedup import N_BANDS, N_MINHASH, _bands_oracle
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.streaming.events import drain, staged_stream


def doc_thirds(t):
    """documents split at doc_id thirds (cuts at ``max_id div 3`` /
    ``2*max_id div 3``), in arrival order = doc_id order — so "earlier
    batch" always means "smaller doc_id" and the incremental acceptance
    rule matches the batch oracle."""
    import pyarrow.compute as pc

    ids = t["doc_id"]
    max_id = pc.max(ids).as_py()
    c1, c2 = max_id // 3, (2 * max_id) // 3
    return [
        t.filter(pc.less_equal(ids, c1)),
        t.filter(pc.and_(pc.greater(ids, c1), pc.less_equal(ids, c2))),
        t.filter(pc.greater(ids, c2)),
    ]


_BANDS_ORACLE = _bands_oracle("documents")


@query(
    "streaming_minhash_dedup",
    oracle=f"""
    WITH {_BANDS_ORACLE},
    cuts AS (
      SELECT max(doc_id) // 3 AS c1, (2 * max(doc_id)) // 3 AS c2
      FROM documents
    ), assigned AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id <= c.c1 THEN 0
                  WHEN d.doc_id <= c.c2 THEN 1 ELSE 2 END AS batch_id
      FROM documents d CROSS JOIN cuts c
    ), sharer AS (
      SELECT a.doc_id,
             min(bb.doc_id) AS lowest_sharer
      FROM assigned a
      JOIN bands ba ON ba.doc_id = a.doc_id
      JOIN bands bb ON bb.band = ba.band AND bb.key = ba.key
                   AND bb.doc_id < a.doc_id
      GROUP BY 1
    ), flagged AS (
      SELECT a.doc_id, a.batch_id,
             CASE
               WHEN s.doc_id IS NULL THEN 'accepted'
               WHEN sa.batch_id < a.batch_id THEN 'rejected_vs_store'
               ELSE 'rejected_in_batch'
             END AS outcome
      FROM assigned a
      LEFT JOIN sharer s ON s.doc_id = a.doc_id
      LEFT JOIN assigned sa ON sa.doc_id = s.lowest_sharer
    )
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN outcome = 'accepted' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_accepted,
           CAST(sum(CASE WHEN outcome = 'rejected_vs_store' THEN 1 ELSE 0
                END) AS BIGINT) AS n_rejected_vs_store,
           CAST(sum(CASE WHEN outcome = 'rejected_in_batch' THEN 1 ELSE 0
                END) AS BIGINT) AS n_rejected_in_batch
    FROM flagged GROUP BY batch_id ORDER BY batch_id
    """,
)
def streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup gate: documents arrive as three doc_id-ordered
    micro-batches; each batch's MinHash/LSH band keys are checked against
    the persistent signature store of every previously seen document
    (shared band ⇒ near-dup candidate ⇒ rejected), then within the batch
    (lowest doc_id per band bucket wins), and the batch's keys are MERGEd
    into the store for the next increment. The final per-batch funnel
    (accepted / rejected-vs-store / rejected-in-batch) must equal the
    batch-mode rule "rejected iff any lower-doc_id document shares a band
    key" — which is what the oracle computes globally.

    Scale: the store grows with the ACCEPTED+SEEN key set, not the stream
    length, and each increment pays one signature pass over its own docs
    plus an equi-join keyed on (band, band_hash) against the store — at
    100 TB/day this is the only corpus-dedup shape that avoids re-signing
    the historical corpus (production: store as a bucketed table on the
    band key so the daily join is shuffle-free on the store side;
    signatures and band keys are ``api.minhash_signatures`` /
    ``api.minhash_band_keys``, the code dedup_minhash_lsh runs).
    """
    run = uuid.uuid4().hex[:8]
    state_root = os.path.join(tempfile.gettempdir(), f"mh_store_{run}")
    store_versions: list[str] = []
    stats: list[tuple[int, int, int, int, int]] = []

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        keys = api.minhash_band_keys(
            api.minhash_signatures(batch_df, n_hashes=N_MINHASH),
            n_hashes=N_MINHASH,
            bands=N_BANDS,
        ).cache()
        n_docs = batch_df.count()
        # vs-store rejections: any band key already present in the store
        if store_versions:
            store = sess.read.parquet(store_versions[-1])
            vs_store = (
                keys.join(store, ["band", "band_hash"], "left_semi")
                .select("doc_id")
                .distinct()
            )
        else:
            vs_store = keys.select("doc_id").where(F.lit(False))
        # in-batch rejections: a lower-doc_id batch sibling shares a bucket
        in_batch = (
            keys.withColumn(
                "mn",
                F.min("doc_id").over(Window.partitionBy("band", "band_hash")),
            )
            .where(F.col("doc_id") > F.col("mn"))
            .select("doc_id")
            .distinct()
            .join(vs_store, "doc_id", "left_anti")
        )
        n_vs = vs_store.count()
        n_in = in_batch.count()
        stats.append(
            (batch_id, n_docs, n_docs - n_vs - n_in, n_vs, n_in)
        )
        # MERGE all seen keys (accepted AND rejected — the rule is "any
        # lower doc shares", so every seen key gates future arrivals).
        # APPEND-ONLY: only keys not already in the store are written, so
        # each increment costs O(new keys), never an O(history) store
        # rewrite — at 100 TB/day the rewrite would dominate the job.
        new_keys = keys.select("band", "band_hash").dropDuplicates(
            ["band", "band_hash"]
        )
        if store_versions:
            new_keys = new_keys.join(
                sess.read.parquet(store_versions[0]),
                ["band", "band_hash"],
                "left_anti",
            )
        store_dir = (
            store_versions[0]
            if store_versions
            else os.path.join(state_root, "store")
        )
        new_keys.write.mode("append").parquet(store_dir)
        if not store_versions:
            store_versions.append(store_dir)
        keys.unpersist()

    # the answer is the collected per-batch stats: no store outlives the call
    try:
        drain(
            spark,
            staged_stream(spark, sf_dir, "documents", split=doc_thirds)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", os.path.join(state_root, "_chk")),
        )
    finally:
        shutil.rmtree(state_root, ignore_errors=True)
    return spark.createDataFrame(
        sorted(stats),
        "batch_id bigint, n_docs bigint, n_accepted bigint,"
        " n_rejected_vs_store bigint, n_rejected_in_batch bigint",
    ).orderBy("batch_id")
