"""Search wave 6: bounded-scan retrieval, online ranker comparison,
and pseudo-relevance feedback.

`champion_list_retrieval` is the classic top-m impact-ordered posting
truncation (Manning/IIR ch.7): score only each term's m best
documents and measure what that bounded scan costs in top-k overlap.
`team_draft_interleaving` runs two rankers per query, interleaves
their lists with alternating preference (balanced interleaving,
Joachims 2003), simulates deterministic clicks, and credits each
ranker's team — the online A/B-for-rankers primitive.
`rocchio_prf` expands each query with the best terms of its top
pseudo-relevant documents (Rocchio with alpha=1, beta=0.5) and
re-retrieves — the classic query-expansion loop.

Query terms derive from corpus frequency ranks
(`operators.terms.QUERY_RANKS`, shared with `bm25_search`) so both
engines construct identical queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.terms import (
    QUERY_RANKS,
    doc_freq,
    query_id,
    ranked_words,
    word_tokens,
)
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_CL_M = 20  # champion list length per term
_CL_K = 10  # final top-k

# shared tf/df/terms scaffold (DuckDB): three 2-term queries from
# frequency ranks, tf-idf weights
_IDX_SQL = """
    toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), corpus AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM toks
    ), ranked AS (
      SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS rk
      FROM toks GROUP BY word
    ), terms AS (
      SELECT word,
             CASE WHEN rk IN (3, 8) THEN 1
                  WHEN rk IN (13, 18) THEN 2 ELSE 3 END AS query_id
      FROM ranked WHERE rk IN (3, 8, 13, 18, 23, 28)
    ), dfreq AS (
      SELECT f.word, CAST(count(*) AS BIGINT) AS df FROM tf f
      WHERE f.word IN (SELECT word FROM terms) GROUP BY 1
    )
"""


@query(
    "champion_list_retrieval",
    oracle=f"""
    WITH {_IDX_SQL},
    postings AS (
      SELECT t.query_id, f.word, f.doc_id,
             f.tf * ln(c.n * 1.0 / d.df) AS w,
             row_number() OVER (PARTITION BY f.word
                                ORDER BY f.tf DESC, f.doc_id) AS champ_rk
      FROM tf f
      JOIN terms t ON t.word = f.word
      JOIN dfreq d ON d.word = f.word
      CROSS JOIN corpus c
    ), full_top AS (
      SELECT query_id, doc_id
      FROM (SELECT query_id, doc_id, sum(w) AS score
            FROM postings GROUP BY 1, 2)
      QUALIFY row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) <= {_CL_K}
    ), champ_top AS (
      SELECT query_id, doc_id, score
      FROM (SELECT query_id, doc_id, sum(w) AS score
            FROM postings WHERE champ_rk <= {_CL_M} GROUP BY 1, 2)
      QUALIFY row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) <= {_CL_K}
    ), scans AS (
      SELECT query_id,
             CAST(count(*) AS BIGINT) AS postings_full,
             CAST(sum(CASE WHEN champ_rk <= {_CL_M} THEN 1 ELSE 0 END)
               AS BIGINT) AS postings_champion
      FROM postings GROUP BY 1
    )
    SELECT c.query_id,
           CAST(count(*) AS BIGINT) AS returned,
           CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS overlap_at_{_CL_K},
           round(max(c.score), 6) AS top_score,
           s.postings_full, s.postings_champion
    FROM champ_top c
    LEFT JOIN full_top f
      ON f.query_id = c.query_id AND f.doc_id = c.doc_id
    JOIN scans s ON s.query_id = c.query_id
    GROUP BY c.query_id, s.postings_full, s.postings_champion
    ORDER BY c.query_id
    """,
)
def champion_list_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion-list (impact-ordered truncated posting) retrieval:
    each query term's posting list is cut to its {_CL_M} highest-tf
    documents at index time; query scoring touches ONLY those
    champions, and the report measures overlap@{_CL_K} against full
    -posting scoring plus the scan saving (postings_champion vs
    postings_full). The standard latency lever for high-df terms:
    scan cost becomes O(m x |q|), independent of collection size.

    Determinism: tf/df are exact; the per-doc score sums exactly two
    term weights (2-float addition is order-invariant); champion
    cuts break ties on (tf desc, doc_id).

    Scale: vocabulary ranking is bounded to max(ranks) rows
    (TakeOrdered, then the rank window); champion ranking partitions
    BY TERM (posting-list windows, never corpus-global); the champion
    arm's cost is capped at |terms| x {_CL_M} rows regardless of
    corpus size — that cap is the whole point of the operator.
    """
    toks = word_tokens(load(spark, sf_dir, "documents"), "doc_id")
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    corpus = toks.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n")
    )
    terms = ranked_words(toks, QUERY_RANKS).select("word", query_id())
    dfreq = doc_freq(tf, terms)
    postings = (
        tf.join(F.broadcast(terms), "word")
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(corpus))
        .select(
            "query_id",
            "word",
            "doc_id",
            (F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df"))).alias("w"),
            F.row_number()
            .over(
                Window.partitionBy("word").orderBy(
                    F.desc("tf"), "doc_id"
                )
            )
            .alias("champ_rk"),
        )
    )
    wq = lambda: Window.partitionBy("query_id").orderBy(  # noqa: E731
        F.desc("score"), "doc_id"
    )
    full_top = (
        postings.groupBy("query_id", "doc_id")
        .agg(F.sum("w").alias("score"))
        .withColumn("rk", F.row_number().over(wq()))
        .filter(F.col("rk") <= _CL_K)
        .select(
            F.col("query_id").alias("f_q"),
            F.col("doc_id").alias("f_doc"),
        )
    )
    champ_top = (
        postings.filter(F.col("champ_rk") <= _CL_M)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("w").alias("score"))
        .withColumn("rk", F.row_number().over(wq()))
        .filter(F.col("rk") <= _CL_K)
    )
    scans = postings.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("postings_full"),
        F.sum(F.when(F.col("champ_rk") <= _CL_M, 1).otherwise(0))
        .cast("bigint")
        .alias("postings_champion"),
    )
    return (
        champ_top.join(
            F.broadcast(full_top),
            (F.col("query_id") == F.col("f_q"))
            & (F.col("doc_id") == F.col("f_doc")),
            "left",
        )
        .drop("f_q")
        .join(F.broadcast(scans), "query_id")
        .groupBy("query_id", "postings_full", "postings_champion")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("returned"),
            F.sum(F.when(F.col("f_doc").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"overlap_at_{_CL_K}"),
            F.round(F.max("score"), 6).alias("top_score"),
        )
        .select(
            "query_id",
            "returned",
            f"overlap_at_{_CL_K}",
            "top_score",
            "postings_full",
            "postings_champion",
        )
        .orderBy("query_id")
    )


_TD_K = 10  # interleaved list length
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "team_draft_interleaving",
    oracle=f"""
    WITH {_IDX_SQL},
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
    ), avgdl AS (
      SELECT CAST(sum(dl) AS BIGINT) AS total_dl,
             CAST(count(*) AS BIGINT) AS nd
      FROM dl
    ), scored AS (
      SELECT t.query_id, f.doc_id,
             sum(f.tf * ln(c.n * 1.0 / d.df)) AS score_a,
             sum(ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5))
                 * f.tf * ({_BM25_K1} + 1)
                 / (f.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B}
                    * dl.dl / (CAST(a.total_dl AS DOUBLE) / a.nd))))
               AS score_b
      FROM tf f
      JOIN terms t ON t.word = f.word
      JOIN dfreq d ON d.word = f.word
      JOIN dl ON dl.doc_id = f.doc_id
      CROSS JOIN corpus c CROSS JOIN avgdl a
      GROUP BY 1, 2
    ), ra AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score_a DESC, doc_id) AS rk
      FROM scored
    ), rb AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score_b DESC, doc_id) AS rk
      FROM scored
    ), merged AS (
      SELECT query_id, doc_id, team, pos FROM (
        SELECT query_id, doc_id, 'A' AS team, 2 * rk - 1 AS pos
        FROM ra WHERE rk <= {_TD_K}
        UNION ALL
        SELECT query_id, doc_id, 'B' AS team, 2 * rk
        FROM rb WHERE rk <= {_TD_K}
      )
    ), deduped AS (
      SELECT query_id, doc_id, team, pos
      FROM merged
      QUALIFY row_number() OVER (PARTITION BY query_id, doc_id
                                 ORDER BY pos) = 1
    ), interleaved AS (
      SELECT query_id, doc_id, team,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY pos) AS slot
      FROM deduped
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY pos) <= {_TD_K}
    )
    SELECT query_id,
           CAST(sum(CASE WHEN team = 'A'
                    AND (doc_id + 3 * query_id) % 4 = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS clicks_a,
           CAST(sum(CASE WHEN team = 'B'
                    AND (doc_id + 3 * query_id) % 4 = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS clicks_b,
           CAST(sum(CASE WHEN team = 'A' THEN 1 ELSE 0 END) AS BIGINT)
             AS team_a_slots,
           CASE WHEN sum(CASE WHEN team = 'A'
                         AND (doc_id + 3 * query_id) % 4 = 0
                         THEN 1 ELSE 0 END)
                   > sum(CASE WHEN team = 'B'
                         AND (doc_id + 3 * query_id) % 4 = 0
                         THEN 1 ELSE 0 END) THEN 'A'
                WHEN sum(CASE WHEN team = 'A'
                         AND (doc_id + 3 * query_id) % 4 = 0
                         THEN 1 ELSE 0 END)
                   < sum(CASE WHEN team = 'B'
                         AND (doc_id + 3 * query_id) % 4 = 0
                         THEN 1 ELSE 0 END) THEN 'B'
                ELSE 'tie' END AS winner
    FROM interleaved
    GROUP BY query_id
    ORDER BY query_id
    """,
)
def team_draft_interleaving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved ranker evaluation: ranker A (tf-idf) and ranker B
    (BM25) each produce a top-{_TD_K} per query; the lists merge with
    alternating preference (A's rank r at slot 2r-1, B's at 2r),
    duplicates keep their earliest slot and team, and the first
    {_TD_K} slots are shown. Deterministic clicks hit relevant docs
    ((doc_id + 3*query_id) % 4 = 0) and credit the team that
    contributed the doc — the interleaving experiment that detects
    ranker differences with ~10x fewer sessions than A/B splits.

    Determinism: both rankings break ties on doc_id; the merge
    position arithmetic and click rule are exact integers; per-doc
    scores sum exactly two term weights (order-invariant).

    Scale: vocabulary ranking is bounded to max(ranks) rows
    (TakeOrdered, then the rank window); all other windows partition
    by query (and the per-(query,doc) frame is posting-bounded); no
    folds, no self-joins — the interleave is pure rank arithmetic,
    which is what makes it deployable inside a serving-log pipeline at
    any scale.
    """
    toks = word_tokens(load(spark, sf_dir, "documents"), "doc_id")
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl")
    )
    corpus = toks.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n")
    )
    avgdl = dl.agg(
        F.sum("dl").cast("bigint").alias("total_dl"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    terms = ranked_words(toks, QUERY_RANKS).select("word", query_id())
    dfreq = doc_freq(tf, terms)
    idf_a = F.log(F.col("n") * 1.0 / F.col("df"))
    idf_b = F.log(
        1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    bm25_tf = (
        F.col("tf")
        * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1
            * (
                1
                - _BM25_B
                + _BM25_B
                * F.col("dl")
                / (F.col("total_dl").cast("double") / F.col("nd"))
            )
        )
    )
    scored = (
        tf.join(F.broadcast(terms), "word")
        .join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(avgdl))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.col("tf") * idf_a).alias("score_a"),
            F.sum(idf_b * bm25_tf).alias("score_b"),
        )
    )
    ra = scored.select(
        "query_id",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.desc("score_a"), "doc_id"
            )
        )
        .alias("rk"),
    ).filter(F.col("rk") <= _TD_K)
    rb = scored.select(
        "query_id",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.desc("score_b"), "doc_id"
            )
        )
        .alias("rk"),
    ).filter(F.col("rk") <= _TD_K)
    merged = ra.select(
        "query_id",
        "doc_id",
        F.lit("A").alias("team"),
        (2 * F.col("rk") - 1).alias("pos"),
    ).unionAll(
        rb.select(
            "query_id",
            "doc_id",
            F.lit("B").alias("team"),
            (2 * F.col("rk")).alias("pos"),
        )
    )
    deduped = merged.withColumn(
        "first_rk",
        F.row_number().over(
            Window.partitionBy("query_id", "doc_id").orderBy("pos")
        ),
    ).filter(F.col("first_rk") == 1)
    interleaved = deduped.withColumn(
        "slot",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy("pos")
        ),
    ).filter(F.col("slot") <= _TD_K)
    click = (F.col("doc_id") + 3 * F.col("query_id")) % 4 == 0
    ca = F.sum(
        F.when((F.col("team") == "A") & click, 1).otherwise(0)
    ).cast("bigint")
    cb = F.sum(
        F.when((F.col("team") == "B") & click, 1).otherwise(0)
    ).cast("bigint")
    return (
        interleaved.groupBy("query_id")
        .agg(
            ca.alias("clicks_a"),
            cb.alias("clicks_b"),
            F.sum(F.when(F.col("team") == "A", 1).otherwise(0))
            .cast("bigint")
            .alias("team_a_slots"),
        )
        .select(
            "query_id",
            "clicks_a",
            "clicks_b",
            "team_a_slots",
            F.when(F.col("clicks_a") > F.col("clicks_b"), "A")
            .when(F.col("clicks_a") < F.col("clicks_b"), "B")
            .otherwise("tie")
            .alias("winner"),
        )
        .orderBy("query_id")
    )


_PRF_DOCS = 5  # pseudo-relevant depth
_PRF_TERMS = 2  # expansion terms
_PRF_BETA = 0.5


@query(
    "rocchio_prf",
    oracle=f"""
    WITH {_IDX_SQL},
    postings AS (
      SELECT t.query_id, f.word, f.doc_id,
             f.tf * ln(c.n * 1.0 / d.df) AS w
      FROM tf f
      JOIN terms t ON t.word = f.word
      JOIN dfreq d ON d.word = f.word
      CROSS JOIN corpus c
    ), initial AS (
      SELECT query_id, doc_id
      FROM (SELECT query_id, doc_id, sum(w) AS score
            FROM postings GROUP BY 1, 2)
      QUALIFY row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) <= {_PRF_DOCS}
    ), alldf AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), cand AS (
      SELECT i.query_id, f.word,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(f.tf * ln(c.n * 1.0 / a.df) ORDER BY f.doc_id)),
               (x, y) -> x + y) AS cw
      FROM initial i
      JOIN tf f ON f.doc_id = i.doc_id
      JOIN alldf a ON a.word = f.word
      CROSS JOIN corpus c
      WHERE f.word NOT IN (SELECT word FROM terms t2
                           WHERE t2.query_id = i.query_id)
      GROUP BY i.query_id, f.word
    ), expansion AS (
      SELECT query_id, word, cw,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cw DESC, word) AS xrk
      FROM cand
      QUALIFY row_number() OVER (PARTITION BY query_id
               ORDER BY cw DESC, word) <= {_PRF_TERMS}
    ), wq AS (
      SELECT query_id, word, 1.0 AS qw FROM terms
      UNION ALL
      SELECT query_id, word, {_PRF_BETA} AS qw FROM expansion
    ), rescored AS (
      SELECT q.query_id, f.doc_id,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(q.qw * f.tf * ln(c.n * 1.0 / a.df)
                    ORDER BY f.word)), (x, y) -> x + y) AS score
      FROM wq q
      JOIN tf f ON f.word = q.word
      JOIN alldf a ON a.word = q.word
      CROSS JOIN corpus c
      GROUP BY q.query_id, f.doc_id
    ), final AS (
      SELECT query_id, doc_id, score
      FROM rescored
      QUALIFY row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) <= 10
    )
    SELECT f.query_id,
           max(e1.word) AS exp_term_1,
           max(e2.word) AS exp_term_2,
           CAST(count(*) AS BIGINT) AS returned,
           CAST(sum(CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS seed_docs_retained,
           round(max(f.score), 6) AS top_score
    FROM final f
    LEFT JOIN initial i
      ON i.query_id = f.query_id AND i.doc_id = f.doc_id
    JOIN expansion e1 ON e1.query_id = f.query_id AND e1.xrk = 1
    JOIN expansion e2 ON e2.query_id = f.query_id AND e2.xrk = 2
    GROUP BY f.query_id
    ORDER BY f.query_id
    """,
)
def rocchio_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback: retrieve top-{_PRF_DOCS}
    per query with tf-idf, mine the {_PRF_TERMS} heaviest non-query
    terms from those pseudo-relevant docs (centroid term weights,
    doc-ordered fold), re-run the query with alpha=1 on original
    terms and beta={_PRF_BETA} on expansions, and report the
    expansion terms plus how many seed docs survive in the new
    top-10 — the classic recall-boosting expansion loop, fully
    in-engine.

    Determinism: every multi-term float sum is an order-pinned fold
    (doc-ordered for centroid weights, word-ordered for rescoring);
    ranks break ties on (word) / (doc_id).

    Scale: the expansion mining joins postings only for the
    {_PRF_DOCS}-doc seed set per query (broadcast); rescoring
    touches the postings of <= |q|+{_PRF_TERMS} terms; vocabulary
    ranking is bounded to max(ranks) rows (TakeOrdered, then the rank
    window) and every other window partitions by query.
    """
    toks = word_tokens(load(spark, sf_dir, "documents"), "doc_id")
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    corpus = toks.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n")
    )
    terms = ranked_words(toks, QUERY_RANKS).select("word", query_id())
    dfreq = doc_freq(tf, terms)
    alldf = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    postings = (
        tf.join(F.broadcast(terms), "word")
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(corpus))
        .select(
            "query_id",
            "word",
            "doc_id",
            (F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df"))).alias("w"),
        )
    )
    initial = (
        postings.groupBy("query_id", "doc_id")
        .agg(F.sum("w").alias("score"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("score"), "doc_id"
                )
            ),
        )
        .filter(F.col("rk") <= _PRF_DOCS)
        .select("query_id", "doc_id")
    )
    # candidate expansion terms: doc-ordered centroid-weight fold over
    # the seed docs, excluding the query's own terms
    cand = (
        initial.join(
            tf.withColumnRenamed("word", "cword"),
            "doc_id",
        )
        .join(
            F.broadcast(
                alldf.withColumnRenamed("word", "cword")
            ),
            "cword",
        )
        .crossJoin(F.broadcast(corpus))
        .join(
            F.broadcast(
                terms.select(
                    F.col("query_id").alias("tq"),
                    F.col("word").alias("tword"),
                )
            ),
            (F.col("query_id") == F.col("tq"))
            & (F.col("cword") == F.col("tword")),
            "left_anti",
        )
        .groupBy("query_id", "cword")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct("
                "doc_id, (tf * ln(n * 1.0D / df)) AS cv))),"
                " t -> t.cv), CAST(0 AS DOUBLE), (x, y) -> x + y)"
            ).alias("cw")
        )
    )
    expansion = cand.withColumn(
        "xrk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("cw"), "cword"
            )
        ),
    ).filter(F.col("xrk") <= _PRF_TERMS)
    wq = terms.select(
        "query_id", "word", F.lit(1.0).alias("qw")
    ).unionAll(
        expansion.select(
            "query_id",
            F.col("cword").alias("word"),
            F.lit(_PRF_BETA).alias("qw"),
        )
    )
    rescored = (
        wq.join(tf, "word")
        .join(F.broadcast(alldf), "word")
        .crossJoin(F.broadcast(corpus))
        .groupBy("query_id", "doc_id")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct("
                "word, (qw * tf * ln(n * 1.0D / df)) AS sv))),"
                " t -> t.sv), CAST(0 AS DOUBLE), (x, y) -> x + y)"
            ).alias("score")
        )
    )
    final = rescored.withColumn(
        "frk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("score"), "doc_id"
            )
        ),
    ).filter(F.col("frk") <= 10)
    e1 = expansion.filter(F.col("xrk") == 1).select(
        F.col("query_id").alias("q1"), F.col("cword").alias("exp_term_1")
    )
    e2 = expansion.filter(F.col("xrk") == 2).select(
        F.col("query_id").alias("q2"), F.col("cword").alias("exp_term_2")
    )
    return (
        final.join(
            F.broadcast(
                initial.select(
                    F.col("query_id").alias("iq"),
                    F.col("doc_id").alias("i_doc"),
                )
            ),
            (F.col("query_id") == F.col("iq"))
            & (F.col("doc_id") == F.col("i_doc")),
            "left",
        )
        .join(F.broadcast(e1), F.col("query_id") == F.col("q1"))
        .join(F.broadcast(e2), F.col("query_id") == F.col("q2"))
        .groupBy("query_id", "exp_term_1", "exp_term_2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("returned"),
            F.sum(F.when(F.col("i_doc").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("seed_docs_retained"),
            F.round(F.max("score"), 6).alias("top_score"),
        )
        .select(
            "query_id",
            "exp_term_1",
            "exp_term_2",
            "returned",
            "seed_docs_retained",
            "top_score",
        )
        .orderBy("query_id")
    )
