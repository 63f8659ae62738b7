"""Ranked retrieval and session-path operators: BM25 scoring over an
inverted index, corpus-specific stopword discovery, and top session
event paths.

The BM25 query terms are derived from the corpus itself (fixed frequency
ranks with deterministic tiebreaks) so both engines construct the
identical query set with no hard-coded vocabulary.
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

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


@query(
    "bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
    ), corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS BIGINT) AS total_dl
      FROM dl
    ), ranked AS (
      SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS rk
      FROM toks GROUP BY word
    ), terms AS (
      SELECT word,
             CASE WHEN rk IN (3, 8) THEN 1
                  WHEN rk IN (13, 18) THEN 2 ELSE 3 END AS query_id
      FROM ranked WHERE rk IN (3, 8, 13, 18, 23, 28)
    ), dfreq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf
      WHERE word IN (SELECT word FROM terms) GROUP BY 1
    ), scored AS (
      SELECT t.query_id, f.doc_id,
             sum(ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5))
                 * f.tf * ({_BM25_K1} + 1)
                 / (f.tf + {_BM25_K1}
                    * (1 - {_BM25_B}
                       + {_BM25_B} * dl.dl
                         / (CAST(c.total_dl AS DOUBLE) / c.n)))) AS score
      FROM tf f JOIN terms t ON t.word = f.word
      JOIN dfreq d ON d.word = f.word
      JOIN dl ON dl.doc_id = f.doc_id
      CROSS JOIN corpus c
      GROUP BY 1, 2
    )
    SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
           doc_id, round(score, 6) AS score
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) <= {_BM25_TOPK}
    ORDER BY query_id, rank
    """,
    headline=True,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for three two-term queries
    drawn from fixed corpus frequency ranks — the classic inverted-index
    scoring an engine needs next to phrase_search/tfidf. Each query has
    exactly two terms, so the per-doc score sum adds two floats
    (commutative — order-independent); every BM25 input (tf, df, dl, N)
    is an exact int64 and the scoring expression is the identical IEEE
    tree on both engines, making ranks and 6dp scores bit-exact.

    Scale: the postings build is one map-side-combinable groupBy(doc,
    term); the 6-term query dimension broadcasts into a semi-join that
    prunes postings BEFORE any shuffle, so the scored frame is only the
    matching postings. Top-10 per query is a bounded window merge.
    """
    # NOT load_parallel: the token explode is cheap relative to the extra
    # round-robin exchange it would add (measured 1.2 s -> 2.8 s at sf0.1);
    # the groupBys below parallelize after their own exchanges anyway
    toks = word_tokens(load(spark, sf_dir, "documents"), "doc_id")
    # doc lengths and vocabulary ranks aggregate straight off the token
    # stream with map-side combine — their shuffles carry |docs| / |vocab|
    # rows; routing them through the wide (doc, word) tf exchange instead
    # measured SLOWER (2.2 s vs 1.4 s at sf0.1: an extra wide shuffle
    # dominates the repeated cheap scan)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("total_dl"),
    )
    terms = ranked_words(toks, QUERY_RANKS).select("word", query_id())
    # NOTE(r10 opt): pruning toks to the 6 query terms with a broadcast
    # semi-join BEFORE this aggregation was tried and A/B-measured 1.15×
    # SLOWER at sf0.1 — the query terms are the corpus's most frequent
    # words (~high token coverage on this vocabulary), so the prune
    # removes little while the terms subtree becomes a blocking broadcast
    # dependency of the scan stage and every token pays a hash probe. On
    # a natural (large) vocabulary the prune wins; revisit with the
    # tokens/vocab ratio, as the dsir slot-dimension note does.
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = doc_freq(tf, terms)
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (
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
                / (F.col("total_dl").cast("double") / F.col("n"))
            )
        )
    )
    scored = (
        tf.join(F.broadcast(terms), "word")
        .join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(idf * tf_part).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _BM25_TOPK)
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))
        .orderBy("query_id", "rank")
    )


@query(
    "idf_stopword_discovery",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    dfreq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY 1
    )
    SELECT word, df, CAST(df * 1000000 // n.n AS BIGINT) AS df_ppm,
           round(ln(CAST(n.n AS DOUBLE) / df), 6) AS idf
    FROM dfreq CROSS JOIN n
    WHERE df * 100 >= n.n * 60
    ORDER BY word
    """,
)
def idf_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-specific stopword discovery: tokens whose document frequency
    exceeds 60% of the corpus — the data-driven stoplist a curation
    pipeline derives instead of shipping a hand-made one (and exactly the
    df-cap candidates the shingle-dedup kernel drops). The 60% floor is a
    relative threshold, so the result is stable as the corpus grows.

    Scale: distinct (doc, token) is one map-side-combinable dedup pass;
    document frequency is a second combinable count on the token
    dimension; the corpus size broadcasts as a 1-row frame.
    """
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word"))
        .distinct()
    )
    n = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    dfreq = toks.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return (
        dfreq.crossJoin(F.broadcast(n))
        .where(F.col("df") * 100 >= F.col("n") * 60)
        .select(
            "word",
            "df",
            F.expr("df * 1000000 div n").cast("bigint").alias("df_ppm"),
            F.round(F.log(F.col("n").cast("double") / F.col("df")), 6).alias("idf"),
        )
        .orderBy("word")
    )


_SESSION_GAP_S = 1800
_PATH_LEN = 3
_PATH_TOPK = 10


@query(
    "session_path_topk",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
      FROM e
    ), r AS (
      SELECT user_id, session_no, event_type,
             row_number() OVER (PARTITION BY user_id, session_no
                                ORDER BY ts, event_id) AS rn
      FROM s
    ), paths AS (
      SELECT user_id, session_no,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= {_PATH_LEN} GROUP BY 1, 2
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(row_number() OVER (ORDER BY count(*) DESC, path) AS INTEGER)
             AS rank
    FROM paths GROUP BY path
    QUALIFY row_number() OVER (ORDER BY count(*) DESC, path) <= {_PATH_TOPK}
    ORDER BY rank
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 session opening paths: sessionize per user (30-min gap),
    take each session's first three event types in order, and rank the
    paths by frequency — the "what do users do first" navigation report
    (the aggregation behind a Sankey diagram's first hops).

    Scale: one shuffle on user_id drives sessionization AND the
    per-session rank (same partitioning, windows share the exchange);
    the path string is built from a bounded 3-element sorted collect, so
    no whale-session state ever materializes; path counting is map-side
    combinable and the final top-10 is a bounded TakeOrdered.
    """
    e = load(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # µs precision to match the oracle's timestamp-interval arithmetic
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(wu)
    marked = e.withColumn(
        "new_s",
        F.when(gap.isNull() | (gap > _SESSION_GAP_S * 1_000_000), 1).otherwise(0),
    )
    wcum = wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = marked.withColumn("session_no", F.sum("new_s").over(wcum))
    ws = Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    r = s.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= _PATH_LEN
    )
    paths = r.groupBy("user_id", "session_no").agg(
        F.concat_ws(
            ">",
            F.expr("transform(sort_array(collect_list(struct(rn, event_type))), x -> x.event_type)"),
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    wr = Window.orderBy(F.desc("n_sessions"), "path")
    return (
        counted.withColumn("rank", F.row_number().over(wr).cast("int"))
        .where(F.col("rank") <= _PATH_TOPK)
        .select("path", "n_sessions", "rank")
        .orderBy("rank")
    )
