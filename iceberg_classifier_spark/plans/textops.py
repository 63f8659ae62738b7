"""Text-analysis queries over ``documents`` — the LLM-data-pipeline surface.

All per-document (shuffle-free, codegen'd); oracles mirror the exact same
integer/string ops so hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.functions import text as T
from iceberg_classifier_spark.operators.prefix import running_sums
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_DUCK_TOKS = "string_split(trim(text), ' ')"  # docs are single-space separated


def _duck_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return f"len(list_filter({_DUCK_TOKS}, t -> list_contains([{words}], t)))"


def _duck_lang_guess() -> str:
    langs = sorted(T.STOPWORDS)
    best = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN h_{l} = {best} AND {best} > 0 THEN '{l}'" for l in langs
    ) + " ELSE 'und' END"
    return case


@query(
    "lang_id",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             {", ".join(f"{_duck_hits(l)} AS h_{l}" for l in sorted(T.STOPWORDS))}
      FROM documents
    )
    SELECT doc_id, lang, {_duck_lang_guess()} AS lang_guess,
           CAST({_duck_lang_guess()} = lang AS BOOLEAN) AS is_match
    FROM h ORDER BY doc_id
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-profile language ID (LLM-pipeline op). The synthetic
    corpus is English-token soup, so the guess is usually 'en'; the gate
    verifies the deterministic computation, not model quality."""
    d = load(spark, sf_dir, "documents")
    toks = T.tokens("text")
    guess = T.lang_guess(toks)
    return d.select(
        "doc_id",
        "lang",
        guess.alias("lang_guess"),
        (guess == F.col("lang")).alias("is_match"),
    ).orderBy("doc_id")


@query(
    "quality_score",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             length(text) AS n_chars_actual,
             len({_DUCK_TOKS}) AS n_tokens,
             CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
             CAST({_duck_hits('en')} AS DOUBLE) / len({_DUCK_TOKS}) AS stopword_ratio,
             CAST(list_sum(list_transform({_DUCK_TOKS}, t -> length(t))) AS DOUBLE)
               / len({_DUCK_TOKS}) AS mean_token_len
      FROM documents
    )
    SELECT doc_id, CAST(n_chars_actual AS BIGINT) AS n_chars_actual,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(punct_ratio, 6) AS punct_ratio,
           round(stopword_ratio, 6) AS stopword_ratio,
           round(mean_token_len, 6) AS mean_token_len,
           round(1.0 / (1.0 + exp(-(0.02 * n_tokens + 2.0 * stopword_ratio
                                    - 5.0 * punct_ratio - 1.0))), 6) AS quality
    FROM q ORDER BY doc_id
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc quality features (length / punctuation / stopword-density) and a
    logistic composite score — per-row, one pass."""
    d = load(spark, sf_dir, "documents")
    toks = T.tokens("text")
    n_tokens = F.size(toks)
    punct = T.punct_ratio("text")
    stop = T.stopword_hits(toks, "en").cast("double") / n_tokens
    mtl = T.mean_token_len(toks).cast("double")
    quality = 1.0 / (
        1.0 + F.exp(-(0.02 * n_tokens + 2.0 * stop - 5.0 * punct - 1.0))
    )
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_actual"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(stop, 6).alias("stopword_ratio"),
        F.round(mtl, 6).alias("mean_token_len"),
        F.round(quality, 6).alias("quality"),
    ).orderBy("doc_id")


@query(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{T.WORDISH_RE}')) AS BIGINT)
             AS n_wordish_tokens
    FROM documents ORDER BY doc_id
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting (per-row regexp_count)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count_ws("text").cast("bigint").alias("n_ws_tokens"),
        T.token_count_wordish("text").cast("bigint").alias("n_wordish_tokens"),
    ).orderBy("doc_id")


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list_transform(generate_series(1, length(text)),
                                         i -> ord(substr(text, CAST(i AS INTEGER), 1)))),
             (acc, c) -> (acc * {T.FP_BASE} + c) % {T.FP_MOD}) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash content fingerprint — integer fold, exactly
    portable across engines (used as a shard-stable dedup key)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", T.rolling_fingerprint("text").alias("fingerprint")).orderBy(
        "doc_id"
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
      FROM documents
    ), t AS (
      SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS df FROM t GROUP BY 1
    ), n AS (SELECT count(*) AS nd FROM documents),
    scored AS (
      SELECT t.doc_id, t.term,
             round(t.tf * ln((SELECT nd FROM n) / dfreq.df), 6) AS tfidf
      FROM t JOIN dfreq USING (term)
    )
    SELECT doc_id, term, tfidf, rk FROM (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 3 ORDER BY doc_id, rk
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (tf × ln(N/df)).

    Scale: term frequencies shuffle once on (doc_id, term) with map-side
    combine; document frequencies derive from that (already tiny — |vocab|
    rows) and broadcast back, so the corpus is scanned exactly once. The
    rank is computed on the 6dp-ROUNDED score with a term tiebreak, so
    cross-engine float noise below the rounding edge cannot reorder it.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("nd").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 3)
        .orderBy("doc_id", "rk")
    )


@query(
    "quality_filter_pipeline",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, text, lang,
             len({_DUCK_TOKS}) AS n_tokens,
             CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
             CAST({_duck_hits('en')} AS DOUBLE) / len({_DUCK_TOKS})
               AS stopword_ratio
      FROM documents
    ), scored AS (
      SELECT *, 1.0 / (1.0 + exp(-(0.02 * n_tokens + 2.0 * stopword_ratio
                                   - 5.0 * punct_ratio - 1.0))) AS quality
      FROM feats
    ), kept AS (
      SELECT * FROM scored
      WHERE n_tokens BETWEEN 10 AND 5000 AND quality >= 0.5
    ), deduped AS (
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
             min(n_tokens) AS n_tokens, min(quality) AS quality,
             min(lang) AS lang
      FROM kept GROUP BY text
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(quality), 6) AS avg_quality,
           CAST(sum(n_copies) - count(*) AS BIGINT) AS dups_removed
    FROM deduped GROUP BY lang ORDER BY lang
    """,
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pipeline in one plan: feature
    extraction (token count, punctuation, stopword density) → quality
    scoring → token-bound + quality filtering → exact dedup (keep lowest
    doc_id) → per-language corpus report.

    Scale shape: everything before the dedup is per-row codegen over one
    scan; the dedup groupBy(text) is the single data-sized shuffle (at
    100 TB: group on fingerprint+length instead of raw text); the final
    per-language rollup aggregates the already-deduped remainder.
    """
    d = load(spark, sf_dir, "documents")
    toks = T.tokens("text")
    n_tokens = F.size(toks)
    punct = T.punct_ratio("text")
    stop = T.stopword_hits(toks, "en").cast("double") / n_tokens
    quality = 1.0 / (
        1.0 + F.exp(-(0.02 * n_tokens + 2.0 * stop - 5.0 * punct - 1.0))
    )
    scored = d.select(
        "doc_id",
        "text",
        "lang",
        n_tokens.alias("n_tokens"),
        quality.alias("quality"),
    )
    kept = scored.where(
        F.col("n_tokens").between(10, 5000) & (F.col("quality") >= 0.5)
    )
    deduped = kept.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_tokens").alias("n_tokens"),
        F.min("quality").alias("quality"),
        F.min("lang").alias("lang"),
    )
    return (
        deduped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            (F.sum("n_copies") - F.count(F.lit(1))).cast("bigint").alias(
                "dups_removed"
            ),
        )
        .orderBy("lang")
    )


@query(
    "bigram_next_word",
    oracle=f"""
    WITH toks AS (
      SELECT {_DUCK_TOKS} AS w FROM documents
      WHERE len({_DUCK_TOKS}) >= 2
    ), pairs AS (
      SELECT unnest(list_transform(generate_series(2, len(w)),
                                   i -> struct_pack(w1 := w[i - 1],
                                                    w2 := w[i]))) AS p
      FROM toks
    ), cnt AS (
      SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n FROM pairs GROUP BY 1, 2
    ), heads AS (
      SELECT w1, CAST(sum(n) AS BIGINT) AS head_total,
             row_number() OVER (ORDER BY sum(n) DESC, w1) AS hr
      FROM cnt GROUP BY 1
    ), ranked AS (
      SELECT w1, w2, n,
             row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2) AS rn
      FROM cnt
    )
    SELECT r.w1, CAST(r.rn AS BIGINT) AS rn, r.w2, r.n, h.head_total,
           round(r.n * 1.0 / h.head_total, 6) AS p_next
    FROM ranked r JOIN heads h USING (w1)
    WHERE h.hr <= 20 AND r.rn <= 3
    ORDER BY h.head_total DESC, r.w1, r.rn
    """,
)
def bigram_next_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language model: for the 20 most frequent head words,
    the top-3 next words with conditional probability P(w2 | w1) — the
    n-gram-statistics stage of a corpus-analysis pipeline.

    Scale: the token-level explode is the only wide row expansion and
    feeds straight into a map-side-combined (w1, w2) hash agg, so the
    shuffle carries |distinct bigrams| rows, not |tokens|. Both rankings
    run over the already-tiny aggregated frames and rank on INTEGER counts
    with string tiebreakers (no float-rank ambiguity); the head frame is
    broadcast back onto the per-head ranking.
    """
    d = load(spark, sf_dir, "documents").select(
        F.split(F.trim("text"), " ").alias("w")
    )
    pairs = (
        d.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(w[i - 1] AS w1, w[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    cnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    heads = (
        cnt.groupBy("w1")
        .agg(F.sum("n").cast("bigint").alias("head_total"))
        # top-20 heads via TakeOrdered (parallel per-partition top-k +
        # driver merge), not a vocabulary-sized unpartitioned row_number
        .orderBy(F.col("head_total").desc(), "w1")
        .limit(20)
    )
    ranked = cnt.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("w1").orderBy(F.col("n").desc(), "w2")
        ),
    ).filter(F.col("rn") <= 3)
    return (
        ranked.join(F.broadcast(heads), "w1")
        .select(
            "w1",
            F.col("rn").cast("bigint").alias("rn"),
            "w2",
            "n",
            "head_total",
            F.round(F.col("n") / F.col("head_total"), 6).alias("p_next"),
        )
        .orderBy(F.col("head_total").desc(), "w1", "rn")
    )


@query(
    "lm_doc_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS w FROM documents
      WHERE len({_DUCK_TOKS}) >= 2
    ), pairs AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(2, len(w)),
                                   i -> struct_pack(w1 := w[i - 1],
                                                    w2 := w[i]))) AS p
      FROM toks
    ), bi AS (
      SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pairs
    ), cnt AS (
      SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2
    ), heads AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cnt GROUP BY 1
    ), vocab AS (
      SELECT count(DISTINCT t) AS v
      FROM (SELECT unnest(w) AS t FROM toks)
    )
    SELECT b.doc_id, count(*) AS n_bigrams,
           round(avg(ln((c.c12 + 1.0) / (h.c1 + vocab.v))), 6) AS avg_logp,
           round(exp(-avg(ln((c.c12 + 1.0) / (h.c1 + vocab.v)))), 2) AS ppl
    FROM bi b
    JOIN cnt c USING (w1, w2) JOIN heads h USING (w1) CROSS JOIN vocab
    GROUP BY b.doc_id ORDER BY b.doc_id
    """,
)
def lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: score every document by its mean
    add-one-smoothed bigram log-probability under a model trained on the
    corpus itself, plus the equivalent perplexity — the "does this read
    like the corpus" gate used to rank crawl text.

    Scale: model "training" is the same map-combined (w1, w2) count agg as
    `bigram_next_word`; scoring re-joins each doc's bigrams to the model
    on (w1, w2) — a shuffle join whose model side is |distinct bigrams|
    (broadcastable for production LM filter vocabularies). The vocab size
    scalar stays in-plan via a broadcast cross-join of a 1-row frame, so
    nothing collects to the driver. ln/exp differ across engines by ≤1
    ulp, far below the 6dp rounding.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.trim("text"), " ").alias("w"))
        .filter(F.size("w") >= 2)
    )
    bi = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(w[i - 1] AS w1, w[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    cnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    heads = cnt.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    vocab = (
        d.select(F.explode("w").alias("t"))
        .agg(F.count_distinct("t").alias("v"))
    )
    logp = F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
    return (
        bi.join(cnt, ["w1", "w2"])
        .join(heads, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_logp"),
            F.round(F.exp(-F.avg(logp)), 2).alias("ppl"),
        )
        .orderBy("doc_id")
    )


def _pr_iter_sql(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""r{k} AS (
      SELECT nd.t, 0.15 / nn.n + 0.85 * coalesce(sum(r.r * e.p), 0) AS r
      FROM nodes nd CROSS JOIN nn
      LEFT JOIN edges e ON e.w2 = nd.t
      LEFT JOIN {prev} r ON r.t = e.w1
      GROUP BY nd.t, nn.n
    )"""


@query(
    "pagerank_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT {_DUCK_TOKS} AS w FROM documents
      WHERE len({_DUCK_TOKS}) >= 2
    ), pairs AS (
      SELECT unnest(list_transform(generate_series(2, len(w)),
                                   i -> struct_pack(w1 := w[i - 1],
                                                    w2 := w[i]))) AS p
      FROM toks
    ), cnt AS (
      SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n FROM pairs GROUP BY 1, 2
    ), nodes AS (
      SELECT DISTINCT w1 AS t FROM cnt
    ), edges0 AS (
      SELECT c.w1, c.w2, c.n
      FROM cnt c JOIN nodes a ON c.w1 = a.t JOIN nodes b ON c.w2 = b.t
    ), outw AS (
      SELECT w1, CAST(sum(n) AS DOUBLE) AS ow FROM edges0 GROUP BY 1
    ), edges AS (
      SELECT e.w1, e.w2, e.n / o.ow AS p
      FROM edges0 e JOIN outw o USING (w1)
    ), nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT t, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    {", ".join(_pr_iter_sql(k) for k in range(1, 6))},
    deg AS (
      SELECT w1 AS t, count(*) AS out_degree FROM edges GROUP BY 1
    )
    SELECT r5.t AS token, CAST(deg.out_degree AS BIGINT) AS out_degree,
           round(r5.r, 6) AS rank
    FROM r5 JOIN deg USING (t) ORDER BY token
    """,
)
def pagerank_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 power iterations, damping 0.85) over the token
    co-occurrence digraph — iterative graph analytics expressed as pure
    DataFrame join+agg rounds, the pattern for any Pregel-style algorithm
    when GraphX/GraphFrames isn't on the cluster.

    Scale: each iteration is one shuffle — contributions flow along
    edges (join rank onto edge source, group by target); the rank vector
    is |nodes| rows and broadcasts, so per-iteration cost is one pass over
    the edge list. The oracle unrolls the same 5 iterations as SQL CTEs
    with the identical teleport + damped-sum expression; transition
    probabilities come from exact integer bigram counts.
    """
    d = load(spark, sf_dir, "documents").select(
        F.split(F.trim("text"), " ").alias("w")
    )
    cnt = (
        d.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(w[i - 1] AS w1, w[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nodes = cnt.select(F.col("w1").alias("t")).distinct()
    edges0 = cnt.join(
        F.broadcast(nodes), cnt.w1 == nodes.t
    ).drop("t").join(F.broadcast(nodes), cnt.w2 == nodes.t).drop("t")
    outw = edges0.groupBy("w1").agg(F.sum("n").cast("double").alias("ow"))
    edges = (
        edges0.join(F.broadcast(outw), "w1")
        .select("w1", "w2", (F.col("n") / F.col("ow")).alias("p"))
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "t", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(5):
        contrib = (
            edges.join(F.broadcast(r), edges.w1 == r.t)
            .select(F.col("w2").alias("t"), (F.col("p") * F.col("r")).alias("c"))
            .groupBy("t")
            .agg(F.sum("c").alias("s"))
        )
        r = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib, "t", "left")
            .select(
                "t",
                (
                    0.15 / F.col("n")
                    + 0.85 * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    deg = edges.groupBy("w1").agg(F.count(F.lit(1)).alias("out_degree"))
    return (
        r.join(F.broadcast(deg), r.t == deg.w1)
        .select(
            F.col("t").alias("token"),
            F.col("out_degree").cast("bigint").alias("out_degree"),
            F.round("r", 6).alias("rank"),
        )
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# GPT-style concat-and-chunk sequence packing
# ---------------------------------------------------------------------------

_PACK_CAP = 512  # tokens per training sequence


@query(
    "concat_chunk_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len({_DUCK_TOKS}) AS n FROM documents
    ), cum AS (
      SELECT doc_id, n,
             sum(n) OVER (ORDER BY doc_id) AS s
      FROM toks
    ), spans AS (
      SELECT doc_id, n,
             (s - n) // {_PACK_CAP} AS c_start,
             (s - 1) // {_PACK_CAP} AS c_end
      FROM cum WHERE n > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST((sum(n) + {_PACK_CAP - 1}) // {_PACK_CAP} AS BIGINT)
             AS n_sequences,
           CAST(sum(CASE WHEN c_end > c_start THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boundary_docs,
           CAST(max(c_end - c_start + 1) AS BIGINT) AS max_seqs_per_doc,
           round(sum(n) * 1.0
                 / (((sum(n) + {_PACK_CAP - 1}) // {_PACK_CAP})
                    * {_PACK_CAP}), 6) AS utilization
    FROM spans
    """,
)
def concat_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining, concat-and-chunk style: the
    corpus is logically concatenated in doc_id order and sliced into
    fixed {_PACK_CAP}-token training sequences. Everything falls out of
    one token-count cumulative sum — each doc's sequence span is
    [prefix//{_PACK_CAP}, (prefix+n-1)//{_PACK_CAP}] — with no
    materialized concatenation: docs crossing a boundary, max sequences a
    doc spans, and packing utilization (always 1.0 minus final-sequence
    padding in this scheme — the reason pretraining uses it over padded
    per-doc batches).

    Scale: one scan for token counts; the cumulative sum is
    ``operators.prefix.running_sums`` over doc_id-range buckets, so no
    corpus-wide single-partition window. The actual sequence
    materialization would be a map-side substring pass using these exact
    offsets.
    """
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens(F.col("text"))).alias("n")
    ).withColumn("bkt", F.expr("doc_id div 4096"))
    cum, _ = running_sums(toks, "bkt", ["doc_id"], {"s": "n"})
    spans = cum.filter(F.col("n") > 0).select(
        "n",
        F.expr(f"(s - n) div {_PACK_CAP}").alias("c_start"),
        F.expr(f"(s - 1) div {_PACK_CAP}").alias("c_end"),
    )
    cap = F.lit(_PACK_CAP)
    n_seq = F.expr(f"(sum(n) + {_PACK_CAP - 1}) div {_PACK_CAP}")
    return spans.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        n_seq.alias("n_sequences"),
        F.sum((F.col("c_end") > F.col("c_start")).cast("bigint")).alias(
            "n_boundary_docs"
        ),
        F.max(F.col("c_end") - F.col("c_start") + 1).alias("max_seqs_per_doc"),
        F.round(F.sum("n") * 1.0 / (n_seq * cap), 6).alias("utilization"),
    )


# ---------------------------------------------------------------------------
# Vocabulary OOV-rate audit
# ---------------------------------------------------------------------------

_VOCAB_K = 100


@query(
    "vocab_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_DUCK_TOKS}) AS t FROM documents
    ), vocab AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS r
        FROM tok GROUP BY t
      ) WHERE r <= {_VOCAB_K}
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS oov_rate
    FROM tok LEFT JOIN vocab ON tok.t = vocab.t
    GROUP BY lang ORDER BY lang
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-{_VOCAB_K}
    corpus vocabulary (frequency order, token tiebreak) and report each
    language's out-of-vocabulary token rate — the metric that decides
    whether a tokenizer/vocab fits a corpus slice before training on it.

    Scale: vocabulary construction is a map-side-combined token count plus
    a top-k (tiny); the OOV probe joins the token stream against the
    BROADCAST vocabulary — no shuffle of the corpus; per-language rates
    aggregate with map-side combine.
    """
    tok = load(spark, sf_dir, "documents").select(
        "lang", F.explode(T.tokens(F.col("text"))).alias("t")
    )
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("c"), "t"))
        )
        .filter(F.col("r") <= _VOCAB_K)
        .select(F.col("t").alias("vt"))
    )
    probed = tok.join(
        F.broadcast(vocab), tok.t == F.col("vt"), "left"
    )
    return (
        probed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("vt").isNull().cast("bigint")).alias("n_oov"),
            F.round(
                F.sum(F.col("vt").isNull().cast("bigint")) * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# T5-style span-corruption accounting
# ---------------------------------------------------------------------------

_SPAN_LEN = 3   # tokens per seeded mask span
_SPAN_MOD = 7   # a position seeds a span when hash % mod == 0 (~1/7 seeds)


@query(
    "t5_span_corruption",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, len({_DUCK_TOKS}) AS n FROM documents
    ), pos AS (
      SELECT doc_id, n, unnest(generate_series(1, n)) AS i FROM tok
    ), seeds AS (
      SELECT doc_id, n, i AS s FROM pos
      WHERE list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(generate_series(1, 8),
                k -> CAST(strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                  CAST(i AS VARCHAR)), CAST(k AS INTEGER), 1))
                     - 1 AS BIGINT))),
              (acc, c) -> acc * 16 + c) % {_SPAN_MOD} = 0
    ), masked AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id,
               unnest(generate_series(s, least(s + {_SPAN_LEN - 1}, n))) AS p
        FROM seeds)
    ), islands AS (
      SELECT doc_id,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      FROM masked
    ), per_doc AS (
      SELECT m.doc_id, count(*) AS n_masked,
             (SELECT count(DISTINCT grp) FROM islands i
              WHERE i.doc_id = m.doc_id) AS n_sentinels
      FROM masked m GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs_masked,
           CAST(sum(t.n) AS BIGINT) AS total_tokens,
           CAST(sum(p.n_masked) AS BIGINT) AS masked_tokens,
           round(sum(p.n_masked) * 1.0 / sum(t.n), 6) AS corruption_rate,
           CAST(sum(p.n_sentinels) AS BIGINT) AS n_sentinels,
           round(sum(p.n_masked) * 1.0 / sum(p.n_sentinels), 6)
             AS avg_span_len
    FROM per_doc p JOIN tok t ON p.doc_id = t.doc_id
    """,
)
def t5_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption accounting: deterministic mask spans —
    position i seeds a {_SPAN_LEN}-token span when the portable md5-prefix
    hash of (doc, i) hits 1/{_SPAN_MOD} — overlapping spans merge into
    islands (each island = one sentinel in the denoising objective), and
    the report carries the realized corruption rate, sentinel count and
    mean merged-span length. Hash-seeded spans make the corruption
    reproducible across engines AND across re-runs at 100 TB — the
    property RNG-based masking loses the moment tasks retry.

    Scale: seeding is a map-side explode over token positions with the
    hash evaluated JVM-side; island merging is the gaps-and-islands
    row_number trick per doc (one doc-partitioned window); everything
    aggregates with map-side combine.
    """
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens(F.col("text"))).alias("n")
    )
    pos = tok.select(
        "doc_id", "n", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("doc_id").cast("string"), F.col("i").cast("string")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    seeds = pos.filter(h % _SPAN_MOD == 0)
    masked = (
        seeds.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("i"), F.least(F.col("i") + _SPAN_LEN - 1, F.col("n"))
                )
            ).alias("p"),
        )
        .distinct()
    )
    islands = masked.select(
        "doc_id",
        "p",
        (
            F.col("p")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("p"))
        ).alias("grp"),
    )
    per_doc = islands.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_masked"),
        F.count_distinct("grp").alias("n_sentinels"),
    )
    return per_doc.join(tok, "doc_id").agg(
        F.count(F.lit(1)).alias("n_docs_masked"),
        F.sum("n").alias("total_tokens"),
        F.sum("n_masked").alias("masked_tokens"),
        F.round(F.sum("n_masked") * 1.0 / F.sum("n"), 6).alias(
            "corruption_rate"
        ),
        F.sum("n_sentinels").alias("n_sentinels"),
        F.round(F.sum("n_masked") * 1.0 / F.sum("n_sentinels"), 6).alias(
            "avg_span_len"
        ),
    )


# ---------------------------------------------------------------------------
# Character-entropy quality gate
# ---------------------------------------------------------------------------

@query(
    "doc_entropy_filter",
    oracle="""
    WITH ch AS (
      SELECT doc_id, string_split(text, '') AS cs, length(text) AS n
      FROM documents WHERE length(text) > 0
    ), ent AS (
      SELECT doc_id, n,
             ln(n) - list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_sort(list_distinct(cs)),
                 c -> len(list_filter(cs, x -> x = c)) * 1.0
                      * ln(len(list_filter(cs, x -> x = c))))),
               (acc, v) -> acc + v) / n AS h
      FROM ch
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars, round(h, 6) AS entropy,
           (rk_lo <= 10) AS is_low_entropy
    FROM (SELECT *, row_number() OVER (ORDER BY h, doc_id) AS rk_lo,
                 row_number() OVER (ORDER BY h DESC, doc_id) AS rk_hi
          FROM ent)
    WHERE rk_lo <= 10 OR rk_hi <= 10
    ORDER BY entropy, doc_id
    """,
)
def doc_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality gate: per-doc Shannon entropy of the byte
    distribution — the cheap gibberish/boilerplate detector LLM pipelines
    run before heavier scoring (repeated-char spam scores near 0, uniform
    noise near ln|alphabet|) — reporting the 10 lowest- and 10
    highest-entropy documents. Deterministic despite being float math:
    H = ln(n) − Σ c·ln(c)/n folds over counts in SORTED character order —
    a fixed summation order both engines replay, never a shuffle-order
    float sum.

    Scale: entirely per-row JVM higher-order functions (no shuffle until
    the top-k); the two extremes are TakeOrderedAndProject (per-partition
    local top-10 + driver merge of 10×P rows), never a corpus-wide sort —
    at 10^9 docs the shuffle is 10 rows per partition, not the frame.
    """
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    # one O(len) run-length fold over the SORTED char array: each run of
    # equal characters contributes k·ln(k) exactly when it ends, in
    # sorted-char order — the identical float terms in the identical
    # order as the per-distinct-char spelling, but without its
    # O(len·alphabet) size(filter(...)) rescan per distinct character
    # (interpreted lambdas don't CSE; measured ~33 s for 50k docs at 10×
    # data, linear-with-a-40×-constant). The ≤20-row extremes frames
    # reuse the cached 3-column ent.
    ent = (
        d.select("doc_id", F.split("text", "").alias("cs"),
                 F.length("text").cast("bigint").alias("n_chars"))
        .select(
            "doc_id",
            "n_chars",
            F.expr(
                """
                ln(n_chars) - aggregate(
                  array_sort(cs),
                  named_struct('pc', CAST(NULL AS STRING),
                               'run', CAST(0 AS BIGINT),
                               'acc', CAST(0.0 AS DOUBLE)),
                  (s, c) -> CASE
                    WHEN s.pc IS NOT NULL AND c = s.pc THEN
                      named_struct('pc', c, 'run', s.run + 1L, 'acc', s.acc)
                    ELSE named_struct(
                      'pc', c, 'run', 1L,
                      'acc', s.acc + CASE WHEN s.run > 0
                        THEN s.run * 1.0D * ln(s.run) ELSE 0.0D END) END,
                  s -> s.acc + CASE WHEN s.run > 0
                    THEN s.run * 1.0D * ln(s.run) ELSE 0.0D END
                ) / n_chars
                """
            ).alias("h"),
        )
        .cache()
    )
    lo = ent.orderBy("h", "doc_id").limit(10).withColumn("is_low", F.lit(True))
    hi = (
        ent.orderBy(F.desc("h"), "doc_id")
        .limit(10)
        .withColumn("is_low", F.lit(False))
    )
    # A doc in BOTH extremes (corpus ≤ 20) keeps the low-entropy flag,
    # matching the original rk_lo<=10 semantics; the union is ≤ 20 rows.
    return (
        lo.unionByName(hi)
        .groupBy("doc_id", "n_chars", "h")
        .agg(F.max("is_low").alias("is_low_entropy"))
        .select(
            "doc_id",
            "n_chars",
            F.round("h", 6).alias("entropy"),
            "is_low_entropy",
        )
        .orderBy("entropy", "doc_id")
    )


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             {", ".join(f"{_duck_hits(l)} AS h_{l}" for l in sorted(T.STOPWORDS))}
      FROM documents
    ), g AS (
      SELECT lang AS actual, {_duck_lang_guess()} AS guessed FROM h
    )
    SELECT actual, guessed, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN actual = guessed THEN count(*) ELSE 0 END)
                  OVER () * 1000000
                // sum(count(*)) OVER () AS BIGINT) AS overall_accuracy_ppm
    FROM g GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the stopword-profile language classifier:
    (actual, guessed) cell counts plus the overall accuracy in exact ppm
    — the evaluation harness lang_id itself lacks (a classifier op
    without its confusion matrix is half an operator).

    Scale: classification is the same map-only expression as lang_id;
    the matrix is one combinable groupBy on the |langs|² dimension, and
    the accuracy windows run over those few cells.
    """
    d = load(spark, sf_dir, "documents")
    guess = T.lang_guess(T.tokens("text"))
    g = d.select(F.col("lang").alias("actual"), guess.alias("guessed"))
    cells = g.groupBy("actual", "guessed").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    wall = Window.partitionBy()
    return (
        cells.withColumn(
            "_hits", F.sum(
                F.when(F.col("actual") == F.col("guessed"), F.col("n_docs"))
                .otherwise(0)
            ).over(wall),
        )
        .withColumn("_tot", F.sum("n_docs").over(wall))
        # exact integer floor division — the oracle uses `//`, and a
        # truncated double quotient can sit one ulp under an integer
        .withColumn(
            "overall_accuracy_ppm",
            F.expr("CAST(_hits * 1000000 div _tot AS BIGINT)"),
        )
        .drop("_hits", "_tot")
        .orderBy("actual", "guessed")
    )


@query(
    "token_position_bias",
    oracle="""
    WITH t AS (
      SELECT string_split(trim(text), ' ') AS toks FROM documents
    ), pos AS (
      SELECT toks[i + 1] AS word,
             CASE WHEN i * 2 < len(toks) THEN 1 ELSE 0 END AS front
      FROM (SELECT toks, unnest(range(len(toks))) AS i FROM t)
    ), cnt AS (
      SELECT word, CAST(sum(front) AS BIGINT) AS c1,
             CAST(sum(1 - front) AS BIGINT) AS c2
      FROM pos GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c2) AS BIGINT) AS t2
      FROM cnt
    )
    SELECT word, c1 AS front_count, c2 AS back_count,
           CAST(c1 * 1000000 // t1 AS BIGINT) AS front_ppm,
           CAST(c2 * 1000000 // t2 AS BIGINT) AS back_ppm,
           CAST(abs(c1 * t2 - c2 * t1) AS BIGINT) AS bias_cross
    FROM cnt CROSS JOIN tot
    ORDER BY abs(c1 * t2 - c2 * t1) DESC, word LIMIT 10
    """,
)
def token_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional vocabulary bias: does a token prefer the FRONT half of
    documents or the BACK half? (Boilerplate headers/footers show up as
    extreme front/back skew — a curation signal line-dedup alone misses.)
    The skew key |c1·T2 − c2·T1| is a pure int64 cross-product, so the
    top-10 ranking never touches a float.

    Scale: one map-side-combinable groupBy(token) with a position flag
    computed in the explode projection; totals broadcast as a 1-row
    frame; top-10 is a bounded TakeOrdered.
    """
    t = load(spark, sf_dir, "documents").select(
        F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    pos = t.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 1),"
                " i -> struct(toks[i] AS word,"
                " CASE WHEN i * 2 < size(toks) THEN 1 ELSE 0 END AS front))"
            )
        ).alias("p")
    ).select("p.word", "p.front")
    cnt = pos.groupBy("word").agg(
        F.sum("front").cast("bigint").alias("c1"),
        F.sum(1 - F.col("front")).cast("bigint").alias("c2"),
    )
    tot = cnt.agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c2").cast("bigint").alias("t2"),
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "word",
            F.col("c1").alias("front_count"),
            F.col("c2").alias("back_count"),
            F.expr("c1 * 1000000 div t1").cast("bigint").alias("front_ppm"),
            F.expr("c2 * 1000000 div t2").cast("bigint").alias("back_ppm"),
            F.abs(F.col("c1") * F.col("t2") - F.col("c2") * F.col("t1"))
            .cast("bigint")
            .alias("bias_cross"),
        )
        .orderBy(F.desc("bias_cross"), "word")
        .limit(10)
    )
