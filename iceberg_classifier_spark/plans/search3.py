"""Search wave 3: greedy LM decoding and late-interaction (maxsim)
retrieval.

Greedy decode runs INFERENCE of the corpus bigram LM inside the engine
(the "generate with the model you just trained" step, unrolled);
maxsim is ColBERT's late-interaction scoring — per-query-token maxima
over document token embeddings — here with exact-integer hash
embeddings so the whole retrieval carries a bit-exact oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.terms import ranked_words, word_tokens
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_DECODE_STEPS = 8


def _decode_oracle() -> str:
    steps = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ), uni AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1
    ), seq AS (
      SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
    ), bg AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT unnest(ws[1:len(ws)-1]) AS x, unnest(ws[2:len(ws)]) AS y
        FROM seq
      ) GROUP BY 1, 2
    ), s0 AS (
      SELECT word AS tok, c FROM uni ORDER BY c DESC, word LIMIT 1
    )"""
    for i in range(1, _DECODE_STEPS + 1):
        steps += f""",
    s{i} AS (
      SELECT y AS tok, c FROM bg
      WHERE x = (SELECT tok FROM s{i - 1})
      ORDER BY c DESC, y LIMIT 1
    )"""
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, tok, c AS support FROM s{i}"
        for i in range(_DECODE_STEPS + 1)
    )
    return steps + "\n" + f"SELECT * FROM ({unions}) ORDER BY step"


@query("bigram_greedy_decode", oracle=_decode_oracle())
def bigram_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy decoding from the corpus bigram language model: start at
    the most frequent unigram and take {_DECODE_STEPS} argmax steps
    through the bigram transition table (ties break lexicographically)
    — the inference half of the LM story (kn_bigram_lm/bigram_next_word
    build and smooth the model; this RUNS it), unrolled into a fixed
    chain of bounded argmax probes exactly like a production greedy
    sampler unrolls over steps. Counts are exact ints; every step is a
    deterministic TakeOrdered over the current token's successor set.

    Scale: the bigram table build is one map-side-combined groupBy; each
    decode step probes ONE token's successors (posting-sized, bounded by
    vocabulary) — generation cost is steps × vocab-slice, independent of
    corpus size. Batched decoding (many prompts) turns the scalar probe
    into a broadcast join keyed on each prompt's current token — same
    plan per step.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    )
    uni = toks.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # token array projected BEFORE the bigram transform: referencing the
    # raw split(trim(text)) inside the lambda makes Catalyst re-split the
    # text twice per bigram element (O(tokens²) splits/doc — the measured
    # pathology documented in dedup._shingle_pairs); over an attribute it
    # splits once per row
    pairs = (
        docs.select(F.split(F.trim(F.col("text")), " ").alias("tk"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(tk[i - 1] AS x, tk[i] AS y))"
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
    )
    bg = pairs.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cur = (
        uni.orderBy(F.desc("c"), "word")
        .limit(1)
        .select(F.col("word").alias("tok"), "c")
    )
    frames = [
        cur.select(F.lit(0).alias("step"), "tok", F.col("c").alias("support"))
    ]
    for i in range(1, _DECODE_STEPS + 1):
        nxt = (
            bg.join(
                F.broadcast(cur.select(F.col("tok").alias("cur_tok"))),
                F.col("x") == F.col("cur_tok"),
            )
            .orderBy(F.desc("c"), "y")
            .limit(1)
            .select(F.col("y").alias("tok"), "c")
        )
        frames.append(
            nxt.select(F.lit(i).alias("step"), "tok", F.col("c").alias("support"))
        )
        cur = nxt
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("step")


_MAXSIM_RANKS = (7, 12, 17)  # query terms at fixed corpus frequency ranks
_MAXSIM_DIM = 8
_MAXSIM_TOPK = 15
_HEX = "0123456789abcdef"


def _hashdim_sql(w: str, k: int) -> str:
    return f"(strpos('{_HEX}', substr(md5({w}), {k}, 1)) - 9)"


def _dot_sql(a: str, b: str) -> str:
    return " + ".join(
        f"{_hashdim_sql(a, k)} * {_hashdim_sql(b, k)}"
        for k in range(1, _MAXSIM_DIM + 1)
    )


def _dot_spark_hex(ha: str, hb: str) -> str:
    """Dot product over PRE-COMPUTED md5 hex columns — one md5 per
    token instead of {dim} per pair side (16× fewer hash calls)."""
    digit = "(CAST(conv(substr({h}, {k}, 1), 16, 10) AS BIGINT) - 8)"
    return " + ".join(
        f"{digit.format(h=ha, k=k)} * {digit.format(h=hb, k=k)}"
        for k in range(1, _MAXSIM_DIM + 1)
    )


@query(
    "colbert_maxsim_retrieval",
    headline=True,
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ), dtok AS (
      SELECT DISTINCT doc_id, word FROM toks
    ), ranked AS (
      SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS rk
      FROM toks GROUP BY word
    ), terms AS (
      SELECT word AS qw FROM ranked WHERE rk IN {_MAXSIM_RANKS}
    ), sims AS (
      SELECT d.doc_id, t.qw,
             CAST(max({_dot_sql("d.word", "t.qw")}) AS BIGINT) AS best
      FROM dtok d CROSS JOIN terms t
      GROUP BY 1, 2
    ), scored AS (
      SELECT doc_id,
             CAST(sum(best) AS BIGINT) AS maxsim,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM sims GROUP BY 1
    ), top AS (
      SELECT * FROM scored ORDER BY maxsim DESC, doc_id
      LIMIT {_MAXSIM_TOPK}
    )
    SELECT CAST(row_number() OVER (ORDER BY maxsim DESC, doc_id)
                AS INTEGER) AS rank,
           doc_id, maxsim, n_terms
    FROM top ORDER BY rank
    """,
)
def colbert_maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style) maxsim retrieval: every token
    gets a deterministic {_MAXSIM_DIM}-dim integer hash embedding (md5
    hex digits − 8); a document's score for a query is
    Σ_q max_t ⟨q, t⟩ — each query term matches its BEST document token
    instead of a pooled document vector, the property that makes late
    interaction beat single-vector retrieval on multi-aspect queries.
    Integer embeddings keep every dot product and maxsim score an exact
    int64 → bit-exact oracle for the full retrieval pipeline (the
    learned-embedding version swaps the hash for a model lookup; plan
    unchanged). Terms come from fixed corpus frequency ranks
    {_MAXSIM_RANKS} (the bm25_search convention). On this ~30-word
    synthetic vocabulary most documents contain all three query terms
    exactly, so top scores tie (self-match dominates) and ranks fall
    back to the deterministic doc_id tiebreak — on a natural vocabulary
    the per-term best-match variation is what this scorer surfaces.

    Scale: scoring joins the DISTINCT (doc, token) frame against the
    broadcast 3-term dimension — cost is postings × terms, the same
    envelope as bm25; per-(doc, term) maxima aggregate map-side. A
    full-vocabulary query would first prune dtok by a broadcast
    semi-join on the query's token set, as bm25_search does.
    """
    docs = load(spark, sf_dir, "documents")
    toks = word_tokens(docs, "doc_id")
    # within-doc distinct via array_distinct: the global distinct() on the
    # exploded (doc_id, word) frame shuffled every posting; per-doc
    # distinctness is a row-local property, so this explode needs NO
    # exchange at all (guide §2.4 — remove shuffles outright)
    dtok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), " "))
        ).alias("word"),
    )
    terms = ranked_words(toks, _MAXSIM_RANKS).select(
        F.col("word").alias("qw"),
        F.md5(F.col("word").cast("binary")).alias("hq"),
    )
    # the md5 embedding + {_MAXSIM_DIM}-term dot depend only on (word, qw),
    # never on doc_id — score the VOCABULARY dimension once (|vocab| × 3
    # rows) and broadcast it, instead of evaluating 16 conv(md5) digit
    # parses per (doc, word, qw) posting row (guide §1.2 step 1: don't
    # compute things per big-side row that a small dimension determines)
    wscore = (
        dtok.select("word")
        .distinct()
        .select("word", F.md5(F.col("word").cast("binary")).alias("hd"))
        .crossJoin(F.broadcast(terms))
        .select(
            "word",
            "qw",
            F.expr(_dot_spark_hex("hd", "hq")).alias("s"),
        )
    )
    sims = (
        dtok.join(F.broadcast(wscore), "word")
        .groupBy("doc_id", "qw")
        .agg(F.max("s").cast("bigint").alias("best"))
    )
    scored = sims.groupBy("doc_id").agg(
        F.sum("best").cast("bigint").alias("maxsim"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )
    top = scored.orderBy(F.desc("maxsim"), "doc_id").limit(_MAXSIM_TOPK)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("maxsim"), "doc_id"))
        .cast("int")
        .alias("rank"),
        "doc_id",
        "maxsim",
        "n_terms",
    ).orderBy("rank")
