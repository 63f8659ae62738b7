"""Query terms drawn from the corpus itself: tokens, frequency-ranked
vocabulary and document frequency.

The retrieval queries derive their query terms from fixed corpus
frequency ranks, ties broken by the word, so both engines build the
identical query set with no hard-coded vocabulary. The vocabulary rank is
a top-k selection: only the first ``max(ranks)`` words of the
``(count desc, word)`` order are kept (TakeOrdered) before any row_number,
never a rank window over the whole vocabulary on one partition. The word
is unique after the count, so that order is total and the bounded ranks
equal the full-vocabulary ranks.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# frequency rank -> query_id: two terms per query, three queries. Ranks
# stay within the testdata's compact vocabulary (~30 distinct tokens).
QUERY_RANKS = {3: 1, 8: 1, 13: 2, 18: 2, 23: 3, 28: 3}


def query_id() -> Column:
    """Column ``query_id``: the query a word of rank ``rk`` belongs to
    under QUERY_RANKS, for rows already filtered to those ranks."""
    by_query: dict[int, list[int]] = {}
    for r, q in sorted(QUERY_RANKS.items()):
        by_query.setdefault(q, []).append(r)
    *head, (last, _) = sorted(by_query.items())
    expr = F
    for q, ranks in head:
        expr = expr.when(F.col("rk").isin(*ranks), q)
    return expr.otherwise(last).alias("query_id")


def word_tokens(docs: DataFrame, *cols: str) -> DataFrame:
    """``(*cols, word)``: one row per space-separated token of ``text``
    (the oracles' ``string_split(trim(text), ' ')``)."""
    return docs.select(
        *cols, F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    )


def ranked_words(toks: DataFrame, ranks: Iterable[int]) -> DataFrame:
    """``(word, c, rk)`` for each requested frequency rank ``rk``: ``c``
    counts the word in ``toks``, and ``rk`` is its row_number in
    ``(c desc, word)`` order. A rank beyond the vocabulary yields no row."""
    ranks = sorted(set(ranks))
    top = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "word")
        .limit(ranks[-1])
        .select(
            "word",
            "c",
            F.row_number().over(Window.orderBy(F.desc("c"), "word")).alias("rk"),
        )
    )
    # every rank up to the limit is wanted: the limit already keeps them
    if ranks == list(range(1, ranks[-1] + 1)):
        return top
    return top.where(F.col("rk").isin(*ranks))


def doc_freq(tf: DataFrame, words: DataFrame) -> DataFrame:
    """``(word, df)``: the number of ``tf`` postings ``(doc_id, word, …)``
    of each word in ``words``, pruned through a broadcast semi-join."""
    return (
        tf.join(F.broadcast(words.select("word")), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
