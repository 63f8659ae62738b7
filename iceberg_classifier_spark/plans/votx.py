"""Social-choice wave 73: Copeland scores and the Condorcet check.

- `copeland_condorcet_check` — over the same ~2.4k daily priority
  ballots as `kemeny_rank_aggregation`: the full pairwise majority
  graph, Copeland scores (wins - losses across the 10 matchups),
  and whether a CONDORCET WINNER exists (beats every rival head to
  head) — when it does, Kemeny/Copeland/majority all agree on the
  top; when it doesn't, the majority relation is cyclic and every
  aggregation rule is a compromise. The quick diagnostic next to
  the exhaustive Kemeny search.

Determinism: pairwise win counts are exact int64; scores and the
winner check are integer algebra with name tie-breaks.

Scale: ONE fact pass to the bounded (day, priority) frame; the
majority graph is 20 cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "copeland_condorcet_check",
    oracle="""
    WITH cell AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(dense_rank() OVER (ORDER BY o_orderpriority)
               AS BIGINT) AS g,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1, o_orderpriority
    ), ranked AS (
      SELECT d, g,
             row_number() OVER (PARTITION BY d
               ORDER BY rev DESC, g) AS r
      FROM cell
    ), duels AS (
      SELECT a.g AS ga, b.g AS gb,
             CAST(sum(CASE WHEN a.r < b.r THEN 1 ELSE 0 END)
               AS BIGINT) AS wins_a,
             CAST(sum(CASE WHEN a.r > b.r THEN 1 ELSE 0 END)
               AS BIGINT) AS wins_b
      FROM ranked a JOIN ranked b ON a.d = b.d AND a.g < b.g
      GROUP BY 1, 2
    ), edges AS (
      SELECT ga AS g, gb AS opp,
             CASE WHEN wins_a > wins_b THEN 1
                  WHEN wins_a < wins_b THEN -1 ELSE 0 END AS res
      FROM duels
      UNION ALL
      SELECT gb, ga,
             CASE WHEN wins_b > wins_a THEN 1
                  WHEN wins_b < wins_a THEN -1 ELSE 0 END
      FROM duels
    ), scores AS (
      SELECT g,
             CAST(sum(CASE WHEN res = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS wins,
             CAST(sum(CASE WHEN res = -1 THEN 1 ELSE 0 END)
               AS BIGINT) AS losses,
             CAST(sum(res) AS BIGINT) AS copeland
      FROM edges GROUP BY g
    ), cw AS (
      SELECT CAST(COALESCE(max(CASE WHEN wins = 4 THEN g END), 0)
               AS BIGINT) AS condorcet_winner,
             CAST(max(CASE WHEN wins = 4 THEN 1 ELSE 0 END)
               AS BOOLEAN) AS has_condorcet_winner
      FROM scores
    )
    SELECT s.g AS priority_rank, s.wins, s.losses, s.copeland,
           c.has_condorcet_winner, c.condorcet_winner
    FROM scores s CROSS JOIN cw c
    ORDER BY priority_rank
    """,
)
def copeland_condorcet_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copeland scores and the Condorcet-winner check over the daily
    priority ballots: every pair duels across ~2.4k days (exact
    majority counts), Copeland = head-to-head wins minus losses,
    and a Condorcet winner exists iff some priority beats all 4
    rivals. Existence means every reasonable rule (including
    `kemeny_rank_aggregation`'s exhaustive optimum) puts it first;
    absence certifies a majority CYCLE — the Condorcet paradox —
    and explains the Borda/Kemeny disagreement observed there. The
    O(k^2) diagnostic beside Kemeny's O(k!) search.

    Determinism: duel counts are exact int64; scores and the winner
    flag are integer algebra.

    Scale: ONE fact pass to the bounded (day, priority) frame; the
    duel join is 10 pairs per day combining map-side to 10 rows.
    """
    o = load(spark, sf_dir, "orders")
    cell = o.groupBy(
        order_day().alias("d"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    ).select(
        "d",
        F.dense_rank().over(Window.orderBy("pri")).cast("bigint").alias("g"),
        "rev",
    )
    ranked = cell.select(
        "d",
        "g",
        F.row_number()
        .over(Window.partitionBy("d").orderBy(F.desc("rev"), "g"))
        .alias("r"),
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    duels = (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d")) & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
        .agg(
            F.sum(F.when(F.col("a.r") < F.col("b.r"), 1).otherwise(0))
            .cast("bigint")
            .alias("wins_a"),
            F.sum(F.when(F.col("a.r") > F.col("b.r"), 1).otherwise(0))
            .cast("bigint")
            .alias("wins_b"),
        )
    )
    res_ab = (
        F.when(F.col("wins_a") > F.col("wins_b"), 1)
        .when(F.col("wins_a") < F.col("wins_b"), -1)
        .otherwise(0)
    )
    res_ba = (
        F.when(F.col("wins_b") > F.col("wins_a"), 1)
        .when(F.col("wins_b") < F.col("wins_a"), -1)
        .otherwise(0)
    )
    edges = duels.select(
        F.col("ga").alias("g"), res_ab.alias("res")
    ).unionByName(
        duels.select(F.col("gb").alias("g"), res_ba.alias("res"))
    )
    scores = edges.groupBy("g").agg(
        F.sum(F.when(F.col("res") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("wins"),
        F.sum(F.when(F.col("res") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("losses"),
        F.sum("res").cast("bigint").alias("copeland"),
    )
    cw = scores.agg(
        F.coalesce(
            F.max(F.when(F.col("wins") == 4, F.col("g"))), F.lit(0)
        )
        .cast("bigint")
        .alias("condorcet_winner"),
        (
            F.max(F.when(F.col("wins") == 4, 1).otherwise(0)) == 1
        ).alias("has_condorcet_winner"),
    )
    return (
        scores.crossJoin(F.broadcast(cw))
        .select(
            F.col("g").alias("priority_rank"),
            "wins",
            "losses",
            "copeland",
            "has_condorcet_winner",
            "condorcet_winner",
        )
        .orderBy("priority_rank")
    )
