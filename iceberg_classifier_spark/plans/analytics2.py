"""Second analytics batch: clamped running balances (window algebra),
Kaplan-Meier survival curves, a deterministic Poisson-bootstrap CI, and two
ingestion-robustness paths (mergeSchema evolution, corrupt-record routing).

Exactness discipline as everywhere in this repo: integer cents, portable
md5-derived hashes for anything sampled, float formulas evaluated in an
explicit deterministic order on both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import (
    at_risk,
    delay_events,
    km_survival,
)
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import fixture_dir, load

_CENTS_V = "CAST(round(value * 100) AS BIGINT)"
_O_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


def _md5_prefix_sql(expr: str) -> str:
    """DuckDB: first 8 hex digits of md5(expr) as a bigint — identical to
    Spark's ``conv(substr(md5(x), 1, 8), 16, 10)``. An 8-step hex fold
    beats the 32-step char fold the bloom op uses when the hash sits in a
    per-row×replicate hot loop."""
    return f"""list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(generate_series(1, 8),
        i -> CAST(strpos('0123456789abcdef',
                         substr(md5({expr}), CAST(i AS INTEGER), 1)) - 1
             AS BIGINT))),
      (acc, c) -> acc * 16 + c)"""


# ---------------------------------------------------------------------------
# Clamped running balance (prefix-min closed form)
# ---------------------------------------------------------------------------

@query(
    "clamped_running_balance",
    oracle=f"""
    WITH flows AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN {_CENTS_V}
                  ELSE -{_CENTS_V} END AS d
      FROM events WHERE event_type IN ('purchase', 'click')
    ), sums AS (
      SELECT user_id, ts, event_id,
             sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM flows
    ), runs AS (
      SELECT user_id, s, rn,
             min(s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS m
      FROM sums
    ), per_user AS (
      SELECT user_id,
             max(CASE WHEN rn = 1
                      THEN s - least(CAST(0 AS BIGINT), m) END) AS fin,
             CAST(sum(CASE WHEN s <= 0 AND s = m THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_zero_touches,
             count(*) AS n_flows
      FROM runs GROUP BY 1
    )
    SELECT user_id, round(fin / 100.0, 2) AS final_balance,
           n_zero_touches, n_flows
    FROM per_user ORDER BY fin DESC, user_id LIMIT 20
    """,
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance clamped at zero (credits from purchases, debits from
    clicks; an overdrawn balance floors at 0) — the inventory/wallet
    recurrence b_t = max(0, b_{t-1} + d_t) that looks inherently sequential
    but has a two-window closed form: b_n = S_n − min(0, min_{k≤n} S_k)
    (the balance is the prefix sum lifted by the deepest trough). Zero
    touches (clamp events) are the rows where S equals a non-positive
    running minimum. Top-20 final balances, exact cents.

    Scale: per-user windows over one (user) shuffle — the closed form is
    what makes this distributable at all; a naive stateful scan would
    serialize per key. Same trick powers capped counters and
    drawdown-from-peak analytics (flip min to max).
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    flows = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.expr(_CENTS_V))
        .otherwise(-F.expr(_CENTS_V))
        .alias("d"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sums = flows.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("d").over(w).alias("s"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn"),
    )
    runs = sums.select("user_id", "s", "rn", F.min("s").over(w).alias("m"))
    per_user = runs.groupBy("user_id").agg(
        F.max(
            F.when(
                F.col("rn") == 1,
                F.col("s") - F.least(F.lit(0).cast("bigint"), F.col("m")),
            )
        ).alias("fin"),
        F.sum(
            ((F.col("s") <= 0) & (F.col("s") == F.col("m"))).cast("bigint")
        ).alias("n_zero_touches"),
        F.count(F.lit(1)).alias("n_flows"),
    )
    return (
        per_user.select(
            "user_id",
            F.round(F.col("fin") / 100.0, 2).alias("final_balance"),
            "n_zero_touches",
            "n_flows",
        )
        .orderBy(F.desc("final_balance"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (order → ship delay, censored at 60 days)
# ---------------------------------------------------------------------------

@query(
    "kaplan_meier_shipping",
    oracle="""
    WITH dur AS (
      SELECT greatest(0, date_diff('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE))) AS raw
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), obs AS (
      SELECT least(raw, 60) AS t,
             CASE WHEN raw < 60 THEN 1 ELSE 0 END AS ev
      FROM dur
    ), byt AS (
      SELECT t, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) - sum(ev) AS BIGINT) AS c
      FROM obs GROUP BY 1
    ), risk AS (
      SELECT t, d, c,
             CAST(sum(d + c) OVER () -
                  coalesce(sum(d + c) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM byt
    )
    SELECT t, n_risk, d AS d_events, c AS n_censored,
           round(CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                        OVER (ORDER BY t) = 1 THEN 0.0
                 ELSE exp(sum(CASE WHEN d = n_risk THEN 0.0
                              ELSE ln(1 - d * 1.0 / n_risk) END)
                          OVER (ORDER BY t)) END, 6) AS s_t
    FROM risk ORDER BY t
    """,
)
def kaplan_meier_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of order→ship delay with right
    censoring at 60 days ('still unshipped after 60d' = censored) — the
    survival-analysis workhorse for time-to-event questions (churn,
    delivery SLAs, failure times). Reports, per distinct delay day: the
    at-risk count, events, censored count, and Ŝ(t) = Π(1 − dᵤ/nᵤ).

    Determinism: the product runs as exp(Σ ln(·)) inside an ORDER BY t
    cumulative window — a fixed summation order on both engines (never a
    shuffle-order float sum); a day where all at-risk ship (d = n) drops
    the curve to exactly 0 via a flag, not a −inf log.

    Scale: the fact-sized work is one groupBy(delay-day) with map-side
    combine (≤61 groups); the risk-set arithmetic and the curve run on the
    61-row aggregate in a single-partition window — the classic
    'aggregate first, then do the statistics on the tiny summary' shape.
    """
    risk = delay_events(spark, sf_dir).select(
        "t", "d", "c", at_risk(F.col("d") + F.col("c")).alias("n_risk")
    )
    return risk.select(
        "t",
        "n_risk",
        F.col("d").alias("d_events"),
        F.col("c").alias("n_censored"),
        F.round(km_survival(), 6).alias("s_t"),
    ).orderBy("t")


# ---------------------------------------------------------------------------
# Deterministic Poisson-bootstrap confidence interval
# ---------------------------------------------------------------------------

_B = 100
# P(Poisson(1) = k) cumulative thresholds on h ∈ [0, 10000)
_POIS = [(3679, 0), (7358, 1), (9197, 2), (9810, 3), (9963, 4)]


def _pois_case_sql(h: str) -> str:
    branches = " ".join(f"WHEN {h} < {t} THEN {k}" for t, k in _POIS)
    return f"CASE {branches} ELSE 5 END"


@query(
    "bootstrap_ci_poisson",
    oracle=f"""
    WITH x AS (
      SELECT o_orderkey AS k, {_O_CENTS} AS cents,
             {_md5_prefix_sql("CAST(o_orderkey AS VARCHAR)")} AS rh
      FROM orders
    ), reps AS (
      SELECT b, x.cents,
             {_pois_case_sql(
                 "(((((x.rh + b * 2654435761) % 2147483648)"
                 " * ((x.rh + b * 2654435761) % 2147483648)) // 65536)"
                 " % 10000)")} AS w
      FROM x, generate_series(1, {_B}) AS g(b)
    ), means AS (
      SELECT b, sum(w * cents) * 1.0 / sum(w) / 100.0 AS mb
      FROM reps GROUP BY b HAVING sum(w) > 0
    ), ranked AS (
      SELECT mb, row_number() OVER (ORDER BY mb, b) AS r,
             count(*) OVER () AS nb
      FROM means
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM means) AS n_reps,
           (SELECT round(sum(cents) * 1.0 / count(*) / 100.0, 4) FROM x)
             AS point_mean,
           round(max(CASE WHEN r = 5 THEN mb END), 4) AS ci_lo,
           round(max(CASE WHEN r = nb - 4 THEN mb END), 4) AS ci_hi
    FROM ranked
    """,
)
def bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order value via the Poisson
    bootstrap — the distributed-systems formulation (each row draws an
    independent Poisson(1) replication weight per replicate, so resampling
    needs no global n and streams in one pass). The RNG is portable and
    two-stage: ONE md5-prefix seed per row, then a mid-square integer mix
    of (seed, replicate) against exact integer Poisson CDF thresholds —
    both engines draw IDENTICAL resamples and the CI is bit-reproducible:
    [5th, 96th] order statistic of {_B} replicate means. (One crypto hash
    per ROW, not per (row × replicate): at B={_B} the per-pair md5 was the
    dominant CPU cost of the whole op, ~{_B}× more hash work than needed.)

    Scale: one scan fans each row into {_B} (replicate, weight) pairs that
    aggregate with map-side combine into {_B} groups — no resample
    materialization, no shuffle of the fact table; B more replicates =
    linear map work, constant exchange width.
    """
    x = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(_O_CENTS).alias("cents"),
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("rh"),
    )
    reps = (
        x.select(
            "cents",
            F.explode(F.sequence(F.lit(1), F.lit(_B))).alias("b"),
            "rh",
        )
        .withColumn(
            "m1",
            F.expr("(rh + CAST(b AS BIGINT) * 2654435761) % 2147483648"),
        )
        .select(
            "b",
            "cents",
            # mid-square mix: all-integer (m1² < 2^62, no overflow, `div`
            # keeps it exact where float division would lose bits)
            _pois_weight(F.expr("((m1 * m1) div 65536) % 10000")).alias("w"),
        )
    )
    means = (
        reps.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select("b", (F.col("swx") * 1.0 / F.col("sw") / 100.0).alias("mb"))
    )
    ranked = means.select(
        "mb",
        F.row_number().over(Window.orderBy("mb", "b")).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    point = x.agg(
        F.round(F.sum("cents") * 1.0 / F.count(F.lit(1)) / 100.0, 4).alias(
            "point_mean"
        ),
        F.count(F.lit(1)).alias("_n"),
    )
    return ranked.agg(
        F.max("nb").cast("bigint").alias("n_reps"),
        F.round(F.max(F.when(F.col("r") == 5, F.col("mb"))), 4).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("r") == F.col("nb") - 4, F.col("mb"))), 4
        ).alias("ci_hi"),
    ).crossJoin(F.broadcast(point.select("point_mean"))).select(
        "n_reps", "point_mean", "ci_lo", "ci_hi"
    )


def _pois_weight(h):
    """Poisson(1) weight from an integer hash in [0, 10000) via exact CDF
    thresholds (same constants as the SQL oracle)."""
    expr = F.lit(5)
    for t, k in reversed(_POIS):
        expr = F.when(h < t, k).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Schema-evolution read (mergeSchema over mixed-version parquet)
# ---------------------------------------------------------------------------

@query(
    "schema_evolution_read",
    oracle=f"""
    WITH unioned AS (
      SELECT {_O_CENTS} AS cents, CAST(NULL AS BIGINT) AS channel
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT {_O_CENTS}, o_orderkey % 3 FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT coalesce(channel, -1) AS channel, count(*) AS n,
           round(sum(cents) / 100.0, 2) AS total
    FROM unioned GROUP BY 1 ORDER BY channel
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a v1 parquet file written without the
    `channel` column and a v2 file written with it live in one table
    directory; `mergeSchema` reconciles them into a single frame where v1
    rows carry NULL — the standard additive-column migration path that
    avoids rewriting history. The aggregate accounts every row by channel
    (−1 = pre-migration rows), proving no rows were lost or misread.

    Scale: mergeSchema unions footer schemas at planning time (cost scales
    with file count, not data); reads stay columnar with per-file
    projection. In production the merged schema would be pinned in a
    catalog; the read path exercised here is the same.
    """
    def build(stage: str) -> None:
        o = load(spark, sf_dir, "orders")
        v1 = o.filter(F.expr("o_orderkey % 2 = 0")).select(
            F.expr(_O_CENTS).alias("cents")
        )
        v2 = o.filter(F.expr("o_orderkey % 2 = 1")).select(
            F.expr(_O_CENTS).alias("cents"),
            (F.col("o_orderkey") % 3).alias("channel"),
        )
        v1.write.mode("overwrite").parquet(os.path.join(stage, "v1"))
        v2.write.mode("overwrite").parquet(os.path.join(stage, "v2"))

    stage = fixture_dir(sf_dir, "schema_evo", "orders", build)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(stage, "v1"), os.path.join(stage, "v2")
    )
    return (
        merged.groupBy(F.coalesce("channel", F.lit(-1)).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("cents") / 100.0, 2).alias("total"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Corrupt-record routing (PERMISSIVE ingest + dead-letter accounting)
# ---------------------------------------------------------------------------

@query(
    "corrupt_record_routing",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT)
             AS n_good,
           CAST(count(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT)
             AS n_corrupt,
           CAST(sum(n_chars) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT)
             AS chars_good,
           CAST(count(DISTINCT lang) FILTER (WHERE doc_id % 7 <> 0)
                AS BIGINT) AS n_langs
    FROM documents
    """,
)
def corrupt_record_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter ingestion: a JSONL feed where every 7th record is
    malformed (truncated mid-object) is read in PERMISSIVE mode with a
    `_corrupt_record` column; bad lines route to the dead-letter side with
    the raw payload preserved, good lines parse into typed columns — the
    ingest-never-crashes pattern every production feed needs. The single
    output row reconciles both sides against the source exactly.

    Scale: PERMISSIVE parsing is per-row and map-only — corrupt rows cost
    no retries and fail no tasks; the DLQ side would be written out
    partitioned by arrival date for replay. DROPMALFORMED/FAILFAST are the
    same reader one option away. The feed itself is staged DISTRIBUTED
    (per-partition text write with the corruption injected column-side) —
    never a driver-side collect, which would OOM the driver at 100× data.
    """
    def build(stage: str) -> None:
        line = F.when(
            F.col("doc_id") % 7 == 0,
            F.format_string('{"doc_id": %d, "lang": ', F.col("doc_id")),
        ).otherwise(
            F.to_json(F.struct("doc_id", "lang", "n_chars"))
        )  # every 7th record truncated mid-object
        (
            load(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars")
            .select(line.alias("value"))
            .write.mode("overwrite")
            .text(os.path.join(stage, "feed"))
        )

    stage = fixture_dir(sf_dir, "dlq_jsonl", "documents", build)
    feed_dir = os.path.join(stage, "feed")
    feed = (
        spark.read.schema(
            "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(feed_dir)
    )
    good = F.col("_corrupt_record").isNull()
    return feed.agg(
        F.sum(good.cast("bigint")).alias("n_good"),
        F.sum((~good).cast("bigint")).alias("n_corrupt"),
        F.sum(F.when(good, F.col("n_chars"))).alias("chars_good"),
        F.count_distinct(F.when(good, F.col("lang"))).alias("n_langs"),
    )
