"""Matching/scheduling wave 58: Gale-Shapley stable matching and
SJF-vs-FCFS flow-time comparison.

- `gale_shapley_assignment` — deferred-acceptance stable matching of
  the 5 customer segments (proposers) to the 5 order priorities
  (acceptors), preferences on both sides derived from the exact
  segment x priority revenue matrix; the proposal loop folds
  order-pinned (10 round-robin rounds), and the result carries an
  IN-QUERY STABILITY CERTIFICATE: the count of blocking pairs,
  which a correct run must report as 0.
- `sjf_vs_fcfs_flowtime` — mean flow time of the 40 largest daily
  workloads under shortest-job-first vs first-come-first-served on
  one machine (all released together): prefix-sum completion times
  under both orders, plus the SJF improvement ratio — the classic
  scheduling-theory identity, exactly evaluated.

Determinism: preference matrices and job sizes are exact int64;
ranks tie-break lexicographically; the GS fold is the identical
expression template both engines execute; flow times are exact
integer prefix sums.

Scale: both ops reduce the fact table to bounded frames in ONE pass
(25 revenue cells / 40 jobs); the GS fold walks 50 fixed elements;
the stability audit joins the 25-cell preference frame against the
5-row matching.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_GS_N = 5
_GS_ROUNDS = 10


def _gs_step(a_fmt: str, b_fmt: str) -> str:
    """Shared Gale-Shapley fold body. Accumulator (15 slots):
    [held_rank_1..5 (99 = free), held_proposer_1..5 (0 = none),
    proposals_made_1..5]. Element (11 slots): [proposer s,
    pref_1..5 (acceptor ids, best first), rank_by_acceptor_1..5
    (this proposer's rank in acceptor j's list)]. An unmatched
    proposer with list remaining proposes to his next choice; the
    acceptor trades up iff the newcomer ranks strictly better than
    her current hold.
    """
    def a(i: int) -> str:
        return a_fmt.format(i=i)

    def b(i: int) -> str:
        return b_fmt.format(i=i)

    s = b(1)
    matched = " OR ".join(f"{a(5 + j)} = {s}" for j in range(1, _GS_N + 1))
    k = (
        f"(CASE {s} "
        + " ".join(
            f"WHEN {i} THEN {a(10 + i)}" for i in range(1, _GS_N + 1)
        )
        + " ELSE 99.0 END)"
    )
    t = (
        f"(CASE {k} "
        + " ".join(f"WHEN {i - 1} THEN {b(1 + i)}" for i in range(1, _GS_N + 1))
        + " ELSE 0.0 END)"
    )
    nr = (
        f"(CASE {t} "
        + " ".join(f"WHEN {i} THEN {b(6 + i)}" for i in range(1, _GS_N + 1))
        + " ELSE 99.0 END)"
    )
    hr = (
        f"(CASE {t} "
        + " ".join(f"WHEN {i} THEN {a(i)}" for i in range(1, _GS_N + 1))
        + " ELSE -1.0 END)"
    )
    propose = f"(NOT ({matched})) AND {k} <= {_GS_N - 1}"
    accept = f"({propose}) AND {nr} < {hr}"
    slots = []
    for j in range(1, _GS_N + 1):
        slots.append(
            f"CASE WHEN ({accept}) AND {t} = {j} THEN {nr} ELSE {a(j)} END"
        )
    for j in range(1, _GS_N + 1):
        slots.append(
            f"CASE WHEN ({accept}) AND {t} = {j} THEN {s}"
            f" ELSE {a(5 + j)} END"
        )
    for i in range(1, _GS_N + 1):
        slots.append(
            f"CASE WHEN ({propose}) AND {s} = {i}"
            f" THEN {a(10 + i)} + 1 ELSE {a(10 + i)} END"
        )
    return ", ".join(slots)


_GS_DUCK = _gs_step("a[{i}]", "b[{i}]")
_GS_SPARK = _gs_step("element_at(a, {i})", "element_at(x, {i})")


@query(
    "gale_shapley_assignment",
    oracle=f"""
    WITH cells AS MATERIALIZED (
      SELECT CAST(dense_rank() OVER (ORDER BY seg) AS BIGINT) AS s,
             CAST(dense_rank() OVER (ORDER BY pri) AS BIGINT) AS p,
             rev
      FROM (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
               CAST(sum(CAST(round(o.o_totalprice) AS BIGINT))
                 AS BIGINT) AS rev
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
      )
    ), sprefs AS MATERIALIZED (
      SELECT s, list(CAST(p AS DOUBLE) ORDER BY rev DESC, p) AS prefs
      FROM cells GROUP BY s
    ), aranks AS MATERIALIZED (
      SELECT s, p,
             CAST(row_number() OVER (PARTITION BY p
               ORDER BY rev DESC, s) AS DOUBLE) AS rnk
      FROM cells
    ), srnks AS MATERIALIZED (
      SELECT s, list(rnk ORDER BY p) AS rnks FROM aranks GROUP BY s
    ), elements AS (
      SELECT r.r, sp.s,
             list_concat(list_concat([CAST(sp.s AS DOUBLE)], sp.prefs),
                         sr.rnks) AS el
      FROM sprefs sp JOIN srnks sr ON sr.s = sp.s
      CROSS JOIN (SELECT unnest(generate_series(1, {_GS_ROUNDS}))
                  AS r) r
    ), folded AS (
      SELECT list_reduce(
               list_prepend(
                 [99.0, 99.0, 99.0, 99.0, 99.0,
                  0.0, 0.0, 0.0, 0.0, 0.0,
                  0.0, 0.0, 0.0, 0.0, 0.0],
                 list(el ORDER BY r, s)),
               (a, b) -> [{_GS_DUCK}]) AS acc
      FROM elements
    ), matching AS MATERIALIZED (
      SELECT j AS p, CAST(acc[5 + j] AS BIGINT) AS s,
             CAST(acc[j] AS BIGINT) AS acceptor_rank,
             CAST(acc[11] + acc[12] + acc[13] + acc[14] + acc[15]
               AS BIGINT) AS total_proposals
      FROM folded CROSS JOIN (
        SELECT unnest(generate_series(1, {_GS_N})) AS j)
    ), sranks AS (
      SELECT s, p,
             CAST(row_number() OVER (PARTITION BY s
               ORDER BY rev DESC, p) AS BIGINT) AS srnk
      FROM cells
    ), blocking AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocking FROM (
        SELECT sr.s, sr.p
        FROM sranks sr
        JOIN (SELECT m.s, sr2.srnk AS match_srnk
              FROM matching m JOIN sranks sr2
                ON sr2.s = m.s AND sr2.p = m.p) ms ON ms.s = sr.s
        JOIN aranks ar ON ar.s = sr.s AND ar.p = sr.p
        JOIN matching mp ON mp.p = sr.p
        WHERE sr.srnk < ms.match_srnk
          AND ar.rnk < mp.acceptor_rank
      )
    )
    SELECT m.p AS priority_rank, m.s AS segment_rank,
           m.acceptor_rank, m.total_proposals,
           b.n_blocking AS blocking_pairs
    FROM matching m CROSS JOIN blocking b
    ORDER BY priority_rank
    """,
)
def gale_shapley_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gale-Shapley deferred acceptance matching the 5 customer
    segments (proposers) to the 5 order priorities (acceptors), both
    sides ranking counterparts by exact pairwise revenue: unmatched
    proposers work down their lists, acceptors trade up, and the
    fold runs {_GS_ROUNDS} round-robin rounds (>= the n^2 proposal
    bound for n={_GS_N}). The output carries the in-query STABILITY
    CERTIFICATE — the exhaustive blocking-pair count over all 25
    pairs, which must be 0 for a correct run — plus the total
    proposal count (the algorithm's work measure). The
    combinatorial-assignment complement of `sinkhorn_transport_plan`
    (fractional coupling) and `second_price_auction_clearing`
    (price-based allocation).

    Determinism: preference matrices are exact int64 revenue ranks
    with lexicographic tie-breaks; the fold is the identical
    expression template both engines execute over the same
    (round, proposer)-pinned 50-element list.

    Scale: ONE fact pass to the 25-cell revenue matrix; preferences,
    the 50-step fold, and the stability audit all run on that
    bounded frame — matching markets with large sides would block
    by market segment first (the standard sharded-matching design).
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cells = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
        .select(
            F.dense_rank().over(Window.orderBy("seg")).cast("bigint").alias("s"),
            F.dense_rank().over(Window.orderBy("pri")).cast("bigint").alias("p"),
            "rev",
        )
        .cache()
    )
    sprefs = (
        cells.groupBy("s")
        .agg(
            F.expr(
                "transform(array_sort(collect_list("
                "  struct((-rev) AS nr, p AS p))),"
                " x -> CAST(x.p AS DOUBLE))"
            ).alias("prefs")
        )
    )
    aranks = cells.select(
        "s",
        "p",
        F.row_number()
        .over(Window.partitionBy("p").orderBy(F.desc("rev"), "s"))
        .cast("double")
        .alias("rnk"),
    ).cache()
    srnks = aranks.groupBy("s").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(p AS p, rnk AS rnk))),"
            " x -> x.rnk)"
        ).alias("rnks")
    )
    rounds = spark.range(1, _GS_ROUNDS + 1).select(F.col("id").alias("r"))
    elements = (
        sprefs.join(srnks, "s")
        .crossJoin(F.broadcast(rounds))
        .select(
            "r",
            "s",
            F.expr(
                "concat(array(CAST(s AS DOUBLE)), prefs, rnks)"
            ).alias("el"),
        )
    )
    init = "array(" + ", ".join(
        ["99D"] * _GS_N + ["0D"] * _GS_N + ["0D"] * _GS_N
    ) + ")"
    folded = elements.agg(
        F.expr(
            "aggregate("
            " transform(array_sort(collect_list("
            "   struct(r AS r, s AS s, el AS el))), q -> q.el),"
            f" {init},"
            f" (a, x) -> array({_GS_SPARK}))"
        ).alias("acc")
    )
    js = spark.range(1, _GS_N + 1).select(F.col("id").alias("p"))
    matching = folded.crossJoin(F.broadcast(js)).select(
        "p",
        F.expr("CAST(element_at(acc, CAST(5 + p AS INT)) AS BIGINT)").alias(
            "s"
        ),
        F.expr("CAST(element_at(acc, CAST(p AS INT)) AS BIGINT)").alias(
            "acceptor_rank"
        ),
        F.expr(
            "CAST(element_at(acc, 11) + element_at(acc, 12)"
            " + element_at(acc, 13) + element_at(acc, 14)"
            " + element_at(acc, 15) AS BIGINT)"
        ).alias("total_proposals"),
    ).cache()
    sranks = cells.select(
        "s",
        "p",
        F.row_number()
        .over(Window.partitionBy("s").orderBy(F.desc("rev"), "p"))
        .cast("bigint")
        .alias("srnk"),
    ).cache()
    ms = matching.join(
        sranks.withColumnRenamed("srnk", "match_srnk"), ["s", "p"]
    ).select("s", "match_srnk")
    blocking = (
        sranks.join(F.broadcast(ms), "s")
        .join(
            F.broadcast(
                aranks.select(
                    "s", "p", F.col("rnk").cast("bigint").alias("arnk")
                )
            ),
            ["s", "p"],
        )
        .join(
            F.broadcast(
                matching.select(
                    "p", F.col("acceptor_rank").alias("held_rank")
                )
            ),
            "p",
        )
        .where(
            (F.col("srnk") < F.col("match_srnk"))
            & (F.col("arnk") < F.col("held_rank"))
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_blocking"))
    )
    return (
        matching.crossJoin(F.broadcast(blocking))
        .select(
            F.col("p").alias("priority_rank"),
            F.col("s").alias("segment_rank"),
            "acceptor_rank",
            "total_proposals",
            F.col("n_blocking").alias("blocking_pairs"),
        )
        .orderBy("priority_rank")
    )


_SJF_JOBS = 40


@query(
    "sjf_vs_fcfs_flowtime",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS sz
      FROM orders GROUP BY 1
    ), jobs AS (
      SELECT d, sz FROM daily ORDER BY d LIMIT {_SJF_JOBS}
    ), fcfs AS (
      SELECT CAST(sum(c) AS BIGINT) AS tot FROM (
        SELECT sum(sz) OVER (ORDER BY d) AS c FROM jobs)
    ), sjf AS (
      SELECT CAST(sum(c) AS BIGINT) AS tot FROM (
        SELECT sum(sz) OVER (ORDER BY sz, d) AS c FROM jobs)
    )
    SELECT CAST({_SJF_JOBS} AS BIGINT) AS n_jobs,
           round(f.tot * 1.0 / {_SJF_JOBS}, 6) AS mean_flow_fcfs_k,
           round(s.tot * 1.0 / {_SJF_JOBS}, 6) AS mean_flow_sjf_k,
           round(s.tot * 1.0 / f.tot, 6) AS sjf_improvement_ratio
    FROM fcfs f CROSS JOIN sjf s
    """,
)
def sjf_vs_fcfs_flowtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-machine scheduling comparison over the first
    {_SJF_JOBS} daily workloads (all released at time zero): mean
    flow (completion) time under first-come-first-served vs
    shortest-job-first. SJF provably minimizes total flow time —
    the ratio quantifies what size-ordering buys, the core argument
    behind size-aware query/compaction scheduling. Completion times
    under each discipline are prefix sums in the respective order.
    The analytical companion of `ffd_bin_packing_replay` (space)
    and `lindley_queue_replay` (arrival dynamics).

    Determinism: job sizes are exact int64; both totals are exact
    integer prefix sums over pinned orders.

    Scale: ONE fact pass to the calendar frame, a bounded job
    prefix, and two ordered windows over {_SJF_JOBS} rows.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
            " AS DOUBLE) / 1000.0) AS BIGINT)"
        ).alias("sz")
    )
    jobs = daily.orderBy("d").limit(_SJF_JOBS).cache()
    fcfs = jobs.select(
        F.sum("sz").over(Window.orderBy("d")).alias("c")
    ).agg(F.sum("c").cast("bigint").alias("tot_f"))
    sjf = jobs.select(
        F.sum("sz").over(Window.orderBy("sz", "d")).alias("c")
    ).agg(F.sum("c").cast("bigint").alias("tot_s"))
    return fcfs.crossJoin(F.broadcast(sjf)).select(
        F.lit(_SJF_JOBS).cast("bigint").alias("n_jobs"),
        F.round(F.col("tot_f") * 1.0 / _SJF_JOBS, 6).alias(
            "mean_flow_fcfs_k"
        ),
        F.round(F.col("tot_s") * 1.0 / _SJF_JOBS, 6).alias(
            "mean_flow_sjf_k"
        ),
        F.round(F.col("tot_s") * 1.0 / F.col("tot_f"), 6).alias(
            "sjf_improvement_ratio"
        ),
    )
