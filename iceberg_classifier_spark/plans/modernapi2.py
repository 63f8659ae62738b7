"""Modern Spark 4 API surface, wave 2: native XML source/sink, recursive
CTEs (SPARK-24497), collation-aware string semantics, SQL session
variables, and LATERAL correlated subqueries — each exercised through a
real analytic question with a DuckDB value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import fixture_dir, load


@query(
    "xml_roundtrip",
    oracle="""
    SELECT o_orderpriority AS priority, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source/sink round-trip (Spark 4 ships spark-xml
    built-in): orders exported as a distributed multi-part XML directory
    (one <order> element per row) and read back with an EXPLICIT schema +
    rowTag — then aggregated, with the oracle running the same aggregate
    on the original parquet, proving the markup round-trip is lossless
    (cents-exact sums).

    Scale: the write is partition-parallel like any file sink; the read
    is a distributed scan with schema projection. XML carries ~3× the
    bytes of CSV — the op exists for interop coverage, not as the
    recommended interchange format.
    """
    def build(path: str) -> None:
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        (
            o.write.mode("overwrite")
            .format("xml")
            .option("rootTag", "orders")
            .option("rowTag", "order")
            .save(path)
        )

    path = fixture_dir(sf_dir, "xml_demo", "orders", build)
    r = (
        spark.read.schema(
            "o_orderkey bigint, o_orderpriority string, o_totalprice double"
        )
        .format("xml")
        .option("rowTag", "order")
        .load(path)
    )
    return (
        r.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                / 100.0,
                2,
            ).alias("total_price"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
        .orderBy("priority")
    )


_EDGES_SQL = """
    SELECT src, dst FROM (
      SELECT src, dst, n_li,
             count(*) OVER () AS n_pairs, sum(n_li) OVER () AS total
      FROM (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               count(*) AS n_li
        FROM {c} c
        JOIN {o} o ON c.c_custkey = o.o_custkey
        JOIN {l} l ON o.o_orderkey = l.l_orderkey
        JOIN {s} s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
      )
    ) WHERE n_li * n_pairs > total
"""


@query(
    "recursive_cte_reachability",
    oracle=f"""
    WITH RECURSIVE edges AS (
      {_EDGES_SQL.format(c="customer", o="orders", l="lineitem", s="supplier")}
    ), reach(dst, hops) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT CAST(e.dst AS BIGINT), r.hops + 1
      FROM reach r JOIN edges e ON e.src = r.dst
      WHERE r.hops < 3
    )
    SELECT dst AS nation, CAST(min(hops) AS BIGINT) AS min_hops
    FROM reach GROUP BY 1 ORDER BY 1
    """,
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive reachability through the heavy-edge trade graph via a
    native RECURSIVE CTE (Spark 4, SPARK-24497): nations reachable from
    nation 0 in at most 3 hops, with the minimum hop count — the same
    question graph_shortest_hops answers with a hand-rolled
    level-synchronous loop, now expressed declaratively so Catalyst owns
    the iteration. The hop bound caps the recursion on this cyclic graph.

    Scale: each recursive step is an equi-join of the frontier against
    the broadcast-sized nation edge list; the fact tables are touched
    once to build the edges (the same collapsed star join the motif ops
    use).
    """
    for name, tbl in (
        ("rec_customer", "customer"),
        ("rec_orders", "orders"),
        ("rec_lineitem", "lineitem"),
        ("rec_supplier", "supplier"),
    ):
        load(spark, sf_dir, tbl).createOrReplaceTempView(name)
    edges = _EDGES_SQL.format(
        c="rec_customer", o="rec_orders", l="rec_lineitem", s="rec_supplier"
    )
    return spark.sql(
        f"""
        WITH RECURSIVE edges AS (
          {edges}
        ), reach(dst, hops) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT CAST(e.dst AS BIGINT), r.hops + 1
          FROM reach r JOIN edges e ON e.src = r.dst
          WHERE r.hops < 3
        )
        SELECT dst AS nation, CAST(min(hops) AS BIGINT) AS min_hops
        FROM reach GROUP BY 1 ORDER BY 1
        """
    )


@query(
    "collation_ci_vocab",
    oracle="""
    WITH w AS (
      SELECT source,
             CASE WHEN doc_id % 2 = 0 THEN upper(word) ELSE word END AS cased
      FROM (SELECT doc_id, source,
                   unnest(string_split(trim(text), ' ')) AS word
            FROM documents)
    )
    SELECT source,
           CAST(count(DISTINCT cased) AS BIGINT) AS n_distinct_binary,
           CAST(count(DISTINCT lower(cased)) AS BIGINT) AS n_distinct_ci,
           CAST((count(DISTINCT cased) - count(DISTINCT lower(cased)))
                * 1000000 // count(DISTINCT cased) AS BIGINT)
             AS case_dup_ppm
    FROM w GROUP BY 1 ORDER BY 1
    """,
)
def collation_ci_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware vocabulary counting (Spark 4 collations): tokens
    are deterministically case-mangled (upper-cased in even documents to
    simulate a mixed-case crawl), then the per-source vocabulary is
    counted twice — under binary semantics and under the UTF8_LCASE
    collation — quantifying how much of the vocabulary is mere case
    variation. The collation path exercises the engine's native
    case-insensitive equality (not a lower() rewrite); the oracle proves
    it equivalent to the lower() folding.

    Scale: map-side explode + one combinable distinct-count pass per
    semantics; output is |sources| rows.
    """
    w = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("word"),
        )
        .select(
            "source",
            F.when(F.col("doc_id") % 2 == 0, F.upper("word"))
            .otherwise(F.col("word"))
            .alias("cased"),
        )
    )
    return (
        w.groupBy("source")
        .agg(
            F.count_distinct("cased").cast("bigint").alias("n_distinct_binary"),
            F.expr("count(DISTINCT collate(cased, 'UTF8_LCASE'))")
            .cast("bigint")
            .alias("n_distinct_ci"),
            F.expr(
                "(count(DISTINCT cased)"
                " - count(DISTINCT collate(cased, 'UTF8_LCASE')))"
                " * 1000000 div count(DISTINCT cased)"
            )
            .cast("bigint")
            .alias("case_dup_ppm"),
        )
        .orderBy("source")
    )


@query(
    "sql_variable_threshold_report",
    oracle="""
    WITH thr AS (
      SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
             // count(*) AS t
      FROM orders
    )
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_above,
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS min_cents_above,
           CAST(any_value(thr.t) AS BIGINT) AS threshold_cents
    FROM orders CROSS JOIN thr
    WHERE CAST(round(o_totalprice * 100) AS BIGINT) > thr.t
    GROUP BY 1 ORDER BY 1
    """,
)
def sql_variable_threshold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE/SET VARIABLE): the mean
    order value (exact integer-cents floor division) is computed once
    into a session variable, then a report of above-threshold orders per
    status references the variable — the parameterized-query pattern
    dashboards and procedures use, with the parameter living in the
    session instead of string interpolation.

    Scale: the threshold is one combinable aggregate; the report is one
    scan + combinable agg with the variable inlined as a literal by the
    parser (no join, not even a broadcast).
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("var_orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE graft_thresh BIGINT DEFAULT 0"
    )
    spark.sql(
        """
        SET VARIABLE graft_thresh =
          (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT)) div count(*)
           FROM var_orders)
        """
    )
    return spark.sql(
        """
        SELECT o_orderstatus AS status,
               CAST(count(*) AS BIGINT) AS n_above,
               CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS min_cents_above,
               graft_thresh AS threshold_cents
        FROM var_orders
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) > graft_thresh
        GROUP BY o_orderstatus, graft_thresh ORDER BY status
        """
    )


@query(
    "lateral_topk_customers",
    oracle="""
    SELECT n_name AS nation, c_name AS customer,
           CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY round(c_acctbal * 100) DESC, c_name LIMIT 2
    )
    ORDER BY nation, acct_cents DESC, customer
    """,
)
def lateral_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (Spark 3.4+ SQL): for every nation,
    its top-2 customers by account balance, written as the per-row
    subquery a SQL author reaches for — Catalyst decorrelates it into the
    same window/join plan the DataFrame formulation would build, which is
    the point: declarative top-k-per-group survives optimization.

    Scale: decorrelation means NO nested re-execution per nation row —
    the plan is one partitioned rank over customer (single shuffle on
    nationkey), identical to grouped_topk_parts' shape.
    """
    load(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n_name AS nation, c_name AS customer,
               CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents
        FROM lat_nation n, LATERAL (
          SELECT c_name, c_acctbal FROM lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY round(c_acctbal * 100) DESC, c_name LIMIT 2
        )
        ORDER BY nation, acct_cents DESC, customer
        """
    )


@query(
    "sql_pipe_syntax_report",
    oracle="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS gross_cents,
           CAST(sum(l_quantity) AS BIGINT) AS total_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def sql_pipe_syntax_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, SPARK-49555): the scan-filter-aggregate-
    order pipeline written as chained |> stages — SQL that reads in
    execution order like a DataFrame chain. Catalyst compiles it to the
    identical plan as the nested form (the oracle is that nested form),
    which is the point: the new surface is sugar over the same optimizer.

    Scale: same pushed-filter scan + map-side-combinable agg as any
    grouped report; the syntax changes nothing physical.
    """
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("pipe_lineitem")
    return spark.sql(
        """
        FROM pipe_lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS gross_cents,
             CAST(sum(l_quantity) AS BIGINT) AS total_qty
           GROUP BY l_returnflag AS returnflag, l_linestatus AS linestatus
        |> SELECT returnflag, linestatus, n_items, gross_cents, total_qty
        |> ORDER BY returnflag, linestatus
        """
    )


_PQ_MIN_CENTS = 25_000_000
_PQ_SINCE = "1999-01-01"


@query(
    "parameterized_sql_report",
    oracle=f"""
    SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS max_cents
    FROM orders
    WHERE CAST(round(o_totalprice * 100) AS BIGINT) > {_PQ_MIN_CENTS}
      AND o_orderdate >= TIMESTAMP '{_PQ_SINCE}'
    GROUP BY 1 ORDER BY 1
    """,
)
def parameterized_sql_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args=...), Spark 3.4+): the
    big-recent-orders report takes its threshold and cutoff date as BOUND
    PARAMETERS (:min_cents, :since) instead of string interpolation — the
    injection-safe parameterization surface an SQL gateway exposes.
    Binding happens in the parser, so the optimized plan is identical to
    the literal form (which is what the oracle runs).

    Scale: parameters become literals before optimization — pushdown and
    partition pruning see them exactly as constants.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("param_orders")
    return spark.sql(
        """
        SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS max_cents
        FROM param_orders
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) > :min_cents
          AND o_orderdate >= CAST(:since AS TIMESTAMP)
        GROUP BY o_orderstatus ORDER BY status
        """,
        args={"min_cents": _PQ_MIN_CENTS, "since": _PQ_SINCE},
    )
