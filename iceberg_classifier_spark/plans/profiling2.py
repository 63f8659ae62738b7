"""Profiling wave 2: schema-discovery audits (FK inference, functional
dependencies) and boolean AND retrieval over the inverted index.

These are the metadata-discovery operators a warehouse runs over unknown
data before anything else: which columns join to which (containment-based
foreign-key inference), which columns determine which (functional-
dependency checks), plus the conjunctive posting-intersection query that
complements bm25_search's ranked retrieval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.terms import ranked_words, word_tokens
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

# (child table, child col, parent table, parent col). Mix of true FKs,
# a contained-but-parent-not-unique pair, and a plain non-join pair so
# the audit's verdict column actually discriminates.
_FK_CANDS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("customer", "c_nationkey", "supplier", "s_nationkey"),
]

_FK_ORACLE = "SELECT * FROM (\n" + "\nUNION ALL\n".join(
    f"""
    SELECT '{ct}.{ck}->{pt}.{pk}' AS candidate,
           nd.n AS n_child_distinct, nm.n AS n_matched,
           nm.n * 1000000 // nd.n AS containment_ppm,
           pu.uq AS parent_unique,
           (nm.n = nd.n AND pu.uq) AS is_fk
    FROM (SELECT CAST(count(DISTINCT {ck}) AS BIGINT) AS n FROM {ct}) nd
    CROSS JOIN (SELECT CAST(count(DISTINCT {ck}) AS BIGINT) AS n
                FROM {ct} WHERE {ck} IN (SELECT {pk} FROM {pt})) nm
    CROSS JOIN (SELECT count(*) = count(DISTINCT {pk}) AS uq FROM {pt}) pu
    """
    for ct, ck, pt, pk in _FK_CANDS
) + "\n) ORDER BY candidate"


@query("fk_inference_audit", oracle=_FK_ORACLE)
def fk_inference_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key inference by inclusion-dependency profiling: for each
    candidate (child column, parent column) pair, measure containment =
    |distinct child values present in parent| / |distinct child values|
    (exact ppm) and whether the parent side is unique; is_fk = full
    containment AND parent uniqueness. This is how schema discovery
    works on lakes of undocumented parquet — the engine proposes join
    edges from the data itself. The candidate set mixes real FKs, a
    contained-but-non-unique pair (nationkey->nationkey), and a
    disjoint-id pair so the verdict column separates all three cases.

    Scale: each candidate is (distinct-project child) + left-semi join
    against (distinct-project parent) — both map-side-combinable
    aggregates; the semi join shuffles only DISTINCT keys, never fact
    rows, and AQE broadcasts the small parent side. The six 1-row
    audit frames union driver-free. At lake scale the candidate list
    comes from column-name/type heuristics; the per-candidate plan is
    unchanged.
    """
    rows = []
    for ct, ck, pt, pk in _FK_CANDS:
        child_keys = load(spark, sf_dir, ct).select(ck).distinct()
        parent = load(spark, sf_dir, pt)
        parent_keys = parent.select(pk).distinct()
        nd = child_keys.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child_distinct")
        )
        nm = child_keys.join(
            parent_keys, F.col(ck) == F.col(pk), "left_semi"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
        pu = parent.agg(
            (F.count(F.lit(1)) == F.count_distinct(F.col(pk))).alias(
                "parent_unique"
            )
        )
        rows.append(
            nd.crossJoin(nm)
            .crossJoin(pu)
            .select(
                F.lit(f"{ct}.{ck}->{pt}.{pk}").alias("candidate"),
                "n_child_distinct",
                "n_matched",
                F.expr("n_matched * 1000000 div n_child_distinct").alias(
                    "containment_ppm"
                ),
                "parent_unique",
                (
                    (F.col("n_matched") == F.col("n_child_distinct"))
                    & F.col("parent_unique")
                ).alias("is_fk"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("candidate")


# (table, lhs columns, rhs column): PK-determined columns that must hold,
# plausible-but-false dependencies that must report violations.
_FDS = [
    ("lineitem", ("l_orderkey", "l_linenumber"), "l_partkey"),
    ("lineitem", ("l_orderkey",), "l_returnflag"),
    ("orders", ("o_orderkey",), "o_orderpriority"),
    ("orders", ("o_custkey",), "o_orderpriority"),
    ("part", ("p_brand",), "p_type"),
    ("documents", ("text",), "lang"),
    ("events", ("user_id",), "event_type"),
]

_FD_ORACLE = "SELECT * FROM (\n" + "\nUNION ALL\n".join(
    f"""
    SELECT '{t}: {",".join(lhs)} -> {rhs}' AS fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
                AS BIGINT) AS violation_ppm,
           (sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0) AS holds
    FROM (SELECT {", ".join(lhs)}, count(DISTINCT {rhs}) AS nd
          FROM {t} GROUP BY {", ".join(lhs)}) g
    """
    for t, lhs, rhs in _FDS
) + "\n) ORDER BY fd"


@query("functional_dependency_audit", oracle=_FD_ORACLE)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each claimed dependency X -> Y,
    count LHS groups where more than one distinct Y appears (violating
    groups, exact ppm) — the data-quality primitive behind key
    discovery, normalization checks, and "is this column derivable"
    questions. The suite mixes PK-backed dependencies that must hold
    with plausible-but-false ones that must report their violation
    rates, so a silent all-true bug cannot pass.

    Scale: each FD is a two-level aggregate — groupBy(X) with
    count(DISTINCT Y) (one shuffle on X, partial aggregation map-side)
    followed by a scalar rollup. Nothing is ever collected per row;
    violation counting composes with approx_count_distinct when exact
    distinctness is not required.
    """
    rows = []
    for t, lhs, rhs in _FDS:
        g = (
            load(spark, sf_dir, t)
            .groupBy(*[F.col(c) for c in lhs])
            .agg(F.count_distinct(F.col(rhs)).alias("nd"))
        )
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        rows.append(
            g.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                viol.cast("bigint").alias("n_violating"),
            ).select(
                F.lit(f"{t}: {','.join(lhs)} -> {rhs}").alias("fd"),
                "n_groups",
                "n_violating",
                F.expr("n_violating * 1000000 div n_groups").alias(
                    "violation_ppm"
                ),
                (F.col("n_violating") == 0).alias("holds"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("fd")


# Conjunctive retrieval: three corpus-derived terms at fixed frequency
# ranks (bm25_search's convention — no hard-coded vocabulary), AND
# semantics, ranked by total term frequency.
_AND_RANKS = (5, 10, 15)
_AND_TOPK = 20


@query(
    "boolean_retrieval_and",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), ranked AS (
      SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS rk
      FROM toks GROUP BY word
    ), terms AS (
      SELECT word FROM ranked WHERE rk IN {_AND_RANKS}
    ), hits AS (
      SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(f.tf) AS BIGINT) AS total_tf
      FROM tf f JOIN terms t ON t.word = f.word
      GROUP BY 1
      HAVING count(*) = {len(_AND_RANKS)}
    )
    SELECT CAST(row_number() OVER (ORDER BY total_tf DESC, doc_id)
                AS INTEGER) AS rank,
           doc_id, total_tf
    FROM hits
    QUALIFY row_number() OVER (ORDER BY total_tf DESC, doc_id)
            <= {_AND_TOPK}
    ORDER BY rank
    """,
)
def boolean_retrieval_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean conjunctive (AND) retrieval: documents containing ALL
    three query terms — posting-list intersection via a count-matching
    group-by, ranked by summed term frequency. The exact-match
    complement to bm25_search's ranked scoring; terms come from fixed
    corpus frequency ranks (5, 10, 15) so both engines derive the
    identical query with no hard-coded vocabulary.

    Scale: the term dimension broadcasts into the postings BEFORE any
    shuffle, so only postings of the three query terms reach the
    intersection group-by (HAVING count = |terms| is the standard
    distributed AND); top-{_AND_TOPK} is a TakeOrdered limit, never a
    global rank, with the row_number applied on the bounded result.
    """
    toks = word_tokens(load(spark, sf_dir, "documents"), "doc_id")
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    terms = ranked_words(toks, _AND_RANKS).select("word")
    hits = (
        tf.join(F.broadcast(terms), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("tf").cast("bigint").alias("total_tf"),
        )
        .where(F.col("n_terms") == len(_AND_RANKS))
    )
    top = hits.orderBy(F.desc("total_tf"), "doc_id").limit(_AND_TOPK)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("total_tf"), "doc_id"))
        .cast("int")
        .alias("rank"),
        "doc_id",
        "total_tf",
    ).orderBy("rank")
