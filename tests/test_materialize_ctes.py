"""Unit tests for registry.materialize_shared_ctes — the central rewrite
that pins multi-referenced oracle CTEs as MATERIALIZED so DuckDB doesn't
re-inline (and re-run) an expensive frame once per reference.

The failure modes this guards: rewriting a WINDOW-clause definition
(shares the ``name AS (`` surface syntax), rewriting a recursive head
(MATERIALIZED is invalid there), and non-idempotence (the registry
applies it exactly once, but double application must be safe)."""

import duckdb

from iceberg_classifier_spark.plans.registry import materialize_shared_ctes


def test_multi_ref_cte_materialized():
    s = (
        "WITH sh AS (SELECT 1), x AS "
        "(SELECT * FROM sh JOIN sh s2 USING(a)) SELECT * FROM x"
    )
    r = materialize_shared_ctes(s)
    assert "sh AS MATERIALIZED" in r
    assert r.count("MATERIALIZED") == 1


def test_single_ref_cte_untouched():
    s = "WITH a AS (SELECT 1) SELECT * FROM a"
    assert materialize_shared_ctes(s) == s


def test_window_definition_untouched():
    s = (
        "SELECT sum(v) OVER w1, sum(z) OVER w2 FROM t "
        "WINDOW w1 AS (PARTITION BY a), w2 AS (ORDER BY b)"
    )
    assert materialize_shared_ctes(s) == s


def test_window_clause_beside_real_cte():
    s = (
        "WITH t AS (SELECT 1 FROM e), u AS (SELECT * FROM t JOIN t "
        "USING(x)) SELECT sum(v) OVER w FROM u "
        "WINDOW w AS (PARTITION BY p ORDER BY o)"
    )
    r = materialize_shared_ctes(s)
    assert "WINDOW w AS (PARTITION" in r
    assert "t AS MATERIALIZED" in r


def test_recursive_head_skipped():
    s = (
        "WITH RECURSIVE e AS (SELECT 1 UNION SELECT n+1 FROM e WHERE "
        "n<5) SELECT * FROM e JOIN e e2 USING(n)"
    )
    assert materialize_shared_ctes(s) == s


def test_inner_recursive_block_preserved():
    s = (
        "WITH sym AS (SELECT 1 FROM t), walk AS (WITH RECURSIVE "
        "w(node,lbl) AS (SELECT node,node FROM sym UNION SELECT s.dst, "
        "w.lbl FROM w JOIN sym s ON 1=1) SELECT * FROM w) "
        "SELECT * FROM walk JOIN walk v USING(node)"
    )
    r = materialize_shared_ctes(s)
    assert "sym AS MATERIALIZED" in r
    assert "walk AS MATERIALIZED" in r
    assert "w(node,lbl) AS (" in r  # recursive inner def untouched


def test_idempotent():
    s = (
        "WITH sh AS (SELECT 1), x AS "
        "(SELECT * FROM sh JOIN sh s2 USING(a)) SELECT * FROM x"
    )
    r = materialize_shared_ctes(s)
    assert materialize_shared_ctes(r) == r


def test_comment_before_body():
    s = (
        "WITH g AS (\n  -- note\n  SELECT 1 FROM t), h AS "
        "(SELECT * FROM g JOIN g x USING(a)) SELECT * FROM h"
    )
    assert "g AS MATERIALIZED" in materialize_shared_ctes(s)


def test_self_referencing_member_of_recursive_list_skipped():
    # only `mid` may be pinned: `seed` heads the RECURSIVE list and `walk`
    # references itself; the 'mid' literal is no self-reference
    s = (
        "WITH RECURSIVE seed AS (SELECT 1 AS n), "
        "mid AS (SELECT n, 'mid' AS tag FROM seed), "
        "walk AS (SELECT n FROM mid UNION ALL SELECT n + 1 FROM walk "
        "WHERE n < 3) "
        "SELECT count(*) FROM walk JOIN walk w2 USING (n) JOIN mid "
        "USING (n) JOIN seed USING (n)"
    )
    r = materialize_shared_ctes(s)
    assert r == s.replace("mid AS (", "mid AS MATERIALIZED(")
    con = duckdb.connect()
    assert con.execute(r).fetchall() == con.execute(s).fetchall()
