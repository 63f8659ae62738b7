"""Unit tests for registry.normalize_round_signed_zero — the central
oracle rewrite that wraps every DuckDB ``round(...)`` as
``(round(...) + 0.0)`` so DuckDB's signbit-preserving round matches
Spark's BigDecimal round (which always emits +0.0 for a zero result).

The failure modes this guards: missing a nested round, rewriting a
'round' inside a string literal, touching identifiers that merely end
in 'round' (workaround/background columns), and non-termination or
index drift when several calls share a line."""

import math

import duckdb

from iceberg_classifier_spark.plans.registry import normalize_round_signed_zero


def test_simple_round_wrapped():
    assert (
        normalize_round_signed_zero("SELECT round(x, 6) AS a FROM t")
        == "SELECT (round(x, 6) + 0.0) AS a FROM t"
    )


def test_nested_rounds_both_wrapped():
    r = normalize_round_signed_zero("SELECT round(round(x, 8), 6) FROM t")
    assert r == "SELECT (round((round(x, 8) + 0.0), 6) + 0.0) FROM t"


def test_multiple_calls_one_line():
    r = normalize_round_signed_zero("SELECT round(a, 2), round(b, 3) FROM t")
    assert r == "SELECT (round(a, 2) + 0.0), (round(b, 3) + 0.0) FROM t"


def test_string_literal_untouched():
    s = "SELECT 'round(x, 6)' AS lit, round(y, 1) FROM t"
    r = normalize_round_signed_zero(s)
    assert r == "SELECT 'round(x, 6)' AS lit, (round(y, 1) + 0.0) FROM t"


def test_identifier_suffix_untouched():
    s = "SELECT background(x), t.workaround FROM t"
    assert normalize_round_signed_zero(s) == s


def test_paren_inside_args():
    s = "SELECT round((a + b) / nullif(c, 0), 6) FROM t"
    r = normalize_round_signed_zero(s)
    assert r == "SELECT (round((a + b) / nullif(c, 0), 6) + 0.0) FROM t"


def test_case_insensitive():
    r = normalize_round_signed_zero("SELECT ROUND(x, 2) FROM t")
    assert r == "SELECT (ROUND(x, 2) + 0.0) FROM t"


def test_signed_zero_actually_normalized():
    con = duckdb.connect()
    raw = "SELECT round(CAST(-1e-17 AS DOUBLE), 6) AS g"
    v_raw = con.execute(raw).fetchone()[0]
    v_new = con.execute(normalize_round_signed_zero(raw)).fetchone()[0]
    assert math.copysign(1.0, v_raw) == -1.0  # DuckDB round keeps -0.0
    assert v_new == 0.0 and math.copysign(1.0, v_new) == 1.0


def test_decimal_type_preserved():
    con = duckdb.connect()
    raw = "SELECT round(CAST(1.5 AS DECIMAL(38, 6)), 2) AS g"
    t_raw = con.execute(f"SELECT typeof(g) FROM ({raw})").fetchone()[0]
    t_new = con.execute(
        f"SELECT typeof(g) FROM ({normalize_round_signed_zero(raw)})"
    ).fetchone()[0]
    assert t_raw == t_new == "DECIMAL(38,2)"


def test_escaped_quote_literal_untouched():
    s = "SELECT 'it''s round(x) (' AS s, round(y, 1) FROM t"
    r = normalize_round_signed_zero(s)
    assert r == "SELECT 'it''s round(x) (' AS s, (round(y, 1) + 0.0) FROM t"


def test_unclosed_round_left_as_written():
    s = "SELECT round(x, 2 FROM t"
    assert normalize_round_signed_zero(s) == s
    r = normalize_round_signed_zero("SELECT round(round(x, 2) FROM t")
    assert r == "SELECT round((round(x, 2) + 0.0) FROM t"


def test_qualified_quoted_and_prefixed_names_untouched():
    s = 'SELECT t.round(x), "round"(y), _round(z) FROM t'
    assert normalize_round_signed_zero(s) == s


def test_newline_before_paren():
    r = normalize_round_signed_zero("SELECT round\n(x, 2) FROM t")
    assert r == "SELECT (round\n(x, 2) + 0.0) FROM t"
