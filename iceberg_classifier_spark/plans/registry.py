"""Query registry — single source of truth for the driver contract.

Each entry pairs a Spark DataFrame builder ``fn(spark, sf_dir) -> DataFrame``
with an optional DuckDB-runnable ANSI-SQL oracle string. ``__spark_entry__``
exposes these via ``queries()`` / ``oracle_sql()``. Output column names are
aliased identically on both sides (the driver sorts columns by name before
value-hashing); float outputs are rounded at the query edge so both engines
hash identically. Oracles are stored as written and get two DuckDB rewrites
(``materialize_shared_ctes``, ``normalize_round_signed_zero``) applied once,
on first read of ``QueryDef.oracle``, so importing the registry costs no
oracle rewriting.

A plan module registers its queries with ``@query`` just by being in this
package: ``load_all_queries()`` finds every name with one regex scan of the
package's sources and imports a plan module only when one of its queries is
looked up, or when the registry is iterated, which imports them all.
"""

from __future__ import annotations

import glob
import importlib
import os
import re
from collections import Counter
from collections.abc import Callable, Mapping
from dataclasses import dataclass
from functools import cache

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    fn: QueryFn
    raw_oracle: str | None  # DuckDB SQL as written, or None → rows-only check
    headline: bool = False  # included in bench.py

    @property
    def oracle(self) -> str | None:
        """``raw_oracle`` with both DuckDB rewrites applied — once per SQL
        string, on first read, so registry import does no rewriting."""
        return None if self.raw_oracle is None else _rewrite_oracle(self.raw_oracle)


REGISTRY: dict[str, QueryDef] = {}


@cache
def _rewrite_oracle(sql: str) -> str:
    return normalize_round_signed_zero(materialize_shared_ctes(sql))


# One token stream serves both rewrites: a single-quoted literal (``''``
# escapes lex as two adjacent literals; an unclosed one runs to the end), a
# ``round(`` call head that is not part of a longer or qualified name, or a
# bare paren.
_TOKEN = re.compile(r"""'[^']*'?|(?<![\w."])round\s*\(|[()]""", re.IGNORECASE)
_LITERAL = re.compile(r"'[^']*'?")
_CTE_DEF = re.compile(r"\b(\w+)\s+AS\s+\(", re.IGNORECASE)
# what may follow a CTE's "AS (": comments, parens of a set-op, then a query
_CTE_BODY = re.compile(
    r"(?>(?:\s|--[^\n]*|/\*.*?\*/)*)\(*\s*(?:SELECT|WITH|VALUES|FROM)\b",
    re.IGNORECASE | re.DOTALL,
)
_RECURSIVE_HEAD = re.compile(r"RECURSIVE\s*", re.IGNORECASE)
_RECURSIVE = re.compile(r"\bRECURSIVE\b", re.IGNORECASE)


def _paren_pairs(sql: str, pos: int = 0):
    """Yield ``(start, close, is_round)`` for every balanced paren pair in
    ``sql[pos:]`` outside string literals, in order of the close paren.
    ``start`` is the ``round`` keyword for a call head, else the paren."""
    stack: list[tuple[int, bool]] = []
    for m in _TOKEN.finditer(sql, pos):
        c = m.group()
        if c == ")":
            if stack:
                start, is_round = stack.pop()
                yield start, m.start(), is_round
        elif c[0] != "'":
            stack.append((m.start(), c != "("))


def materialize_shared_ctes(sql: str) -> str:
    """Rewrite ``<cte> AS (`` to ``<cte> AS MATERIALIZED (`` for every CTE
    referenced more than once in ``sql``.

    DuckDB re-inlines plain CTEs into each reference, so an oracle whose
    expensive frame (a shingle unnest, a fact-table star join) feeds
    several downstream CTEs recomputes it per reference — and, worse,
    re-plans the whole subtree each time. At sf1 this turned a 3.5 s
    oracle into a 20-minute one (decontaminate_8gram) and a 0.2 s one
    into 431 s (graph_degree_assortativity). MATERIALIZED is purely
    physical — values are identical — so applying it once, on first read
    of ``QueryDef.oracle``, keeps every oracle's SQL text scale-safe without
    hand-annotating ~600 strings, and the driver (which reads oracles
    from this registry via ``oracle_sql()``) runs the same rewritten SQL
    the parity sweeps verify.

    A match is treated as a CTE definition only when its body (after
    stripping leading ``--`` and ``/* */`` comments and an optional
    opening paren of a parenthesized set-op) starts with SELECT / WITH /
    VALUES / FROM — this excludes window-clause definitions (``WINDOW w
    AS (PARTITION BY ...)``), which share the surface syntax. Recursive
    CTEs cannot be MATERIALIZED, and DuckDB treats EVERY self-referencing
    member of a ``WITH RECURSIVE`` list as recursive, not only the one
    adjacent to the keyword (r7 advice) — so a CTE is skipped when it
    directly follows the RECURSIVE keyword OR when a RECURSIVE keyword
    precedes it and its own parenthesized body (string literals blanked)
    references its own name. Reference counting is
    conservative-by-overcount: a column that shares the CTE's name counts
    as a reference, which at worst materializes a single-reference CTE —
    a no-op for correctness. Each check is a regex pass or an anchored
    match, never a per-character Python loop.
    """
    words = Counter(re.findall(r"\w+", sql))
    rec_heads = {m.end() for m in _RECURSIVE_HEAD.finditer(sql)}
    first_rec = _RECURSIVE.search(sql) if rec_heads else None
    spans: list[int] = []
    for m in _CTE_DEF.finditer(sql):
        name = m.group(1)
        if words[name] < 3 or not _CTE_BODY.match(sql, m.end()):
            continue  # <2 references, or a window definition / non-CTE
        if m.start() in rec_heads:
            continue  # recursive head — cannot be materialized
        if first_rec and first_rec.start() < m.start():
            open_pos = m.end() - 1
            close = next(
                (e for s, e, _ in _paren_pairs(sql, open_pos) if s == open_pos),
                len(sql),
            )
            own_body = _LITERAL.sub(
                lambda lit: " " * len(lit.group()), sql[open_pos + 1 : close]
            )
            if re.search(r"\b" + re.escape(name) + r"\b", own_body):
                continue  # self-referencing member of a RECURSIVE list
        spans.append(m.end(1))  # insert right after the CTE name
    if not spans:
        return sql
    parts, prev = [], 0
    for pos in spans:
        parts.append(sql[prev:pos])
        parts.append(" AS MATERIALIZED")
        prev = sql.index("(", pos)  # drop the original " AS ", keep "("
    parts.append(sql[prev:])
    return "".join(parts)


def normalize_round_signed_zero(sql: str) -> str:
    """Rewrite every DuckDB ``round(...)`` call to ``(round(...) + 0.0)``.

    Spark's ``round`` runs through Java BigDecimal, which has no signed
    zero, so a tiny negative that rounds to zero emits ``+0.0``; DuckDB's
    ``round`` preserves the IEEE signbit and emits ``-0.0``. Both survive
    into the driver's value hash, which distinguishes them — round 9's one
    red driver row (``mediation_product_coeffs``: an ``identity_gap``
    self-check whose true value is ±1e-17 depending on each engine's fold
    order) was exactly this split. ``x + 0.0`` is the IEEE identity that
    maps ``-0.0`` to ``+0.0`` and is a value no-op on every other input
    (NaN/±inf/NULL included), so applying it once, on first read of
    ``QueryDef.oracle``, makes DuckDB's round match Spark's zero semantics
    for all ~600 oracles without hand-editing them. DuckDB's typing keeps
    the wrap lossless: ``DECIMAL(p,s) + 0.0`` stays ``DECIMAL(p,s)`` and
    ``DOUBLE + 0.0`` stays ``DOUBLE`` (verified by
    scripts/audit_round_rewrite.py, which DESCRIBEs every oracle
    before/after). Intermediate (non-edge) rounds are wrapped too; that is
    equally a no-op — any expression downstream of a rounded value that
    could distinguish -0.0 from +0.0 (1/x, atan2) would already diverge
    from Spark's always-+0.0 round and show red in the signbit-aware
    parity sweep.

    Calls are found in one token pass (see ``_paren_pairs``): string
    literals are skipped, nested calls are all wrapped, and an unclosed
    ``round(`` is left as written.
    """
    calls = sorted((s, e) for s, e, is_round in _paren_pairs(sql) if is_round)
    if not calls:
        return sql
    inserts: list[tuple[int, str]] = []
    for s, e in calls:
        inserts.append((s, "("))
        inserts.append((e + 1, " + 0.0)"))
    inserts.sort(key=lambda t: t[0])
    out: list[str] = []
    prev = 0
    for pos, txt in inserts:
        out.append(sql[prev:pos])
        out.append(txt)
        prev = pos
    out.append(sql[prev:])
    return "".join(out)


_QUERY_NAME = re.compile(r'@query\(\s*"([^"]+)"')


@cache
def _index() -> dict[str, str]:
    """Query name → dotted plan module, from one scan of the package's
    ``*.py`` files in sorted file order and, within a file, text order."""
    index: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(os.path.dirname(__file__), "*.py"))):
        module = f"{__package__}.{os.path.basename(path)[:-3]}"
        with open(path, encoding="utf-8") as f:
            for name in _QUERY_NAME.findall(f.read()):
                if name in index:
                    raise ValueError(f"duplicate query name {name!r}")
                index[name] = module
    return index


def query(name: str, oracle: str | None = None, headline: bool = False):
    """Decorator registering a query builder under ``name``. The oracle is
    stored as written; ``QueryDef.oracle`` rewrites it on first read. Write
    the name as a double-quoted literal right after ``@query(`` in a module
    of this package, where the scan in ``_index`` finds it."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(fn=fn, raw_oracle=oracle, headline=headline)
        return fn

    return deco


def _rotation_offset(n: int) -> int:
    """Deterministic per-round rotation of registry iteration order.

    The external driver value-checks only the FIRST 50 entries of
    ``queries()`` in iteration order, so a fixed order re-confirms the
    same relational block every round. Rotating by 50 × (completed
    rounds) walks the driver's window across the whole registry —
    every operator eventually gets external (not just in-repo pytest)
    confirmation. Keyed on the count of committed CORRECTNESS_r*.json
    artifacts so the offset advances exactly once per round with no
    env-var contract; falls back to 0 anywhere outside the repo.
    """
    if not n:
        return 0
    try:
        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        k = len(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    except Exception:
        k = 0
    return (k * 50) % n


class Queries(Mapping[str, QueryDef]):
    """Read-only view of the registry over the plan scan's name → module
    index. ``m[name]`` imports only the module that defines ``name``;
    ``in`` and ``len`` read the index and import nothing; iteration imports
    every plan module and yields the names in ``_ordered`` order."""

    def __init__(self, index: dict[str, str]) -> None:
        self._index = index

    def __getitem__(self, name: str) -> QueryDef:
        importlib.import_module(self._index[name])
        return REGISTRY[name]

    def __contains__(self, name: object) -> bool:
        return name in self._index

    def __len__(self) -> int:
        return len(self._index)

    def __iter__(self):
        return iter(_ordered(self._index))


def _ordered(index: dict[str, str]) -> list[str]:
    """Import every plan module, then order the names from the scan order,
    so the result does not depend on which lookups ran before.

    Rotate over the oracle-backed names ONLY, and append the rows-only
    (oracle=None) MLlib fits at the end: the external driver value-checks
    the FIRST 50 entries of queries() in iteration order, so an
    oracle-less entry inside the window burns a verification slot on a
    rows-only check (r7's early_stopping_head). With this ordering every
    driver slot verifies a value hash."""
    for module in dict.fromkeys(index.values()):
        importlib.import_module(module)
    with_oracle = [k for k in index if REGISTRY[k].raw_oracle is not None]
    rows_only = [k for k in index if REGISTRY[k].raw_oracle is None]
    off = _rotation_offset(len(with_oracle))
    return with_oracle[off:] + with_oracle[:off] + rows_only


def load_all_queries() -> Queries:
    """The registry as a read-only mapping: a lookup imports only the plan
    module that defines the query, iteration imports every plan module.

    Names come from one regex scan of ``plans/*.py`` in sorted file order,
    so a module is registered just by being in this package. Iteration
    order is that scan order with the oracle-backed names rotated by
    ``_rotation_offset`` and the rows-only names last."""
    return Queries(_index())
