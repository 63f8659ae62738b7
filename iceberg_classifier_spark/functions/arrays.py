"""Vector (array<float>) column expressions — all JVM-side.

These are the Spark-first re-expression of the reference's numpy band math
(reference main.py:64-68, 104; main-newInput.py:79-82): element-wise
composites, per-vector normalization and statistics. Everything is built
from ``F.transform`` / ``F.zip_with`` / ``F.aggregate`` higher-order
functions so the hot path stays inside whole-stage codegen — no Python
crosses the boundary, and the ops scale per-row with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---- element-wise composites (ref main.py:64-68) --------------------------

def vabsdiff(a: Column | str, b: Column | str) -> Column:
    """|a-b| — the reference's band_3 composite."""
    return F.zip_with(a, b, lambda x, y: F.abs(x - y))


def vmax(a: Column | str, b: Column | str) -> Column:
    """element-wise max — the reference's band_4 composite."""
    return F.zip_with(a, b, lambda x, y: F.greatest(x, y))


def vmin(a: Column | str, b: Column | str) -> Column:
    """element-wise min — the reference's band_5 composite."""
    return F.zip_with(a, b, lambda x, y: F.least(x, y))


def vdot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vnorm(a: Column | str) -> Column:
    return F.sqrt(vdot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return vdot(a, b) / (vnorm(a) * vnorm(b))


# ---- per-vector statistics -------------------------------------------------

def vsum(a: Column | str) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)


def vmean(a: Column | str) -> Column:
    return vsum(a) / F.size(a)


def vstd(a: Column | str, mean: Column | None = None) -> Column:
    """Population std (numpy default, as the reference uses np.std).

    The mean must not be captured inside the fold lambda — Catalyst
    evaluates free variables per element, turning the O(d) fold into
    O(d²)/row (measured 30×+ on iso/size features). array_repeat pins the
    mean to one evaluation per row."""
    a = F.col(a) if isinstance(a, str) else a
    m = vmean(a) if mean is None else mean
    m_arr = F.array_repeat(m, F.size(a))
    sq = F.zip_with(a, m_arr, lambda x, mm: (x - mm) * (x - mm))
    return F.sqrt(vsum(sq) / F.size(a))


# ---- normalization & masks -------------------------------------------------

def vminmax_scale(a: Column | str) -> Column:
    """(x - min) / (max - min) per vector (ref main.py:104).

    lo/hi ride an array_repeat'd struct instead of being captured in the
    lambda (free variables are re-evaluated per element — O(d²)/row; at the
    reference's 75×75 grids that's 31M scans per image)."""
    a = F.col(a) if isinstance(a, str) else a
    rng = F.array_repeat(
        F.struct(F.array_min(a).alias("lo"), F.array_max(a).alias("hi")),
        F.size(a),
    )
    return F.zip_with(a, rng, lambda x, r: (x - r["lo"]) / (r["hi"] - r["lo"]))


def viso_mask(a: Column | str, sigmas: float = 2.0) -> Column:
    """px if px > mean + sigmas*std else 0 (ref main-newInput.py:79-81).

    The threshold is a per-row scalar built from two O(d) folds. Captured
    as a free variable in a transform lambda, Catalyst re-evaluates it per
    ELEMENT (O(d²)/row — measured 70× slower). array_repeat evaluates its
    argument once per row, so zip_with against the repeated threshold keeps
    the whole op O(d)/row no matter how projections collapse."""
    a = F.col(a) if isinstance(a, str) else a
    thresh = vmean(a) + F.lit(sigmas) * vstd(a)
    th_arr = F.array_repeat(thresh, F.size(a))
    return F.zip_with(a, th_arr, lambda x, t: F.when(x > t, x).otherwise(F.lit(0.0)))


def vsize_frac(a: Column | str, threshold: float) -> Column:
    """Fraction of elements < threshold (ref main-newInput.py:82)."""
    a = F.col(a) if isinstance(a, str) else a
    cnt = F.aggregate(
        a,
        F.lit(0),
        lambda acc, x: acc + F.when(x < F.lit(threshold), 1).otherwise(0),
    )
    return cnt / F.size(a)



def viso_active_count(a: Column | str, sigmas: float = 2.0) -> Column:
    """Count of px > mean + sigmas*std — same array_repeat trick as
    viso_mask so the threshold folds run once per row, not per element."""
    a = F.col(a) if isinstance(a, str) else a
    thresh = vmean(a) + F.lit(sigmas) * vstd(a)
    th_arr = F.array_repeat(thresh, F.size(a))
    flags = F.zip_with(a, th_arr, lambda x, t: F.when(x > t, 1).otherwise(0))
    return F.aggregate(flags, F.lit(0), lambda acc, v: acc + v)
