"""Vectors wave 3: Johnson-Lindenstrauss random projection with a
distortion audit.

Random ±1 projection (Achlioptas 2003) is the cheapest dimensionality
reduction that preserves pairwise distances (JL lemma) — the standard
first move before ANN indexing or clustering when the embedding width
makes downstream shuffles too wide. The sign matrix is derived from md5,
so both engines build the identical projection and the audit carries a
full value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_JL_K = 16  # target dimensionality (64 -> 16)


def _sign_sql(j: str, i: str) -> str:
    """Deterministic ±1 from md5 of 'j_i' — first hex char 0-7 → +1."""
    return (
        f"CASE WHEN substr(md5(CAST({j} AS VARCHAR) || '_' ||"
        f" CAST({i} AS VARCHAR)), 1, 1) < '8' THEN 1.0 ELSE -1.0 END"
    )


def _jl_project(emb_df, k: int = _JL_K):
    """(vec_id, e, p) via one Arrow-batched numpy kernel — the exact
    float64 twin of the md5 sign projection ``_sign_sql`` spells for the
    oracle.

    A Catalyst spelling evaluates the sign CASE per (row, j, i) — the
    sign matrix is a plan constant, but the interpreted HOF recomputes
    its md5 k·dim = {_JL_K}·64 times PER ROW — measured 51.6 s for 49k
    rows at organic sf1, the same interpreted-HOF cost class the aHash
    fix (multimodal4._ahash_frame) converted to numpy for 64 → 11 s.
    Here the ±1 matrix is hashed ONCE per embedding width (hashlib md5
    of the identical 'j_i' string), and each projection coordinate
    accumulates strictly left-to-right over i (vectorized across rows,
    sequential across terms) — the same IEEE add order as the oracle's
    ascending list_reduce and the expression it replaces, so every
    6dp-rounded ratio stays bit-identical. sign·e[i] is exact (±1
    multiply), so order is the only float hazard.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    sign_cache: dict[int, "np.ndarray"] = {}

    def signs(d: int):
        if d not in sign_cache:
            s = np.empty((k, d), dtype=np.float64)
            for j in range(1, k + 1):
                for i in range(1, d + 1):
                    h = hashlib.md5(f"{j}_{i}".encode()).hexdigest()
                    s[j - 1, i - 1] = 1.0 if h[0] < "8" else -1.0
            sign_cache[d] = s
        return sign_cache[d]

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            p_col: list = [None] * len(pdf)
            lens = np.array([len(v) for v in pdf["e"]])
            for d in np.unique(lens):
                d = int(d)
                rows = np.nonzero(lens == d)[0]
                e_mat = np.array(
                    [np.asarray(pdf["e"].iloc[r], dtype=np.float64) for r in rows]
                )
                s = signs(d)
                proj = np.empty((len(rows), k), dtype=np.float64)
                for j in range(k):
                    acc = np.zeros(len(rows), dtype=np.float64)
                    srow = s[j]
                    for i in range(d):  # ascending i: oracle's fold order
                        acc = acc + e_mat[:, i] * srow[i]
                    proj[:, j] = acc
                for m, r in enumerate(rows):
                    p_col[r] = proj[m].tolist()
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "e": pdf["e"], "p": p_col}
            )

    return emb_df.select("vec_id", "e").mapInPandas(
        batches, "vec_id long, e array<double>, p array<double>"
    )


@query(
    "jl_projection_distortion",
    oracle=f"""
    WITH proj AS (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1),
                            i -> CAST(embedding[i] AS DOUBLE)) AS e,
             list_transform(range(1, {_JL_K} + 1), j ->
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, len(embedding) + 1), i ->
                   {_sign_sql("j", "i")} * CAST(embedding[i] AS DOUBLE))),
                 (a, v) -> a + v)) AS p
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(a.e) + 1), i ->
                 (a.e[i] - b.e[i]) * (a.e[i] - b.e[i]))),
               (x, v) -> x + v) AS d2_orig,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, {_JL_K} + 1), j ->
                 (a.p[j] - b.p[j]) * (a.p[j] - b.p[j]))),
               (x, v) -> x + v) / {_JL_K} AS d2_proj
      FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
    )
    SELECT id_a, id_b,
           round(d2_orig, 6) AS d2_orig,
           round(d2_proj, 6) AS d2_proj,
           round(d2_proj / d2_orig, 6) AS ratio,
           (d2_proj / d2_orig BETWEEN 0.5 AND 2.0) AS within_2x
    FROM pairs ORDER BY id_a
    """,
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection (64 → {_JL_K} dims)
    with a per-pair distortion audit: project every embedding through a
    deterministic md5-derived sign matrix, then compare projected vs
    original squared distances on the consecutive-id pair set — ratio ≈
    1 is the JL guarantee, within_2x flags pairs inside the 2× band.
    This is the preprocessing that makes wide-embedding shuffles {64 //
    _JL_K}× narrower before ANN bucketing; the audit is the go/no-go
    check. All folds (projection dot products, distance sums) run in
    ascending index order — identical left-to-right IEEE adds in both
    engines — so every ratio carries a 6dp value oracle.

    Scale: projection is map-only (no shuffle, no state — one
    Arrow-batched numpy kernel against the constant {64}×{_JL_K} sign
    matrix, see ``_jl_project``); the audit pair join is equi-keyed on
    vec_id+1 (one bounded shuffle). At 10⁹ vectors the same plan holds;
    the hex-char sign would swap for xxhash64 parity bit with the plan
    unchanged.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(x AS DOUBLE))"
        ).alias("e"),
    )
    proj = _jl_project(emb)
    a = proj.select(
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("p").alias("pa"),
    )
    b = proj.select(
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("p").alias("pb"),
    )
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1).select(
        "id_a",
        "id_b",
        F.expr(
            """
            aggregate(
              transform(sequence(1, size(ea)), i ->
                (ea[i - 1] - eb[i - 1]) * (ea[i - 1] - eb[i - 1])),
              CAST(0 AS DOUBLE), (x, v) -> x + v)
            """
        ).alias("d2_orig"),
        F.expr(
            f"""
            aggregate(
              transform(sequence(1, {_JL_K}), j ->
                (pa[j - 1] - pb[j - 1]) * (pa[j - 1] - pb[j - 1])),
              CAST(0 AS DOUBLE), (x, v) -> x + v) / {_JL_K}
            """
        ).alias("d2_proj"),
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round("d2_orig", 6).alias("d2_orig"),
        F.round("d2_proj", 6).alias("d2_proj"),
        F.round(F.col("d2_proj") / F.col("d2_orig"), 6).alias("ratio"),
        (F.col("d2_proj") / F.col("d2_orig"))
        .between(0.5, 2.0)
        .alias("within_2x"),
    ).orderBy("id_a")
