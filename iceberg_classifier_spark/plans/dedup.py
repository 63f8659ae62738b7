"""Deduplication operators over ``documents`` / ``embeddings``.

Every variant is built around a BLOCKING equi-join (shingle inverted index,
LSH band buckets, simhash bands, label blocks) so the candidate-pair stage
is a shuffle-join on a bucket key — never an all-pairs cross join. That is
the property that survives 100 TB: candidate volume scales with true
collision density, not n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark import api
from iceberg_classifier_spark.api import MH_P, _MH_A, _MH_B
from iceberg_classifier_spark.functions import arrays as A
from iceberg_classifier_spark.functions import text as T
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import (
    load,
    load_parallel,
    parquet_column_bounds,
)

JACCARD_MIN = 0.05
# Stop-shingle document-frequency cap: a shingle shared by more than this
# many documents is dropped from the inverted index before pair emission.
# A hot shingle with df=d would emit d²/2 candidate pairs — on a Zipfian
# 100 TB corpus that single skewed posting list is the job-killer, while
# the pairs it produces are overwhelmingly below the Jaccard threshold
# anyway (a shingle that common carries no near-dup signal).
NGRAM_DF_CAP = 2000
COSINE_MIN = 0.3
N_MINHASH = 32
N_BANDS = 8  # 8 bands × 4 rows
SIMHASH_MAX_HAMMING = 8

_DUCK_TOKS = "string_split(trim(text), ' ')"
_DUCK_SHINGLES = (
    f"list_distinct(list_transform("
    f"generate_series(1, greatest(len({_DUCK_TOKS}) - 2, 0)), "
    f"i -> {_DUCK_TOKS}[i] || ' ' || {_DUCK_TOKS}[i+1] || ' ' || {_DUCK_TOKS}[i+2]))"
)


@query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies, min(n_chars) AS n_chars
    FROM documents GROUP BY text ORDER BY keep_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep lowest id.

    Scale: at 100 TB group on the rolling fingerprint + length first (tiny
    keys), verify raw text only within colliding groups.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_chars").alias("n_chars"),
        )
        .select("keep_id", "n_copies", "n_chars")
        .orderBy("keep_id")
    )


# deterministic ~30% doc sample (md5 prefix ≤ '4c' is 77/256) — the
# sample_stratified_det hash-sampling convention at a rate that keeps the
# audits' truth sets non-degenerate at small SF while cutting truth-side
# pair work to sample² ≈ 9% at scale
_DET_SAMPLE = "substring(md5(CAST(doc_id AS STRING)), 1, 2) <= '4c'"
_DET_SAMPLE_DUCK = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '4c'"


_PACK_SH = 1 << 31  # n_sh slot width: F.size() is a 32-bit int, so
# 0 <= n_sh < 2^31 holds BY TYPE and (doc_id, n_sh) packs losslessly into
# one int64 whenever 0 <= doc_id < 2^32 (then pe <= (2^32-1)*2^31 + 2^31-1
# = 2^63 - 1, the int64 max)


def _shingle_pairs(
    spark: SparkSession, sf_dir: str, sampled: bool = False
) -> DataFrame:
    """(doc_a, doc_b, inter, na, nb) via shingle posting lists.

    Instead of a self-join on the exploded (doc_id, shingle) table — which
    computes AND shuffles the shingle explosion twice — group once by
    shingle into a doc_id-sorted posting list (each entry carrying the
    doc's shingle count), then emit the i<j pairs map-side with two nested
    explodes. Two shuffles total (postings, then pair-count groupBy), one
    shingle computation, and no separate size-lookup joins.

    r11 (guide §2.3, shuffle fewer bytes): each posting entry is ONE
    packed int64 ``doc_id * 2^31 + n_sh`` instead of a (doc_id, n_sh)
    struct, and the pair-count aggregation groups on the two packed longs
    instead of the 4-column (doc_a, doc_b, na, nb) key — halving the bytes
    through BOTH data-sized exchanges (posting lists and pair stream, the
    op's bulk: 197M pair emissions at sf10) and shrinking the agg's
    hash-map state. Packing is exact: n_sh < 2^31 by type (F.size is a
    32-bit int), the int64 sort order of packed entries equals the struct
    sort order (doc_id-major), and eligibility (0 <= doc_id < 2^32) is
    read from parquet footer stats at plan time — no extra Spark job; a
    corpus with wider ids (100 TB crawl keys) falls back to the struct
    kernel below, same results.

    The token array is materialized in its own projection BEFORE shingling:
    element_at over a raw `split(text)` expression makes Catalyst re-split
    the text for every shingle element (O(tokens²) splits/doc, measured 10×
    slowdown); over a projected attribute it splits once per row.

    Scale: posting-list length = shingle document frequency; stop-shingles
    (df > NGRAM_DF_CAP) are dropped BEFORE pair emission, so per-shingle
    pair output is bounded by CAP²/2 instead of d²/2 — they only produce
    pairs the Jaccard threshold rejects anyway. (Doc shingle-set sizes
    `n_sh` are computed before the cap, so Jaccard denominators are exact.)
    At 100 TB the cap filter would move even earlier: a first-pass df
    count, broadcast of the tiny hot-shingle set, and an anti-join before
    the posting groupBy, so whale lists are never collected at all.
    """
    d = load_parallel(spark, sf_dir, "documents")
    if sampled:
        # deterministic hash sample BEFORE shingling: truth-side pair work
        # scales with sample² (the sampled-truth mode of the audit ops)
        d = d.where(F.expr(_DET_SAMPLE))
    toks = d.select("doc_id", T.tokens("text").alias("toks"))
    shing = toks.select("doc_id", T.shingles(F.col("toks"), 3).alias("sh"))
    bounds = parquet_column_bounds(sf_dir, "documents", "doc_id")
    if bounds is not None and 0 <= bounds[0] and bounds[1] < (1 << 32):
        # packed kernel: one int64 per posting entry / two per pair row.
        # shuffle 8-byte shingle hashes, not ~30-char strings; a 64-bit
        # collision merging two shingles is ~|vocab|²/2⁶⁴ ≈ 0 and would
        # only matter if both collided shingles hit the same doc pair
        sh = shing.select(
            (F.col("doc_id") * F.lit(_PACK_SH) + F.size("sh")).alias("pe"),
            F.explode("sh").alias("shingle_str"),
        ).select("pe", F.xxhash64("shingle_str").alias("shingle"))
        posting = (
            sh.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("pe")).alias("lst"))
            .filter(F.size("lst") <= NGRAM_DF_CAP)
        )
        # nested explode keeps peak row width at one posting list (no
        # flattened all-pairs array); packed int64 order is doc_id-major,
        # so sort_array still guarantees doc_a < doc_b
        pairs = (
            posting.select(F.posexplode("lst").alias("i", "pa"), "lst")
            .select(
                "pa",
                F.explode(F.expr("slice(lst, i + 2, size(lst))")).alias("pb"),
            )
        )
        # NOTE (r11 measured no-go): the itemitem_cosine_topk sort-
        # streamed window count was tried here too (count + row_number
        # over a (pa, pb) window, one sort, no hash map) and measured
        # SLOWER at sf10 — 43.4 s warm vs 40.6 s for this hash agg
        # (sf1 5.9 vs 6.0, sf0.1 A/B 1.014 = flat). Only 81% of ngram's
        # pair emissions are unique keys (160M distinct / 197M at sf10,
        # ~8 GB state over 32 tasks) vs itemitem's 97% of 1.27e9 (~40 GB)
        # — at this state size the hash agg's spill is milder than the
        # cost of materializing two window functions over every emission.
        # Revisit only if emissions per partition grow another order of
        # magnitude.
        return (
            pairs.groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("inter"))
            .select(
                F.expr(f"pa div {_PACK_SH}").alias("doc_a"),
                (F.col("pa") % _PACK_SH).alias("na"),
                F.expr(f"pb div {_PACK_SH}").alias("doc_b"),
                (F.col("pb") % _PACK_SH).alias("nb"),
                "inter",
            )
        )
    # unpacked fallback (ids too wide for the int64 pack, or no footer
    # stats): struct posting entries, 4-column pair-count key
    sh = shing.select(
        "doc_id",
        F.size("sh").cast("long").alias("n_sh"),
        F.explode("sh").alias("shingle_str"),
    ).select("doc_id", "n_sh", F.xxhash64("shingle_str").alias("shingle"))
    posting = (
        sh.groupBy("shingle")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias(
                "lst"
            )
        )
        .filter(F.size("lst") <= NGRAM_DF_CAP)
    )
    pairs = (
        posting.select(F.posexplode("lst").alias("i", "a"), "lst")
        .select("a", F.explode(F.expr("slice(lst, i + 2, size(lst))")).alias("b"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.n_sh").alias("na"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.n_sh").alias("nb"),
        )
    )
    return pairs.groupBy("doc_a", "doc_b", "na", "nb").agg(
        F.count(F.lit(1)).alias("inter")
    )


def _jaccard_pairs_oracle(src: str = "documents", tau: float = JACCARD_MIN) -> str:
    """DuckDB SQL for the df-capped 3-gram Jaccard pair kernel over
    ``src`` at threshold ``tau`` — shared verbatim by dedup_ngram_jaccard
    (src=documents), neardup_clustering_coefficient and
    minhash_lsh_quality (src=the sampled sub-corpus), so kernel and
    audits can never drift apart."""
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle FROM {src}
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), kept AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {NGRAM_DF_CAP}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN kept k ON k.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           CAST(p.inter AS BIGINT) AS inter,
           round(CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter), 6)
             AS jaccard
    FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter) >= {tau}
    ORDER BY doc_a, doc_b
    """


@query(
    "dedup_ngram_jaccard",
    oracle=_jaccard_pairs_oracle(),
    headline=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-3-gram Jaccard near-dup pairs via inverted-index join (the
    exact-verification half of MinHash dedup)."""
    p = _shingle_pairs(spark, sf_dir)
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        p.where(jac >= JACCARD_MIN)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# the universal-hash family lives in api.py with the Spark-side MinHash
# code; the oracles print the first N_MINHASH members as literal lists
_MH_A_SQL = "[" + ", ".join(str(a) for a in _MH_A[:N_MINHASH]) + "]"
_MH_B_SQL = "[" + ", ".join(str(b) for b in _MH_B[:N_MINHASH]) + "]"


def _bands_oracle(src: str = "documents") -> str:
    """CTE chain computing (doc_id, band, key) LSH band keys for ``src``
    — the DuckDB mirror of ``api.minhash_band_keys`` over
    ``api.minhash_signatures`` (same md5-prefix base hash +
    universal-hash family as dedup_minhash_lsh's oracle)."""
    return f"""
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2])) AS s
      FROM {src}
    ), hs AS (
      SELECT doc_id, list_transform(s, sg ->
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 8),
            k -> CAST(strpos('0123456789abcdef',
                   substr(md5(sg), CAST(k AS INTEGER), 1)) - 1 AS BIGINT))),
          (acc, c) -> acc * 16 + c)) AS hv
      FROM sh WHERE len(s) > 0
    ), hashed AS (
      SELECT doc_id, seed,
             min((({_MH_A_SQL})[seed + 1] * h + ({_MH_B_SQL})[seed + 1])
                 % {MH_P}) AS mh
      FROM (SELECT doc_id, unnest(hv) AS h FROM hs),
           (SELECT unnest(generate_series(0, {N_MINHASH - 1})) AS seed)
      GROUP BY 1, 2
    ), bands AS (
      SELECT doc_id, seed // {N_MINHASH // N_BANDS} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS key
      FROM hashed GROUP BY 1, 2
    )
"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2])) AS s
      FROM documents
    ), hs AS (
      SELECT doc_id, list_transform(s, sg ->
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 8),
            k -> CAST(strpos('0123456789abcdef',
                   substr(md5(sg), CAST(k AS INTEGER), 1)) - 1 AS BIGINT))),
          (acc, c) -> acc * 16 + c)) AS hv
      FROM sh WHERE len(s) > 0
    ), hashed AS (
      SELECT doc_id, seed,
             min((({_MH_A_SQL})[seed + 1] * h + ({_MH_B_SQL})[seed + 1])
                 % {MH_P}) AS mh
      FROM (SELECT doc_id, unnest(hv) AS h FROM hs),
           (SELECT unnest(generate_series(0, {N_MINHASH - 1})) AS seed)
      GROUP BY 1, 2
    ), bands AS (
      SELECT doc_id, seed // {N_MINHASH // N_BANDS} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS key
      FROM hashed GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT c.da AS doc_a, c.db AS doc_b,
           round(sum(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) * 1.0
                 / {N_MINHASH}, 6) AS est_jaccard
    FROM cand c
    JOIN hashed ha ON ha.doc_id = c.da
    JOIN hashed hb ON hb.doc_id = c.db AND hb.seed = ha.seed
    GROUP BY c.da, c.db
    ORDER BY doc_a, doc_b
    """,
    headline=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH candidate pairs: {N_MINHASH} portable min-hashes per
    doc from a universal-hash family over ONE md5-prefix base hash per
    shingle — h_i(s) = (a_i·md5_32(s) + b_i) mod p with literal (a_i, b_i)
    tables both engines share, so DuckDB rebuilds bit-identical signatures
    while the crypto-hash work drops {N_MINHASH}× (the r2 version ran md5
    per (seed, shingle): 19.3 s of the sf0.1 bench was md5 throughput).
    {N_BANDS} bands × 4 rows; docs sharing any band bucket become
    candidates, verified with the estimated Jaccard (= fraction of equal
    minhashes). Fully value-checked — the candidate set AND the estimates
    hash-match the oracle. The plan is ``api.minhash_dedup_pairs`` with
    every band bucket enumerated (``bucket_cap=None``), the public
    library's one MinHash implementation.

    Scale: signatures are per-row array math (no explode, no shuffle); the
    only shuffle is the equi-join on (band, band_key) whose fan-out is
    controlled by band width. One multiply-add-mod per (seed, shingle)
    is the textbook Broder construction — hash throughput scales with
    corpus bytes, not bytes × seeds.
    """
    d = load_parallel(spark, sf_dir, "documents")
    # signatures cached: scanned by the band explode AND both sig joins
    pairs = api.minhash_dedup_pairs(
        d, n_hashes=N_MINHASH, bands=N_BANDS, bucket_cap=None, cache_signatures=True
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("est_jaccard", 6).alias("est_jaccard"),
    ).orderBy("doc_a", "doc_b")


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(generate_series(1, 15),
            k -> CAST(strpos('0123456789abcdef',
                   substr(md5(tok), CAST(k AS INTEGER), 1)) - 1 AS BIGINT))),
          (acc, c) -> acc * 16 + c) AS hv
      FROM tok
    ), votes AS (
      SELECT doc_id, k, sum(((hv >> k) & 1) * 2 - 1) AS v
      FROM h, (SELECT unnest(generate_series(0, 59)) AS k)
      GROUP BY 1, 2
    ), sig AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
               AS simhash
      FROM votes GROUP BY 1
    ), bands AS (
      SELECT doc_id, simhash, band,
             (simhash >> (15 * band)) & 32767 AS band_val
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS band)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs
    WHERE hamming <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs: per-token portable md5-prefix hash
    (15 hex chars = 60 bits, sign-safe in int64 on both engines), signed
    per-bit vote aggregation → signature; 4×15-bit band blocking; hamming
    ≤ {SIMHASH_MAX_HAMMING} via bit_count(xor). The hash fold is the
    portable one from `minhash_lsh_quality`, so DuckDB rebuilds identical
    signatures — candidate pairs and hamming distances are fully
    value-checked (upgraded from a rows-only check).

    Scale: one explode + one groupBy(doc) with 60 map-side-combinable
    sums; blocking is an equi-join on (band, band_val), never all pairs.
    At 100 TB swap the md5 fold for xxhash64 masked to 60 bits — one
    expression — for hash throughput; the plan shape is unchanged.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
    hv = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    toks_h = tok.select("doc_id", hv.alias("hv"))
    # per-bit signed votes, then sign → bit
    votes = toks_h.groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("hv"), k).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"v{k}")
            for k in range(60)
        ]
    )
    bit_terms = [
        F.when(F.col(f"v{k}") > 0, F.lit(1).cast("long")).otherwise(0)
        * F.lit(2**k).cast("long")
        for k in range(60)
    ]
    sig = votes.select(
        "doc_id", sum(bit_terms[1:], bit_terms[0]).alias("simhash")
    )
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 15 * b).bitwiseAND(F.lit(0x7FFF))
                    for b in range(4)
                ]
            )
        ).alias("band", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


COS_BANDS = 8  # hyperplane LSH bands for the embedding near-dup join
COS_ROWS = 4  # sign-bit planes per band (8×4 = 32 planes total)


def _cos_plane_signs(n_planes: int, dim: int = 64):
    """±1 sign matrix (dim × n_planes) of the portable hyperplanes — one
    Knuth-MMIX LCG stream per plane (functions/planes.py), materialized
    as plan-time constants. The r1 affine-of-(p·64+j) formula this
    replaces was DEGENERATE (sign independent of p → all 32 "planes"
    identical, so the 8×4 banded blocking collapsed to (label, 1 sign
    bit) and only the COS_CAP star route prevented quadratic blowup —
    r9 verdict). With independent planes each band populates its full
    16-value bucket space (ATTRIB_r10_lsh_buckets.json)."""
    import numpy as np

    from iceberg_classifier_spark.functions.planes import mmix_plane_signs

    s = np.empty((dim, n_planes), dtype=np.float64)
    for p in range(n_planes):
        s[:, p] = mmix_plane_signs(p, dim)
    return s


COS_CAP = 64  # bucket-size cap: bigger buckets emit star pairs via min-id rep


def _cos_band_sql_list() -> str:
    """DuckDB list literal of the 8 per-band bucket values, band b packing
    the sign bits of planes b*COS_ROWS..b*COS_ROWS+COS_ROWS-1 — the oracle
    mirror of _cos_plane_signs' numpy GEMM, signs embedded as literals."""
    from iceberg_classifier_spark.functions.planes import bucket_sql

    return "[" + ", ".join(
        bucket_sql("v", [b * COS_ROWS + k for k in range(COS_ROWS)])
        for b in range(COS_BANDS)
    ) + "]"


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS DOUBLE)) AS v
      FROM embeddings
    ), nb AS (
      SELECT vec_id, label, {_cos_band_sql_list()} AS bv FROM e
    ), ev AS (
      SELECT vec_id, label, g.b AS band, CAST(bv[g.b + 1] AS BIGINT) AS bucket
      FROM nb, (SELECT unnest(range(0, {COS_BANDS})) AS b) g
    ), bsz AS (
      SELECT label, band, bucket, min(vec_id) AS lowest,
             CAST(count(*) AS BIGINT) AS sz
      FROM ev GROUP BY 1, 2, 3
    ), evs AS (
      SELECT ev.* FROM ev JOIN bsz USING (label, band, bucket)
      WHERE bsz.sz <= {COS_CAP}
    ), cand AS (
      SELECT DISTINCT vec_a, vec_b, label FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label
        FROM evs a JOIN evs b
          ON a.label = b.label AND a.band = b.band AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
        UNION ALL
        SELECT s.lowest AS vec_a, v.vec_id AS vec_b, v.label AS label
        FROM ev v JOIN bsz s USING (label, band, bucket)
        WHERE s.sz > {COS_CAP} AND v.vec_id > s.lowest
      )
    )
    SELECT c.vec_a, c.vec_b, c.label,
           round(list_dot_product(ea.v, eb.v)
                 / (sqrt(list_dot_product(ea.v, ea.v))
                    * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos_sim
    FROM cand c
      JOIN e ea ON ea.vec_id = c.vec_a
      JOIN e eb ON eb.vec_id = c.vec_b
    WHERE list_dot_product(ea.v, eb.v)
          / (sqrt(list_dot_product(ea.v, ea.v))
             * sqrt(list_dot_product(eb.v, eb.v)))
          >= {COSINE_MIN}
    ORDER BY vec_a, vec_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: (label, LSH-band, bucket)-blocked candidates
    + cosine ≥ 0.3 — banded random-hyperplane blocking (8 bands × 4 sign
    bits, same portable ±1 LCG planes as ann_lsh_topk), with HOT-BUCKET
    CONTROL: a bucket with ≤ {COS_CAP} members enumerates all pairs; a
    bigger bucket emits only its star — (min vec_id, member) pairs through
    the bucket representative, the dedup_minhash_skewed bucket-min pattern
    applied to pair OUTPUT. Keep-one dedup consumers lose nothing (every
    member still links to its bucket's representative, so the connected
    components are identical); what a hot bucket no longer emits is the
    quadratic member×member clique no downstream dedup needs.

    Recall: a pair at cosine c collides in ≥1 of the 8 bands w.p.
    1-(1-(1-θ/π)⁴)⁸ — ≈0.998 at c=0.9, the near-dup regime this targets.
    Both engines derive identical buckets (pure int LCG + exact fixed-point
    dots), so the approximate result set itself is value-checked.

    Scale: bucketing is a per-row map (one Arrow-batched numpy GEMM
    against the constant 64×32 sign matrix); pair emission is bounded by
    sz·{COS_CAP}/2 for small buckets and sz-1 for hot ones — O(n·{COS_CAP})
    total, never O(hot_bucket²). The round-6 sf1 sweep measured the
    uncapped plan at 574 s on a 10×-replicated corpus (every bucket 10×
    hot); the star route makes the same corpus linear. The band frame
    shuffles (vec_id, label, band, bucket) only — vectors rejoin the
    deduped candidate ids at the end.
    """
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 10000)
        ).alias("v"),
    )
    signs = _cos_plane_signs(COS_BANDS * COS_ROWS)
    pows = np.array([2**r for r in range(COS_ROWS)], dtype=np.int64)

    def bucketize(batches):
        # one GEMM per Arrow batch replaces 32 interpreted HOF folds per
        # row (measured 12.3 s → ~2 s at sf0.1); dots are sums of 64 ±v
        # integer terms < 2^22, exact in float64 in any order, so the sign
        # bits — and therefore the buckets — are identical to the JVM fold
        # and the oracle's integer replay
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            bits = (V @ signs) > 0  # (n, bands*rows)
            out = []
            for b in range(COS_BANDS):
                bucket = (
                    bits[:, b * COS_ROWS : (b + 1) * COS_ROWS] @ pows
                ).astype(np.int64)
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"],
                            "label": pdf["label"],
                            "band": np.full(len(pdf), b, dtype=np.int32),
                            "bucket": bucket,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    # narrow band frame (no vectors) — cached: feeds the size agg, the
    # small-bucket pair join (twice) and the star route
    bands = e.select("vec_id", "label", "v").mapInPandas(
        bucketize, "vec_id long, label int, band int, bucket long"
    ).cache()
    keys = ["label", "band", "bucket"]
    bsz = bands.groupBy(*keys).agg(
        F.min("vec_id").alias("lowest"),
        F.count(F.lit(1)).cast("bigint").alias("sz"),
    )
    evs = bands.join(bsz.where(F.col("sz") <= COS_CAP).select(*keys), keys)
    a, b = evs.alias("a"), evs.alias("b")
    cand_small = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.label").alias("label"),
    )
    cand_star = (
        bands.join(bsz.where(F.col("sz") > COS_CAP), keys)
        .where(F.col("vec_id") > F.col("lowest"))
        .select(
            F.col("lowest").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            F.col("label"),
        )
    )
    cand = cand_small.unionAll(cand_star).dropDuplicates(["vec_a", "vec_b"])
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    cos = A.cosine(F.col("va"), F.col("vb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .where(cos >= COSINE_MIN)
        .select("vec_a", "vec_b", "label", F.round(cos, 6).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle FROM documents
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), kept AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {NGRAM_DF_CAP}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN kept k ON k.shingle = a.shingle
      GROUP BY 1, 2
    ), ed AS (
      SELECT doc_a, doc_b FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
      WHERE CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter)
            >= {JACCARD_MIN}
    ), sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM ed
      UNION ALL SELECT doc_b, doc_a FROM ed
    ), nodes AS (SELECT DISTINCT src AS node FROM sym)
    , walk AS (
      WITH RECURSIVE w(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT s.dst, w.lbl FROM w JOIN sym s ON s.src = w.node
      ) SELECT * FROM w
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk
    GROUP BY 1 ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the Jaccard near-dup pair graph: every doc
    in a near-dup pair gets the min doc_id of its component as cluster_id
    (the canonical "keep one per cluster" dedup output).

    Alternating large-star/small-star contraction (operators/graph.py,
    Kiveris et al. SoCC'14): each round rewires edges toward neighborhood
    minima, so convergence is O(log d) rounds in component diameter d —
    a 64-node path closes in ~6 rounds where the r2 min-label propagation
    needed 64 (asserted by tests/test_units.py::
    test_connected_components_path_graph_converges_logarithmically).

    Scale: per round two groupBy-min aggs + two node-keyed equi-joins over
    a shrinking edge frame; convergence probe is a 4-scalar agg, per-round
    persist hygiene releases the superseded frame.
    """
    from iceberg_classifier_spark.operators.graph import connected_components

    p = _shingle_pairs(spark, sf_dir)
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    ed = p.where(jac >= JACCARD_MIN).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    labels, _rounds = connected_components(ed)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    ).orderBy("doc_id")


@query(
    "decontaminate_8gram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), g AS MATERIALIZED (
      -- referenced by both ev and tr: materialize so DuckDB doesn't
      -- re-run the 8-gram unnest (40M rows at sf1) once per reference
      SELECT doc_id,
             unnest(list_transform(generate_series(8, len(w)),
                                   i -> array_to_string(w[i - 7:i], ' ')))
               AS gram
      FROM toks WHERE len(w) >= 8
    ), ev AS (
      SELECT DISTINCT doc_id AS eval_doc_id, gram FROM g WHERE doc_id % 7 = 0
    ), tr AS (
      SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 7 != 0
    )
    SELECT tr.doc_id,
           count(DISTINCT tr.gram) AS n_hit_grams,
           count(DISTINCT ev.eval_doc_id) AS n_eval_docs,
           min(tr.gram) AS sample_gram
    FROM tr JOIN ev USING (gram)
    GROUP BY 1 ORDER BY doc_id
    """,
)
def decontaminate_8gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    verbatim 8-gram with the held-out eval slice (here ``doc_id % 7 = 0``
    stands in for the benchmark suite) — the contamination gate every
    LLM training corpus runs before release.

    Scale: the eval side is a real benchmark suite (tiny, fixed), so its
    distinct-gram set broadcasts and the 100 TB training side never
    shuffles — each partition streams its grams through the broadcast hash
    map and only the matching (doc, gram) pairs reach the final per-doc
    agg. The n-gram explode feeds the broadcast join directly (no
    corpus-wide gram shuffle); swap the gram string for ``xxhash64(gram)``
    to shrink the broadcast at production vocabulary sizes.
    """
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.trim("text"), " ").alias("w"))
        .filter(F.size("w") >= 8)
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 7),"
                " i -> array_join(slice(w, i, 8), ' '))"
            )
        ).alias("gram"),
    )
    ev = (
        grams.filter(F.col("doc_id") % 7 == 0)
        .select(F.col("doc_id").alias("eval_doc_id"), "gram")
        .distinct()
    )
    tr = grams.filter(F.col("doc_id") % 7 != 0).distinct()
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("gram").alias("n_hit_grams"),
            F.count_distinct("eval_doc_id").alias("n_eval_docs"),
            F.min("gram").alias("sample_gram"),
        )
        .orderBy("doc_id")
    )


@query(
    "fuzzy_name_match",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM names a JOIN names b
      ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    ORDER BY name_a, name_b
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: near-identical part names (edit distance
    1–3) found by a BLOCKED self-join over the distinct-name dimension —
    the entity-resolution step catalog pipelines run to collapse
    misspelled duplicates.

    Scale: the expensive O(len²) Levenshtein runs only on pairs that
    survive the first-character equi-block of the DISTINCT name set —
    never on the raw table and never all-pairs. Production blocking is
    q-gram/LSH buckets (same shape as `dedup_minhash_lsh`); the ordering
    predicate halves the candidate space. Both engines implement the
    classic integer edit distance, so the match set is bit-exact.
    """
    names = load(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(
            b,
            (F.substring("name_a", 1, 1) == F.substring("name_b", 1, 1))
            & (F.col("name_a") < F.col("name_b")),
        )
        .filter(dist.between(1, 3))
        .select("name_a", "name_b", dist.cast("bigint").alias("dist"))
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH quality report (precision/recall vs exact Jaccard, portable)
# ---------------------------------------------------------------------------

_MHQ_K = 16      # minhash functions
_MHQ_BANDS = 4   # bands of 4 rows each
_MHQ_TAU = 0.2   # ground-truth Jaccard threshold
# same universal-hash family as dedup_minhash_lsh, first _MHQ_K members
_MHQ_A_SQL = "[" + ", ".join(str(a) for a in _MH_A[:_MHQ_K]) + "]"
_MHQ_B_SQL = "[" + ", ".join(str(b) for b in _MH_B[:_MHQ_K]) + "]"


@query(
    "minhash_lsh_quality",
    oracle=f"""
    WITH sh_all AS (
      -- named sh_all, not sh: the spliced jaccard template below defines
      -- its own sh, and shadowing breaks once the registry's
      -- materialize_shared_ctes pins both (duplicate-alias binder error)
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2])) AS s
      FROM documents
    ), documents_s AS (
      SELECT * FROM documents WHERE {_DET_SAMPLE_DUCK}
    ), truth AS (
      SELECT doc_a AS da, doc_b AS db
      FROM ({_jaccard_pairs_oracle("documents_s", _MHQ_TAU)})
    ), hb AS (
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, 8),
                 k -> CAST(strpos('0123456789abcdef',
                        substr(md5(sg), CAST(k AS INTEGER), 1)) - 1 AS BIGINT))),
               (acc, c) -> acc * 16 + c) AS h0
      FROM (SELECT doc_id, unnest(s) AS sg FROM sh_all)
    ), hashed AS (
      SELECT doc_id, seed,
             min((({_MHQ_A_SQL})[seed + 1] * h0 + ({_MHQ_B_SQL})[seed + 1])
                 % {MH_P}) AS mh
      FROM hb, (SELECT unnest(generate_series(0, {_MHQ_K - 1})) AS seed)
      GROUP BY 1, 2
    ), bands AS (
      SELECT doc_id, seed // {_MHQ_K // _MHQ_BANDS} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS key
      FROM hashed GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), cand_s AS (
      SELECT da, db FROM cand
      WHERE substr(md5(CAST(da AS VARCHAR)), 1, 2) <= '4c'
        AND substr(md5(CAST(db AS VARCHAR)), 1, 2) <= '4c'
    ), j AS (
      SELECT coalesce(t.da, c.da) AS da,
             (t.da IS NOT NULL) AS is_true, (c.da IS NOT NULL) AS is_cand
      FROM truth t FULL OUTER JOIN cand_s c
        ON t.da = c.da AND t.db = c.db
    )
    SELECT CAST(count(*) FILTER (WHERE is_true) AS BIGINT) AS n_true_pairs,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST(count(*) FILTER (WHERE is_cand) AS BIGINT) AS n_cand_sampled,
           CAST(count(*) FILTER (WHERE is_true AND is_cand) AS BIGINT)
             AS n_hits,
           round(count(*) FILTER (WHERE is_true AND is_cand) * 1.0
                 / count(*) FILTER (WHERE is_cand), 6) AS precision,
           round(count(*) FILTER (WHERE is_true AND is_cand) * 1.0
                 / count(*) FILTER (WHERE is_true), 6) AS recall,
           true AS truth_sampled
    FROM j
    """,
)
def minhash_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH evaluated against SAMPLED exact ground truth, fully
    value-checked: {_MHQ_K} portable universal-hash minhashes per doc\n    (one md5-prefix base per shingle, multiply-add-mod family),
    {_MHQ_BANDS} bands of {_MHQ_K // _MHQ_BANDS} rows generate candidate
    pairs over the FULL corpus (the production path); the truth set is
    the repo's canonical exact-Jaccard kernel (_shingle_pairs: df-capped
    posting lists, the dedup_ngram_jaccard construction) at ≥ {_MHQ_TAU}
    over a deterministic ~30% doc sample (md5-prefix ≤ '4c', the
    sample_stratified_det convention — flagged by the constant
    ``truth_sampled`` column). Precision and
    recall are measured on the sampled universe (candidate pairs with
    BOTH docs sampled, ``n_cand_sampled``); ``n_candidates`` still
    reports the full LSH output size. Because the hash is the portable
    fold, DuckDB rebuilds the IDENTICAL signatures and band buckets —
    the sketch's realized quality is oracle-checked, not just its row
    count (upgrade over the rows-only `dedup_minhash_lsh`).

    Scale: signatures and band keys come from ``api.minhash_signatures``
    / ``api.minhash_band_keys`` — per-row array math, no explode of the
    shingles and no aggregation; candidates come from the band-bucket
    equi-join (never all pairs). The exact-truth side is inherently quadratic —
    the round-7 sampled mode caps it at sample² of the corpus (the
    uncapped audit measured 265 s at 10× data in the round-6 sweep), and
    a uniform pair sample estimates precision/recall unbiasedly.
    """
    docs = load(spark, sf_dir, "documents")
    # exact-truth side: the canonical df-capped posting-list kernel over
    # the deterministic ~30% doc sample (sample² pair work, int64 shingle
    # hashes through the shuffle instead of raw strings)
    p = _shingle_pairs(spark, sf_dir, sampled=True)
    truth = (
        p.filter(
            F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter"))
            >= _MHQ_TAU
        )
        .select(F.col("doc_a").alias("da"), F.col("doc_b").alias("db"))
    )
    # cached: _MHQ_BANDS rows of (doc_id, band, band_hash) per doc — tiny,
    # and consumed by BOTH the full candidate count and the sampled-universe
    # join (uncached each branch recomputes signatures over the corpus)
    sig = api.minhash_signatures(docs, n_hashes=_MHQ_K)
    bands = api.minhash_band_keys(sig, n_hashes=_MHQ_K, bands=_MHQ_BANDS).cache()
    ba = bands.alias("ba")
    bb = bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.band_hash") == F.col("bb.band_hash"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("da"), F.col("bb.doc_id").alias("db")
        )
        .distinct()
    )
    n_cand_full = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    samp = "substring(md5(CAST({c} AS STRING)), 1, 2) <= '4c'"
    cand_s = cand.where(
        F.expr(samp.format(c="da")) & F.expr(samp.format(c="db"))
    )
    j = truth.withColumn("t", F.lit(1)).join(
        cand_s.withColumn("c", F.lit(1)), ["da", "db"], "full_outer"
    )
    return j.agg(
        F.sum(F.col("t").isNotNull().cast("bigint")).alias("n_true_pairs"),
        F.sum(F.col("c").isNotNull().cast("bigint")).alias("n_cand_sampled"),
        F.sum((F.col("t").isNotNull() & F.col("c").isNotNull()).cast("bigint")).alias("n_hits"),
        F.round(
            F.sum((F.col("t").isNotNull() & F.col("c").isNotNull()).cast("bigint"))
            * 1.0
            / F.sum(F.col("c").isNotNull().cast("bigint")),
            6,
        ).alias("precision"),
        F.round(
            F.sum((F.col("t").isNotNull() & F.col("c").isNotNull()).cast("bigint"))
            * 1.0
            / F.sum(F.col("t").isNotNull().cast("bigint")),
            6,
        ).alias("recall"),
    ).crossJoin(F.broadcast(n_cand_full)).select(
        "n_true_pairs",
        "n_candidates",
        "n_cand_sampled",
        "n_hits",
        "precision",
        "recall",
        F.lit(True).alias("truth_sampled"),
    )


# ---------------------------------------------------------------------------
# Golden-record survivorship over near-dup clusters (MDM merge)
# ---------------------------------------------------------------------------

@query(
    "golden_record_merge",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle FROM documents
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), kept AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= {NGRAM_DF_CAP}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN kept k ON k.shingle = a.shingle
      GROUP BY 1, 2
    ), ed AS (
      SELECT doc_a, doc_b FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
      WHERE CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter)
            >= {JACCARD_MIN}
    ), sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM ed
      UNION ALL SELECT doc_b, doc_a FROM ed
    ), nodes AS (SELECT DISTINCT src AS node FROM sym),
    walk AS (
      WITH RECURSIVE w(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT s.dst, w.lbl FROM w JOIN sym s ON s.src = w.node
      ) SELECT * FROM w
    ), clusters AS (
      SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY 1
    ), members AS (
      SELECT c.cluster_id, d.doc_id, d.lang, d.source, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rk
      FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           max(CASE WHEN rk = 1 THEN doc_id END) AS golden_doc_id,
           CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
             AS golden_n_chars,
           max(CASE WHEN rk = 1 THEN lang END) AS golden_lang,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM members GROUP BY 1 ORDER BY cluster_id
    """,
)
def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM survivorship: each near-dup cluster (connected components from
    `dedup_clusters` — the same plan, reused) merges into one golden
    record by the most-complete-record rule (max n_chars, doc_id
    tiebreak), reporting the survivor plus the attribute spread the merge
    collapsed (distinct langs/sources across members) — the master-data
    step after dedup finds the duplicates: pick the keeper, audit what
    the losers disagreed on.

    Scale: clustering cost is dedup_clusters'; survivorship adds one join
    of the (doc → cluster) map back to the dimension and a per-cluster
    ranked aggregate — survivorship rules change only the ORDER BY.
    """
    clusters = dedup_clusters(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    members = clusters.join(d, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.desc("n_chars"), "doc_id"
            )
        ),
    )
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "golden_doc_id"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).alias(
                "golden_n_chars"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("lang"))).alias("golden_lang"),
            F.count_distinct("lang").alias("n_langs"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("cluster_id")
    )


@query(
    "neardup_clustering_coefficient",
    oracle=f"""
    WITH documents_s AS (
      SELECT * FROM documents WHERE {_DET_SAMPLE_DUCK}
    ), pr AS ({_jaccard_pairs_oracle("documents_s")}),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS v FROM pr UNION ALL SELECT doc_b FROM pr
      ) GROUP BY 1
    ), wed AS (
      SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges,
             CAST(count(*) AS BIGINT) AS n_nodes
      FROM deg
    ), tri AS (
      SELECT CAST(count(*) AS BIGINT) AS triangles
      FROM pr e1
      JOIN pr e2 ON e2.doc_a = e1.doc_b
      JOIN pr e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ), np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pr)
    SELECT np.n_pairs, wed.n_nodes, wed.wedges, tri.triangles,
           CAST(3 * tri.triangles * 1000000 // nullif(wed.wedges, 0)
                AS BIGINT) AS closure_ppm,
           true AS truth_sampled
    FROM np CROSS JOIN wed CROSS JOIN tri
    """,
)
def neardup_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the near-duplicate relation: the global
    clustering coefficient (3·triangles / wedges) of the Jaccard-pair
    graph over a DETERMINISTIC ~30% doc sample (md5-prefix ≤ '4c', the
    sample_stratified_det convention — flagged by the constant
    ``truth_sampled`` column both engines emit). Near-dup "similarity"
    is famously non-transitive — a LOW closure means single-link
    clustering (dedup_clusters) is chaining unrelated documents through
    middlemen, the classic over-merge failure; this op measures exactly
    that risk before you trust the clusters, and transitivity of a
    uniform node sample estimates the population's (each triangle /
    wedge survives sampling with the same p³ factor).

    Scale: the exact-Jaccard pair graph is the audit's quadratic-ish
    part — the hash sample caps it at sample² of the full kernel (the
    round-7 sampled-truth mode; run the audit on the sample, the
    production LSH path on everything). Wedges come from a degree
    aggregate (no enumeration); the triangle join runs on the sampled
    edge list. Oracle reuses the shared _jaccard_pairs_oracle template,
    so kernel and audit can never drift apart.
    """
    pr = _shingle_pairs(spark, sf_dir, sampled=True)
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    pr = pr.where(jac >= JACCARD_MIN).select("doc_a", "doc_b")
    deg = (
        pr.select(F.col("doc_a").alias("v"))
        .unionAll(pr.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    wed = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("wedges"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )
    e1, e2, e3 = pr.alias("e1"), pr.alias("e2"), pr.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    np_ = pr.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return (
        np_.crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_pairs",
            "n_nodes",
            "wedges",
            "triangles",
            F.expr("3 * triangles * 1000000 div nullif(wedges, 0)")
            .cast("bigint")
            .alias("closure_ppm"),
            F.lit(True).alias("truth_sampled"),
        )
    )


@query(
    "source_contamination_matrix",
    oracle="""
    WITH toks AS (
      SELECT source, string_split(trim(text), ' ') AS w FROM documents
    ), g AS (
      SELECT DISTINCT source,
             unnest(list_transform(generate_series(5, len(w)),
                                   i -> array_to_string(w[i - 4:i], ' ')))
               AS gram
      FROM toks WHERE len(w) >= 5
    ), per_src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1
    ), posting AS (
      SELECT gram, list_sort(list(source)) AS srcs
      FROM g GROUP BY gram HAVING count(*) > 1
    ), pairs AS (
      SELECT u1.s AS src_a, u2.s AS src_b, CAST(count(*) AS BIGINT) AS shared
      FROM posting,
           unnest(srcs) AS u1(s), unnest(srcs) AS u2(s)
      WHERE u1.s < u2.s
      GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b, p.shared AS n_shared_grams,
           round(p.shared * 1.0 / (a.n_grams + b.n_grams - p.shared), 6)
             AS gram_jaccard
    FROM pairs p
    JOIN per_src a ON a.source = p.src_a
    JOIN per_src b ON b.source = p.src_b
    ORDER BY src_a, src_b
    """,
)
def source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, the number of distinct 5-grams they share and the gram-level
    Jaccard — the audit that tells you which ingestion feeds are
    re-serving each other's content (mirrors, scrapes, syndication)
    before those duplicates leak across train/eval source splits. The
    pairwise decontaminate_8gram generalized to the full source×source
    grid.

    Scale: same blocked construction as _shingle_pairs — grams group into
    source posting lists and pairs emit map-side from each list, so pair
    volume scales with cross-source collision density, never
    |sources|²×|grams|; per-source gram counts are one map-side-combined
    agg. A df-cap on whale grams (the NGRAM_DF_CAP pattern) drops in
    unchanged at 100 TB.
    """
    d = load_parallel(spark, sf_dir, "documents")
    w = F.split(F.trim("text"), " ")
    g = (
        d.select("source", w.alias("w"))
        .where(F.size("w") >= 5)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(5, size(w)),"
                    " i -> array_join(slice(w, i - 4, 5), ' '))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    per_src = g.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    posting = (
        g.groupBy("gram")
        .agg(F.sort_array(F.collect_list("source")).alias("srcs"))
        .filter(F.size("srcs") > 1)
    )
    pairs = (
        posting.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(srcs, (a, i) ->
                      transform(slice(srcs, i + 2, size(srcs) - i - 1),
                                b -> struct(a AS src_a, b AS src_b))))
                    """
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    a = per_src.select(F.col("source").alias("src_a"), F.col("n_grams").alias("na"))
    b = per_src.select(F.col("source").alias("src_b"), F.col("n_grams").alias("nb"))
    return (
        pairs.join(F.broadcast(a), "src_a")
        .join(F.broadcast(b), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("shared").alias("n_shared_grams"),
            F.round(
                F.col("shared") * 1.0 / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ).alias("gram_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )
