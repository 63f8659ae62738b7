"""Public, reusable entry points for the engine's pipeline families.

The query registry (``plans/``) binds every operator to the benchmark star
schema; these functions are parameterized over a user-supplied DataFrame
and column names, so running e.g. MinHash dedup on your own corpus does
not require reading plans/dedup.py. Each function returns a lazy
DataFrame — compose, then write.

The MinHash/LSH functions below are the only Spark-side MinHash code in
the package: the registered ``dedup_minhash_lsh``,
``streaming_minhash_dedup``, ``dedup_minhash_skewed`` and
``minhash_lsh_quality`` queries call them with their own parameters, so
library output is oracle-checked through those queries. The other
families here are parameterized versions of their registered twins.

Scale notes: signatures are per-row array math (no shuffle), candidate
generation shuffles only (id, band, band_hash) triples, decontamination
broadcasts only a genuinely small eval side, and budget selection uses the
two-level distributed prefix sum (``operators.prefix.running_sums``)
instead of a global sort.

>>> from iceberg_classifier_spark import api
>>> pairs = api.minhash_dedup_pairs(corpus, text_col="body", id_col="url")
>>> keep = api.dedup(corpus, text_col="body", id_col="url")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.functions import text as T
from iceberg_classifier_spark.operators.folds import (  # noqa: F401 — re-export
    stratified_split,
    with_stratified_folds,
)
from iceberg_classifier_spark.operators.graph import (  # noqa: F401 — re-export
    connected_components,
)
from iceberg_classifier_spark.operators.metrics import (  # noqa: F401 — re-export
    accuracy_expr,
    log_loss,
    log_loss_expr,
)
from iceberg_classifier_spark.operators.prefix import running_sums
from iceberg_classifier_spark.operators.stacking import (  # noqa: F401
    stack,
    stack_stats,
)

# Broder universal-hash family h_i(x) = (a_i·x + b_i) mod MH_P over a
# 32-bit md5-prefix base hash x. Odd multipliers / offsets from the repo's
# LCG: a_i < 2^31, b_i < 2^31 and x < 2^32 keep a_i·x + b_i < 2^63, so
# every member is exact int64 on both Spark and DuckDB. The registered
# MinHash oracles (plans/dedup.py) print their literal (a, b) lists from
# these tables.
MH_P = 4294967311  # first prime above 2^32
_MH_A = [2 * ((1103515245 * (i + 1) + 12345) % 1073741823) + 1 for i in range(64)]
_MH_B = [(1103515245 * (i + 101) + 12345) % 2147483648 for i in range(64)]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature: ``(id_col, sig array<bigint>)``.

    h_i(s) = (a_i · md5_32(s) + b_i) mod MH_P over distinct token
    shingles — one md5-prefix base hash per shingle, reused by every
    family member, so crypto-hash work is per shingle, not per (seed,
    shingle). Per-row array math, no explode, no shuffle. Documents with
    fewer than ``shingle_n`` tokens (no shingles) are dropped. This is
    the signature every registered MinHash query runs, bit for bit what
    their DuckDB oracles rebuild.
    """
    if n_hashes > len(_MH_A):
        raise ValueError(f"n_hashes > {len(_MH_A)} not supported")
    # tokens, base hashes and signatures each get their own projection,
    # so every shingle slice reuses one split and the family members
    # reuse the base hashes instead of re-hashing
    toks = df.select(F.col(id_col), T.tokens(F.col(text_col)).alias("toks"))
    sh = toks.select(
        id_col, T.shingles(F.col("toks"), shingle_n).alias("sh")
    ).where(F.size("sh") > 0)
    hs = sh.select(
        id_col,
        F.transform(
            "sh",
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
        ).alias("hv"),
    )

    def member(i):
        # one-arg lambda (a two-arg lambda would make F.transform pass the
        # element index as the second parameter)
        return lambda h: (F.lit(_MH_A[i]) * h + F.lit(_MH_B[i])) % F.lit(MH_P)

    return hs.select(
        id_col,
        F.array(
            *[F.array_min(F.transform("hv", member(i))) for i in range(n_hashes)]
        ).alias("sig"),
    )


def minhash_band_keys(
    sig: DataFrame, id_col: str = "doc_id", n_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """LSH band keys of a ``minhash_signatures`` frame:
    ``(id_col, band, band_hash)``, one row per band. ``band_hash`` is the
    band's ``n_hashes // bands`` minhashes joined with ","; documents
    sharing a (band, band_hash) bucket are near-duplicate candidates.
    Only these rows need to shuffle — never the full signatures.
    """
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    rows_per_band = n_hashes // bands
    band_arr = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.element_at(F.col("sig"), b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.posexplode(band_arr).alias("band", "band_hash"))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    cache_signatures: bool = False,
    bucket_cap: int | None = 64,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs:
    ``(id_a, id_b, est_jaccard)`` with id_a < id_b.

    Banding: docs sharing any of ``bands`` band buckets become candidates;
    est_jaccard is the fraction of equal minhashes. Only (id, band,
    band_hash) triples shuffle — the n_hashes-long signatures rejoin the
    (small) deduped candidate set afterwards. The registered
    ``dedup_minhash_lsh`` is this function at ``bucket_cap=None,
    cache_signatures=True``, rounded to 6 places.

    HOT-BUCKET CONTROL (``bucket_cap``, default 64): a band bucket with
    ≤ ``bucket_cap`` members enumerates all its pairs; a bigger bucket
    emits only its STAR — (min id, member) pairs through the bucket's
    representative. On a real crawl with Zipf duplicate clusters (spam
    farms, boilerplate templates) the uncapped band self-join emits
    O(clique²) pairs from one bucket — measured 50–130× slower on a
    10×-replicated corpus — while the star keeps pair output O(n·cap)
    and costs one extra associative (band, band_hash) aggregation, which
    map-side combines. Keep-one dedup consumers (``dedup(near=True)``,
    connected components) keep every hot-bucket member linked to its
    representative, so at ``min_jaccard=0`` (the default here) the
    components are IDENTICAL to full enumeration — what a hot bucket no
    longer emits is the member×member clique no dedup needs. With a
    positive ``min_jaccard`` the identity weakens to a recall caveat:
    star pairs are threshold-filtered on the REPRESENTATIVE's estimated
    jaccard, so a member whose link to the rep estimates below the
    threshold drops out of the pair list even if its member×member links
    inside the bucket would have cleared it — components can then split
    vs ``bucket_cap=None`` (test_api.py exercises exactly this case).
    Callers filtering at high thresholds over skewed corpora should
    either pass ``bucket_cap=None`` (quadratic inside hot buckets) or
    filter downstream of the connected components, not on the pairs.
    Pair-level recall for *reporting* consumers is likewise affected
    only inside oversized buckets.

    The signature frame feeds three plan branches (band explode + both
    pair join-backs). By default it stays lazy — per-row md5/array math
    recomputed per branch, nothing persisted on the caller's session.
    Pass ``cache_signatures=True`` to persist it instead, and unpersist
    via ``spark.catalog.clearCache()`` (or persist ``df`` yourself) when
    you own the session's cache lifecycle.
    """
    if bucket_cap is not None and bucket_cap < 1:
        raise ValueError("bucket_cap must be >= 1 (or None to disable)")
    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n)
    if cache_signatures:
        sig = sig.cache()
    bands_df = minhash_band_keys(sig, id_col, n_hashes, bands)
    if bucket_cap is None:
        pair_src = bands_df
    else:
        # bucket-size control: min-id + count per bucket are associative
        # (map-side combined), so the hot bucket collapses before shuffle
        bsz = bands_df.groupBy("band", "band_hash").agg(
            F.min(id_col).alias("_lowest"), F.count(F.lit(1)).alias("_sz")
        )
        pair_src = bands_df.join(
            bsz.where(F.col("_sz") <= bucket_cap).select("band", "band_hash"),
            ["band", "band_hash"],
        )
    a, b = pair_src.alias("a"), pair_src.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    )
    if bucket_cap is not None:
        star = (
            bands_df.join(
                bsz.where(F.col("_sz") > bucket_cap).select(
                    "band", "band_hash", "_lowest"
                ),
                ["band", "band_hash"],
            )
            .where(F.col(id_col) > F.col("_lowest"))
            .select(
                F.col("_lowest").alias("id_a"), F.col(id_col).alias("id_b")
            )
        )
        cand = cand.unionByName(star)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda eq: eq == 1,
            )
        )
        / F.lit(float(n_hashes))
    )
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )
    if min_jaccard > 0.0:
        out = out.where(F.col("est_jaccard") >= min_jaccard)
    return out


def dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    near: bool = False,
    min_jaccard: float = 0.8,
    **minhash_kwargs,
) -> DataFrame:
    """Deduplicate a corpus, keeping the min-id representative.

    ``near=False``: exact dedup — group by xxhash64 of the normalized text
    (one shuffle of (hash, id) pairs, map-side combined).
    ``near=True``: MinHash near-dup — connected components over candidate
    pairs at ``min_jaccard``, keep each component's min id.
    """
    if not near:
        w = Window.partitionBy(F.xxhash64(F.trim(F.col(text_col))))
        return (
            df.withColumn("_rep", F.min(id_col).over(w))
            .where(F.col(id_col) == F.col("_rep"))
            .drop("_rep")
        )
    pairs = minhash_dedup_pairs(
        df, text_col, id_col, min_jaccard=min_jaccard, **minhash_kwargs
    )
    labels, _ = connected_components(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    # labels = (node, lbl = component's min id); drop every node that is
    # not its own component representative
    losers = labels.where(F.col("node") != F.col("lbl")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Drop corpus docs sharing any verbatim ``gram_n``-token gram with
    ``eval_df`` (benchmark decontamination).

    ``broadcast_eval=True`` assumes the eval side is a genuinely small
    fixed benchmark suite; pass False for a large eval set to take the
    shuffled left-anti join instead (high-cardinality, evenly-distributed
    gram keys — a well-behaved shuffle).
    """
    def grams(df: DataFrame, *cols: str) -> DataFrame:
        toks = T.tokens(F.col(text_col))
        return df.where(F.size(toks) >= gram_n).select(
            *cols, F.explode(T.shingles(toks, gram_n)).alias("gram")
        )

    evg = grams(eval_df.select(text_col)).distinct()
    if broadcast_eval:
        evg = F.broadcast(evg)
    contaminated = (
        grams(corpus, id_col).join(evg, "gram").select(id_col).distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 1,
    max_tokens: int = 1_000_000,
    min_unique_ratio: float = 0.0,
) -> DataFrame:
    """Token-bound + lexical-diversity gate. Adds ``n_tokens`` and
    ``quality`` (unique-token ratio in exact ppm units — integer
    arithmetic, no float boundary) and keeps passing rows.

    ``quality`` is derived from the SAME whitespace-run tokenization as
    ``n_tokens`` (``T.tokens`` splits on ``' +'``), so runs of spaces
    cannot skew the ratio, and the whole expression is built as Columns —
    no raw SQL interpolation of ``text_col``.
    """
    toks = T.tokens(F.col(text_col))
    n_uniq = F.size(F.array_distinct(toks)).cast("bigint")
    n_all = F.greatest(F.size(toks).cast("bigint"), F.lit(1))
    out = df.withColumn("n_tokens", F.size(toks)).withColumn(
        # exact integer ppm: numerator ≤ 1e6·n_tokens ≪ 2^53, so the
        # floor(double) spelling equals integer div for any real corpus row
        "quality",
        F.floor(n_uniq * F.lit(1_000_000) / n_all).cast("bigint"),
    )
    return out.where(
        F.col("n_tokens").between(min_tokens, max_tokens)
        & (F.col("quality") >= int(round(min_unique_ratio * 1_000_000)))
    )


def token_budget_select(
    df: DataFrame,
    budget_tokens: int,
    quality_col: str = "quality",
    n_tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy selection by descending quality until the running token sum
    reaches ``budget_tokens``. The running sum is
    ``operators.prefix.running_sums`` over negated quality buckets, so no
    corpus-wide single-partition sort exists in the plan. ``quality_col``
    may be integer or floating point."""
    cb = df.withColumn("_qb", -F.floor(F.col(quality_col) / 4096))
    cum, _ = running_sums(
        cb, "_qb", [F.desc(quality_col), id_col], {"_s": n_tokens_col}
    )
    return cum.where(F.col("_s") <= F.lit(budget_tokens)).drop("_qb", "_s")


def curation_funnel(
    corpus: DataFrame,
    eval_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 1,
    max_tokens: int = 1_000_000,
    min_unique_ratio: float = 0.0,
    near_dedup: bool = False,
    budget_tokens: int | None = None,
    decontaminate_gram_n: int = 8,
) -> DataFrame:
    """The full LLM-corpus curation funnel with configurable gates:
    quality filter → dedup → (optional) decontamination → (optional)
    token-budget selection. Each stage is the corresponding public
    function; the fused fixed-schema version with stage observability
    counters is the registered ``curated_corpus_pipeline``."""
    out = quality_filter(
        corpus, text_col, min_tokens, max_tokens, min_unique_ratio
    )
    out = dedup(out, text_col, id_col, near=near_dedup)
    if eval_df is not None:
        out = decontaminate(
            out, eval_df, text_col, id_col, gram_n=decontaminate_gram_n
        )
    if budget_tokens is not None:
        out = token_budget_select(out, budget_tokens, id_col=id_col)
    return out


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-k: ``(query_id, neighbor_id, rank,
    cos_sim)``. The small query block broadcasts to every corpus
    partition; per-query winners merge through a partitioned window.
    For corpus-sized query sets use an IVF/LSH bucketing first (the
    registered ann_ivf_* family).

    Zero-norm vectors are dropped from BOTH sides before ranking —
    their cosine is undefined and Spark sorts NaN above every real
    double, so one null vector would otherwise rank 1 for every query.
    ``exclude_self=True`` (the default) assumes queries are drawn from
    the corpus id space and drops the ``query_id == neighbor_id`` hit;
    pass False when queries and corpus are distinct datasets that may
    coincidentally share id values.
    """
    nrm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).where(nrm(F.col("cv")) > 0)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).where(nrm(F.col("qv")) > 0)
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cond = (
        F.col("query_id") != F.col("neighbor_id")
        if exclude_self
        else F.lit(True)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        F.broadcast(q)
        .join(c, cond)
        .select(
            "query_id",
            "neighbor_id",
            (dot / (nrm(F.col("qv")) * nrm(F.col("cv")))).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )
