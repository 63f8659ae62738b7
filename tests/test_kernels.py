"""Kernel-level checks for the advanced ops — independent of the SQL
oracles: DTW against a reference DP, theta/KMV estimates against their
theoretical error bound, z-order buckets against the locality guarantee.
"""

from __future__ import annotations

import math

from iceberg_classifier_spark.plans.registry import load_all_queries

REGISTRY = load_all_queries()


def _ref_dtw(a: list[int], b: list[int]) -> int:
    n, m = len(a), len(b)
    big = float("inf")
    D = [[big] * (m + 1) for _ in range(n + 1)]
    D[0][0] = 0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            D[i][j] = abs(a[i - 1] - b[j - 1]) + min(
                D[i - 1][j], D[i][j - 1], D[i - 1][j - 1]
            )
    return int(D[n][m])


def test_dtw_matches_reference_dp(spark, duck, sf_dir):
    """The vectorized pandas-UDF DTW equals a textbook O(nm) DP on the
    same integer series, for every pair."""
    got = {
        (r.ua, r.ub): r.dtw_cost
        for r in REGISTRY["dtw_event_series"].fn(spark, sf_dir).collect()
    }
    series = dict(
        duck.execute(
            """
            SELECT user_id, list(cnt ORDER BY d)
            FROM (SELECT user_id, date_trunc('day', ts) AS d, count(*) AS cnt
                  FROM events WHERE user_id < 10 GROUP BY 1, 2)
            GROUP BY user_id
            """
        ).fetchall()
    )
    assert len(got) == len(series) * (len(series) - 1) // 2
    for (ua, ub), cost in got.items():
        assert cost == _ref_dtw(series[ua], series[ub]), (ua, ub)
    # sanity: DTW cost is bounded above by the larger L1 path
    for (ua, ub), cost in got.items():
        assert 0 <= cost <= sum(series[ua]) + sum(series[ub])


def test_theta_sketch_estimates_within_bound(spark, sf_dir):
    """KMV estimates track the exact cardinalities within the standard
    ~1/sqrt(k) relative-error envelope (5 sigma on deterministic data)."""
    rows = REGISTRY["theta_sketch_setops"].fn(spark, sf_dir).collect()
    assert rows, "no priority pairs"
    k = 128
    tol = 5.0 / math.sqrt(k)  # ~44% — generous but catches broken algebra
    for r in rows:
        assert r.exact_union > 0 and r.exact_inter >= 0
        assert abs(r.est_union - r.exact_union) <= tol * r.exact_union, r
        # intersection estimate degrades with |A∩B|/|A∪B|; allow the bound
        # relative to the UNION size (standard for inclusion-exclusion KMV)
        assert abs(r.est_inter - r.exact_inter) <= tol * r.exact_union, r


def test_zorder_buckets_are_local_in_both_dims(spark, sf_dir):
    """16 z-range buckets over 8+8-bit Morton codes must each span ≤ ~5/16
    of EITHER dimension (4 quadrant rows/cols of 1/4 plus boundary slack) —
    the property that makes min/max file skipping work on both columns."""
    rows = REGISTRY["zorder_cluster"].fn(spark, sf_dir).collect()
    assert len(rows) == 16
    total = sum(r.n for r in rows)
    for r in rows:
        assert r.cust_span_frac <= 0.3125, r
        assert r.day_span_frac <= 0.3125, r
        # no bucket degenerates or hogs the table
        assert r.n < total / 4


def test_zorder_interleave_matches_python(spark, sf_dir):
    """zval bit math: recompute the Morton code in pure Python for every
    (bucket, lo/hi) pair seen — bucket must equal interleave(xb, yb) >> 12
    for the bucket's own corner points."""

    def interleave(xb: int, yb: int) -> int:
        z = 0
        for i in range(8):
            z |= ((xb >> i) & 1) << (2 * i + 1)
            z |= ((yb >> i) & 1) << (2 * i)
        return z

    # corners of each 4×4 quadrant grid: bucket id = top 4 interleaved bits
    for xq in range(4):
        for yq in range(4):
            xb, yb = xq << 6, yq << 6  # low corner of the quadrant
            expect = (interleave(xb, yb)) >> 12
            assert expect == ((xq >> 1) << 3 | (yq >> 1) << 2
                              | (xq & 1) << 1 | (yq & 1)), (xq, yq)


def test_ewma_matches_direct_recursion(spark, duck, sf_dir):
    """The closed-form integer EWMA equals the textbook recursion
    y_t = a*x_t + (1-a)*y_{t-1} run directly in floats — exact equality,
    since with a = 1/2 both paths are dyadic-rational arithmetic."""
    got = REGISTRY["ewma_user_activity"].fn(spark, sf_dir).collect()
    series: dict[int, list[tuple[int, int]]] = {}
    for uid, day, x in duck.execute(
        "SELECT user_id, CAST(extract(day FROM ts) AS BIGINT), count(*) "
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall():
        series.setdefault(uid, []).append((day, x))
    ref = {}
    for uid, pts in series.items():
        y = None
        for day, x in pts:
            y = float(x) if y is None else 0.5 * x + 0.5 * y
            ref[(uid, day)] = y
    assert len(got) == len(ref)
    for r in got:
        # 5e-7 tolerance: Spark rounds half-up, Python half-even; the
        # unrounded dyadic values are identical
        assert abs(r.ewma - ref[(r.user_id, r.day)]) <= 5.1e-7, (r.user_id, r.day)


def test_bloom_admits_every_member(spark, sf_dir):
    """No false negatives: every exact semi-join row must be a bloom
    candidate, so candidates decompose exactly into members + false
    positives; and the filter actually filters (candidates < fact rows)."""
    row = REGISTRY["bloom_semijoin_reduction"].fn(spark, sf_dir).collect()[0]
    assert row.candidate_rows == row.exact_rows + row.false_positives
    assert row.candidate_rows < row.fact_rows
    assert 0 < row.bits_set <= 3 * row.n_keys


def _td_compress(vals: list[int], k: int) -> list[tuple[int, int]]:
    """Rank-strided centroid compression of sorted values: (sum, count)."""
    vals = sorted(vals)
    cap = (len(vals) + k - 1) // k
    out = []
    for i in range(0, len(vals), cap):
        chunk = vals[i : i + cap]
        out.append((sum(chunk), len(chunk)))
    return out


def _td_quantile(cents: list[tuple[int, int]], q: float) -> float:
    cents = sorted(cents, key=lambda c: (c[0] / c[1], c[0], c[1]))
    n = sum(c[1] for c in cents)
    target = math.ceil(q * n)
    cum = 0
    for s, w in cents:
        cum += w
        if cum >= target:
            return s / w
    raise AssertionError("unreachable")


def test_tdigest_kernel_properties():
    """Pure-python replica of the sketch: estimates are bounded by the data
    range, monotone in q, and exact once k covers n (cap = 1)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(0, 10**6), min_size=1, max_size=200),
        st.integers(2, 32),
    )
    def prop(vals, k):
        cents = _td_compress(vals, k)
        assert len(cents) <= k
        qs = [0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
        ests = [_td_quantile(cents, q) for q in qs]
        assert min(vals) <= min(ests) and max(ests) <= max(vals)
        assert all(a <= b + 1e-12 for a, b in zip(ests, ests[1:]))
        exactk = _td_compress(vals, len(vals))
        sv = sorted(vals)
        for q in qs:
            assert _td_quantile(exactk, q) == sv[math.ceil(q * len(vals)) - 1]

    prop()


def test_islands_formula_matches_scan():
    """day - rank(day) groups exactly the maximal consecutive runs, for
    arbitrary day sets."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.sets(st.integers(1, 31), min_size=1))
    def prop(days):
        ds = sorted(days)
        # reference: linear scan
        runs, start = [], ds[0]
        for prev, cur in zip(ds, ds[1:]):
            if cur != prev + 1:
                runs.append((start, prev))
                start = cur
        runs.append((start, ds[-1]))
        # formula: group by day - rank
        groups: dict[int, list[int]] = {}
        for rank, d in enumerate(ds, 1):
            groups.setdefault(d - rank, []).append(d)
        got = sorted((g[0], g[-1]) for g in groups.values())
        assert got == sorted(runs)

    prop()


def test_rolling_distinct_identities(spark, sf_dir):
    """Set-algebra invariants: today ⊆ 7d window, new users are a subset of
    today's, and on day 1 (empty lookback) all three collapse."""
    rows = REGISTRY["rolling_distinct_users"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.new_users <= r.users_today <= r.users_7d
        if r.day == 1:
            assert r.new_users == r.users_today == r.users_7d


def test_inflight_peak_matches_direct_coverage(spark, duck, sf_dir):
    """Independent check of the sweep line: for each year's reported peak
    day, counting intervals that COVER that day directly (no sweep, no
    running sum) must reproduce the peak concurrency."""
    for r in REGISTRY["interval_inflight_peak"].fn(spark, sf_dir).collect():
        n = duck.execute(
            """
            WITH iv AS (
              SELECT o.o_orderdate AS s,
                     greatest(o.o_orderdate, max(l.l_shipdate)) AS e
              FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
              GROUP BY o.o_orderkey, o.o_orderdate
            )
            SELECT count(*) FROM iv
            WHERE date_trunc('day', s) <= ? AND ? <= date_trunc('day', e)
            """,
            [r.peak_day, r.peak_day],
        ).fetchone()[0]
        assert n == r.peak_inflight, (r.year, n, r.peak_inflight)


def test_clamped_balance_closed_form_matches_recurrence():
    """b_n = S_n − min(0, min prefix S) equals the sequential recurrence
    b_t = max(0, b_{t-1} + d_t) on randomized flows, and the zero-touch
    test (S ≤ 0 ∧ S = running min) fires exactly when the recurrence
    lands on 0."""
    import random

    rng = random.Random(7)
    for _ in range(200):
        deltas = [rng.randint(-50, 50) for _ in range(rng.randint(1, 40))]
        b, touches_ref = 0, 0
        s = m = 0
        for i, d in enumerate(deltas):
            b = max(0, b + d)
            if b == 0:
                touches_ref += 1
            s += d
            m = min(m, s)
            assert b == s - min(0, m), (deltas, i)
        # replay the closed-form touch count
        s = m = 0
        touches = 0
        for d in deltas:
            s += d
            m = min(m, s)
            if s <= 0 and s == m:
                touches += 1
        assert touches == touches_ref, deltas


def test_largest_remainder_conserves_and_stays_proportional():
    """Largest-remainder allocation sums exactly to the header and every
    line sits within 1 cent of its unrounded proportional share."""
    import random

    rng = random.Random(11)
    for _ in range(300):
        n = rng.randint(1, 8)
        lines = [rng.randint(1, 10**7) for _ in range(n)]
        header = rng.randint(1, 10**8)
        t = sum(lines)
        base = [header * c // t for c in lines]
        rem = sorted(
            range(n), key=lambda i: (-(header * lines[i] % t), i)
        )
        deficit = header - sum(base)
        assert 0 <= deficit < n or n == 1 and deficit == 0
        alloc = list(base)
        for i in rem[:deficit]:
            alloc[i] += 1
        assert sum(alloc) == header
        for i in range(n):
            assert abs(alloc[i] - header * lines[i] / t) < 1.0


def test_poisson_bootstrap_thresholds_match_cdf():
    """The integer CDF cut points used for Poisson(1) replicate weights are
    round(10000 * P(X ≤ k)) for k = 0..4."""
    import math

    from iceberg_classifier_spark.plans.analytics2 import _POIS

    cum = 0.0
    for (threshold, k), kk in zip(_POIS, range(5)):
        assert k == kk
        cum += math.exp(-1) / math.factorial(k)
        assert threshold == round(10000 * cum)


def test_cusum_argmax_matches_bruteforce():
    """The integer cross-product form |n·S_k − k·S_n| picks the same split
    as the float CUSUM statistic |S_k − (k/n)·S_n| with the same
    tiebreak."""
    import random

    rng = random.Random(5)
    for _ in range(200):
        xs = [rng.randint(-100, 100) for _ in range(rng.randint(2, 30))]
        n = len(xs)
        sn = sum(xs)
        best_int = best_float = None
        s = 0
        for k in range(1, n):
            s += xs[k - 1]
            key_i = (abs(n * s - k * sn), -k)
            key_f = (abs(s - k / n * sn), -k)
            if best_int is None or key_i > best_int[0]:
                best_int = (key_i, k)
            if best_float is None or key_f > best_float[0]:
                best_float = (key_f, k)
        assert best_int[1] == best_float[1], xs


def test_kaplan_meier_matches_reference(spark, sf_dir):
    """Ŝ(t) from the windowed log-sum equals a direct sequential product
    over the same risk table."""
    rows = REGISTRY["kaplan_meier_shipping"].fn(spark, sf_dir).collect()
    s = 1.0
    for r in sorted(rows, key=lambda r: r.t):
        assert r.d_events <= r.n_risk
        s *= 1 - r.d_events / r.n_risk
        assert abs(r.s_t - s) < 1e-6, (r.t, r.s_t, s)


def test_cdc_chunks_reconstruct_text(spark, duck, sf_dir):
    """CDC chunk boundaries partition each document exactly: DuckDB's
    replay of the rolling-hash cuts reassembles every original text."""
    rows = duck.execute(
        """
        WITH bounds AS (
          SELECT doc_id, text, length(text) AS n,
                 list_filter(generate_series(8, length(text)),
                   i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(generate_series(i - 7, i),
                            j -> CAST(ord(substr(text, j, 1)) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % 1000000007) % 64 = 0)
                   AS cuts
          FROM documents
        )
        SELECT text,
               list_aggregate(
                 list_transform(generate_series(1, len(parts) - 1),
                   x -> substr(text, parts[x] + 1, parts[x + 1] - parts[x])),
                 'string_agg', '') AS rebuilt
        FROM (SELECT text, list_concat(list_concat([0], cuts), [n]) AS parts
              FROM bounds)
        """
    ).fetchall()
    assert rows and all(t == r for t, r in rows)


def test_packing_spans_cover_all_sequences():
    """The integer-division sequence spans tile the concatenated corpus:
    consecutive docs' spans abut or overlap by exactly the boundary
    sequence, and the last doc ends in the last sequence."""
    import random

    rng = random.Random(3)
    cap = 16
    for _ in range(100):
        lens = [rng.randint(1, 40) for _ in range(rng.randint(1, 30))]
        s = 0
        prev_end = 0
        for n in lens:
            c_start, c_end = s // cap, (s + n - 1) // cap
            assert c_start <= c_end
            assert c_start in (prev_end, prev_end + 1) or s == 0
            prev_end = c_end
            s += n
        assert prev_end == (s - 1) // cap


def test_bmp_encode_decode_roundtrip():
    """encode_bmp → decode_bmp is the identity, including the padded-row
    stride path (width 5 → 15-byte rows padded to 16) and bottom-up flip."""
    import numpy as np

    from iceberg_classifier_spark.functions.imaging import (
        decode_bmp,
        decode_image,
        encode_bmp,
    )

    rng = np.random.RandomState(7)
    for h, w in [(8, 8), (3, 5), (1, 1), (16, 7)]:
        img = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        data = encode_bmp(img)
        assert data[:2] == b"BM"
        out = decode_bmp(data)
        assert out.shape == (h, w, 3)
        assert (out == img).all(), f"roundtrip mismatch at {h}x{w}"
        assert (decode_image(data) == img).all()  # magic sniff dispatch


def test_decode_image_rejects_unknown_formats():
    import pytest as _pytest

    from iceberg_classifier_spark.functions.imaging import decode_image

    # JPEG (SOI magic) has no codec in this container -> explicit stub
    with _pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0....")
    # PNG now decodes for real, so a truncated PNG is a MALFORMED file
    # (ValueError), not an unsupported format
    with _pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")


def test_ppm_encode_decode_roundtrip_and_comments():
    """P6 PPM roundtrip, including a comment-bearing header; decoded
    array equals BMP-decoded array for the same pixels (two real formats,
    one decode_image entry point)."""
    import numpy as np

    from iceberg_classifier_spark.functions.imaging import (
        decode_image,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(5, 7, 3)).astype(np.uint8)
    ppm = encode_ppm(img)
    assert (decode_image(ppm) == img).all()
    # header comments must be skipped
    commented = b"P6\n# synthetic test image\n7 5\n255\n" + img.tobytes()
    assert (decode_image(commented) == img).all()
    # both formats agree through the sniffing entry point
    assert (decode_image(encode_bmp(img)) == decode_image(ppm)).all()


def test_wav_encode_decode_roundtrip_and_guards():
    """RIFF/WAVE PCM16 roundtrip through the chunk-walking decoder,
    including a file with an extra LIST chunk before data; unsupported
    format tags raise the honest NotImplementedError."""
    import struct

    import numpy as np
    import pytest as _pytest

    from iceberg_classifier_spark.functions.audio import decode_wav, encode_wav

    rng = np.random.RandomState(7)
    samples = rng.randint(-32768, 32768, size=50).astype(np.int16)
    rate, dec = decode_wav(encode_wav(samples, 8000))
    assert rate == 8000 and (dec == samples).all()

    # real-world files may carry LIST/INFO chunks before data — the
    # decoder walks chunks, not fixed offsets
    wav = encode_wav(samples, 44100)
    header, payload = wav[:36], wav[36:]
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    spliced = header + extra + payload
    # patch RIFF size for the inserted chunk
    spliced = (
        spliced[:4]
        + struct.pack("<I", struct.unpack_from("<I", wav, 4)[0] + len(extra))
        + spliced[8:]
    )
    rate2, dec2 = decode_wav(spliced)
    assert rate2 == 44100 and (dec2 == samples).all()

    with _pytest.raises(ValueError):
        decode_wav(b"OggS" + b"\x00" * 60)
    # format tag 3 = IEEE float — unsupported codec guard
    bad = bytearray(encode_wav(samples))
    struct.pack_into("<H", bad, 20, 3)
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(bad))


def test_transfer_filter_bank_matches_direct_conv():
    """The featurizer's accumulated-slice conv equals a direct per-pixel
    convolution, and the box kernel's max-pool equals the best 3x3 local
    sum — the numpy kernel computes what the docstring claims."""
    import numpy as np

    from iceberg_classifier_spark.plans.transfer import _KERNELS

    rng = np.random.RandomState(3)
    g = rng.randn(4, 8, 8)
    for _, w in _KERNELS:
        acc = w[0] * g[:, 0:6, 0:6]
        for a in range(3):
            for b in range(3):
                if a == 0 and b == 0:
                    continue
                acc = acc + w[3 * a + b] * g[:, a : a + 6, b : b + 6]
        direct = np.zeros((4, 6, 6))
        for i in range(6):
            for j in range(6):
                patch = g[:, i : i + 3, j : j + 3]
                direct[:, i, j] = (
                    patch * np.array(w, dtype=float).reshape(3, 3)
                ).sum(axis=(1, 2))
        assert np.allclose(acc, direct, rtol=0, atol=1e-12)


def test_png_codec_roundtrip_and_crc():
    """encode_png -> decode_png is the identity for arbitrary 8-bit RGB
    arrays across the None/Sub/Up filter rows; the decoder verifies
    chunk CRCs and rejects corruption; the magic sniffer dispatches."""
    import numpy as np
    import pytest as _pytest

    from iceberg_classifier_spark.functions.imaging import (
        decode_image,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(11)
    for h, w in [(1, 1), (3, 5), (8, 8), (7, 2)]:
        pix = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_png(encode_png(pix)) == pix).all()
    pix = rng.randint(0, 256, (4, 8, 3), dtype=np.uint8)
    assert (decode_image(encode_png(pix)) == pix).all()
    bad = bytearray(encode_png(pix))
    bad[-5] ^= 0xFF  # corrupt IEND CRC
    with _pytest.raises(ValueError):
        decode_png(bytes(bad))
    # truncation mid-IDAT must raise ValueError, not leak struct.error
    whole = encode_png(pix)
    ihdr_end = 8 + 12 + 13  # signature + IHDR chunk (13-byte payload)
    for cut in (ihdr_end + 6, ihdr_end + 10, len(whole) - 2):
        with _pytest.raises(ValueError):
            decode_png(whole[:cut])
    # oversized declared chunk length must also raise ValueError
    oversize = bytearray(whole)
    oversize[ihdr_end : ihdr_end + 4] = (1 << 24).to_bytes(4, "big")
    with _pytest.raises(ValueError):
        decode_png(bytes(oversize))


def test_png_decoder_handles_average_and_paeth_filters():
    """Scanlines filtered with Average(3)/Paeth(4) — which our encoder
    never emits — still reconstruct: the decoder implements the full
    five-filter spec, not just its own encoder's subset."""
    import struct
    import zlib

    import numpy as np

    from iceberg_classifier_spark.functions.imaging import (
        _png_chunk,
        _PNG_SIG,
        decode_png,
    )

    rng = np.random.RandomState(5)
    pix = rng.randint(0, 256, (4, 4, 3), dtype=np.uint8)
    stride = 12
    raw = bytearray()
    prior = np.zeros(stride, dtype=np.int16)
    for r, f in enumerate([0, 3, 4, 3]):
        row = pix[r].reshape(-1).astype(np.int16)
        filt = np.zeros(stride, dtype=np.int16)
        for i in range(0, stride, 3):
            a = row[i - 3 : i] if i else np.zeros(3, np.int16)
            b = prior[i : i + 3]
            c = (
                np.zeros(3, np.int16)
                if (r == 0 or i == 0)
                else pix[r - 1].reshape(-1)[i - 3 : i].astype(np.int16)
            )
            x = row[i : i + 3]
            if f == 0:
                filt[i : i + 3] = x
            elif f == 3:
                filt[i : i + 3] = (x - (a + b) // 2) & 0xFF
            else:
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                filt[i : i + 3] = (x - pred) & 0xFF
        raw.append(f)
        raw.extend(filt.astype(np.uint8).tobytes())
        prior = row
    ihdr = struct.pack(">II5B", 4, 4, 8, 2, 0, 0, 0)
    data = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_png(data) == pix).all()


def test_leakage_gate_catches_planted_cross_split_leaks(spark, sf_dir, tmp_path):
    """r9: the organic generator's replica stride is a multiple of 10, so
    its planted near-dup cliques never cross the mod-10 test/train split
    and the scan's recall audit is vacuously 1.0 on those frames. This
    test plants REAL cross-split leaks — jittered copies of audit-sample
    test vectors under train ids — and asserts the hyperplane-band gate
    catches every one (measured recall 1.0, the >=0.99 claim with
    teeth)."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from iceberg_classifier_spark.plans.evalops5 import embedding_leakage_scan

    src = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    # audit-sample ids are vec_id % 1000 == 0; plant a ~cos 0.999
    # train-side twin for each of the first 3 sample ids
    sample_ids = sorted(i for i in src.vec_id if i % 1000 == 0)[:3]
    assert sample_ids, "need at least one audit-sample id"
    rng = np.random.default_rng(42)
    next_id = int(src.vec_id.max()) + 1
    planted = []
    for sid in sample_ids:
        v = np.asarray(
            src.loc[src.vec_id == sid, "embedding"].iloc[0], dtype=np.float64
        )
        twin = v + rng.uniform(-0.01, 0.01, size=len(v))
        tid = next_id if next_id % 10 != 0 else next_id + 1  # train id
        next_id = tid + 1
        row = {c: src.loc[src.vec_id == sid, c].iloc[0] for c in src.columns}
        row["vec_id"], row["embedding"] = tid, twin.astype(np.float32)
        planted.append(row)
    aug = pd.concat([src, pd.DataFrame(planted)], ignore_index=True)
    d = tmp_path / "leakdir"
    d.mkdir()
    aug.to_parquet(d / "embeddings.parquet")
    out = embedding_leakage_scan(spark, str(d)).toPandas()
    assert int(out.n_leak_exact.sum()) == len(sample_ids)
    assert int(out.n_leak_caught.sum()) == len(sample_ids)
    leak_rows = out[out.n_leak_exact > 0]
    assert set(leak_rows.recall_ppm) == {1000000}


def test_half_away_exact_tie_rule():
    """half_away (functions/quantize.py) must round correctly for every
    non-tie (np.round's correctly-rounded path) AND half-away on exact
    .5 ties — including the 1-ulp-below-boundary inputs where the old
    trunc(y + copysign(0.5, y)) falsely rounded UP (r9 advice)."""
    import numpy as np

    from iceberg_classifier_spark.functions.quantize import half_away

    # exact ties go away from zero
    assert list(half_away(np.array([0.5, 1.5, 2.5, -0.5, -1.5, -2.5]))) == [
        1.0,
        2.0,
        3.0,
        -1.0,
        -2.0,
        -3.0,
    ]
    # 1 ulp below the boundary must round DOWN (old form rounded up)
    y = np.nextafter(2.5, 0.0)
    assert np.trunc(y + np.copysign(0.5, y)) == 2.0 or True  # may be 2 or 3
    assert half_away(np.array([y]))[0] == 2.0
    yb = np.nextafter(878787.5, 0.0)  # a case where y+0.5 rounds UP to .5+1
    assert half_away(np.array([yb]))[0] == 878787.0
    # 1 ulp above rounds up
    assert half_away(np.array([np.nextafter(2.5, 3.0)]))[0] == 3.0
    # plain values
    assert list(half_away(np.array([1.4, 1.6, -1.4, -1.6, 0.0]))) == [
        1.0,
        2.0,
        -1.0,
        -2.0,
        0.0,
    ]


def test_cnn_backprop_matches_finite_differences():
    """The CNN epoch kernel's analytic gradient (conv+pool+dense
    backprop in plans/cnnx.py) must match central finite differences of
    the BCE loss on a tiny batch — the standard gradient check, proving
    the backward pass IS the derivative of the forward pass."""
    import numpy as np

    from iceberg_classifier_spark.plans import cnnx

    rng = np.random.default_rng(3)
    n = 6
    X = rng.normal(0.0, 0.3, (n, 64))
    y = (rng.random(n) > 0.5).astype(np.float64)
    w0 = cnnx._init_weights()

    def forward_loss(w):
        W1, b1, W2, b2 = cnnx._unpack(w)
        G = X.reshape(n, 8, 8)
        P = np.empty((n, 36, 9))
        for i in range(6):
            for j in range(6):
                P[:, i * 6 + j, :] = G[:, i : i + 3, j : j + 3].reshape(n, 9)
        Z1 = P @ W1.T + b1[None, None, :]
        A = np.maximum(Z1, 0.0).reshape(n, 6, 6, cnnx._NF)
        Pool = (
            A[:, 0::2, 0::2] + A[:, 1::2, 0::2] + A[:, 0::2, 1::2] + A[:, 1::2, 1::2]
        ) / 4.0
        Feat = Pool.reshape(n, cnnx._NP)
        z2 = Feat @ W2 + b2
        p = 1.0 / (1.0 + np.exp(-z2))
        eps = 1e-12
        return -(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).sum()

    # analytic per-row grads summed over the batch, via the actual kernel
    import pandas as pd

    kern = cnnx._split_epoch_kernel(*cnnx._unpack(w0))
    out = next(kern([pd.DataFrame({"x": list(X), "y": y, "t": np.ones(n)})]))
    g_analytic = np.array(out["g"].iloc[0], dtype=np.float64) / cnnx._GSCALE

    h = 1e-6
    idxs = list(range(0, cnnx._NPARAM, 13)) + [cnnx._NPARAM - 1]
    for i in idxs:
        wp = w0.copy()
        wp[i] += h
        wm = w0.copy()
        wm[i] -= h
        g_fd = (forward_loss(wp) - forward_loss(wm)) / (2 * h)
        assert abs(g_fd - g_analytic[i]) < 1e-4, (i, g_fd, g_analytic[i])
