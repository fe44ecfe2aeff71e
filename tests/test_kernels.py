"""Kernel unit tests — no Spark. Mirrors the reference's dual-implementation
oracle style (`bloom_test.cpp:112-218`): every approximation checked against
an exact computation, plus golden vectors and merge-algebra properties."""

import numpy as np
import pytest

from kwage_spark.kernels import (
    BloomParams, BloomState, CMSState, HLLState, KLLState,
    murmur3_32, murmur3_32_multiseed, murmur3_64,
    shingle_hashes, shingle_hashes64, unique_query_hashes, windows_of,
)

RNG = np.random.default_rng(42)


# ---------------------------------------------------------------- murmur3
# Public MurmurHash3_x86_32 test vectors (Austin Appleby's reference impl).
GOLDEN = [
    (b"", 0, 0x00000000),
    (b"", 1, 0x514E28B7),
    (b"", 0xFFFFFFFF, 0x81F16F39),
    (b"\xff\xff\xff\xff", 0, 0x76293B50),
    (b"\x21\x43\x65\x87", 0, 0xF55B516B),
    (b"\x21\x43\x65\x87", 0x5082EDEE, 0x2362F9DE),
    (b"\x21\x43\x65", 0, 0x7E4A8634),
    (b"\x21\x43", 0, 0xA0F7B07A),
    (b"\x21", 0, 0x72661CF4),
    (b"\x00\x00\x00\x00", 0, 0x2362F9DE),
    (b"\x00\x00\x00", 0, 0x85F0B427),
    (b"\x00\x00", 0, 0x30F4C306),
    (b"\x00", 0, 0x514E28B7),
    (b"Hello, world!", 0x9747B28C, 0x24884CBA),
    (b"aaaa", 0x9747B28C, 0x5A97808A),
    (b"aaa", 0x9747B28C, 0x283E0130),
    (b"aa", 0x9747B28C, 0x5D211726),
    (b"a", 0x9747B28C, 0x7FA09EA6),
    (b"abcd", 0x9747B28C, 0xF0478627),
    (b"abc", 0x9747B28C, 0xC84A62DD),
    (b"ab", 0x9747B28C, 0x74875592),
    (b"The quick brown fox jumps over the lazy dog", 0x9747B28C, 0x2FA826CD),
]


def test_murmur3_golden_vectors():
    for data, seed, want in GOLDEN:
        assert murmur3_32(data, seed) == want, (data, seed)


def test_murmur3_multiseed_matches_scalar():
    data = b"the quick brown fox! 0123456789"
    for k in (5, 8, 12, 16):
        w = windows_of(data, k)
        seeds = np.arange(5, dtype=np.uint32)
        out = murmur3_32_multiseed(w, seeds)
        for i in range(w.shape[0]):
            for h in range(5):
                assert out[i, h] == murmur3_32(bytes(w[i]), h)


def test_murmur3_64_composition():
    w = windows_of(b"hello world, hashing", 8)
    out = murmur3_64(w)
    hi = murmur3_32_multiseed(w, np.asarray([0xA5], dtype=np.uint32))[:, 0]
    lo = murmur3_32_multiseed(w, np.asarray([0x5A], dtype=np.uint32))[:, 0]
    assert np.array_equal(out, (hi.astype(np.uint64) << np.uint64(32)) | lo.astype(np.uint64))


# ---------------------------------------------------------------- shingle
def test_windows_short_content_yields_empty():
    # empty-query guard: kwage.cpp:366-371 — shorter than k => 0 k-grams
    assert windows_of("abc", 8).shape[0] == 0
    assert shingle_hashes("abc", 8, np.arange(3, dtype=np.uint32)).shape == (0, 3)
    assert shingle_hashes64("", 8).shape == (0,)


def test_unique_query_hashes_dedupes():
    # dedup-before-count: kwage.cpp:362-366
    content = "abcabcabcabc"  # k=3 windows repeat heavily
    all_h = shingle_hashes(content, 3, np.arange(2, dtype=np.uint32))
    uniq = unique_query_hashes(content, 3, np.arange(2, dtype=np.uint32))
    assert all_h.shape[0] == len(content) - 2
    assert uniq.shape[0] == 3  # abc, bca, cab


# ---------------------------------------------------------------- bloom
def test_bloom_no_false_negatives_and_fp_bound():
    params = BloomParams(k=8, log2_m=14, num_hash=3)
    items = [f"item-{i:06d}".encode() for i in range(1500)]
    absent = [f"none-{i:06d}".encode() for i in range(20000)]
    st = BloomState(params)
    for it in items:
        w = np.frombuffer(it, dtype=np.uint8)[None, :]
        st.add_hashes(murmur3_32_multiseed(w, params.seeds))
    # zero false negatives
    for it in items:
        w = np.frombuffer(it, dtype=np.uint8)[None, :]
        assert st.contains_hashes(murmur3_32_multiseed(w, params.seeds))[0]
    # FP rate <= published bound (+3 sigma sampling margin): bloom.cpp:47
    wins = np.stack([np.frombuffer(a, dtype=np.uint8) for a in absent])
    hits = st.contains_hashes(murmur3_32_multiseed(wins, params.seeds))
    fp = hits.mean()
    bound = params.fp_rate(len(items))
    sigma = np.sqrt(bound * (1 - bound) / len(absent))
    assert fp <= bound + 3 * sigma, (fp, bound)


def test_bloom_merge_algebra():
    params = BloomParams(k=4, log2_m=12, num_hash=2)

    def build(lo, hi):
        st = BloomState(params)
        wins = np.stack([np.frombuffer(f"x{i:07d}".encode()[:4], dtype=np.uint8)
                         for i in range(lo, hi)])
        return st.add_hashes(murmur3_32_multiseed(wins, params.seeds))

    a, b, c = build(0, 100), build(100, 250), build(250, 300)
    ab_c = build(0, 100).merge(build(100, 250)).merge(build(250, 300))
    a_bc = build(0, 100).merge(build(100, 250).merge(build(250, 300)))
    assert ab_c == a_bc                              # associativity
    ba = build(100, 250).merge(build(0, 100))
    ab = build(0, 100).merge(build(100, 250))
    assert ab == ba                                  # commutativity
    ident = BloomState(params).merge(build(0, 100))  # identity
    assert ident == build(0, 100)
    whole = build(0, 300)
    assert ab_c == whole                             # partitioning invariance


def test_bloom_fold_equals_direct_build():
    # A4: fold(2^L -> 2^l) == direct build at 2^l (make_bloom.cpp:344-354)
    big = BloomParams(k=4, log2_m=12, num_hash=3)
    small = BloomParams(k=4, log2_m=8, num_hash=3)
    wins = np.stack([np.frombuffer(f"w{i:03d}".encode(), dtype=np.uint8) for i in range(200)])
    st_big = BloomState(big).add_hashes(murmur3_32_multiseed(wins, big.seeds))
    st_small = BloomState(small).add_hashes(murmur3_32_multiseed(wins, small.seeds))
    assert st_big.fold(8) == st_small


def test_bloom_serialization_roundtrip_and_crc():
    params = BloomParams(k=8, log2_m=10, num_hash=4)
    st = BloomState(params)
    wins = windows_of(b"serialization roundtrip content here", 8)
    st.add_hashes(murmur3_32_multiseed(wins, params.seeds))
    blob = st.to_bytes()
    back = BloomState.from_bytes(blob)
    assert back == st and back.n_items == st.n_items
    corrupt = bytearray(blob)
    corrupt[-1] ^= 0xFF
    with pytest.raises(ValueError, match="crc32"):
        BloomState.from_bytes(bytes(corrupt))


def test_bloom_optimal_params_meets_bound():
    for n, p in [(1000, 0.25), (50_000, 0.1), (10, 0.01)]:
        bp = BloomParams.optimal(n, p)
        assert bp.fp_rate(n) <= p
        # smaller filter must NOT satisfy the target (minimality)
        if bp.log2_m > 10:
            smaller = 1 << (bp.log2_m - 1)
            best = min((1 - (1 - 1 / smaller) ** (n * h)) ** h for h in range(1, 6))
            assert best > p
        # approximate_max_kmers inverse is consistent
        nmax = BloomParams.approximate_max_kmers(p, bp.log2_m, bp.num_hash)
        assert bp.fp_rate(nmax) <= p * 1.001


# ---------------------------------------------------------------- hll
def test_hll_estimate_within_bound():
    for true_n in (100, 5_000, 200_000):
        st = HLLState(p=12)
        vals = RNG.integers(0, 2**64, size=true_n, dtype=np.uint64)
        vals = np.unique(vals)
        st.add_hashes64(vals)
        est = st.estimate()
        assert abs(est - len(vals)) / len(vals) <= 4 * st.rel_error(), (true_n, est)


def test_hll_merge_equals_union_and_algebra():
    a_v = RNG.integers(0, 2**64, size=3000, dtype=np.uint64)
    b_v = RNG.integers(0, 2**64, size=3000, dtype=np.uint64)
    a = HLLState(p=10).add_hashes64(a_v)
    b = HLLState(p=10).add_hashes64(b_v)
    u = HLLState(p=10).add_hashes64(np.concatenate([a_v, b_v]))
    m = HLLState(p=10).add_hashes64(a_v).merge(b)
    assert m == u  # max-merge == union build, exact state equality
    m2 = HLLState(p=10).add_hashes64(b_v).merge(a)
    assert m2 == u  # commutativity
    assert HLLState(p=10).merge(a) == a  # identity


def test_hll_serialization_roundtrip():
    st = HLLState(p=8).add_hashes64(RNG.integers(0, 2**64, size=500, dtype=np.uint64))
    back = HLLState.from_bytes(st.to_bytes())
    assert back == st and back.n_items == st.n_items


# ---------------------------------------------------------------- cms
def test_cms_never_underestimates_and_eps_bound():
    st = CMSState(log2_w=12, depth=4)
    # zipf-ish: item i appears (3000 // (i+1)) times
    items = [f"key{i:04d}".encode() for i in range(300)]
    counts = np.asarray([3000 // (i + 1) for i in range(300)], dtype=np.uint64)
    wins = np.stack([np.frombuffer(x, dtype=np.uint8) for x in items])
    st.add_windows(wins, counts)
    est = st.query_windows(wins)
    assert (est >= counts).all()                       # never underestimates
    n = counts.sum()
    # overwhelming majority within eps*N (bound holds per-query w.p. 1-e^-d)
    assert (est - counts <= st.eps() * n).mean() > 0.98


def test_cms_merge_algebra():
    wins = np.stack([np.frombuffer(f"it{i:05d}".encode(), dtype=np.uint8) for i in range(600)])
    a = CMSState(log2_w=10, depth=3).add_windows(wins[:200])
    b = CMSState(log2_w=10, depth=3).add_windows(wins[200:450])
    c = CMSState(log2_w=10, depth=3).add_windows(wins[450:])
    whole = CMSState(log2_w=10, depth=3).add_windows(wins)
    ab_c = CMSState(log2_w=10, depth=3).add_windows(wins[:200]).merge(b).merge(c)
    a_bc = CMSState(log2_w=10, depth=3).add_windows(wins[:200]).merge(
        CMSState(log2_w=10, depth=3).add_windows(wins[200:450]).merge(c))
    assert ab_c == a_bc == whole
    assert CMSState(log2_w=10, depth=3).merge(a) == a


def test_cms_serialization_roundtrip():
    wins = np.stack([np.frombuffer(f"z{i:04d}".encode(), dtype=np.uint8) for i in range(100)])
    st = CMSState(log2_w=8, depth=4).add_windows(wins)
    back = CMSState.from_bytes(st.to_bytes())
    assert back == st and back.n_total == st.n_total


# ---------------------------------------------------------------- kll
def test_kll_quantiles_within_rank_error():
    data = RNG.normal(size=50_000)
    st = KLLState(k=256)
    st.add_values(data)
    s = np.sort(data)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = st.quantile(q)
        true_rank = np.searchsorted(s, est) / s.shape[0]
        assert abs(true_rank - q) <= 0.03, (q, est, true_rank)


def test_kll_merge_error_bound_holds():
    data = RNG.exponential(size=40_000)
    parts = np.array_split(data, 7)
    st = KLLState(k=256)
    for p in parts:
        st.merge(KLLState(k=256).add_values(p))
    s = np.sort(data)
    for q in (0.1, 0.5, 0.9):
        est = st.quantile(q)
        true_rank = np.searchsorted(s, est) / s.shape[0]
        assert abs(true_rank - q) <= 0.04, (q, est, true_rank)
    assert st.n_items == data.shape[0]


def test_kll_serialization_roundtrip():
    st = KLLState(k=64).add_values(RNG.uniform(size=5000))
    back = KLLState.from_bytes(st.to_bytes())
    assert back.n_items == st.n_items
    assert [a.tolist() for a in back.levels] == [a.tolist() for a in st.levels]
    assert back.coins == st.coins


def test_murmur3_sliding_matches_window_matrix():
    from kwage_spark.kernels.murmur3 import murmur3_32_sliding
    data = np.frombuffer(b"sliding-window murmur equivalence test 0123456789!", dtype=np.uint8)
    for k in (4, 5, 7, 8, 11, 16):
        seeds = np.arange(5, dtype=np.uint32)
        want = murmur3_32_multiseed(windows_of(bytes(data), k), seeds)
        got = murmur3_32_sliding(data, k, seeds)
        assert np.array_equal(got, want), k
    # shorter than k -> empty
    assert murmur3_32_sliding(data[:3], 8, np.arange(2, dtype=np.uint32)).shape == (0, 2)


def test_native_kernel_parity_with_numpy():
    """The ctypes-compiled murmur kernel must be bit-identical to the
    pure-numpy reference path (which itself matches the scalar goldens)."""
    from kwage_spark.kernels import _native
    from kwage_spark.kernels.murmur3 import (
        murmur3_32_multiseed, murmur3_32_sliding)
    if not _native.HAVE_NATIVE:
        import pytest
        pytest.skip("no C compiler in this environment")
    data = np.frombuffer(RNG.bytes(4096), dtype=np.uint8)
    seeds = np.asarray([0, 1, 2, 7, 0xDEADBEEF], dtype=np.uint32)
    try:
        _native.HAVE_NATIVE = False  # force the numpy reference path
        for k in (4, 5, 6, 7, 8, 12, 13, 31, 70):
            want_slide = murmur3_32_sliding(data, k, seeds)
            w = np.ascontiguousarray(windows_of(bytes(data[:600]), k))
            want_rows = murmur3_32_multiseed(w, seeds)
            _native.HAVE_NATIVE = True
            assert np.array_equal(
                _native.sliding_multiseed(data, k, seeds), want_slide), k
            assert np.array_equal(
                _native.rows_multiseed(w, seeds), want_rows), k
            _native.HAVE_NATIVE = False
    finally:
        _native.HAVE_NATIVE = True


def test_native_sketch_updates_match_numpy():
    """bloom_scatter / hll_update / cms_update vs the numpy fallbacks."""
    from kwage_spark.kernels import _native
    from kwage_spark.kernels.cms import CMSState
    from kwage_spark.kernels.hll import HLLState
    if not _native.HAVE_NATIVE:
        import pytest
        pytest.skip("no C compiler in this environment")
    H = RNG.integers(0, 2**32, size=(50_000, 4), dtype=np.uint32)
    H[0] = 0  # exercise the rest==0 / rho-cap path

    def both(fn):
        try:
            _native.HAVE_NATIVE = True
            a = fn()
            _native.HAVE_NATIVE = False
            b = fn()
        finally:
            _native.HAVE_NATIVE = True
        return a, b

    p = BloomParams(k=8, log2_m=14, num_hash=3)
    a, b = both(lambda: BloomState(p).add_hashes(H[:, :3]).bits)
    assert np.array_equal(a, b)
    a, b = both(lambda: HLLState(10).add_hash_lanes(H).registers)
    assert np.array_equal(a, b)
    a, b = both(lambda: CMSState(9, 4).add_hashes(H).table)
    assert np.array_equal(a, b)


def test_tdigest_quantiles_vs_exact():
    from kwage_spark.kernels.tdigest import TDigestState
    data = np.concatenate([RNG.normal(100, 15, 20000),
                           RNG.exponential(50, 20000)])
    st = TDigestState(delta=100).add_values(data)
    s = np.sort(data)
    n = s.shape[0]
    for q in (0.001, 0.01, 0.25, 0.5, 0.75, 0.99, 0.999):
        est = st.quantile(q)
        r_lo = np.searchsorted(s, est, side="left") / n
        r_hi = np.searchsorted(s, est, side="right") / n
        # rank error bound ~ O(q(1-q)/delta); generous constant plus a
        # floor for the midpoint-interpolation error at the extremes
        tol = max(12.0 * q * (1 - q) / 100, 8e-4)
        assert r_lo - tol <= q <= r_hi + tol, (q, est, r_lo, r_hi)
    assert st.n_items == n


def test_tdigest_merge_matches_whole_within_bound():
    from kwage_spark.kernels.tdigest import TDigestState
    data = RNG.uniform(0, 1000, 30000)
    whole = TDigestState(80).add_values(data)
    parts = [TDigestState(80).add_values(chunk)
             for chunk in np.array_split(data, 7)]
    merged = parts[0]
    for p in parts[1:]:
        merged.merge(p)
    assert merged.n_items == whole.n_items == data.shape[0]
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        assert abs(merged.quantile(q) - whole.quantile(q)) <= 0.03 * 1000


def test_tdigest_serialization_and_registry():
    from kwage_spark.kernels.registry import state_from_bytes
    from kwage_spark.kernels.tdigest import TDigestState
    st = TDigestState(60).add_values(RNG.normal(size=5000))
    back = state_from_bytes(st.to_bytes())
    assert isinstance(back, TDigestState)
    assert back.n_items == st.n_items
    assert np.allclose(back.means, st.means)
    assert np.allclose(back.weights, st.weights)
    # corrupt payload -> crc rejects
    blob = bytearray(st.to_bytes())
    blob[-1] ^= 0xFF
    import pytest
    with pytest.raises(ValueError):
        state_from_bytes(bytes(blob))


def test_tdigest_through_spark_ingest(spark):
    from kwage_spark.config import SketchConfig
    from kwage_spark.kernels.registry import state_from_bytes
    from kwage_spark.operators.ingest import build_sketches
    from kwage_spark.sources.fixtures import make_source_files
    pdf = make_source_files(n_repos=4, files_per_repo=10, tokens_per_file=50)
    cfg = SketchConfig(bloom=BloomParams(k=8, log2_m=12, num_hash=3),
                       kinds=("kll", "tdigest"))
    sk = build_sketches(spark.createDataFrame(pdf), cfg).toPandas()
    td = sk[sk.kind == "tdigest"]
    assert len(td) == len(pdf.groupby(["repo", "lang"]))
    for _, r in td.iterrows():
        st = state_from_bytes(bytes(r.state))
        g = pdf[(pdf.repo == r.repo) & (pdf.lang == r.lang)]
        sizes = g.content.str.len().to_numpy(dtype=float)
        assert st.n_items == len(g)
        med = st.quantile(0.5)
        assert sizes.min() <= med <= sizes.max()


def test_native_scan_count_parity_with_numpy():
    """bloom_scan_count (the flagship read kernel) must agree bit-for-bit
    with the numpy gather+AND+popcount fallback."""
    from kwage_spark.kernels import _native
    if not _native.HAVE_NATIVE:
        import pytest
        pytest.skip("no C compiler")
    import numpy as np
    rng = np.random.default_rng(9)
    n_rows, row_bytes, num_hash = 37, 1 << 10, 3
    m = row_bytes * 8
    B = rng.integers(0, 256, size=(n_rows, row_bytes), dtype=np.uint8)
    sizes = [5, 1, 17, 0, 41]  # incl. an empty query
    idx_list = [rng.integers(0, m, size=(s, num_hash), dtype=np.uint32)
                for s in sizes]
    flat = (np.concatenate([a.ravel() for a in idx_list])
            .astype(np.uint32))
    qoff = np.concatenate(([0], np.cumsum([a.size for a in idx_list])))
    got = _native.bloom_scan_count(B, flat, qoff, num_hash)
    for j, idx in enumerate(idx_list):
        if idx.size == 0:
            assert (got[:, j] == 0).all()
            continue
        fl = idx.ravel()
        g = (B[:, (fl >> 3).astype(np.int64)]
             >> (fl & 7).astype(np.uint8)) & np.uint8(1)
        want = g.reshape(n_rows, -1, num_hash).all(axis=2).sum(axis=1)
        assert (got[:, j] == want).all(), j


def test_sliced_scan_parity_with_rowmajor():
    """Bit-sliced scan (transpose_bits + bloom_scan_count_sliced) must
    equal the row-major kernel and the numpy formula."""
    from kwage_spark.kernels import _native
    if not _native.HAVE_NATIVE:
        import pytest
        pytest.skip("no C compiler")
    import numpy as np
    rng = np.random.default_rng(17)
    n_rows, row_bytes, num_hash = 101, 256, 3  # odd row count on purpose
    B = rng.integers(0, 256, size=(n_rows, row_bytes), dtype=np.uint8)
    sizes = [7, 0, 23, 1]
    idx_list = [rng.integers(0, row_bytes * 8, size=(s, num_hash),
                             dtype=np.uint32) for s in sizes]
    flat = np.concatenate([a.ravel() for a in idx_list]).astype(np.uint32)
    qoff = np.concatenate(([0], np.cumsum([a.size for a in idx_list])))
    want = _native.bloom_scan_count(B, flat, qoff, num_hash)
    S = _native.transpose_bits(B)
    got = _native.bloom_scan_count_sliced(S, n_rows, flat, qoff, num_hash)
    assert (got == want).all()
    # transpose itself vs the numpy reference
    ref = np.packbits(np.ascontiguousarray(
        np.unpackbits(B, axis=1, bitorder="little").T), axis=1,
        bitorder="little")
    assert (S == ref).all()


def test_jumbo_query_routes_to_int32_kernel():
    """A query with >= 2^16 unique grams must NOT take the bit-sliced path
    (uint16 per-row counters would wrap mod 65536); scan_count_chunks
    routes the batch to the int32 row-major kernel instead."""
    from kwage_spark.kernels import _native
    if not _native.HAVE_NATIVE:
        import pytest
        pytest.skip("no C compiler")
    import numpy as np
    num_hash = 1
    n_grams_jumbo = (1 << 16) + 500
    rng = np.random.default_rng(23)
    B = np.full((8, 32), 0xFF, dtype=np.uint8)  # all bits set: count = n_grams
    # 64 queries total (>= 64 triggers the sliced path when eligible);
    # query 0 is the jumbo one
    idx_list = [rng.integers(0, 256, size=(n_grams_jumbo, num_hash),
                             dtype=np.uint32)]
    idx_list += [rng.integers(0, 256, size=(1, num_hash), dtype=np.uint32)
                 for _ in range(63)]
    flat = np.concatenate([a.ravel() for a in idx_list]).astype(np.uint32)
    qoff = np.concatenate(([0], np.cumsum([a.size for a in idx_list])
                           )).astype(np.int64)
    chunks = list(_native.scan_count_chunks(B, flat, qoff, num_hash))
    full = np.concatenate([m for _r0, m in chunks], axis=0)
    assert full.shape == (8, 64)
    # uint16 wrap would report n_grams_jumbo - 65536 = 500
    assert (full[:, 0] == n_grams_jumbo).all(), full[:, 0]
    assert (full[:, 1:] == 1).all()


def _queries(rng, sizes, m_bits, num_hash):
    """Flat gram-major bit indices + offsets for queries of given sizes."""
    idx = [rng.integers(0, m_bits, size=(n, num_hash), dtype=np.uint32)
           for n in sizes]
    flat = (np.concatenate([a.ravel() for a in idx]) if idx
            else np.empty(0, dtype=np.uint32)).astype(np.uint32)
    qoff = np.concatenate(([0], np.cumsum([a.size for a in idx]))
                          ).astype(np.int64)
    return flat, qoff


def test_numpy_fallbacks_match_native():
    """Every _native wrapper an operator calls must give the native result
    from its own numpy path when HAVE_NATIVE is False (no Spark here)."""
    import pytest
    from kwage_spark.kernels import _native
    if not _native.HAVE_NATIVE:
        pytest.skip("no C compiler")
    rng = np.random.default_rng(31)

    def both(fn):
        want = fn()
        try:
            _native.HAVE_NATIVE = False
            got = fn()
        finally:
            _native.HAVE_NATIVE = True
        return want, got

    def scan(B, flat, qoff, num_hash):
        chunks = list(_native.scan_count_chunks(B, flat, qoff, num_hash))
        assert [r0 for r0, _ in chunks][:1] == [0]
        return np.concatenate([m for _, m in chunks], axis=0)

    # scan chooser: row-major (< 64 queries) and bit-sliced (>= 64), each
    # with an empty query; then a jumbo query (>= 2^16 grams)
    num_hash = 3
    B = rng.integers(0, 256, size=(101, 256), dtype=np.uint8)
    for sizes in ([7, 0, 23, 1, 40],
                  [int(n) for n in rng.integers(0, 30, size=70)] + [0]):
        flat, qoff = _queries(rng, sizes, B.shape[1] * 8, num_hash)
        want, got = both(lambda: scan(B, flat, qoff, num_hash))
        assert want.shape == (B.shape[0], len(sizes))
        assert np.array_equal(want, got)
        assert not want[:, sizes.index(0)].any()
    Bj = rng.integers(0, 256, size=(9, 32), dtype=np.uint8)
    flat, qoff = _queries(rng, [(1 << 16) + 500] + [3] * 63, 256, 1)
    want, got = both(lambda: scan(Bj, flat, qoff, 1))
    assert np.array_equal(want, got)

    # sliding_ranges_multiseed: unordered ranges, some shorter than k
    k = 8
    buf = np.frombuffer(rng.bytes(2000), dtype=np.uint8)
    starts = np.asarray([500, 10, 1200, 3, 900, 1990], dtype=np.int64)
    lens = np.asarray([40, 5, 100, 0, 8, 7], dtype=np.int64)
    seeds = np.arange(4, dtype=np.uint32)
    want, got = both(lambda: _native.sliding_ranges_multiseed(
        buf, starts, lens, k, seeds))
    assert want.shape == (33 + 93 + 1, 4)
    assert np.array_equal(want, got)

    # sliding_ranges_minhash: a small flush constant splits the batch
    mh_seeds = (0x1000 + np.arange(16)).astype(np.uint32)
    old = _native.MAX_STACKED_WINDOWS
    try:
        _native.MAX_STACKED_WINDOWS = 37
        want, got = both(lambda: _native.sliding_ranges_minhash(
            buf, starts, lens, k, mh_seeds))
    finally:
        _native.MAX_STACKED_WINDOWS = old
    assert np.array_equal(want, got)
    short = lens < k
    assert (want[short] == 0xFFFFFFFF).all()
    assert (want[~short] != 0xFFFFFFFF).any(axis=1).all()


def test_operators_never_branch_on_native():
    """The native-or-numpy choice lives inside kernels/_native.py; no
    operator module may read HAVE_NATIVE."""
    import pathlib
    import kwage_spark
    root = pathlib.Path(kwage_spark.__file__).parent / "operators"
    offenders = [str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
                 if "HAVE_NATIVE" in p.read_text()]
    assert offenders == []
