"""Hypothesis property tests for the distance-metric kernels (SURVEY §5).

These exercise the batch numpy kernels and per-pair reference kernels
directly (the Spark wrappers are thin Arrow shims over exactly these
functions), so hundreds of generated cases run without JVM round-trips.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from polars_ds_extension_spark.functions.string_ import (
    _codes_batch, _dleven, _dleven_batch, _jaro, _jw, _lcs_batch,
    _lcs_subseq_len, _osa, _osa_batch,
)

TEXT = st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=300),
               max_size=24)


def _lev_ref(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


@settings(max_examples=200, deadline=None)
@given(TEXT, TEXT)
def test_osa_dleven_bounds_and_symmetry(a, b):
    osa, dl = _osa(a, b), _dleven(a, b)
    lev = _lev_ref(a, b)
    # identity / symmetry / bounds: dl <= osa <= lev <= max(len)
    assert _osa(a, a) == 0 and _dleven(a, a) == 0
    assert _osa(b, a) == osa and _dleven(b, a) == dl
    assert dl <= osa <= lev <= max(len(a), len(b))
    # distances differ from lev only when a transposition helps
    assert lev - osa <= max(len(a), len(b))


@settings(max_examples=200, deadline=None)
@given(TEXT, TEXT, TEXT)
def test_dleven_triangle(a, b, c):
    # Damerau-Levenshtein (unrestricted) is a metric
    assert _dleven(a, c) <= _dleven(a, b) + _dleven(b, c)


@settings(max_examples=150, deadline=None)
@given(TEXT, TEXT)
def test_jaro_jw_ranges(a, b):
    j, jw = _jaro(a, b), _jw(a, b)
    assert 0.0 <= j <= 1.0 and 0.0 <= jw <= 1.0
    assert _jaro(a, a) == (1.0 if a else 1.0)
    assert abs(_jaro(b, a) - j) < 1e-12
    # winkler only boosts: jw >= j when above threshold, equal otherwise
    assert jw + 1e-12 >= j


@settings(max_examples=150, deadline=None)
@given(TEXT, TEXT)
def test_lcs_subseq_properties(a, b):
    l = _lcs_subseq_len(a, b)
    assert 0 <= l <= min(len(a), len(b))
    assert _lcs_subseq_len(b, a) == l
    assert _lcs_subseq_len(a, a) == len(a)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=16))
def test_batch_kernels_match_scalar(pairs):
    """The vectorized batch kernels equal the per-pair reference kernels
    on every generated pair — the contract the Arrow UDFs rely on."""
    A, la = _codes_batch([p[0] for p in pairs])
    B2, lb = _codes_batch([p[1] for p in pairs])
    osa = _osa_batch(A, la, B2, lb)
    dl = _dleven_batch(A, la, B2, lb)
    lcs = _lcs_batch(A, la, B2, lb)
    for i, (x, y) in enumerate(pairs):
        assert osa[i] == _osa(x, y)
        assert dl[i] == _dleven(x, y)
        assert lcs[i] == _lcs_subseq_len(x, y)


# ---------------------------------------------------- LSH / banding (r9)

from polars_ds_extension_spark.operators.dedup import minhash_bands_batch
from polars_ds_extension_spark.operators.knn import srp_signatures_batch

SHINGLES = st.lists(
    st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
    min_size=0, max_size=40)


@settings(max_examples=100, deadline=None)
@given(st.lists(SHINGLES, min_size=1, max_size=8),
       st.integers(min_value=0, max_value=3))
def test_minhash_bands_order_and_batch_invariance(docs, cut):
    """Band hashes must not depend on shingle order within a doc, on
    row order across docs, or on where Arrow batch boundaries fall —
    any of those leaking in would make LSH recall partition-dependent."""
    arrays = [np.array(d, dtype=np.int64) for d in docs]
    base = minhash_bands_batch(arrays, 24, 8)
    # shingle-order independence (min over a set)
    shuffled = [a[::-1].copy() for a in arrays]
    assert np.array_equal(minhash_bands_batch(shuffled, 24, 8), base)
    # batch-boundary independence: split at an arbitrary point
    k = min(cut, len(arrays))
    split = np.vstack([minhash_bands_batch(arrays[:k], 24, 8)
                       .reshape(k, 8),
                       minhash_bands_batch(arrays[k:], 24, 8)
                       .reshape(len(arrays) - k, 8)])
    assert np.array_equal(split, base)


@settings(max_examples=100, deadline=None)
@given(SHINGLES.filter(lambda d: len(d) > 0),
       st.sampled_from([(24, 8), (24, 12), (96, 32), (96, 16)]))
def test_minhash_identical_sets_share_every_band(doc, shape):
    """Recall floor for exact duplicates: two docs with the SAME
    shingle set share every band hash at ANY (n_hashes, bands) with
    bands | n_hashes — banding can never lose an exact dup."""
    n_hashes, bands = shape
    a = np.array(doc, dtype=np.int64)
    b = np.array(list(reversed(doc)) + [doc[0]], dtype=np.int64)  # same set
    out = minhash_bands_batch([a, np.unique(a), b], n_hashes, bands)
    assert np.array_equal(out[0], out[1])
    # b adds a duplicate element only — set-identical, bands identical
    assert np.array_equal(out[0], out[2])


# ------------------------------------ k-gram hashing kernel (pure numpy)

import pyarrow as pa

from polars_ds_extension_spark.operators import dedup as _dedup

_M64 = (1 << 64) - 1
_XP1, _XP2, _XP3, _XP4, _XP5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xround(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _XP2) & _M64, 31) * _XP1 & _M64


def _xxh64_ref(b: bytes, seed: int = 42) -> int:
    """Scalar XXH64 as signed int64 — the textbook algorithm, one byte
    string at a time; Spark's ``xxhash64`` of a string is this with
    seed 42."""
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + _XP1 + _XP2) & _M64, (seed + _XP2) & _M64, seed,
             (seed - _XP1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _xround(v[j], int.from_bytes(b[i + 8 * j:i + 8 * j + 8],
                                                    "little"))
            i += 32
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12)
             + _rotl64(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xround(0, x)) * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xround(0, int.from_bytes(b[i:i + 8], "little"))
        h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(b[i:i + 4], "little") * _XP1 & _M64
        h = (_rotl64(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    for c in b[i:]:
        h ^= c * _XP5 & _M64
        h = _rotl64(h, 11) * _XP1 & _M64
    h ^= h >> 33
    h = h * _XP2 & _M64
    h ^= h >> 29
    h = h * _XP3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _kgrams_ref(t, k: int) -> list:
    """`hashed_char_shingles` in plain Python: hash substring(t, i, k)
    over code points for i = 1..max(len−k+1, 1), distinct in
    first-occurrence order; NULL → [xxhash64(NULL)] = [42]."""
    if t is None:
        return [42]
    hs = [_xxh64_ref(t[i:i + k].encode()) for i in range(max(len(t) - k + 1, 1))]
    return list(dict.fromkeys(hs))


# no surrogates (not encodable as UTF-8); 1-4 byte code points
DOC = st.one_of(st.none(), st.text(
    alphabet=st.characters(exclude_categories=("Cs",)), max_size=60))


def test_xxh64_ref_known_values():
    """The reference itself: XXH64's published vectors (seed 0) and
    Spark's ``xxhash64`` of '' and 'Spark' (seed 42)."""
    assert _xxh64_ref(b"", 0) == 0xEF46DB3751D8E999 - (1 << 64)
    assert _xxh64_ref(b"abc", 0) == 0x44BC2CF5AD770999
    assert _xxh64_ref(b"Spark") == -4294468057691064905


@settings(max_examples=60, deadline=None)
@given(st.lists(DOC, min_size=1, max_size=12),
       st.sampled_from([1, 3, 12, 40]))
def test_shingle_minhash_batch_matches_reference(docs, k):
    """Values AND order of every doc's k-gram hashes equal the scalar
    reference (null, empty, shorter-than-k and multi-byte docs included;
    k=40 puts ≥32-byte windows through XXH64's stripe loop), and the
    bands equal `minhash_bands_batch` of those hashes."""
    flat, offs, bands = _dedup.shingle_minhash_batch(
        pa.array(docs, pa.string()), k, 24, 8)
    ref = [_kgrams_ref(t, k) for t in docs]
    assert offs[0] == 0 and len(offs) == len(docs) + 1
    assert [flat[a:b].tolist() for a, b in zip(offs[:-1], offs[1:])] == ref
    assert np.array_equal(bands, _dedup.minhash_bands_batch(
        [np.array(r, np.int64) for r in ref], 24, 8))


@settings(max_examples=60, deadline=None)
@given(st.lists(DOC, min_size=1, max_size=12),
       st.integers(min_value=0, max_value=12),
       st.sampled_from([1, 7, 64]))
def test_shingle_minhash_batch_split_and_chunk_invariance(docs, cut, chunk):
    """Per-doc results do not depend on where Arrow batches split, on an
    array slice's offset, or on the kernel's chunk size."""
    arr = pa.array(docs, pa.string())
    flat, offs, bands = _dedup.shingle_minhash_batch(arr, 12, 24, 8)
    cut = min(cut, len(docs))
    parts = [_dedup.shingle_minhash_batch(arr.slice(a, b - a), 12, 24, 8)
             for a, b in ((0, cut), (cut, len(docs)))]
    assert np.array_equal(np.concatenate([p[0] for p in parts]), flat)
    assert np.array_equal(np.vstack([p[2] for p in parts]), bands)
    old = _dedup._KERNEL_CHUNK_BYTES
    _dedup._KERNEL_CHUNK_BYTES = chunk
    try:
        small = _dedup.shingle_minhash_batch(arr, 12, 24, 8)
    finally:
        _dedup._KERNEL_CHUNK_BYTES = old
    for got, want in zip(small, (flat, offs, bands)):
        assert np.array_equal(got, want)


VEC = st.lists(st.floats(min_value=-1e6, max_value=1e6,
                         allow_nan=False, allow_infinity=False,
                         width=64),
               min_size=2, max_size=16)


@settings(max_examples=100, deadline=None)
@given(st.lists(VEC, min_size=1, max_size=6).filter(
    lambda vs: len({len(v) for v in vs}) == 1))
def test_srp_signatures_row_order_and_determinism(vecs):
    X = np.array(vecs, dtype=np.float64)
    s1 = srp_signatures_batch(X, 4, 12)
    # determinism across calls and row orders
    assert np.array_equal(srp_signatures_batch(X.copy(), 4, 12), s1)
    perm = np.arange(len(X))[::-1].copy()
    assert np.array_equal(srp_signatures_batch(X[perm], 4, 12), s1[perm])
    # identical rows get identical signatures in every table
    X2 = np.vstack([X, X[0:1]])
    s2 = srp_signatures_batch(X2, 4, 12)
    assert np.array_equal(s2[-1], s2[0])
    # signatures fit in n_planes bits
    assert (s1 >= 0).all() and (s1 < (1 << 12)).all()


# components are 0 or of sane magnitude: scaling a DENORMAL (5e-324)
# underflows to 0 and legitimately flips the sign bit — an fp artifact
# outside the operator's embedding domain, found by hypothesis
NORMAL_VEC = st.lists(
    st.one_of(st.just(0.0),
              st.floats(min_value=1e-6, max_value=1e6),
              st.floats(min_value=-1e6, max_value=-1e-6)),
    min_size=2, max_size=16)


@settings(max_examples=100, deadline=None)
@given(NORMAL_VEC, st.floats(min_value=0.25, max_value=4.0))
def test_srp_signature_positive_scale_invariance(v, c):
    """sign(c·x @ r) == sign(x @ r) for c > 0 — LSH bucketing must
    depend only on direction, never magnitude."""
    X = np.array([v], dtype=np.float64)
    assert np.array_equal(srp_signatures_batch(X * c, 4, 12),
                          srp_signatures_batch(X, 4, 12))


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=1, max_value=6),
       st.integers(min_value=2, max_value=12),
       st.integers(min_value=1, max_value=8),
       st.integers(min_value=0, max_value=10_000))
def test_topk_rows_matches_full_lexsort(rows, cols, k, seed):
    """_topk_rows must equal a full (score ASC, id ASC) lexsort
    truncated to k — including at tied boundaries. Scores are drawn
    from a tiny value set so k-th-boundary ties are the COMMON case,
    not a fluke."""
    from polars_ds_extension_spark.operators.knn import _topk_rows

    rng = np.random.default_rng(seed)
    score = rng.integers(0, 4, size=(rows, cols)).astype(np.float64)
    ids = rng.permutation(cols * 3)[:cols].astype(np.int64)
    kk = min(k, cols)
    psc, nid = _topk_rows(score.copy(), ids, kk)
    ids_b = np.broadcast_to(ids[None, :], score.shape)
    order = np.lexsort((ids_b, score), axis=1)[:, :kk]
    ref_psc = np.take_along_axis(score, order, axis=1)
    ref_nid = np.take_along_axis(ids_b, order, axis=1)
    assert np.array_equal(psc, ref_psc)
    assert np.array_equal(nid, ref_nid)


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=2, max_value=40),   # index rows
       st.integers(min_value=1, max_value=10),   # queries
       st.integers(min_value=1, max_value=6),    # k
       st.integers(min_value=1, max_value=5),    # cells
       st.integers(min_value=1, max_value=5),    # nprobe
       st.integers(min_value=0, max_value=10_000))
def test_ivf_percell_topk_then_merge_equals_global(n, q, k, cells,
                                                   nprobe, seed):
    """ivf_search's two-stage selection (per-cell top-k inside the
    cogroup, then a per-query (score DESC, id ASC) window merge across
    the probed cells) must equal ONE global top-k over the union of the
    probed cells' members — cell-local truncation may never drop a
    global winner, INCLUDING at exact score ties (scores drawn from a
    tiny integer set so k-th-boundary ties are the common case, the
    regime where r9's _topk_rows boundary fix lives). Pure-numpy model
    of knn.ivf_search's selection semantics (per-cell _topk_rows with
    the same (score, id) contract, then a lexsort merge)."""
    from polars_ds_extension_spark.operators.knn import _topk_rows

    rng = np.random.default_rng(seed)
    ids = rng.permutation(n * 3)[:n].astype(np.int64)
    cell_of = rng.integers(0, cells, size=n)
    # scores per (query, index row) from a tiny set -> dense exact ties
    score = rng.integers(0, 3, size=(q, n)).astype(np.float64)
    probed = [rng.choice(cells, size=min(nprobe, cells), replace=False)
              for _ in range(q)]

    merged_sc = np.full((q, k), np.inf)
    merged_id = np.full((q, k), -1, dtype=np.int64)
    for qi in range(q):
        # stage 1: per-cell top-k (what each cogroup cell emits)
        cand_sc, cand_id = [], []
        for c in probed[qi]:
            m = cell_of == c
            if not m.any():
                continue
            kk = min(k, int(m.sum()))
            psc, nid = _topk_rows(score[qi:qi + 1, m], ids[m], kk)
            cand_sc += list(psc[0])
            cand_id += list(nid[0])
        if not cand_sc:
            continue
        # stage 2: the window merge — (score ASC here, id ASC), take k
        order = np.lexsort((cand_id, cand_sc))[:k]
        got_sc = np.array(cand_sc)[order]
        got_id = np.array(cand_id)[order]
        # reference: ONE global selection over the probed-cell union
        m_all = np.isin(cell_of, probed[qi])
        kk = min(k, int(m_all.sum()))
        ref_sc, ref_id = _topk_rows(score[qi:qi + 1, m_all], ids[m_all], kk)
        assert np.array_equal(got_sc, ref_sc[0])
        assert np.array_equal(got_id, ref_id[0])
