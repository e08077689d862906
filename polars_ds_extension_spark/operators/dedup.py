"""Large-scale document deduplication operators.

The reference repo has no dedup module; these are the training-data
pipeline operators the brief names as first-class. Every design here is
shaped for the 100 TB case:

  * exact dedup shuffles 8-byte hashes, never text;
  * minhash signatures are computed scan-side (zero shuffle), candidate
    generation is ONE shuffle on (band, band_hash), and bucket size is
    capped so a degenerate bucket (all-identical spam) cannot produce an
    O(n²) pair explosion on one executor;
  * the hash function never leaks into results — candidates are always
    re-verified with exact Jaccard, so output is engine-independent and
    oracle-checkable;
  * there is NO all-pairs join anywhere.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import ArrayType, LongType, StructField, StructType
from pyspark.sql.window import Window

# --------------------------------------------------------------- exact dedup

def exact_dedup(df: DataFrame, cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct value of ``cols``.

    Shuffles on xxhash64(cols) — 8 bytes per row regardless of text width.
    A final equality check within hash groups guards against the ~2^-64
    collision case without ever comparing across groups.
    """
    h = F.xxhash64(*[F.col(c) for c in cols])
    w = df.withColumn("__h", h)
    keep = w.groupBy("__h", *cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")


def duplicate_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-row summary: total rows, distinct values of ``cols``, dupe rows.

    distinct is counted exactly via the same hash-group trick (one
    shuffle); at extreme scale swap count_distinct for approx_count_distinct.
    """
    h = F.xxhash64(*[F.col(c) for c in cols])
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(h).alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct(h)).alias("n_dupes"),
    )


# ----------------------------------------------------------------- shingling

def char_shingles(text, k: int = 12) -> Column:
    """Distinct character k-grams of ``text`` — the MinHash token set.

    Pure JVM higher-order functions; computed scan-side, never shuffled.
    """
    t = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
            lambda i: F.substring(t, i, k),
        )
    )


def hashed_char_shingles(text, k: int = 12) -> Column:
    """Distinct xxhash64 values of the character k-grams of ``text``, in
    first-occurrence order — `char_shingles` composed with the hash,
    with `array_distinct` running AFTER hashing, over longs. Identical
    result set (distinct k-grams → distinct longs at ~n²/2⁶⁴ collision
    odds — the same equivalence the Jaccard-on-hashes verify relies on).

    The interpreted reference for `shingle_minhash`'s ``sh``, which the
    minhash plans use instead: a HOF lambda per k-gram is not codegen'd
    (2.2 s against the kernel's 0.35 s on one core, see there). The
    parity tests compare the two.
    """
    t = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
            lambda i: F.xxhash64(F.substring(t, i, k)),
        )
    )


def word_shingles(text, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of whitespace-tokenized
    text. The token array is let-bound so the split runs ONCE per row —
    referencing the raw split() tree inside the transform lambda
    re-tokenizes the document per n-gram position (no CSE inside HOF
    lambdas; measured 5× on the shingle scan at sf0.1)."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.trim(t), r"\s+")
    return _let(toks, lambda w: F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        )
    ))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two array columns (order-insensitive)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def jaccard_distinct(a: Column, b: Column) -> Column:
    """Jaccard for arrays ALREADY distinct (every shingle set here is):
    |a∩b| / (|a| + |b| − |a∩b|) — ONE array_intersect instead of
    intersect + union, halving the hash work and skipping the union
    array allocation on the verify hot path (the same add-subtract
    identity every SQL oracle uses). The intersection size is let-bound
    (`_let`): the body references it three times, and unbound it was
    computed up to three times per pair (measured on 923 verify pairs of
    ~700-hash sets: 0.8 → 0.4 s of JVM CPU, same values)."""
    n = F.size(a) + F.size(b)
    return _let(F.size(F.array_intersect(a, b)).cast("double"),
                lambda inter: F.when(n - inter == 0, F.lit(0.0))
                .otherwise(inter / (n - inter)))


# ------------------------------------------------------------------- minhash

def _let(bound: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``bound`` ONCE and
    feed it to ``body`` as a lambda variable.

    Catalyst's CollapseProject substitutes a projected expression into
    every reference site — referencing an expensive column inside N
    band/bit expressions recomputes it N times per row. A single-element
    `transform` makes the value a lambda variable, which IS evaluated
    once. (Measured: 32-band MinHash banding went 195s → ~8s at sf0.1.)
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


#: XXH64 primes (Spark's `XXH64`, the hash behind ``F.xxhash64``)
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
#: ``F.xxhash64``'s seed — also its value for a NULL input
_XXH_SEED = 42
#: the four stripe accumulators' start values and the short-input start
_XXH_V0 = [np.uint64((_XXH_SEED + c) % (1 << 64)) for c in (
    int(_P1) + int(_P2), int(_P2), 0, -int(_P1))]
_XXH_H0 = np.uint64(_XXH_SEED + int(_P5))

#: text bytes per kernel chunk: bounds the per-window intermediates
#: (~80 bytes per window, measured 26 MB peak at this size against 72 MB
#: for one 855 KB chunk, at the same speed) whatever the Arrow batch holds
_KERNEL_CHUNK_BYTES = 1 << 18


def _rotl(x: "np.ndarray", r: int) -> "np.ndarray":
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh_round(acc: "np.ndarray", lane: "np.ndarray") -> "np.ndarray":
    return _rotl(acc + lane * _P2, 31) * _P1


def _xxh64_windows(data: "np.ndarray", starts: "np.ndarray",
                   n: int) -> "np.ndarray":
    """XXH64 (seed 42) of the ``n``-byte windows of ``data`` (uint8) at
    byte offsets ``starts`` — `XXH64.hashUnsafeBytes`, vectorized over
    windows of ONE length so every window walks the same stripe / word /
    tail schedule. Little-endian lane reads go through stride-1 views,
    so no window is copied out."""
    u64 = np.ndarray((max(len(data) - 7, 0),), "<u8", data, strides=(1,))
    u32 = np.ndarray((max(len(data) - 3, 0),), "<u4", data, strides=(1,))
    if n >= 32:
        v = [np.full(len(starts), v0) for v0 in _XXH_V0]
        for off in range(0, n - 31, 32):
            for j in range(4):
                v[j] = _xxh_round(v[j], u64[starts + (off + 8 * j)])
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for j in range(4):
            h = (h ^ _xxh_round(np.uint64(0), v[j])) * _P1 + _P4
    else:
        h = np.full(len(starts), _XXH_H0)
    h += np.uint64(n)
    off = n & ~31
    while off + 8 <= n:
        h ^= _xxh_round(np.uint64(0), u64[starts + off])
        h = _rotl(h, 27) * _P1 + _P4
        off += 8
    if off + 4 <= n:
        h ^= u32[starts + off].astype(np.uint64) * _P1
        h = _rotl(h, 23) * _P2 + _P3
        off += 4
    for off in range(off, n):
        h ^= data[starts + off].astype(np.uint64) * _P5
        h = _rotl(h, 11) * _P1
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def _kgram_hashes(data: "np.ndarray", offs: "np.ndarray",
                  valid: "np.ndarray", k: int):
    """Distinct k-gram hashes of the UTF-8 docs ``data[offs[i]:offs[i+1]]``
    (``offs`` rebased to 0, int32): exactly `hashed_char_shingles`, values
    and order. Windows are the Spark ``substring(t, i, k)`` calls for
    i = 1..max(len−k+1, 1) over code points; a NULL doc gives [42]
    (``xxhash64(NULL)``). Returns (flat uint64 hashes, int32 doc starts
    into it); every doc has at least one hash."""
    n_docs = len(offs) - 1
    total = int(offs[-1])
    is_cp = (data[:total] & 0xC0) != 0x80  # code-point lead bytes
    cp_pos = np.append(np.flatnonzero(is_cp).astype(np.int32),
                       np.int32(total))
    cp_before = np.zeros(total + 1, dtype=np.int32)
    np.cumsum(is_cp, dtype=np.int32, out=cp_before[1:])
    first = cp_before[offs[:-1]]
    n_cp = np.where(valid, cp_before[offs[1:]] - first, 0).astype(np.int32)
    n_win = np.maximum(n_cp - (k - 1), 1)
    wstart = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_win, dtype=np.int32, out=wstart[1:])
    doc = np.repeat(np.arange(n_docs, dtype=np.int32), n_win)
    j = np.arange(wstart[-1], dtype=np.int32) - wstart[doc]
    lo = first[doc] + j
    hi = lo + np.minimum(k, n_cp[doc] - j)
    starts, lens = cp_pos[lo], cp_pos[hi] - cp_pos[lo]
    del lo, hi, j
    h = np.empty(len(starts), dtype=np.uint64)
    order = np.argsort(lens, kind="stable")
    lens_sorted = lens[order]
    cuts = np.flatnonzero(np.diff(lens_sorted)) + 1
    for a, b in zip(np.r_[0, cuts], np.r_[cuts, len(order)]):
        idx = order[a:b]
        h[idx] = _xxh64_windows(data, starts[idx], int(lens_sorted[a]))
    h[wstart[:-1][~valid]] = np.uint64(_XXH_SEED)
    # array_distinct: the first occurrence of each (doc, hash), in place.
    # A stable sort on the hash keeps equal hashes in window order, which
    # is doc order, so each (doc, hash) run starts at its first window.
    order = np.argsort(h, kind="stable")
    hs, ds = h[order], doc[order]
    first_seen = np.ones(len(order), dtype=bool)
    first_seen[1:] = (hs[1:] != hs[:-1]) | (ds[1:] != ds[:-1])
    keep = np.zeros(len(order), dtype=bool)
    keep[order[first_seen]] = True
    kept_per_doc = np.bincount(doc[keep], minlength=n_docs)
    dstart = np.zeros(n_docs, dtype=np.int32)
    np.cumsum(kept_per_doc[:-1], dtype=np.int32, out=dstart[1:])
    return h[keep], dstart


def _band_flat(hm: "np.ndarray", starts: "np.ndarray", n_docs: int,
               n_hashes: int, bands: int) -> "np.ndarray":
    """Band hashes of docs stored flat: doc i owns ``hm[starts[i]:
    starts[i+1]]`` (uint64 shingle hashes; an empty doc bands as the
    all-zero signature). Returns (n_docs × bands) uint64.

    Hash family: x ↦ a·x + b mod 2⁶⁴ with odd a — a bijection of the
    (already-uniform) xxhash64 shingle values, i.e. a valid random
    permutation for MinHash, with NO modulo in the hot loop (integer
    wrap IS the mod; measured ~2× over the mod-p family). Exact integer
    arithmetic → bit-identical results on every platform. The hash
    family only shapes candidate recall; output pairs are exact-Jaccard
    verified."""
    rows_per_band = n_hashes // bands
    rng = np.random.default_rng(0xD5D5)
    mul = rng.integers(0, 1 << 64, size=n_hashes, dtype=np.uint64) | np.uint64(1)
    add = rng.integers(0, 1 << 64, size=n_hashes, dtype=np.uint64)
    ends = np.append(starts[1:], len(hm)) if n_docs else starts
    nonempty = ends > starts
    sig = np.zeros((n_docs, n_hashes), dtype=np.uint64)
    if nonempty.any():
        at = starts[nonempty]
        for i in range(n_hashes):
            perm = mul[i] * hm + add[i]  # wraps mod 2^64: bijective, odd a
            sig[nonempty, i] = np.minimum.reduceat(perm, at)
    # band hash: wrapping polynomial fold of the band's minima
    out = np.zeros((n_docs, bands), dtype=np.uint64)
    for b in range(bands):
        acc = np.zeros(n_docs, dtype=np.uint64)
        for r in range(rows_per_band):
            acc = acc * np.uint64(1_000_003) + sig[:, b * rows_per_band + r]
        out[:, b] = acc
    return out


def minhash_bands_batch(arrays, n_hashes: int = 96,
                        bands: int = 32) -> "np.ndarray":
    """Banded MinHash of per-doc shingle-hash arrays: ``arrays`` is a
    sequence of int64 arrays (one per doc); returns an (rows × bands)
    int64 array of band hashes, the values `shingle_minhash` stores in
    ``bands``. Exposed so the banding invariants (shingle-order
    independence, batch-boundary determinism, identical-set band
    equality — the recall floor for exact duplicates) are directly
    property-testable without a JVM."""
    lens = np.array([len(v) for v in arrays], dtype=np.int64)
    starts = np.zeros(len(arrays), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    flat = (np.concatenate([np.asarray(v, dtype=np.int64) for v in arrays])
            if len(arrays) else np.empty(0, dtype=np.int64))
    return _band_flat(flat.view(np.uint64), starts, len(arrays),
                      n_hashes, bands).view(np.int64)


def shingle_minhash_batch(texts: "pa.Array", k: int = 12,
                          n_hashes: int = 96, bands: int = 32):
    """The kernel behind `shingle_minhash`, on one Arrow string array:
    returns (flat int64 distinct k-gram hashes, int64 doc offsets into
    it, len(texts)+1 of them, and the (rows × bands) int64 band hashes).

    Reads the Arrow offsets and UTF-8 bytes zero-copy and works in
    chunks of whole docs of about `_KERNEL_CHUNK_BYTES` text bytes, so
    its intermediates stay bounded and int32 whatever the batch size.
    Per doc the result depends on that doc alone, so it does not change
    with where Arrow batches or chunks split."""
    n = len(texts)
    if n == 0:
        return (np.empty(0, np.int64), np.zeros(1, np.int64),
                np.empty((0, bands), np.int64))
    if pa.types.is_large_string(texts.type):
        texts = texts.cast(pa.string())
    _, ob, db = texts.buffers()
    offs = np.frombuffer(ob, dtype=np.int32, count=n + 1, offset=4 * texts.offset)
    data = (np.frombuffer(db, dtype=np.uint8) if db is not None
            else np.zeros(0, np.uint8))
    valid = (texts.is_valid().to_numpy(zero_copy_only=False) if texts.null_count
             else np.ones(n, dtype=bool))
    flats, starts, band_parts, a, pos = [], [], [], 0, 0
    while a < n:  # whole docs, ~_KERNEL_CHUNK_BYTES each
        b = max(a + 1, int(np.searchsorted(
            offs, int(offs[a]) + _KERNEL_CHUNK_BYTES, side="right")) - 1)
        h, dstart = _kgram_hashes(data[offs[a]:offs[b]], offs[a:b + 1] - offs[a],
                                  valid[a:b], k)
        flats.append(h)
        starts.append(dstart + pos)
        band_parts.append(_band_flat(h, dstart, b - a, n_hashes, bands))
        a, pos = b, pos + len(h)
    return (np.concatenate(flats).view(np.int64),
            np.append(np.concatenate(starts), pos).astype(np.int64),
            np.vstack(band_parts).view(np.int64))


#: `shingle_minhash`'s result: the distinct k-gram hashes (the ``__sh``
#: shingle set) and the band hashes (``__bands``)
_SH_BANDS = StructType([
    StructField("sh", ArrayType(LongType(), False), False),
    StructField("bands", ArrayType(LongType(), False), False),
])


def shingle_minhash(text, k: int = 12, n_hashes: int = 96,
                    bands: int = 32) -> Column:
    """Distinct char-k-gram hashes AND banded MinHash of ``text`` in ONE
    vectorized Arrow pass → struct<sh: array<long>, bands: array<long>>.

    ``sh`` equals `hashed_char_shingles(text, k)` bit for bit, values and
    order (the parity tests compare them); ``bands`` is
    `minhash_bands_batch` of it. The k-gram windows are found and
    XXH64-hashed in numpy over the Arrow UTF-8 buffers
    (`shingle_minhash_batch`) instead of an interpreted JVM
    ``transform`` lambda (HOF lambdas are not codegen'd). Measured on
    one core over 1200 docs (855k chars) at k=12: the kernel takes
    0.35 s with banding, 0.6–0.8 s end to end through the UDF; the
    lambda alone took 2.2 s, before banding."""
    @arrow_udf(_SH_BANDS)
    def _udf(texts: "pa.Array") -> "pa.Array":
        flat, offsets, band = shingle_minhash_batch(texts, k, n_hashes, bands)
        n = len(texts)
        item = pa.field("item", pa.int64(), nullable=False)
        sh = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), pa.array(flat),
            type=pa.list_(item))
        bh = pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * bands + 1, bands, dtype=np.int32)),
            pa.array(band.reshape(-1)), type=pa.list_(item))
        return pa.StructArray.from_arrays(
            [sh, bh], fields=[pa.field("sh", sh.type, nullable=False),
                              pa.field("bands", bh.type, nullable=False)])

    return _udf(F.col(text) if isinstance(text, str) else text)


def _minhash_base(df: DataFrame, id_col: str, text_col: str,
                  shingle_k: int, n_hashes: int, bands: int) -> DataFrame:
    """The pinned (__id, __th, __sh, __bands) frame every minhash
    consumer shares: shingle hashes AND band hashes come out of ONE
    Arrow kernel call per batch (`shingle_minhash`), so the text crosses
    into Python once and the banding never re-reads the shingle cache.
    ``__th`` (the text's own xxhash64) stays a JVM expression.

    Pinned (shared LRU registry — evicted by later queries, not
    session-lifetime): banding and BOTH sides of the verify join would
    otherwise replay the shingle scan (3 passes → 1), the same
    materialize-once tradeoff Spark ML's MinHashLSH makes. Shingles are
    stored as xxhash64 longs (distinct k-grams → distinct longs at
    ~n²/2⁶⁴ collision odds): 3× smaller pinned frame than 12-char
    strings and long-array intersects on the verify hot path. The
    geometry is recorded on the frame, so `_ready_base` can check a
    reused base."""
    from .._utils import pin, record, spread

    return record(pin(spread(df).select(
        F.col(id_col).alias("__id"),
        # 8-byte text hash rides the pin so identical-text handling
        # (within-pairs, candidate h-filter) never re-scans the corpus
        F.xxhash64(F.col(text_col) if isinstance(text_col, str)
                   else text_col).alias("__th"),
        shingle_minhash(text_col, shingle_k, n_hashes, bands).alias("__m"),
    ).select("__id", "__th", F.col("__m.sh").alias("__sh"),
             F.col("__m.bands").alias("__bands"))),
        "_mh", f"{shingle_k}/{n_hashes}/{bands}")


def _ready_base(base: DataFrame | None, df: DataFrame, id_col: str,
                text_col: str, shingle_k: int, n_hashes: int,
                bands: int) -> DataFrame:
    """The materialized minhash base an index operator works on: the
    caller's ``base`` (from `_overlap_minhash_bases`) after checking it
    was built with THIS geometry — a mismatched base would bucket and
    verify with the wrong hashes and silently lose recall — or a fresh
    one, materialized eagerly: every index plan reads it from two
    subtrees, and a lazily persisted pin runs its Arrow banding UDF once
    per unmaterialized read in the first job."""
    from .._utils import materialize, recorded

    if base is None:
        return materialize(_minhash_base(df, id_col, text_col, shingle_k,
                                         n_hashes, bands))[0]
    want, got = f"{shingle_k}/{n_hashes}/{bands}", recorded(base, "_mh")
    if got != want:
        raise ValueError(
            f"_base was built with minhash geometry {got} "
            f"(shingle_k/n_hashes/bands) but the caller asked for "
            f"{want}; pass a base from _overlap_minhash_bases built with "
            "the same parameters")
    return base


def _overlap_minhash_bases(frames: "Sequence[tuple[DataFrame, str, str]]",
                           shingle_k: int = 12, n_hashes: int = 96,
                           bands: int = 32) -> "list[DataFrame]":
    """Build and CONCURRENTLY materialize the pinned minhash bases of
    several INDEPENDENT document frames (guide §2.6: overlap
    independent jobs). The index-lifecycle composites (build → update →
    probe in one plan) each need a base per input batch; materializing
    them serially leaves the executor tail idle between three scans
    whose inputs share nothing. Callers pass the returned frames to
    `build_near_dup_index` / `update_near_dup_index` /
    `near_dup_against_prebuilt` via ``_base=`` (which skips the
    operator's own build + eager count). Each element of ``frames`` is
    (df, id_col, text_col). If one build fails, none stays pinned."""
    from .._utils import materialize

    return materialize(*[_minhash_base(df, i, t, shingle_k, n_hashes, bands)
                         for df, i, t in frames])


def _lsh_buckets(base: DataFrame, max_bucket: int) -> DataFrame:
    """(band, band_hash) buckets of 2..max_bucket members from the
    pinned minhash base — ONE shuffle on the bucket key; the size guard
    applies in the same aggregation (no separate count + semi-join).
    collect_list + one array_distinct per bucket, not collect_set: a
    doc emits exactly ONE row per band (posexplode of its per-doc band
    array), so members are unique whenever input ids are — but that is
    a caller property, not a contract, and a duplicated input id would
    otherwise survive twice and emit a (x, x) self-pair with jaccard 1
    from the i<j transform. One vectorized distinct per bucket array
    restores collect_set's tolerance at a fraction of its per-element
    accumulation cost; array_sort then pins the deterministic i<j pair
    order."""
    exploded = base.select(
        "__id", F.posexplode("__bands").alias("band", "bh"))
    return (
        exploded.groupBy("band", "bh")
        .agg(F.collect_list("__id").alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(F.array_sort(F.array_distinct("ids")).alias("ids"))
        .where(F.size("ids") >= 2)
    )


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    """i<j member pairs of each bucket via one JVM nested transform —
    NOT yet distinct (a high-similarity pair surfaces from most of its
    32 bands; callers .distinct() once after)."""
    from .._utils import pairs

    return buckets.select(F.explode(pairs(
        "ids", lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")))
    ).alias("p")).select("p.id_a", "p.id_b")


def _lsh_candidates(base: DataFrame, max_bucket: int) -> DataFrame:
    """The distinct (id_a < id_b) candidate pairs of a minhash base's
    capped LSH buckets — the one candidate frame the banded plans
    verify and `lsh_candidate_stats` counts."""
    return _bucket_pairs(_lsh_buckets(base, max_bucket)).distinct()


def _banded_pairs(df: DataFrame, id_col: str, text_col: str,
                  threshold: float, shingle_k: int, n_hashes: int,
                  bands: int, max_bucket: int) -> DataFrame:
    """The pure banded plan: minhash base → LSH candidates → exact
    Jaccard verify, (id_a, id_b, jaccard). Recall is cap-limited on
    everything, identical texts included — the callers that need those
    pairs cap-independently carry their own exact tier."""
    base = _minhash_base(df, id_col, text_col, shingle_k, n_hashes, bands)
    return _verify_pairs(base, _lsh_candidates(base, max_bucket), threshold)


def _dup_rate_gate(df: DataFrame, text_col: str,
                   hashed=None) -> "tuple[bool, int]":
    """The shared adaptive-collapse gate: ONE count + approx-distinct
    (HLL) aggregation measures the exact-dup rate; collapse when
    duplicated rows exceed 10% of the corpus. Approx, not exact — a 5%
    rsd cannot flip a decision that only matters when the true rate is
    far from the 10% line. Returns (collapse, n_rows). Every gated
    operator (`lsh_candidate_stats`, `near_dup_pairs`, the
    `_near_dup_edge_set` family) routes through this one rule, so the
    diagnostic can never desynchronize from the plans it measures.

    ``hashed``: a thunk returning a frame of ``df``'s text hashes
    (``__h``) to measure instead — a caller that pins it for its own
    joins fuses the gate into that scan. Called only on a memo miss.

    Memoized per (frame object, text column): composed pipelines that
    run several gated operators over the SAME frame pay the corpus scan
    once. The key includes the column — two columns of one frame (raw
    vs normalized text) can sit on opposite sides of the gate. Both
    gate branches are value-identical by contract, so a stale hit can
    only cost time, never correctness."""
    from .._utils import memo

    def _measure():
        src, h = ((hashed(), F.col("__h")) if hashed is not None
                  else (df, F.xxhash64(F.col(text_col))))
        n, nd = src.agg(F.count(F.lit(1)), F.approx_count_distinct(h)).first()
        return bool(n) and (n - nd) / n > 0.10, int(n)

    return memo(df, ("dup_rate", text_col), _measure)


def _rep_corpus(df: DataFrame, id_col: str, text_col: str,
                pinned: bool = False) -> DataFrame:
    """One representative (min id) row per distinct text via a single
    (hash, id, text) struct-min shuffle — the one collapse construction
    (no corpus-vs-reps semi-join pass). Returns (id_col, text_col,
    ``__h``): the text hash rides along for the caller's rep → member
    joins. ``pinned`` pins the aggregation for callers that read the
    reps from several subtrees."""
    from .._utils import pin

    rep = (df.select(F.col(id_col).alias("__m"),
                     F.col(text_col).alias("__t"),
                     F.xxhash64(F.col(text_col)).alias("__h"))
           .groupBy("__h").agg(F.min(F.struct("__m", "__t")).alias("__r")))
    return (pin(rep) if pinned else rep).select(
        F.col("__r.__m").alias(id_col), F.col("__r.__t").alias(text_col),
        "__h")


def lsh_candidate_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 12,
    n_hashes: int = 96,
    bands: int = 32,
    max_bucket: int = 200,
    collapse: "bool | str" = "auto",
) -> dict:
    """Measured candidate-volume evidence for the minhash-LSH plan —
    the "no silent caps" diagnostic the scale probe records each round
    so the pair term's growth is DATA, not inference: a super-linear
    wall-time ratio with linear cand_distinct/cand_slots is constant
    factor (parallelism, shuffle overhead), not pair explosion; growth
    in dropped_buckets says the max_bucket cap started binding (capped
    recall); max_bucket_size tracks how close the data sits to the cap.

    Returns {n_docs, n_buckets, max_bucket_size, dropped_buckets,
    cand_slots, cand_distinct, collapsed, n_mined} via two tiny
    aggregation actions (the bucket-size histogram and the
    distinct-pair count); r10 measured at 10× const-density inflation:
    every field within 6% of 10× its base value — the banded pair term
    is linear in corpus size.

    ``collapse`` mirrors `near_dup_pairs`' gate exactly (same 10% rate
    rule on "auto"), so the reported candidate volume is the volume of
    the plan the query actually runs: on a heavily-duplicated corpus
    the stats measure mining over one representative per distinct text
    (``collapsed`` = 1, ``n_mined`` = number of reps), which is where
    the banding really happens.

    Scope note: ``cand_distinct`` counts the same candidate frame
    (`_lsh_candidates`) every banded plan verifies — the corpus dedup
    family's `_banded_pairs` and both `near_dup_pairs` branches.
    near_dup_pairs' UNcollapsed branch additionally filters
    identical-text candidates OUT of its verify join (they route
    through the exact within-pairs aggregation), so on a corpus with
    exact-dup rate in (0, 10%] its verify volume is slightly below the
    cand_distinct reported here."""
    from .._utils import unpin

    n_rows = None
    if collapse == "auto":
        collapse, n_rows = _dup_rate_gate(df, text_col)
    mined = _rep_corpus(df, id_col, text_col) if collapse else df
    base = _minhash_base(mined, id_col, text_col,
                         shingle_k, n_hashes, bands)
    sizes = (base.select("__id", F.posexplode("__bands").alias("band", "bh"))
             .groupBy("band", "bh").agg(F.count(F.lit(1)).alias("n"))
             .where(F.col("n") >= 2))
    try:
        agg = sizes.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket_size"),
            F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0))
            .alias("dropped_buckets"),
            F.sum(F.when(F.col("n") <= max_bucket,
                         F.col("n") * (F.col("n") - 1) / 2).otherwise(0))
            .alias("cand_slots"),
        ).collect()[0]
        n_mined = base.count()
        cand_distinct = _lsh_candidates(base, max_bucket).count()
    finally:
        unpin(base)  # the base never escapes this diagnostic
    if not collapse:
        n_rows = int(n_mined)  # mined the full corpus — no extra count
    elif n_rows is None:
        n_rows = int(df.count())  # collapse forced by the caller
    return {
        "n_docs": n_rows,
        "n_buckets": int(agg["n_buckets"] or 0),
        "max_bucket_size": int(agg["max_bucket_size"] or 0),
        "dropped_buckets": int(agg["dropped_buckets"] or 0),
        "cand_slots": int(agg["cand_slots"] or 0),
        "cand_distinct": int(cand_distinct),
        "collapsed": int(bool(collapse)),
        "n_mined": int(n_mined),
    }


#: candidate-pair ceiling under which the verify join prunes the
#: shingle frame to candidate-INCIDENT docs via a broadcast semi-join
#: (ids ≤ 2·pairs → ≤ ~64 MB broadcast at the cap). Above it the plan
#: runs unpruned exactly as before: at true 100 TB scale the incident
#: id set is itself billions of rows — too big to broadcast, and a
#: shuffle-side semi would cost the very shingle shuffle it saves.
_VERIFY_PRUNE_CAP = 4_000_000

#: estimated corpus-projection bytes (Catalyst plan statistics — a
#: free driver-side file-size estimate, no job) above which the verify
#: kernel switches from the lazy single-action plan to the eager
#: pin-materialize + prune regime. Calibrated against the probe
#: decades: sf0.1 ≈ 0.45 MB, 10× ≈ 4.5 MB (both comfortably
#: broadcast-regime — the lazy plan is faster there: AQE's redundant
#: concurrent leaf computes are free on idle cores, while an eager
#: count serializes the pipeline), 100× ≈ 45 MB (sort-merge regime —
#: the redundant computes cost 6 × 28.5 s and the eager pass wins).
_VERIFY_EAGER_MIN_MB = 20.0


def _plan_size_mb(df: DataFrame) -> float:
    """Catalyst's sizeInBytes estimate for a frame, in MB — driver-side
    only (file-size propagation through the optimized plan), no job."""
    try:
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return float(str(sz)) / 1e6
    except Exception:  # estimate unavailable — treat as small
        return 0.0


#: shuffle_hash-hint gate for the verify joins: the build side must
#: PROVABLY fit per-task memory (forcing SHJ with a too-big build fails
#: outright — "Can't acquire … bytes to build hash relation" — it does
#: not degrade). 20M 16-byte pair rows ≈ 1 GB total build across tasks,
#: calibrated on a 32-thread host with 8 GB of executor memory.
_VERIFY_SHJ_CAP = 20_000_000


def _verify_pairs(base: DataFrame, cand: DataFrame, threshold: float,
                  prune: "bool | str" = "auto",
                  distinct_text: bool = False) -> DataFrame:
    """Exact-Jaccard verification of candidate id pairs against the
    pinned shingle sets, for every banded pairs plan (`near_dup_pairs`,
    `_banded_pairs`); the join itself is `_verify_join`, which the
    index probe shares. Output: (id_a, id_b, jaccard) with jaccard ≥
    threshold.
    ``distinct_text=True`` also drops pairs of identical texts (equal
    ``__th``), read from the same joined rows — no extra join.

    Scale regime (``prune="auto"``: engaged when the corpus
    projection's Catalyst size estimate exceeds `_VERIFY_EAGER_MIN_MB`
    — the sort-merge decades; overridable for tests): the candidate
    frame is pinned and counted EAGERLY before the verify plan runs,
    for two measured reasons (r12, 1M-doc spot):

    * the count materializes the lazily-pinned minhash ``base`` as a
      side effect (the banding pipeline is cand's prefix) — without
      it, AQE launches the plan's ~6 independent leaf query-stages
      concurrently and EACH recomputes the full shingle+banding pass
      before the cache exists (6 × 28.5 s of redundant scan at 100×,
      the bulk of the wall excess over the linear fit);
    * the count is the adaptive-prune gate: when pairs ≤
      `_VERIFY_PRUNE_CAP`, the shingle frame is semi-joined down to
      candidate-incident ids before the verify work, with the id set
      broadcast — the corpus-sized shingle traffic shrinks to the
      incident subset. Value-identical (an inner join
      already drops non-candidate rows — the semi just drops them
      BEFORE the shuffle), pinned by a parity pytest. NB the spot
      corpus cannot demonstrate the byte saving: every doc there has
      a planted near-dup twin, so incidence is 100% by construction
      and the semi passes everything (measured — bytes unchanged); a
      production crawl corpus at threshold 0.6 has incidence well
      under 1 and this is where the term pays.

    At engaged scale the verify joins price their OWN exchanges and
    the base pin moves to DISK_ONLY (r14 — see the inline comments):
    the two measured killers at the 1M-doc spot were per-task sorts of
    ~600 MB of array rows (session partition count) and the in-memory
    pin halving every task's execution grant.

    Below the size threshold the r11 lazy single-action plan runs
    unchanged — at broadcast scale the eager count measured as a pure
    serialization cost (sf0.1: cluster_dedup 5.2 → 7.7 s) while the
    concurrent redundant leaf computes it prevents are free on idle
    cores.
    """
    sh = base.select("__id", "__sh", *(["__th"] if distinct_text else []))
    engage = (_plan_size_mb(base) > _VERIFY_EAGER_MIN_MB
              if prune == "auto" else bool(prune))
    if engage:
        from .._utils import pin

        # materialize the base pin FIRST: cand's plan reads it through
        # the band explode while the verify joins read it again, and
        # against a cold cache AQE runs the legs concurrently — each
        # recomputing the full shingle+band pass (3 × 28.5 s at the
        # 1M-doc spot). One pass, then every leg reads the cache.
        #
        # r14: at engaged scale the base lives DISK_ONLY. An in-memory
        # cache of the corpus-sized shingle frame (2.4 GB at the 1M-doc
        # spot) sits at the unified pool's storage floor and HALVES
        # every downstream task's execution grant — the verify sorts
        # and the bucket aggregation were spilling 15+ GB against it
        # (measured; the spill+GC term was ~80% of the fat stage's
        # CPU). Sequential disk reads of the cache cost milliseconds
        # per partition; the freed pool keeps the sorts in memory.
        # Same lineage, same values — only the storage level moves.
        from pyspark.storagelevel import StorageLevel

        base.unpersist(blocking=False)
        base.persist(StorageLevel.DISK_ONLY)
        base.count()
        cand = pin(cand)
        n_pairs = cand.count()
        if n_pairs <= _VERIFY_PRUNE_CAP:
            ids = (cand.select(
                F.explode(F.array("id_a", "id_b")).alias("__id"))
                .distinct())
            sh = sh.join(F.broadcast(ids), "__id", "left_semi")
        # Shuffled-HASH the first verify join in this regime (r12
        # verdict #4): building the hash on the SKINNY pair frame
        # (16-byte rows, size KNOWN from the count above) streams the
        # array side unsorted. The hint goes ONLY on cand and ONLY
        # when the per-task build provably fits (forcing SHJ with a
        # fat build side fails outright — "Can't acquire … bytes to
        # build hash relation" — it does NOT degrade).
        if n_pairs <= _VERIFY_SHJ_CAP:
            cand = cand.hint("shuffle_hash")
        # r14: SIZE the verify exchanges instead of inheriting the
        # session's shuffle.partitions. The r13 plan pushed ~600 MB of
        # multi-KB array rows into every sort task at the 1M-doc spot (32
        # session partitions): 20 GB of sort spill and a 717 s GC term
        # — ~80% of the 100×-spot stage profile's 2478 s CPU. AQE only
        # COALESCES below the session setting, it never raises it, and
        # uniform-big partitions don't trip its skew splitter — so the
        # operator prices its own exchanges from the Catalyst size
        # estimate of the shingle projection. NB (r14 ADVICE #1): when
        # the left-semi prune above engaged, this estimate is still the
        # UNPRUNED corpus size — Spark's default (non-CBO) stats pass a
        # LEFT SEMI join's left-child sizeInBytes through unchanged —
        # so low-incidence corpora over-partition past the ~16 MB/task
        # target. Conservative direction only (smaller tasks, more of
        # them; the spill bound still holds), accepted over re-pricing
        # from an incidence bound. Targets
        # ~16 MB of array rows per task (48 MB/task still spilled
        # 12 GB — unsafe-row expansion is ~2x the estimate and each of
        # 32 concurrent tasks gets only ~70 MB of the pool; 16 MB
        # sorts stay in memory, measured spill 20 GB -> 0). A
        # posting-list reformulation (skinny exploded rows, no arrays
        # joined) was measured strictly worse here: 500M-row exchanges
        # starved the unified pool beside the pinned base and died in
        # UNABLE_TO_ACQUIRE_MEMORY where the fat path merely spilled.
        n_fat = int(min(4096, max(32, _plan_size_mb(sh) * 2 // 16)))
        sh = sh.repartition(n_fat, "__id")
    def side(s: str) -> DataFrame:  # id_<s>, __sh_<s>[, __th_<s>]
        return sh.select(F.col("__id").alias("id_" + s),
                         *[F.col(c).alias(f"{c}_{s}") for c in sh.columns[1:]])

    return _verify_join(
        cand, side("a"), side("b"), threshold,
        F.col("__th_a") != F.col("__th_b") if distinct_text else None)


def _verify_join(cand: DataFrame, a: DataFrame, b: DataFrame,
                 threshold: float, where: "Column | None" = None
                 ) -> DataFrame:
    """The exact-Jaccard verify step of every MinHash near-dup operator:
    candidate key pairs ``cand`` join ``a`` and ``b`` (key, shingle set,
    …) on their first columns; pairs with `jaccard_distinct` ≥
    ``threshold`` come out as (key_a, key_b, jaccard). ``where`` filters
    the joined rows first.

    The threshold filter sits INSIDE a Generate over the one-element
    score array, so each pair's intersection runs once: a Filter over a
    projected score is pushed into the join condition and the Project
    recomputes it (one traced perfbench corpus_dedup run per side, 4
    cores: near_dup_pairs' executor CPU 1.13 → 0.81 s)."""
    (ka, sa), (kb, sb) = a.columns[:2], b.columns[:2]
    joined = cand.join(a, ka).join(b, kb)
    if where is not None:
        joined = joined.where(where)
    return joined.select(ka, kb, F.explode(F.filter(
        F.array(jaccard_distinct(F.col(sa), F.col(sb))),
        lambda j: j >= threshold)).alias("jaccard"))


def _exact_within_pairs(keyed: DataFrame) -> DataFrame:
    """All (id_a < id_b, jaccard = 1.0) pairs inside each identical-text
    cluster of ``keyed`` = (__m id, __h text-hash) — one 16-byte-row
    shuffle on the hash, pairs via the same nested transform as LSH
    buckets. Identical texts have identical shingle sets, so the 1.0 is
    exact, not an approximation. NB the member array (and the m²/2 pair
    output) is bounded by the largest exact-dup cluster — quadratic
    output is the PAIRS contract; corpus-dedup callers that only need
    connectivity use skinny member→rep edges instead
    (`near_dup_canonical_dedup`)."""
    groups = (
        keyed.groupBy("__h")
        .agg(F.array_sort(F.array_distinct(F.collect_list("__m")))
             .alias("ids"))
        .where(F.size("ids") >= 2)
        .select("ids")
    )
    return _bucket_pairs(groups).select(
        "id_a", "id_b", F.lit(1.0).alias("jaccard"))


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle_k: int = 12,
    n_hashes: int = 96,
    bands: int = 32,
    max_bucket: int = 200,
    collapse: "bool | str" = "auto",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    Pipeline: shingle hashes + band hashes in ONE pinned pass
    (`_minhash_base`: one vectorized Arrow kernel hashes the k-grams
    and bands them) → banded LSH (one shuffle) → candidate pairs → join
    back for shingle sets → exact Jaccard filter. The hash functions
    only generate candidates; the output is defined purely by
    Jaccard ≥ threshold, so it is engine-independent (the SQL oracle
    computes the same set). Candidate volume is measured, not assumed:
    `lsh_candidate_stats` replays this exact candidate plan and the
    scale probe records its growth every round (r10: linear at 10×
    const-density — slots 162k→1.64M, distinct 8.6k→90k, max bucket
    16→43 vs cap 200).

    Identical-text pairs are CAP-INDEPENDENT: every exact-dup cluster
    emits its full i<j pair set (jaccard exactly 1.0) from an
    8-byte-hash aggregation, whether or not its LSH buckets clear
    ``max_bucket``, and identical-text candidates are excluded from the
    banded verify path so no pair appears twice. (The corpus-dedup
    family needs connectivity only: it runs the pure banded plan,
    `_banded_pairs`, and carries skinny member→rep exact edges instead
    — see `_near_dup_edge_set`.) On top of that, ``collapse`` routes
    heavily-duplicated corpora (exact-dup rate > 10%, measured by one
    count+HLL aggregation when ``"auto"``) through a collapse→mine→
    expand plan: mine LSH pairs among one REPRESENTATIVE per distinct
    text, then expand each rep pair (ra, rb, J) to all member combos —
    exact, because identical text ⇒ identical shingle set ⇒ identical
    Jaccard. A text duplicated m times then contributes ONE row to
    mining instead of m·(m−1)/2 candidate slots (the r10 dense stress:
    30.6M slots); the m² term survives only in the OUTPUT, which is
    the contract. Distinct-text recall under a binding cap is measured
    from the branch actually taken (collapsed buckets hold one row per
    distinct text, so the cap binds later — never earlier).

    Output: (id_a, id_b, jaccard).
    """
    if collapse == "auto":
        collapse, _ = _dup_rate_gate(df, text_col)

    if not collapse:
        base = _minhash_base(df, id_col, text_col,
                             shingle_k, n_hashes, bands)
        # id→text-hash map and within-pairs read the PIN (the __th
        # column rides it) — zero extra corpus scans on this branch
        within = _exact_within_pairs(base.select(
            F.col("__id").alias("__m"), F.col("__th").alias("__h")))
        # identical-text candidates route through `within` (and an
        # over-cap identical cluster that never becomes a candidate
        # still does) — the verify drops them so nothing emits twice
        return _verify_pairs(base, _lsh_candidates(base, max_bucket),
                             threshold, distinct_text=True
                             ).unionByName(within)

    # collapse→mine→expand: mining runs on the representative corpus,
    # distinct texts only. members is ONE distinct (id, hash) frame
    # shared by the within-pairs and the expansion joins (one corpus
    # scan, not two; _exact_within_pairs array_distincts per group
    # anyway, so feeding it pre-distincted rows is value-identical).
    from .._utils import pin

    rep = _rep_corpus(df, id_col, text_col, pinned=True)
    members = pin(df.select(F.col(id_col).alias("__m"),
                            F.xxhash64(F.col(text_col)).alias("__h"))
                  .distinct())
    within = _exact_within_pairs(members)
    # reps are all distinct texts — a jaccard-1.0 rep pair here is two
    # DISTINCT texts with equal shingle sets, a true pair, kept
    rep_pairs = _banded_pairs(rep, id_col, text_col, threshold,
                              shingle_k, n_hashes, bands, max_bucket)
    cross = (
        rep_pairs
        .join(rep.select(F.col(id_col).alias("id_a"),
                         F.col("__h").alias("__ha")), "id_a")
        .join(rep.select(F.col(id_col).alias("id_b"),
                         F.col("__h").alias("__hb")), "id_b")
        .join(members.select(F.col("__h").alias("__ha"),
                             F.col("__m").alias("__ma")), "__ha")
        .join(members.select(F.col("__h").alias("__hb"),
                             F.col("__m").alias("__mb")), "__hb")
        .select(F.least("__ma", "__mb").alias("id_a"),
                F.greatest("__ma", "__mb").alias("id_b"), "jaccard")
    )
    return cross.unionByName(within)


def near_dup_against_index(
    new: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle_k: int = 12,
    n_hashes: int = 96,
    bands: int = 32,
    max_bucket: int = 200,
) -> DataFrame:
    """Incremental near-dup detection: flag NEW documents whose exact
    char-shingle Jaccard against any INDEX document is ≥ ``threshold``
    — the daily-crawl dedup step, where the corpus already exists and
    only the new batch must be checked against it (full
    `near_dup_pairs` over index ∪ new would re-mine the index against
    itself every day).

    Plan (asymmetric by design — the index is the 100 TB side):
      * both frames get the one-pass pinned shingle+band base
        (`_minhash_base`); the index side then moves ONLY its band
        hashes — (bands per doc) 8-byte rows — through ONE aggregation
        on the bucket key, never its text or shingle sets;
      * index buckets are capped at ``max_bucket`` members in that same
        aggregation (hot-bucket guard, identical rationale to
        `near_dup_pairs`; over-cap buckets are dropped, which is a
        recall cap on pathological collision clusters — use
        `near_dup_canonical_dedup`'s exact-collapse upstream if the
        index carries giant exact-dup clusters);
      * the new batch's exploded band hashes join those buckets on
        (band, bucket-hash) — with a small daily batch AQE turns this
        into a broadcast join and the bucket frame streams past it;
      * candidates are exact-Jaccard verified (the hash functions only
        generate candidates, so the output is engine-independent), and
        the verify join touches only candidate ids on each side.

    Output: one row per flagged new doc — (new_id, index_id, jaccard)
    with its BEST match (max Jaccard, ties → min index_id).
    """
    # materialize both pins EAGERLY: the two-frame plan reads each pin
    # from two subtrees of one action (bucket path + verify path), and
    # a lazily-persisted pin computes its Arrow banding UDF once per
    # unmaterialized read in that first job (measured 10.6 → 6.2 s at
    # the 10× probe). One count per pin is two cheap scans by contrast,
    # and they overlap. (near_dup_pairs deliberately stays lazy — its
    # single-frame action shares the pin fine, and the extra pass
    # measured net-negative.)
    nb, ib = _overlap_minhash_bases(
        [(new, id_col, text_col), (index, id_col, text_col)],
        shingle_k, n_hashes, bands)
    idx_buckets = _index_buckets(ib, max_bucket)
    ish = ib.select(F.col("__id").alias("index_id"),
                    F.col("__sh").alias("shingles"))
    return _probe_index(nb, idx_buckets, ish, threshold)


def _member_buckets(mem: DataFrame, max_bucket: int,
                    tombstones: bool = False) -> DataFrame:
    """(band, bh, ids) buckets from member-level (band, bh, __th, __id)
    rows — the shared aggregation of the build and update paths. Bucket
    members dedupe BY TEXT-HASH keeping the min id, in the same
    aggregation: identical texts share every band bucket and score the
    same Jaccard against any new doc, so the best-match tie-break (min
    index_id) would pick the cluster minimum anyway — dropping the
    other members changes nothing in the output while removing the
    m-duplicated-text candidate blowup, and the max_bucket cap binds on
    DISTINCT texts (strictly later than on raw members).

    ``tombstones=True`` keeps over-cap buckets as ids=NULL rows instead
    of dropping them — the PERSISTED artifact needs the key: an absent
    bucket would silently come back when an update re-creates it from
    new members alone, while a rebuild over the union keeps it dropped
    (it can only grow). NULL arrays explode to zero candidate rows, so
    probes read tombstoned frames unchanged."""
    deduped = (
        mem.groupBy("band", "bh")
        .agg(F.collect_list(F.struct("__th", "__id")).alias("mem"))
        .select("band", "bh", _let(
            F.array_sort("mem"),
            # when(), not |: element_at(srt, 0) must never evaluate
            # (ANSI INVALID_INDEX_OF_ZERO; SQL OR does not short-circuit)
            lambda srt: F.transform(
                F.filter(srt, lambda x, i: F.when(
                    i == F.lit(0), F.lit(True)).otherwise(
                    x["__th"] != F.element_at(srt, i)["__th"])),
                lambda x: x["__id"])).alias("ids"))
    )
    if tombstones:
        return deduped.select(
            "band", "bh",
            F.when(F.size("ids") <= max_bucket,
                   F.array_distinct("ids")).alias("ids"))
    return (deduped.where(F.size("ids") <= max_bucket)
            .select("band", "bh", F.array_distinct("ids").alias("ids")))


def _index_buckets(ib: DataFrame, max_bucket: int,
                   tombstones: bool = False) -> DataFrame:
    """(band, bh, ids) buckets of a minhash-base index frame (the __th
    column rides the pin — zero extra shuffle; see _member_buckets for
    the dedup/cap/tombstone contract)."""
    return _member_buckets(
        ib.select("__id", "__th",
                  F.posexplode("__bands").alias("band", "bh")),
        max_bucket, tombstones)


def _probe_index(nb: DataFrame, buckets: DataFrame, shingles: DataFrame,
                 threshold: float) -> DataFrame:
    """Probe a new-batch minhash base against (buckets, shingles) index
    frames: band join → candidate ids → exact-Jaccard verify →
    per-new-doc best match. Shared by `near_dup_against_index` (frames
    derived from the live pin) and `near_dup_against_prebuilt` (frames
    loaded from a persisted artifact) so the two paths cannot diverge."""
    new_ex = nb.select(
        F.col("__id").alias("__nid"),
        F.posexplode("__bands").alias("band", "bh"))
    cand = (
        new_ex.join(buckets, ["band", "bh"])
        .select("__nid", F.explode("ids").alias("__iid"))
        .distinct()
    )
    scored = _verify_join(
        cand,
        nb.select(F.col("__id").alias("__nid"), F.col("__sh").alias("__sh_n")),
        shingles.select(F.col("index_id").alias("__iid"),
                        F.col("shingles").alias("__sh_i")),
        threshold,
    ).withColumnsRenamed({"__nid": "new_id", "__iid": "index_id"})
    w = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("index_id").asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))


def build_near_dup_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 12,
    n_hashes: int = 96,
    bands: int = 32,
    max_bucket: int = 200,
    _base: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the PERSISTABLE near-dup index once — the one pass over
    the 100 TB corpus that `near_dup_against_index` would otherwise
    redo on every daily batch. Returns two frames to write as parquet
    (e.g. via sources.sinks.write_parquet):

      * ``buckets`` — (band, bh, ids): the capped, text-hash-deduped
        LSH band buckets (8-byte keys + id arrays; tiny next to text);
        over-cap buckets persist as ids=NULL tombstones so
        `update_near_dup_index` can keep them dropped (probes explode
        them to zero candidates — output-identical to absence);
      * ``shingles`` — (index_id, th, shingles): each index doc's
        8-byte text hash and distinct shingle-HASH set (array<long>,
        ~8 bytes per k-gram — the exact verify side, 3× smaller than
        raw k-gram strings; ``th`` is what lets an update re-dedupe
        bucket members against new docs without rescanning text).

    The LSH geometry (shingle_k, n_hashes, bands) is part of the
    artifact: probes MUST pass the same values to
    `near_dup_against_prebuilt` or band hashes will never collide —
    stamped on the bucket rows (``_lsh``, with max_bucket, which
    updates must also match) and verified at probe/update time.
    Probing equals `near_dup_against_index(new, docs, ...)` exactly —
    pinned by the shared `_probe_index` tail and a parity test.
    """
    # ``_base``: a pre-materialized base from _overlap_minhash_bases —
    # the composed lifecycle queries overlap the three independent
    # banding scans instead of serializing them (r16, guide §2.6)
    from .._utils import stamp

    ib = _ready_base(_base, docs, id_col, text_col, shingle_k, n_hashes,
                     bands)
    # the LSH parameters ride the bucket rows as one dictionary-encoded
    # literal so a probe/update with mismatched parameters FAILS
    # instead of silently returning zero matches (recall-0 would be
    # indistinguishable from a clean batch). r15: the stamped artifact
    # is pinned. Production persists it to parquet and every consumer
    # reads the file; composed in-session use (update/probe on the live
    # frame) instead re-ran the bucket aggregation once per consumer
    # subtree (measured: index_update 9.7 s, dominated by repeated
    # bucket aggs). The frame is skinny (8-byte keys + id arrays, no
    # text) and disk-spillable.
    buckets = stamp(_index_buckets(ib, max_bucket, tombstones=True),
                    "_lsh", f"{shingle_k}/{n_hashes}/{bands}/{max_bucket}")
    shingles = ib.select(F.col("__id").alias("index_id"),
                         F.col("__th").alias("th"),
                         F.col("__sh").alias("shingles"))
    return buckets, shingles


def near_dup_against_prebuilt(
    new: DataFrame,
    buckets: DataFrame,
    shingles: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle_k: int = 12,
    n_hashes: int = 96,
    bands: int = 32,
    _base: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection against a PREBUILT index (the
    `build_near_dup_index` artifact read back from parquet): the index
    corpus is never rescanned — the daily batch shingles+bands
    scan-side, joins the persisted band buckets (AQE-broadcastable for
    a small batch), and exact-verifies against only the candidate ids'
    persisted shingle rows (filter pushdown on the join key prunes the
    shingle scan to candidates). Same output contract as
    `near_dup_against_index`: (new_id, index_id, jaccard) best match
    per flagged new doc.

    ``shingle_k``/``n_hashes``/``bands`` must match the build call —
    the LSH geometry is part of the artifact, stamped on the bucket
    rows (``_lsh``) and verified here: a mismatch raises instead of
    silently returning zero matches.
    """
    buckets = _check_lsh_stamp(buckets, shingle_k, n_hashes, bands)
    nb = _ready_base(_base, new, id_col, text_col, shingle_k, n_hashes,
                     bands)
    return _probe_index(nb, buckets, shingles, threshold)


def _check_lsh_stamp(buckets: DataFrame, shingle_k: int, n_hashes: int,
                     bands: int, max_bucket: int | None = None) -> DataFrame:
    """Verify the caller's LSH parameters against the ``_lsh`` stamp a
    build wrote on the bucket rows, then drop the stamp. Probes check
    the geometry triple only (the cap changes which buckets exist, not
    how hashes collide) and tolerate a stripped stamp; updates pass
    ``max_bucket`` and REQUIRE a cap-bearing stamp — the update ≡
    rebuild contract is void under a mismatched cap, so "can't verify"
    must fail loudly there, not proceed."""
    if "_lsh" not in buckets.columns:
        if max_bucket is not None:
            raise ValueError(
                "bucket frame has no '_lsh' stamp column — updating "
                "needs the build parameters verified (a wrong "
                "max_bucket silently voids update == rebuild); keep "
                "the stamp when persisting, or rebuild the index")
        return buckets
    from .._utils import read_stamp

    stamp = read_stamp(buckets, "_lsh", "bucket")
    if stamp is not None:
        got = str(stamp).split("/")
        want = [str(shingle_k), str(n_hashes), str(bands)]
        if max_bucket is not None:
            if len(got) < 4:
                raise ValueError(
                    f"index stamp {stamp} predates the cap-bearing "
                    "format — updating needs max_bucket verified "
                    "(a wrong cap silently voids update == rebuild); "
                    "rebuild the index with this version")
            got, want = got[:4], want + [str(max_bucket)]
        else:
            got = got[:3]
        if got != want:
            raise ValueError(
                f"index was built with LSH geometry {stamp} "
                f"(shingle_k/n_hashes/bands[/max_bucket]) but the "
                f"caller asked for {'/'.join(want)}; band hashes "
                f"would never collide (or the bucket cap would "
                f"diverge from the build)")
    return buckets.drop("_lsh")


def update_near_dup_index(
    new: DataFrame,
    buckets: DataFrame,
    shingles: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 12,
    n_hashes: int = 96,
    bands: int = 32,
    max_bucket: int = 200,
    _base: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fold a new batch INTO the persisted near-dup index — the write
    half of the daily-crawl loop (probe the batch with
    `near_dup_against_prebuilt`, keep the survivors, then index them so
    tomorrow's batch dedupes against today's too). Returns the updated
    (buckets, shingles) frames, EXACTLY equivalent to a rebuild over
    the union::

        update_near_dup_index(new, *build_near_dup_index(old, ...))
            == build_near_dup_index(old UNION ALL new, ...)

    (pinned frame-for-frame by a parity pytest, over-cap buckets
    included) — WITHOUT rescanning the old corpus. The old side
    contributes only its kept bucket members: skinny (band, bh, id)
    rows re-joined to their 8-byte text hashes from the shingle frame
    (column pruning keeps the shingle arrays out of that join); the new
    batch is one minhash pass; one (band, bh) aggregation merges them.

    The equivalence leans on two artifact properties `build` maintains:
    bucket members carry the build-time text-hash dedup keeping the MIN
    id per distinct text (min over old ∪ new = min(old kept id, new
    ids), so re-deduping kept members against new ones reproduces the
    rebuild's choice), and over-cap buckets persist as ids=NULL
    tombstones (they only grow under union, so they stay dropped — and
    a bucket newly pushed over the cap by the batch tombstones here the
    same way). New-batch ids are assumed distinct from indexed ids (a
    re-indexed id contributes a duplicate shingle row, exactly as the
    rebuild-over-union would).

    All four parameters must match the build call — verified against
    the ``_lsh`` stamp (the cap changes which buckets exist, so it is
    part of the contract here, unlike at probe time).

    Scale shape: the 100 TB corpus text never moves — the old side is
    one explode of the kept id arrays (≤ bands × |kept docs| 16-byte
    rows), one id-keyed join moving 8-byte hashes, and the shared
    bucket aggregation; the shingle frame grows by append only.
    """
    buckets = _check_lsh_stamp(buckets, shingle_k, n_hashes, bands,
                               max_bucket)
    if "th" not in shingles.columns:
        raise ValueError(
            "shingle frame has no 'th' column — the index predates the "
            "updatable artifact format; rebuild it with "
            "build_near_dup_index before updating")
    nb = _ready_base(_base, new, id_col, text_col, shingle_k, n_hashes,
                     bands)
    kept = buckets.where(F.col("ids").isNotNull()).select(
        "band", "bh", F.explode("ids").alias("__id"))
    old_mem = kept.join(
        shingles.select(F.col("index_id").alias("__id"),
                        F.col("th").alias("__th")), "__id")
    new_mem = nb.select(
        "__id", "__th", F.posexplode("__bands").alias("band", "bh"))
    merged = _member_buckets(
        old_mem.select("band", "bh", "__th", "__id")
        .unionByName(new_mem.select("band", "bh", "__th", "__id")),
        max_bucket, tombstones=True)
    dropped = buckets.where(F.col("ids").isNull()).select("band", "bh")
    ids_t = merged.schema["ids"].dataType
    # pinned and stamped like build_near_dup_index's artifact (a
    # downstream probe's band join would otherwise replay the merge)
    from .._utils import stamp

    out_buckets = stamp(
        merged.join(dropped, ["band", "bh"], "left_anti")
        .unionByName(dropped.select(
            "band", "bh", F.lit(None).cast(ids_t).alias("ids"))),
        "_lsh", f"{shingle_k}/{n_hashes}/{bands}/{max_bucket}")
    out_shingles = shingles.unionByName(
        nb.select(F.col("__id").alias("index_id"),
                  F.col("__th").alias("th"),
                  F.col("__sh").alias("shingles")))
    return out_buckets, out_shingles


# -------------------------------------------------------------------- simhash

def simhash(text, k_shingle: int = 0) -> Column:
    """64-bit SimHash fingerprint of text (long).

    Tokens (whitespace, or char k-grams when k_shingle>0) are hashed to 64
    bits; each bit position accumulates +1/-1 across tokens; the sign
    vector packs back into one long. Entirely JVM higher-order expressions
    — scan-side, zero shuffle, O(64·tokens) per row.
    """
    t = F.col(text) if isinstance(text, str) else text
    toks = char_shingles(t, k_shingle) if k_shingle else F.split(F.trim(t), r"\s+")
    hashes = F.transform(toks, lambda s: F.xxhash64(s))

    # token hashing stays JVM-side; the 64 per-bit vote sums run as one
    # vectorized numpy pass (flat bit matrix + add.reduceat) — the
    # equivalent 64 interpreted aggregate() lambdas cost ~0.5µs/element
    # and dominated the whole near-dup pipeline.
    @pandas_udf("long")
    def _pack(hs: "pd.Series") -> "pd.Series":
        lens = np.array([len(v) for v in hs], dtype=np.int64)
        total = int(lens.sum())
        out = np.zeros(len(hs), dtype=np.uint64)
        if total:
            flat = np.empty(total, dtype=np.int64)
            pos = 0
            for v in hs:
                n = len(v)
                flat[pos:pos + n] = v
                pos += n
            # uint8 bit matrix via unpackbits (little-endian int64 memory
            # → bit j of hash == column j), typed reduceat for the votes:
            # 8 bytes/hash instead of a 512-byte int64 bit row
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(total, 8), axis=1,
                bitorder="little")
            starts = np.zeros(len(hs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            ne = lens > 0
            ones = np.add.reduceat(bits, starts[ne], axis=0, dtype=np.int64)
            votes = 2 * ones - lens[ne][:, None]
            fp = ((votes > 0).astype(np.uint64)
                  << np.arange(64, dtype=np.uint64)[None, :]).sum(
                axis=1, dtype=np.uint64)
            out[ne] = fp
        return pd.Series(out.view(np.int64))

    return _pack(hashes)


def hamming64(a: Column, b: Column) -> Column:
    """Bit-level Hamming distance between two long fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_k: int = 12,
    max_bucket: int = 500,
) -> DataFrame:
    """SimHash near-EXACT duplicate pairs: hamming(fp_a, fp_b) ≤
    ``max_hamming`` over 64-bit fingerprints (the Google web-dedup
    formulation, Manku et al. WWW'07).

    Blocking: 4 tables of 16-bit bands — by pigeonhole, any pair within
    hamming ≤ 3 shares at least one intact band, so recall is EXACTLY 1
    for the advertised criterion (unlike jaccard-threshold blocking).
    16-bit bands keep random collisions ~0.5^16 per table, so candidate
    volume stays tiny; verification compares two longs.
    Output: (id_a, id_b, hamming).
    """
    from .._utils import pairs, spread

    n_tables, width = 4, 16
    base = spread(df).select(
        F.col(id_col).alias("__id"),
        simhash(F.col(text_col), shingle_k).alias("__sim"),
    )
    # carry (id, fp) through the buckets — the 8-byte fingerprint rides
    # along, so verification needs no join back to a recomputed base.
    # __sim is the materialized fingerprint column — band extraction
    # reads it directly (wrapping it in a _let binding forced the
    # Generate onto an interpreted path: 6.0s → 0.4s at sf0.1)
    sim = F.col("__sim")
    band = F.explode(
        F.array(*[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(sim, j * width)
                .bitwiseAND(F.lit((1 << width) - 1)).alias("bh"),
            )
            for j in range(n_tables)
        ])
    )
    exploded = base.select(
        F.struct(F.col("__id").alias("id"), F.col("__sim").alias("fp")).alias("__s"),
        band.alias("__b"),
    )
    buckets = (
        exploded.groupBy("__b")
        .agg(F.collect_set("__s").alias("ss"))
        .where((F.size("ss") >= 2) & (F.size("ss") <= max_bucket))
        .select(F.array_sort("ss").alias("ss"))  # struct sort → by id first
    )
    cand = buckets.select(F.explode(pairs("ss", lambda x, y: F.struct(
        x["id"].alias("id_a"), y["id"].alias("id_b"),
        hamming64(x["fp"], y["fp"]).alias("hamming"),
    ))).alias("p")).select("p.id_a", "p.id_b", "p.hamming").distinct()
    return cand.where(F.col("hamming") <= max_hamming)


# -------------------------------------------------- blocked n-gram jaccard

def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n_gram: int = 3,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard WITHIN a blocking key.

    The blocking key bounds the join (shuffle on block_col, pairs only
    inside blocks) — the classic entity-resolution shape. Output:
    (id_a, id_b, jaccard).
    """
    base = df.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("__id"),
        word_shingles(text_col, n_gram).alias("__sh"),
    )
    a = base.select("__blk", F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = base.select("__blk", F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    return (
        a.join(b, "__blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("__sh_a"), F.col("__sh_b")).alias("jaccard"))
    )


# ----------------------------------------------- components / canonical dedup

from .._utils import release_checkpoint as _release_checkpoint


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    assume_unique: bool = False,
    small_graph: "bool | str" = "auto",
) -> DataFrame:
    """Connected components of the (near-)duplicate pair graph:
    (id, component) where component = the smallest id reachable.

    Min-label propagation: each round every node takes the min of its
    own label and its neighbors' labels — one hash join + one groupBy
    per round, converging in O(component diameter) rounds (near-dup
    clusters are shallow: pairs chain through shared shingles, so
    diameters of 2-4 are typical; a driver-side count check stops at the
    fixpoint). All shuffles are keyed on node id — nothing row-level is
    collected (except in the tiny-graph driver tier below, which only
    engages when the whole edge list is megabytes). Each round ALSO
    pointer-jumps (every node probes its label's label — path doubling,
    the hash-to-min idea of Rastogi+ '12), so convergence is
    O(log diameter) rounds, not O(diameter): a 1M-node chain labels in
    ~20 rounds instead of 1M (r12 — the driver-tier parity test caught
    the min-label-only loop silently returning NON-CONVERGED labels on
    a 41-node chain at max_iters=25; exceeding max_iters now raises
    instead of returning wrong labels).

    Tiers (``small_graph``: "auto" measures the edge count and picks;
    "driver"/True/False force a tier — every tier is forceable and
    parity-pinned by pytest, the r10/r11 adaptive-gate lesson):

    * ≤100k directed edges → DRIVER union-find: collect the ≤1.6 MB
      edge list and label in one pass — the distributed loop's
      join+agg+checkpoint jobs are pure task-launch overhead at this
      size (measured on the real sf0.1 dup graph, 6k edges: 0.15 s
      driver-side vs 0.74-0.85 s in the broadcast loop). A 100 TB
      corpus's pair graph never fits this gate; nothing about the
      scale path changes.
    * ≤1M edges → the broadcast-loop branch below (small_graph=True).
    * above → the shuffle-loop branch (small_graph=False).

    Adaptive small-graph path (r11): the edge count is measured once
    off the persisted edges (a cached-scan job — the persist
    materializes either way), and a graph under ~1M edges runs its
    rounds with the label frame BROADCAST into the edge join and both
    frames coalesced to edge-proportional partition counts — dup-pair
    graphs are tiny next to the corpora that produce them, and the
    default path paid ~200 shuffle/cache-read tasks per round of pure
    task-launch overhead for label frames of a few thousand rows
    (measured at sf0.1: pairs→CC 4.2 → 2.3 s). Above the gate the
    shuffle-join path runs unchanged — a 100 TB pair graph never
    broadcasts, and the per-round partitioning stays cluster-sized.
    """
    from pyspark.sql import Observation
    from pyspark.storagelevel import StorageLevel

    e = (pairs.select(F.col(id_a).cast("long").alias("s"),
                      F.col(id_b).cast("long").alias("d"))
         # a null endpoint (genuinely null, or a non-numeric id the
         # cast nulled) is not a node: drop the edge in EVERY tier.
         # The loop branches silently shed nulls anyway (null join
         # keys never match; least/min ignore them) while the driver
         # tier's union-find would crash comparing None — one filter
         # makes the tiers trivially consistent (r12 review)
         .where(F.col("s").isNotNull() & F.col("d").isNotNull()))
    # cache the DIRECTED edge list and materialize it BEFORE the
    # symmetrizing union references it twice: the union's two legs
    # otherwise EACH recompute the entire upstream pair pipeline when
    # the edges cache first materializes (AQE launches both leg stages
    # concurrently against a cold cache, and exchange reuse does not
    # dedupe them) — at the 1M-doc spot that doubled the whole
    # minhash verify: 4 shingle-frame exchanges and 2 pair-carry
    # joins, ~8 GB of the 16.8 GB total (r12). The e cache is 16-byte
    # rows — |pairs|-bounded, trivial next to what it saves — and is
    # dropped as soon as the symmetrized cache is materialized.
    from pyspark.storagelevel import StorageLevel as _SL

    e_cached = e.persist(_SL.MEMORY_AND_DISK)
    try:
        n_directed = e_cached.count()
        e = e_cached
        if (small_graph == "driver"
                or (small_graph == "auto" and n_directed <= 100_000)):
            # driver tier (see docstring): one union-find pass over the
            # collected edge list, deterministic (sorted by id; comp = min
            # reachable id — the loop's exact contract)
            rows = e_cached.collect()
            e_cached.unpersist(blocking=False)
            parent: dict = {}

            def _find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            for row in rows:
                a, b = _find(row[0]), _find(row[1])
                if a != b:
                    parent[max(a, b)] = min(a, b)
            nodes = {r[0] for r in rows} | {r[1] for r in rows}
            labels = sorted((int(n), int(_find(n))) for n in nodes)
            return pairs.sparkSession.createDataFrame(
                labels, "id long, comp long")
        # persistence is managed LOCALLY (not the shared LRU pin registry —
        # the loop's own caches would evict the edges cache mid-iteration and
        # replay the whole upstream pair pipeline). Each round's label frame
        # is localCheckpoint(eager)ed: iterative self-joins otherwise DOUBLE
        # the logical plan every round (plan(lab_n) ⊃ 2·plan(lab_{n-1})) —
        # exponential analysis cost and a stack overflow by ~10 rounds. The
        # checkpoint truncates lineage to the materialized partitions, the
        # same pattern GraphX/MLlib iterative jobs use.
        #
        # ``assume_unique``: the dedup pair producers emit each undirected
        # pair exactly once with id_a < id_b, so the symmetrized union is
        # duplicate-free BY CONSTRUCTION and the distinct() — a full extra
        # shuffle of the edge set — is skipped. Duplicate edges would only
        # repeat min() work, never change the answer, but the default keeps
        # the shuffle for arbitrary caller input.
        edges = e.unionByName(e.select(F.col("d").alias("s"),
                                       F.col("s").alias("d")))
        if not assume_unique:
            edges = edges.distinct()
        # keep the handle to the frame that is actually CACHED: the
        # small-graph coalesce below rebinds `edges`, and unpersisting the
        # coalesced (never-cached) plan would silently leak the cache —
        # uncache matches the exact cached plan only (r11 review finding)
        edges_cached = edges.persist(StorageLevel.MEMORY_AND_DISK)
        edges = edges_cached
        try:
            # adaptive small-graph gate (see docstring): ≤1M edges → ≤2M
            # label rows ≈ tens of MB — safely broadcastable, and the
            # coalesce caps each round at a handful of tasks.
            # ``small_graph`` overrides the measured gate (r11 verdict #3:
            # an adaptive branch nothing can force is an untestable branch
            # — the parity pytest and the forced-shuffle probe both pin the
            # 100 TB path against the broadcast path on one graph). Both
            # branches share the identical round recurrence; they differ
            # only in broadcast hint + partition shaping, so the override
            # is value-neutral by construction AND by test.
            n_edges = edges.count()
            # the symmetrized cache is materialized now — the directed
            # staging cache has served its purpose
            e_cached.unpersist(blocking=False)
            small = (n_edges <= 1_000_000 if small_graph == "auto"
                     else bool(small_graph))
            p = int(n_edges // 500_000 + 1)
            if small:
                edges = edges.coalesce(p)

            def _shape(lab):
                return lab.coalesce(p) if small else lab

            def _probe(lab):
                return F.broadcast(lab) if small else lab

            # round-0 shortcut: start from min(id, min neighbor) — the same
            # single groupBy a comp=id init would cost, but it bakes the
            # first propagation in, saving one full join round (diameter-2
            # dup clusters then converge in a single propagation).
            # Labels only DECREASE, so sum(comp) strictly drops on any
            # change — and the sum rides each round's CHECKPOINT job as an
            # observe() metric, so the fixpoint check costs zero extra jobs.
            obs0 = Observation()
            lab = _shape(
                edges.groupBy(F.col("s").alias("id"))
                .agg(F.least(F.first("s"), F.min("d")).alias("comp"))
                .observe(obs0, F.sum("comp").alias("s"))
            ).localCheckpoint(eager=True)
            prev_sum = obs0.get["s"]
            converged = False
            for _ in range(max_iters):
                nb = (
                    edges.join(_probe(lab.withColumnRenamed("id", "d")
                                         .withColumnRenamed("comp", "__nc")),
                               "d")
                    .select(F.col("s").alias("id"), F.col("__nc").alias("comp"))
                )
                # pointer jump: every node probes its LABEL's label (labels
                # are node ids and every node id is in lab, so the inner
                # join is total) — path doubling makes deep components
                # converge in O(log diameter) rounds; the |V|-row self-join
                # is cheap next to the edge join it saves rounds of
                jump = (
                    lab.select("id", F.col("comp").alias("__via"))
                    .join(_probe(lab.select(F.col("id").alias("__via"),
                                            F.col("comp").alias("comp"))),
                          "__via")
                    .select("id", "comp")
                )
                obs = Observation()
                new = _shape(
                    lab.unionByName(nb).unionByName(jump)
                    .groupBy("id").agg(F.min("comp").alias("comp"))
                    .observe(obs, F.sum("comp").alias("s"))
                ).localCheckpoint(eager=True)
                new_sum = obs.get["s"]
                # the superseded round's checkpointed partitions would stay
                # materialized until a JVM GC otherwise — O(rounds)
                # executor storage held by a loop that only needs 2 frames.
                # NB DataFrame.unpersist() is a NO-OP here (it consults
                # only the CacheManager; localCheckpoint storage lives on
                # the RDD) — release the checkpointed RDD itself. Safe
                # ONLY because `new` is already eagerly materialized and
                # `lab` is never referenced again (a released checkpoint
                # cannot be recomputed — lineage is truncated).
                _release_checkpoint(lab)
                lab = new
                if new_sum == prev_sum:
                    converged = True
                    break
                prev_sum = new_sum
            if not converged:
                # wrong labels must never come back quietly (r12: the
                # pre-jump loop did exactly that on a >max_iters-diameter
                # chain — every consumer would have deduped against
                # half-propagated components)
                _release_checkpoint(lab)  # never returned — don't strand it
                raise RuntimeError(
                    f"connected_components did not converge in {max_iters} "
                    "rounds — with pointer jumping this needs a component "
                    f"diameter over ~2^{max_iters}; raise max_iters or "
                    "inspect the edge input")
            return lab
        finally:
            edges_cached.unpersist(blocking=False)
    finally:
        # covers EVERY exit (the r12 review: a raise between the
        # persist and the loop — driver-tier collect OOM, edge
        # materialization failure — leaked the |pairs|-sized cache
        # for the session). Re-unpersisting an already-released
        # frame is a no-op, so the early success-path releases stay.
        e_cached.unpersist(blocking=False)


def canonical_dedup(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every duplicate except the canonical (smallest-id) member of
    each connected component of ``pairs`` — the keep-one-per-cluster
    step that turns near-dup PAIRS into a deduplicated corpus.

    Rows never in any pair pass through untouched (left_anti against
    the non-canonical set, which is at most |pairs|-sized — tiny next
    to the corpus)."""
    # the dedup pair producers emit unique id_a < id_b pairs — skip the
    # symmetrize-distinct shuffle
    cc = connected_components(pairs, id_a, id_b, assume_unique=True)
    losers = cc.where(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def near_dup_canonical_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle_k: int = 12,
    n_hashes: int = 96,
    bands: int = 32,
    max_bucket: int = 200,
) -> DataFrame:
    """End-to-end near-dup corpus dedup with the PRODUCTION pipeline
    ordering: exact dedup FIRST, minhash near-dup mining over distinct
    texts only, then connected components over (representative
    near-dup pairs) ∪ (member → representative) edges.

    Result contract: when no LSH bucket exceeds ``max_bucket``
    (dropped_buckets == 0 in lsh_candidate_stats — the condition the
    scale probe records every round), this equals near_dup_pairs →
    canonical_dedup over the raw corpus — provably: identical texts
    have Jaccard 1 ≥ threshold, so member→rep edges are true pairs;
    and any cross-group true pair (a, b) implies J(rep_a, rep_b) =
    J(a, b) ≥ threshold (identical text ⇒ identical shingle set), so
    the rep edge reconnects what the collapse removed. When buckets DO
    hit the cap, near-dup recall between DISTINCT texts is cap-limited
    exactly as near_dup_pairs documents (the collapse branch caps
    later, since its buckets hold one row per distinct text) — but
    EXACT-duplicate clusters dedupe fully in BOTH branches regardless
    of the cap: each branch carries the 8-byte-hash member→rep edge
    set, so an identical cluster bigger than any bucket can never
    silently survive (it would under banded pairs alone — every one of
    its buckets gets dropped).

    Why it matters at scale: a text duplicated m times contributes
    m·(m−1)/2 candidate pairs to the raw plan (the exact-duplicate
    quadratic term a real crawl corpus is FULL of — r10 dense stress:
    30.6M candidate slots, 25.6 s) but only (m−1) exact-hash edges +
    ONE representative row to this plan (measured 25.6 → ~10 s dense).

    The collapse is ADAPTIVE: one cheap 8-byte-hash aggregation
    measures the exact-dup rate first, and a corpus that is mostly
    distinct (rate ≤ 10%) skips straight to the raw plan — the collapse
    pays a full (hash, id, text) shuffle to build representatives, and
    on an all-distinct corpus that shuffle bought nothing (measured:
    const-density probe 10 → 15.6 s with the collapse forced, vs
    unchanged with the gate; dense 25.6 → ~10 s either way). The same
    decide-from-measured-stats shape AQE uses, driven by one scalar.

    r11: the gate is FUSED into the exact-edge scan — the (id, hash)
    frame the no-collapse branch needs anyway is pinned first and the
    count+HLL runs over IT, so the gate no longer costs a separate
    full-text pass (r10 regression: 4.1 → 5.4 s at sf0.1 was mostly
    this query paying three extra text scans — the gate's plus the
    unpinned keyed8 frame's two join sides)."""
    return canonical_dedup(
        df, id_col,
        _near_dup_edge_set(df, id_col, text_col, threshold, shingle_k,
                           n_hashes, bands, max_bucket))


def near_dup_downsample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    keep_per_cluster: int = 2,
    shingle_k: int = 12,
    n_hashes: int = 96,
    bands: int = 32,
    max_bucket: int = 200,
) -> DataFrame:
    """End-to-end keep-k soft dedup with the production ordering — the
    keep-``keep_per_cluster`` sibling of `near_dup_canonical_dedup`:
    the SAME adaptive-gated edge set (banded LSH pairs between distinct
    texts ∪ skinny exact-hash member→rep edges), then the keep-k
    window of `cluster_downsample` instead of the keep-one cut.

    Clusters are identical to near_dup_pairs → cluster_downsample
    (same argument as near_dup_canonical_dedup's contract — the edge
    set spans the same components), but a text duplicated m times
    costs m−1 hash edges instead of m²/2 candidate pairs, and the
    within-pairs verify work of the pairs CONTRACT (exact jaccard per
    emitted pair) is skipped entirely — the window only needs
    connectivity. Survivors are the ``keep_per_cluster`` smallest ids
    per cluster; rows in no cluster pass through untouched."""
    return cluster_downsample(
        df, id_col,
        _near_dup_edge_set(df, id_col, text_col, threshold, shingle_k,
                           n_hashes, bands, max_bucket),
        keep_per_cluster=keep_per_cluster)


def near_dup_cluster_sizes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle_k: int = 12,
    n_hashes: int = 96,
    bands: int = 32,
    max_bucket: int = 200,
) -> DataFrame:
    """Cluster-size histogram with the production ordering — the
    report sibling of `near_dup_canonical_dedup` / `near_dup_downsample`
    sharing `_near_dup_edge_set`: components (and therefore the
    histogram) are identical to `near_dup_pairs` → `dup_cluster_sizes`
    (the edge set spans the same components and every cluster member is
    incident to an edge), but a text duplicated m times costs m−1 hash
    edges instead of m²/2 verified pairs. Output: (cluster_size,
    n_clusters), size ≥ 2, sorted."""
    return dup_cluster_sizes(
        _near_dup_edge_set(df, id_col, text_col, threshold, shingle_k,
                           n_hashes, bands, max_bucket))


def _near_dup_edge_set(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_k: int,
    n_hashes: int,
    bands: int,
    max_bucket: int,
) -> DataFrame:
    """The shared adaptive-gated near-dup EDGE set (id_a, id_b) that
    `near_dup_canonical_dedup`, `near_dup_downsample` and
    `near_dup_cluster_sizes` feed to connected components: banded LSH
    pairs (`_banded_pairs`) ∪ skinny member→rep edges from an 8-byte
    text-hash join (a text duplicated m times costs m−1 edges, not the
    pairs contract's m²/2, and text never shuffles).

    The gate measures the pinned (id, text-hash) frame. Below it the
    banded pairs mine the corpus and the member edges read that pin
    again, pointing at each text's min id; an identical pair within the
    cap then comes out of both families, which only repeats min() work
    in the CC. Above it they mine the representative corpus
    (`_rep_corpus`), and the two families are disjoint (near edges join
    distinct texts), so assume_unique holds. The member edges ride
    along on BOTH branches: an exact-dup cluster larger than max_bucket
    is invisible to the banded pairs, so without them the GATE would
    decide whether it gets deduped at all.

    (r12 note: pinning the (id, text) projection here to de-duplicate
    the DAG's ~6 corpus-reading leaf stages was A/B-measured NET-
    NEGATIVE at sf0.1 — min 4.7 s pinned vs 4.1 s lazy, interleaved
    min-of-3 — the cache fill serializes what idle cores absorb; the
    scale decades get their eager materialization from the verify
    kernel's candidate count instead.)"""
    from .._utils import pin, unpin

    keyed8 = None

    def hashed():
        nonlocal keyed8
        if keyed8 is None:
            keyed8 = pin(df.select(F.col(id_col).alias("__m"),
                                   F.xxhash64(F.col(text_col)).alias("__h")))
        return keyed8

    if not _dup_rate_gate(df, text_col, hashed)[0]:
        mined, members = df, hashed()
        rep_ids = members.groupBy("__h").agg(F.min("__m").alias("id_a"))
    else:
        if keyed8 is not None:  # the reps re-key with text riding
            unpin(keyed8)
        mined = _rep_corpus(df, id_col, text_col, pinned=True)
        members = df.select(F.col(id_col).alias("__m"),
                            F.xxhash64(F.col(text_col)).alias("__h"))
        rep_ids = mined.select("__h", F.col(id_col).alias("id_a"))
    exact = (members.join(rep_ids, "__h")
             .where(F.col("id_a") != F.col("__m"))
             .select("id_a", F.col("__m").alias("id_b")))
    return _banded_pairs(
        mined, id_col, text_col, threshold, shingle_k, n_hashes, bands,
        max_bucket).select("id_a", "id_b").unionByName(exact)


def dup_cluster_sizes(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Duplicate-cluster size HISTOGRAM from a near-dup pair set:
    (cluster_size, n_clusters), size ≥ 2 — the curation report that
    decides dedup policy (keep-one vs keep-k vs drop-cluster) before
    any rows are deleted: a corpus whose mass sits in a few giant
    clusters wants different handling than one with many pairs.

    Plan: connected components over the PAIR set only (the corpus is
    never touched), one groupBy(component) count, one groupBy(size)
    count — every shuffle is on the |pairs|-bounded label frame.
    Output sorted by cluster_size for deterministic display."""
    cc = connected_components(pairs, id_a, id_b, assume_unique=True)
    return (cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
            .groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .orderBy("cluster_size"))


def cluster_downsample(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    keep_per_cluster: int = 2,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep at most ``keep_per_cluster`` members of each near-dup
    cluster — the soft-dedup middle ground between keep-all and
    `canonical_dedup`'s keep-one (web-scale curation commonly retains
    a few representatives of popular templates/boilerplate instead of
    exactly one, preserving natural duplication signal while bounding
    it). Members survive deterministically by ASCENDING id, so the
    canonical member is always kept and the result is engine-
    replayable; to keep the highest-QUALITY members instead, re-key
    ids by quality rank upstream or anti-join a custom loser set.

    Plan: connected components over the PAIR set (never the corpus),
    one window over the component-labelled ids (a frame bounded by
    2·|pairs|, tiny next to the corpus) ranks members, and the corpus
    anti-joins the losers — rows in no pair pass through untouched.
    """
    if keep_per_cluster < 1:
        raise ValueError("keep_per_cluster must be >= 1")
    cc = connected_components(pairs, id_a, id_b, assume_unique=True)
    w = Window.partitionBy("comp").orderBy(F.col("id").asc())
    losers = (cc.withColumn("__r", F.row_number().over(w))
              .where(F.col("__r") > keep_per_cluster)
              .select(F.col("id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.95,
    n_centroids: int = 16,
    centroids="first",
    max_cell: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023): IVF-cluster
    the embedding column, mine within-cell pairs with cosine >=
    ``min_cosine`` (knn.ivf_cosine_pairs — one centroid-key shuffle,
    never all-pairs), connect them, and keep the smallest-id member of
    each semantic cluster. At 100 TB: n_centroids ~ sqrt(N) keeps the
    per-cell quadratic term flat, ``max_cell`` bounds skewed clusters,
    and the pair set (not the corpus) is all the CC stage ever touches.
    Returns the deduplicated frame (all original columns).

    ``max_cell`` defaults to 10_000 (r14 verdict: ivf_cell_stats
    measured the UNSALTED within-cell pair term quadratic on fused
    clusters — 54,695 → 1,834,807 pairs at 10× vectors on the dense
    probe, exactly the shape a duplicate-heavy corpus feeds it). A
    FIXED cap makes the mined-pair term linear in N — a fused cluster
    of size s salts into ceil(s/cap) sub-cells, emitting ≤ s·cap/2
    pairs — and bounds the per-task GEMM at cap²·d/2 flops (~3e12 at
    d=64: tens of seconds, slab-chunked memory). The cost is recall
    ACROSS salt sub-cells of an over-cap cluster only — a missed dup
    pair keeps a duplicate (conservative); under-cap cells (every cell
    at every measured SF: max 262 at the 10×-dense probe) are exact.
    Pass ``max_cell=None`` to opt out explicitly."""
    from .knn import ivf_cosine_pairs

    pairs = ivf_cosine_pairs(df, id_col, vec_col, min_cosine,
                             n_centroids=n_centroids, centroids=centroids,
                             max_cell=max_cell)
    return canonical_dedup(df, id_col, pairs)


# ------------------------------------------------------------ line-level dedup

def line_dedup(docs: DataFrame, id_col: str, text_col: str,
               sep: str = "\n") -> DataFrame:
    """Corpus-wide exact line/paragraph dedup (C4/RefinedWeb-style):
    every non-empty line survives only in its FIRST occurrence — the
    (doc, position)-lexicographic minimum — and documents are
    reassembled from their surviving lines in order. Docs left with no
    lines drop out.

    Scale shape: ONE shuffle keyed on the line hash (the window is
    hash-partitioned by line, never global), then one groupBy(doc) to
    reassemble. Both keys are high-cardinality — no skew hot-spots
    beyond a pathological single repeated line, which the first-keeper
    rule reduces to one winner per partition anyway.
    """
    from pyspark.sql.window import Window

    lines = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(_split_lines(text_col, sep)).alias("__i", "__ln"),
    ).where(F.trim(F.col("__ln")) != "")
    w = Window.partitionBy(F.xxhash64("__ln"), F.col("__ln"))
    first = F.min(F.struct("__id", "__i")).over(w)
    kept = lines.withColumn("__first", first).where(
        (F.col("__id") == F.col("__first.__id"))
        & (F.col("__i") == F.col("__first.__i")))
    return (
        kept.groupBy("__id")
        .agg(F.concat_ws(sep, F.transform(
            F.array_sort(F.collect_list(F.struct("__i", "__ln"))),
            lambda s: s["__ln"])).alias(text_col))
        .withColumnRenamed("__id", id_col)
    )


def _split_lines(text_col, sep: str) -> Column:
    """Split on the LITERAL separator (F.split treats its pattern as a
    Java regex — a bare '|' or '.' sep would shred every document while
    concat_ws reassembles with the literal, breaking the round trip).
    \\Q..\\E quoting matches any sep not containing the two-char '\\E'
    terminator. NULL text coalesces to '' so a NULL-text doc flows
    through explode+reassembly as an empty doc instead of vanishing."""
    if "\\E" in sep:
        raise ValueError(r"sep must not contain the '\E' quote terminator")
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.coalesce(t, F.lit("")), "\\Q" + sep + "\\E")


def boilerplate_lines(docs: DataFrame, id_col: str, text_col: str,
                      group_col: str | None = None, min_docs: int = 3,
                      min_frac: float = 0.5, sep: str = "\n") -> DataFrame:
    """Boilerplate-line census (the diagnostic half of
    `strip_boilerplate`): every (group, trimmed line) whose document
    frequency within the group reaches BOTH floors — ``min_docs``
    distinct documents AND ``min_frac`` of the group's documents. With
    ``group_col=None`` the corpus is one group (CCNet-style global
    paragraph frequency); with a source/domain column it is the
    RefinedWeb per-domain rule (nav bars, cookie banners, footers
    repeat within a site, not across the web).

    Scale shape: lines explode scan-side, ONE map-side-combinable
    distinct+count shuffle on (group, line); the per-group doc totals
    are a |groups|-row broadcast. Output is bounded above by
    |lines| / min_docs rows — the frequency floor is also a size bound.

    Output: group cols + (line, doc_freq, group_docs).
    """
    gcols = [group_col] if group_col else []
    lines = docs.select(
        *gcols, F.col(id_col).alias("__id"),
        F.explode(_split_lines(text_col, sep)).alias("__raw"),
    ).select(*gcols, "__id", F.trim(F.col("__raw")).alias("line"))
    freq = (
        lines.where(F.col("line") != "")
        .select(*gcols, "line", "__id").distinct()
        .groupBy(*gcols, "line")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    if group_col:
        totals = docs.groupBy(group_col).agg(
            F.countDistinct(id_col).alias("group_docs"))
        # null-safe: a NULL group (failed domain extraction) is a
        # legitimate bucket, not an exemption from the frequency rule
        freq = freq.join(
            F.broadcast(totals.withColumnRenamed(group_col, "__bg")),
            F.col(group_col).eqNullSafe(F.col("__bg"))).drop("__bg")
    else:
        totals = docs.select(
            F.countDistinct(id_col).alias("group_docs"))
        freq = freq.crossJoin(F.broadcast(totals))
    return freq.where(
        (F.col("doc_freq") >= int(min_docs))
        & (F.col("doc_freq") >= float(min_frac) * F.col("group_docs")))


def strip_boilerplate(docs: DataFrame, id_col: str, text_col: str,
                      group_col: str | None = None, min_docs: int = 3,
                      min_frac: float = 0.5, sep: str = "\n") -> DataFrame:
    """Remove boilerplate lines (headers, nav bars, cookie banners,
    footers) from every document: a line is boilerplate when its
    within-group document frequency reaches both `boilerplate_lines`
    floors, and then ALL its occurrences are stripped — unlike
    `line_dedup`, which keeps the first occurrence of every line.
    Documents reassemble from their surviving lines in order; a
    document that was pure boilerplate survives with empty text (rows
    are never lost, so corpus accounting stays join-stable).

    Line identity is the TRIMMED line; whitespace-only lines are never
    boilerplate and are preserved as structure. ``sep`` is a LITERAL
    separator (not a regex); NULL text flows through as an empty doc;
    a NULL group value is its own bucket, stripped like any other.

    Scale shape: lines explode scan-side twice (census + mark pass);
    the census is ONE (group, line) distinct+count shuffle, the mark
    pass is one left join of the line set against the census output
    (bounded by |lines| / min_docs rows — AQE broadcasts it for any
    sane floor), then ONE groupBy(doc) reassembly. No window over the
    corpus, no per-group single partition.

    Output: (id_col, text_col stripped, n_removed).
    """
    bp = boilerplate_lines(docs, id_col, text_col, group_col=group_col,
                           min_docs=min_docs, min_frac=min_frac, sep=sep)
    gcols = [group_col] if group_col else []
    lines = docs.select(
        *gcols, F.col(id_col).alias("__id"),
        F.posexplode(_split_lines(text_col, sep)).alias("__i", "__ln"),
    ).withColumn("line", F.trim(F.col("__ln")))
    bp_marks = bp.select(
        *[F.col(g).alias("__bg") for g in gcols],
        F.col("line").alias("__bl"), F.lit(True).alias("__bp"))
    cond = F.col("line") == F.col("__bl")
    if group_col:
        # null-safe on the group so NULL-group docs strip like any other
        cond = cond & F.col(group_col).eqNullSafe(F.col("__bg"))
    marked = lines.join(bp_marks, on=cond, how="left")
    parts = F.array_sort(F.collect_list(F.struct(
        F.col("__i"), F.col("__ln"),
        F.coalesce(F.col("__bp"), F.lit(False)).alias("__bp"))))
    return (
        marked.groupBy("__id")
        .agg(
            F.concat_ws(sep, F.transform(
                F.filter(parts, lambda s: ~s["__bp"]),
                lambda s: s["__ln"])).alias(text_col),
            F.sum(F.coalesce(F.col("__bp"), F.lit(False)).cast("int"))
            .cast("long").alias("n_removed"),
        )
        .withColumnRenamed("__id", id_col)
    )


def normalize_for_dedup(text) -> "Column":
    """The C4-style dedup canonicalization: NFC-normalize, lowercase,
    strip punctuation-adjacent whitespace variance (all whitespace runs
    collapse to one space), trim. Two documents differing only in
    casing, combining-character form, or spacing then hash identically
    — 'fuzzy-exact' dedup without any pair comparison. The NFC step is
    the Arrow-batch UDF (text.normalize_unicode); everything after is
    JVM regexp."""
    from .text import normalize_unicode

    t = normalize_unicode(text, "NFC")
    return F.trim(F.regexp_replace(F.lower(t), r"\s+", " "))


def normalized_dedup(df: "DataFrame", text_col: str,
                     id_col: str) -> "DataFrame":
    """exact_dedup on the canonicalized text: keep the min-id row per
    normalized-content class. Same 8-byte-hash shuffle shape as
    exact_dedup — the canonicalization rides the scan."""
    w = df.withColumn("__norm", normalize_for_dedup(text_col))
    keep = (w.withColumn("__h", F.xxhash64(F.col("__norm")))
            .groupBy("__h", "__norm").agg(F.min(id_col).alias(id_col)))
    return df.join(keep.select(id_col), id_col, "left_semi")
