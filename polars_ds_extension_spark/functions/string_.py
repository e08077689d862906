"""String similarity & cleaning — Spark-native re-expression of the
reference's string module (reference: python/polars_ds/exprs/string.py).

JVM-side wherever Spark has the machinery: levenshtein is a built-in;
hamming and the n-gram set similarities (jaccard / sorensen-dice /
overlap / tversky) are higher-order-array expressions over char n-grams;
case/cleaning ops are regexp expressions. Jaro(-Winkler), Damerau-
Levenshtein, OSA, LCS and fuzzy ratio have no JVM building block, so they
are Arrow-batched pandas UDFs (clearly the slow path — documented).
"""

from __future__ import annotations

from typing import Dict, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .._utils import to_col

__all__ = [
    "str_leven", "filter_by_levenshtein", "str_hamming", "filter_by_hamming",
    "ngrams", "str_jaccard", "str_overlap_coeff", "str_sorensen_dice",
    "str_tversky_sim", "str_jaro", "str_jw", "str_d_leven", "str_osa",
    "str_lcs_subseq", "str_lcs_subseq_dist", "str_lcs_substr", "str_fuzz",
    "to_camel_case", "to_snake_case", "to_pascal_case", "to_constant_case",
    "extract_numbers", "replace_non_ascii", "remove_diacritics",
    "normalize_whitespace", "map_words", "similar_to_vocab", "str_nearest",
]


# ------------------------------------------------------------ JVM-side

def str_leven(c, other, return_sim: bool = False) -> Column:
    """Levenshtein distance (Spark built-in, JVM). Ref string.py:504.
    return_sim → 1 - dist/max_len."""
    a, b = to_col(c), to_col(other)
    d = F.levenshtein(a, b)
    if return_sim:
        ml = F.greatest(F.length(a), F.length(b))
        return F.when(ml == 0, F.lit(1.0)).otherwise(1.0 - d / ml)
    return d


def filter_by_levenshtein(c, other, bound: int) -> Column:
    """Boolean: levenshtein(a,b) <= bound. Spark's built-in threshold
    variant short-circuits the DP early. Ref string.py:42."""
    return F.levenshtein(to_col(c), to_col(other), F.lit(bound)) >= 0


def str_hamming(c, other, pad: bool = False) -> Column:
    """Hamming distance between strings; null if lengths differ (pad=False)
    or count the length gap as mismatches (pad=True). Ref string.py:117.
    Pure higher-order array expression — JVM-side."""
    a, b = to_col(c), to_col(other)
    la, lb = F.length(a), F.length(b)
    n = F.least(la, lb)
    mismatches = F.aggregate(
        F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(F.array().cast("array<int>")),
        F.lit(0),
        lambda acc, i: acc + (a.substr(i, F.lit(1)) != b.substr(i, F.lit(1))).cast("int"),
    )
    if pad:
        return mismatches + F.abs(la - lb)
    return F.when(la == lb, mismatches).otherwise(F.lit(None))


def filter_by_hamming(c, other, bound: int, pad: bool = False) -> Column:
    """Boolean hamming filter. Ref string.py:78."""
    return str_hamming(c, other, pad=pad) <= bound


def ngrams(c, n: int = 2, distinct: bool = True) -> Column:
    """Char n-gram array of a string (JVM higher-order expr)."""
    s = to_col(c)
    cnt = F.length(s) - (n - 1)
    grams = F.when(cnt >= 1, F.transform(
        F.sequence(F.lit(1), cnt), lambda i: s.substr(i, F.lit(n))
    )).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams) if distinct else grams


def _set_sizes(c, other, substr_size: int):
    sa = ngrams(c, substr_size)
    sb = ngrams(other, substr_size)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    return sa, sb, inter


def str_jaccard(c, other, substr_size: int = 2) -> Column:
    """Jaccard over char n-gram sets. Ref string.py:230."""
    sa, sb, inter = _set_sizes(c, other, substr_size)
    union = F.size(F.array_union(sa, sb))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def str_overlap_coeff(c, other, substr_size: int = 2) -> Column:
    """Overlap coefficient: |A∩B| / min(|A|,|B|). Ref string.py:269."""
    sa, sb, inter = _set_sizes(c, other, substr_size)
    m = F.least(F.size(sa), F.size(sb))
    return F.when(m == 0, F.lit(1.0)).otherwise(inter / m)


def str_sorensen_dice(c, other, substr_size: int = 2) -> Column:
    """Sorensen-Dice: 2|A∩B| / (|A|+|B|). Ref string.py:308."""
    sa, sb, inter = _set_sizes(c, other, substr_size)
    tot = F.size(sa) + F.size(sb)
    return F.when(tot == 0, F.lit(1.0)).otherwise(2 * inter / tot)


def str_tversky_sim(c, other, alpha: float, beta: float, substr_size: int = 2) -> Column:
    """Tversky: |A∩B| / (|A∩B| + a|A−B| + b|B−A|). Ref string.py:347."""
    if alpha < 0 or beta < 0:
        raise ValueError("alpha and beta must be >= 0")
    sa, sb, inter = _set_sizes(c, other, substr_size)
    a_only = F.size(sa) - inter
    b_only = F.size(sb) - inter
    denom = inter + F.lit(alpha) * a_only + F.lit(beta) * b_only
    return F.when(denom == 0, F.lit(1.0)).otherwise(inter / denom)


# ------------------------------------------------ pandas-UDF slow path

def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    match_dist = max(n1, n2) // 2 - 1
    f1 = [False] * n1
    f2 = [False] * n2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(n2, i + match_dist + 1)
        for j in range(lo, hi):
            if not f2[j] and s2[j] == ch:
                f1[i] = f2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(n1):
        if f1[i]:
            while not f2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    m = float(matches)
    return (m / n1 + m / n2 + (m - t) / m) / 3.0


def _jw(s1: str, s2: str, weight: float = 0.1, boost_threshold: float = 0.7) -> float:
    j = _jaro(s1, s2)
    if j <= boost_threshold:  # standard JW: boost only above threshold
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return j + prefix * weight * (1 - j)


def _osa(s1: str, s2: str) -> int:
    # optimal string alignment distance (restricted damerau)
    n1, n2 = len(s1), len(s2)
    d = [[0] * (n2 + 1) for _ in range(n1 + 1)]
    for i in range(n1 + 1):
        d[i][0] = i
    for j in range(n2 + 1):
        d[0][j] = j
    for i in range(1, n1 + 1):
        for j in range(1, n2 + 1):
            cost = 0 if s1[i - 1] == s2[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost)
            if i > 1 and j > 1 and s1[i - 1] == s2[j - 2] and s1[i - 2] == s2[j - 1]:
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + cost)
    return d[n1][n2]


def _dleven(s1: str, s2: str) -> int:
    # full damerau-levenshtein (with alphabet tracking)
    da: dict[str, int] = {}
    n1, n2 = len(s1), len(s2)
    maxdist = n1 + n2
    d = [[maxdist] * (n2 + 2) for _ in range(n1 + 2)]
    for i in range(n1 + 1):
        d[i + 1][1] = i
        d[i + 1][0] = maxdist
    for j in range(n2 + 1):
        d[1][j + 1] = j
        d[0][j + 1] = maxdist
    for i in range(1, n1 + 1):
        db = 0
        for j in range(1, n2 + 1):
            k = da.get(s2[j - 1], 0)
            l_ = db
            if s1[i - 1] == s2[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][l_] + (i - k - 1) + 1 + (j - l_ - 1),
            )
        da[s1[i - 1]] = i
    return d[n1 + 1][n2 + 1]


def _lcs_subseq_len(s1: str, s2: str) -> int:
    n1, n2 = len(s1), len(s2)
    prev = [0] * (n2 + 1)
    for i in range(1, n1 + 1):
        cur = [0] * (n2 + 1)
        c1 = s1[i - 1]
        for j in range(1, n2 + 1):
            if c1 == s2[j - 1]:
                cur[j] = prev[j - 1] + 1
            else:
                cur[j] = max(prev[j], cur[j - 1])
        prev = cur
    return prev[n2]


def _lcs_substr(s1: str, s2: str) -> str:
    n1, n2 = len(s1), len(s2)
    best, best_end = 0, 0
    prev = [0] * (n2 + 1)
    for i in range(1, n1 + 1):
        cur = [0] * (n2 + 1)
        for j in range(1, n2 + 1):
            if s1[i - 1] == s2[j - 1]:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best, best_end = cur[j], i
        prev = cur
    return s1[best_end - best: best_end]


# ---------------------------------------------- batch-vectorized kernels
# The DP/matching loops run over (i, j) character positions in Python but
# every inner operation is vectorized across the WHOLE Arrow batch with
# numpy — O(maxlen²) python iterations per batch instead of per row,
# a ~batch-size speedup over scalar kernels for the common short-string
# case. Padding code is -1 (never a real code point).

def _codes_batch(vals: list) -> tuple["np.ndarray", "np.ndarray"]:
    import numpy as np

    lens = np.array([0 if v is None else len(v) for v in vals], dtype=np.int64)
    lmax = int(lens.max()) if len(lens) and lens.max() > 0 else 1
    A = np.full((len(vals), lmax), -1, dtype=np.int64)
    for r, v in enumerate(vals):
        if v:
            A[r, : len(v)] = np.frombuffer(v.encode("utf-32-le"), dtype=np.uint32)
    return A, lens


def _jaro_batch(A, la, B2, lb):
    import numpy as np

    Bn, L1 = A.shape
    L2 = B2.shape[1]
    d = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    used2 = np.zeros((Bn, L2), dtype=bool)
    m1 = np.zeros((Bn, L1), dtype=bool)
    jidx = np.arange(L2)
    for i in range(L1):
        active = i < la
        if not active.any():
            break
        cand = (
            (jidx >= (i - d)[:, None]) & (jidx <= (i + d)[:, None])
            & (jidx < lb[:, None]) & ~used2
            & (B2 == A[:, i][:, None]) & active[:, None]
        )
        has = cand.any(1)
        jm = cand.argmax(1)
        used2[has, jm[has]] = True
        m1[has, i] = True
    m = used2.sum(1).astype(np.float64)
    maxm = int(m.max()) if Bn else 0
    t = np.zeros(Bn)
    if maxm > 0:
        M1 = np.full((Bn, maxm), -1, dtype=np.int64)
        M2 = np.full((Bn, maxm), -1, dtype=np.int64)
        pos1 = m1.cumsum(1) - 1
        pos2 = used2.cumsum(1) - 1
        r1, c1 = np.nonzero(m1)
        M1[r1, pos1[r1, c1]] = A[r1, c1]
        r2, c2 = np.nonzero(used2)
        M2[r2, pos2[r2, c2]] = B2[r2, c2]
        t = ((M1 != M2) & (M1 != -1)).sum(1) // 2
    with np.errstate(divide="ignore", invalid="ignore"):
        res = (m / la + m / lb + (m - t) / m) / 3.0
    res = np.where(m == 0, 0.0, res)
    res = np.where((la == 0) & (lb == 0), 1.0, res)
    return res


def _jw_batch(A, la, B2, lb, weight: float):
    import numpy as np

    j = _jaro_batch(A, la, B2, lb)
    upto = min(4, A.shape[1], B2.shape[1])
    if upto == 0:
        return j
    eq = (A[:, :upto] == B2[:, :upto]) & (A[:, :upto] != -1)
    prefix = (eq.cumprod(1)).sum(1)
    return np.where(j > 0.7, j + prefix * weight * (1 - j), j)


def _osa_batch(A, la, B2, lb):
    import numpy as np

    Bn, L1 = A.shape
    L2 = B2.shape[1]
    prev2 = None
    prev = np.tile(np.arange(L2 + 1, dtype=np.int64), (Bn, 1))
    final = np.where(la == 0, lb, 0)
    for i in range(1, L1 + 1):
        cur = np.empty((Bn, L2 + 1), dtype=np.int64)
        cur[:, 0] = i
        c1 = A[:, i - 1]
        for j in range(1, L2 + 1):
            cost = (c1 != B2[:, j - 1]).astype(np.int64)
            v = np.minimum(prev[:, j] + 1, prev[:, j - 1] + cost)
            v = np.minimum(v, cur[:, j - 1] + 1)
            if i > 1 and j > 1:
                trans = (c1 == B2[:, j - 2]) & (A[:, i - 2] == B2[:, j - 1]) \
                        & (c1 != -1)
                v = np.where(trans, np.minimum(v, prev2[:, j - 2] + cost), v)
            cur[:, j] = v
        hit = la == i
        if hit.any():
            final = np.where(hit, np.take_along_axis(cur, lb[:, None], 1)[:, 0],
                             final)
        prev2, prev = prev, cur
    return final


def _lcs_batch(A, la, B2, lb):
    import numpy as np

    Bn, L1 = A.shape
    L2 = B2.shape[1]
    prev = np.zeros((Bn, L2 + 1), dtype=np.int64)
    final = np.zeros(Bn, dtype=np.int64)
    for i in range(1, L1 + 1):
        cur = np.zeros((Bn, L2 + 1), dtype=np.int64)
        c1 = A[:, i - 1]
        for j in range(1, L2 + 1):
            match = (c1 == B2[:, j - 1]) & (c1 != -1)
            cur[:, j] = np.where(
                match, prev[:, j - 1] + 1,
                np.maximum(prev[:, j], cur[:, j - 1]))
        hit = la == i
        if hit.any():
            final = np.where(hit, np.take_along_axis(cur, lb[:, None], 1)[:, 0],
                             final)
        prev = cur
    return final


def _dleven_batch(A, la, B2, lb):
    """Full Damerau-Levenshtein (Lowrance-Wagner, adjacent transposition
    of ANY distance — not the OSA restriction), batch-vectorized.

    The alphabet-indexed last-occurrence table `da` and the per-row
    last-match column `db` become (batch × alphabet) / (batch,) arrays;
    the transposition term's random DP access d[k-1, l-1] is a per-row
    gather into the kept DP cube. Memory: the cube is (chunk × L1+2 ×
    L2+2) int32 — callers chunk the batch so this stays ~64 MB.
    """
    import numpy as np

    Bn, L1 = A.shape
    L2 = B2.shape[1]
    # compact the alphabet to 0..K-1 (padding -1 maps to 0; harmless —
    # padded positions are masked out of da/db updates below)
    uniq, inv = np.unique(np.concatenate([A, B2], axis=1), return_inverse=True)
    codes = inv.reshape(Bn, L1 + L2)
    Ac, Bc = codes[:, :L1], codes[:, L1:]
    K = len(uniq)
    maxd = L1 + L2
    # D[r, i+1, j+1] = d(i, j) for logical i, j in -1..L1 / -1..L2
    D = np.full((Bn, L1 + 2, L2 + 2), maxd, dtype=np.int32)
    D[:, 1, 1:] = np.arange(L2 + 1, dtype=np.int32)
    D[:, 1:, 1] = np.arange(L1 + 1, dtype=np.int32)
    da = np.zeros((Bn, K), dtype=np.int64)
    ridx = np.arange(Bn)
    for i in range(1, L1 + 1):
        act_i = i <= la
        db = np.zeros(Bn, dtype=np.int64)
        a_i = A[:, i - 1]
        for j in range(1, L2 + 1):
            act = act_i & (j <= lb)
            k = da[ridx, Bc[:, j - 1]]
            l_ = db
            eq = (a_i == B2[:, j - 1]) & act
            cost = np.where(eq, 0, 1).astype(np.int32)
            db = np.where(eq, j, db)
            v = np.minimum(D[:, i, j] + cost, D[:, i + 1, j] + 1)
            v = np.minimum(v, D[:, i, j + 1] + 1)
            trans = D[ridx, k, l_] + (i - k - 1) + 1 + (j - l_ - 1)
            D[:, i + 1, j + 1] = np.minimum(v, trans.astype(np.int32))
        upd = ridx[act_i]
        da[upd, Ac[upd, i - 1]] = i
    return D[ridx, la + 1, lb + 1].astype(np.int64)


def _chunked_dleven(A, la, B2, lb, budget: int = 8_000_000):
    """Run _dleven_batch in row chunks so the DP cube stays bounded."""
    import numpy as np

    Bn, L1 = A.shape
    L2 = B2.shape[1]
    rows = max(1, budget // max((L1 + 2) * (L2 + 2), 1))
    if rows >= Bn:
        return _dleven_batch(A, la, B2, lb)
    outs = []
    for s in range(0, Bn, rows):
        e = min(s + rows, Bn)
        outs.append(_dleven_batch(A[s:e], la[s:e], B2[s:e], lb[s:e]))
    return np.concatenate(outs)


def _batch_udf(kernel, ret: str, post=None):
    """Wrap a (A, la, B2, lb) → ndarray batch kernel as a pandas UDF with
    null passthrough."""
    import numpy as np

    @pandas_udf(ret)
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        va, vb = a.tolist(), b.tolist()
        null = np.array([x is None or y is None for x, y in zip(va, vb)])
        A, la = _codes_batch(va)
        B2, lb = _codes_batch(vb)
        out = kernel(A, la, B2, lb)
        if post is not None:
            out = post(out, la, lb)
        res = pd.Series(out)
        res[null] = None
        return res

    return _udf


def str_jaro(c, other) -> Column:
    """Jaro similarity (batch-vectorized numpy kernel). Ref string.py:439."""
    return _batch_udf(_jaro_batch, "double")(to_col(c), to_col(other))


def str_jw(c, other, weight: float = 0.1) -> Column:
    """Jaro-Winkler similarity. Ref string.py:404."""
    return _batch_udf(
        lambda A, la, B2, lb: _jw_batch(A, la, B2, lb, weight), "double"
    )(to_col(c), to_col(other))


def str_d_leven(c, other, return_sim: bool = False) -> Column:
    """Full Damerau-Levenshtein distance (or similarity). Ref
    string.py:461. Batch-vectorized (alphabet-indexed Lowrance-Wagner
    over the whole Arrow batch, chunked DP cube) — no per-row Python."""
    if return_sim:
        import numpy as np

        return _batch_udf(
            _chunked_dleven, "double",
            post=lambda out, la, lb: 1.0 - out / np.maximum(np.maximum(la, lb), 1),
        )(to_col(c), to_col(other))
    return _batch_udf(_chunked_dleven, "int")(to_col(c), to_col(other))


def str_osa(c, other, return_sim: bool = False) -> Column:
    """Optimal-string-alignment distance (batch DP, vectorized across the
    Arrow batch). Ref string.py:643."""
    if return_sim:
        import numpy as np

        return _batch_udf(
            _osa_batch, "double",
            post=lambda out, la, lb: 1.0 - out / np.maximum(np.maximum(la, lb), 1),
        )(to_col(c), to_col(other))
    return _batch_udf(_osa_batch, "int")(to_col(c), to_col(other))


def str_lcs_subseq(c, other) -> Column:
    """Longest common subsequence length (batch DP). Ref string.py:575."""
    return _batch_udf(_lcs_batch, "int")(to_col(c), to_col(other))


def str_lcs_subseq_dist(c, other) -> Column:
    """LCS edit distance: n1 + n2 - 2*lcs. Ref string.py:603."""
    return _batch_udf(
        _lcs_batch, "int", post=lambda out, la, lb: la + lb - 2 * out
    )(to_col(c), to_col(other))


def str_lcs_substr(c, other) -> Column:
    """Longest common substring (the string itself). Ref string.py:547.

    The length/end-position DP is batch-vectorized numpy (same rolling
    row as the other kernels, plus per-row argmax bookkeeping); only the
    final slice `a[end-len:end]` touches Python strings — O(batch), not
    O(batch·L1·L2)."""
    import numpy as np

    @pandas_udf("string")
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        va, vb = a.tolist(), b.tolist()
        A, la = _codes_batch(va)
        B2, lb = _codes_batch(vb)
        Bn, L1 = A.shape
        L2 = B2.shape[1]
        jidx = np.arange(L2)
        prev = np.zeros((Bn, L2), dtype=np.int64)
        best = np.zeros(Bn, dtype=np.int64)
        best_end = np.zeros(Bn, dtype=np.int64)
        for i in range(1, L1 + 1):
            c1 = A[:, i - 1]
            eq = (B2 == c1[:, None]) & (c1 != -1)[:, None] & (jidx < lb[:, None])
            shifted = np.concatenate(
                [np.zeros((Bn, 1), dtype=np.int64), prev[:, :-1]], axis=1)
            cur = np.where(eq, shifted + 1, 0)
            rowbest = cur.max(axis=1) if L2 else np.zeros(Bn, dtype=np.int64)
            better = rowbest > best
            best = np.where(better, rowbest, best)
            best_end = np.where(better, i, best_end)
            prev = cur
        out = [
            None if x is None or y is None
            else x[int(e) - int(l): int(e)]
            for x, y, l, e in zip(va, vb, best, best_end)
        ]
        return pd.Series(out, dtype="object")

    return _udf(to_col(c), to_col(other))


def str_fuzz(c, other) -> Column:
    """Fuzzy (indel) ratio as in fuzzywuzzy/rapidfuzz ratio:
    1 - indel_dist/(n1+n2), indel = LCS edit distance (batch DP).
    Ref string.py:679."""
    import numpy as np

    return _batch_udf(
        _lcs_batch, "double",
        post=lambda out, la, lb: np.where(
            la + lb == 0, 1.0,
            1.0 - (la + lb - 2 * out) / np.maximum(la + lb, 1)),
    )(to_col(c), to_col(other))


# ----------------------------------------------------------- case & clean

def to_snake_case(c) -> Column:
    """camelCase → snake_case (regexp, JVM). Ref string.py:161."""
    s = F.regexp_replace(to_col(c), r"([a-z0-9])([A-Z])", r"$1_$2")
    return F.lower(F.regexp_replace(s, r"[\s\-]+", "_"))


def to_camel_case(c) -> Column:
    """snake_case → camelCase. Ref string.py:152. Implemented with a
    higher-order transform over '_'-split parts (JVM)."""
    parts = F.split(to_col(c), "_")
    recap = F.transform(
        parts,
        lambda p, i: F.when(i == 0, p).otherwise(
            F.concat(F.upper(p.substr(F.lit(1), F.lit(1))), p.substr(F.lit(2), F.length(p)))
        ),
    )
    return F.array_join(recap, "")


def to_pascal_case(c) -> Column:
    """snake_case → PascalCase. Ref string.py:170."""
    parts = F.split(to_col(c), "_")
    recap = F.transform(
        parts,
        lambda p: F.concat(F.upper(p.substr(F.lit(1), F.lit(1))), p.substr(F.lit(2), F.length(p))),
    )
    return F.array_join(recap, "")


def to_constant_case(c) -> Column:
    """→ CONSTANT_CASE. Ref string.py:179."""
    return F.upper(to_snake_case(c))


def extract_numbers(c, join_by: str | None = None, dtype: str | None = None) -> Column:
    """All numeric substrings as an array (optionally joined/cast).
    Ref string.py:762."""
    arr = F.regexp_extract_all(to_col(c), F.lit(r"(\d+\.?\d*)"), 1)
    if join_by is not None:
        return F.array_join(arr, join_by)
    if dtype is not None:
        return F.transform(arr, lambda x: x.cast(dtype))
    return arr


def replace_non_ascii(c, value: str = "") -> Column:
    """Strip/replace non-ASCII chars (regexp, JVM). Ref string.py:853."""
    return F.regexp_replace(to_col(c), r"[^\x00-\x7F]", value)


_DIACRITICS_SRC = "áàâäãåāăąçćčĉéèêëēĕėęěíìîïĩīĭįñńņňóòôöõøōŏőśŝşšúùûüũūŭůűýÿźżž"
_DIACRITICS_DST = "aaaaaaaaacccceeeeeeeeeiiiiiiiinnnnooooooooossssuuuuuuuuuyyzzz"


def remove_diacritics(c) -> Column:
    """Fold common Latin diacritics to ASCII via translate (JVM).
    Ref string.py:894."""
    s = to_col(c)
    return F.translate(
        F.translate(s, _DIACRITICS_SRC, _DIACRITICS_DST),
        _DIACRITICS_SRC.upper(), _DIACRITICS_DST.upper(),
    )


def normalize_whitespace(c, only_spaces: bool = False) -> Column:
    """Collapse whitespace runs. Ref string.py:963."""
    pat = " +" if only_spaces else r"\s+"
    return F.regexp_replace(to_col(c), pat, " ")


def map_words(c, mapping: Dict[str, str]) -> Column:
    """Replace whole words by a small literal mapping (chained regexps,
    JVM). Ref string.py:927."""
    out = to_col(c)
    for k, v in mapping.items():
        out = F.regexp_replace(out, rf"\b{k}\b", v)
    return out


def _vocab_sims_udf(vocab: "tuple[str, ...]", metric: str,
                    jw_weight: float = 0.1):
    """ONE Arrow-batched UDF computing the similarity of each input
    string to EVERY vocab word — array<double>, one entry per word.
    One data transfer per batch, |vocab| batch-kernel calls; the
    avg/any/all/argmax reductions stay JVM-side on the array."""
    import numpy as np

    @pandas_udf("array<double>")
    def _udf(a: pd.Series) -> pd.Series:
        va = a.tolist()
        Bn = len(va)
        A, la = _codes_batch(va)
        cols = []
        for w in vocab:
            B2, lb = _codes_batch([w] * Bn)
            if metric == "jw":
                out = _jw_batch(A, la, B2, lb, jw_weight).astype("float64")
            elif metric == "dlv":
                d = _chunked_dleven(A, la, B2, lb)
                out = 1.0 - d / np.maximum(np.maximum(la, lb), 1)
            else:  # osa
                d = _osa_batch(A, la, B2, lb)
                out = 1.0 - d / np.maximum(np.maximum(la, lb), 1)
            cols.append(out)
        M = np.stack(cols, axis=1) if cols else np.zeros((Bn, 0))
        return pd.Series(
            [None if v is None else [float(x) for x in row]
             for v, row in zip(va, M)], dtype="object")

    return _udf


_VOCAB_METRICS = ("lv", "dlv", "jw", "osa")


def similar_to_vocab(c, vocab: Sequence[str], threshold: float,
                     metric: str = "lv", strategy: str = "avg") -> Column:
    """Boolean: similarity of c to the (small, literal) vocab passes the
    threshold under avg/all/any strategy. Ref string.py:702 (metrics
    'lv'|'dlv'|'jw'|'osa'). 'lv' is a flat JVM expression over inlined
    literals; the DP metrics ride ONE Arrow batch UDF for the whole
    vocab, with the strategy reduction JVM-side on the sims array."""
    if metric not in _VOCAB_METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {_VOCAB_METRICS}")
    if metric == "lv":
        sims = [str_leven(c, F.lit(v), return_sim=True) for v in vocab]
        if strategy == "avg":
            total = sims[0]
            for s_ in sims[1:]:
                total = total + s_
            return (total / F.lit(len(sims))) >= threshold
        conds = [s_ >= threshold for s_ in sims]
        out = conds[0]
        for cc in conds[1:]:
            out = (out & cc) if strategy == "all" else (out | cc)
        return out
    arr = _vocab_sims_udf(tuple(vocab), metric)(to_col(c))
    if strategy == "avg":
        avg = F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x) \
            / F.lit(len(vocab))
        return avg >= threshold
    if strategy == "all":
        return F.forall(arr, lambda x: x >= threshold)
    return F.exists(arr, lambda x: x >= threshold)


def str_nearest(df: DataFrame, c: str, vocab: Sequence[str],
                metric: str = "lv", out_name: str = "nearest") -> DataFrame:
    """For each row, the vocab word nearest to column c. Ref
    string.py:188 ('lv'|'hamming') + :706 metric family ('dlv'|'jw'|
    'osa'). 'lv'/'hamming' are pure JVM expressions over the inlined
    vocab (array+array_min — broadcast-free for small vocab; for big
    vocab use a broadcast crossJoin + min); the DP metrics compute the
    sims array in ONE Arrow batch UDF and argmax JVM-side. Ties break
    to the lexicographically smallest word for the distance metrics and
    to the largest for the similarity path (struct ordering)."""
    if metric in ("lv", "hamming"):
        if metric == "lv":
            dist = [F.levenshtein(to_col(c), F.lit(v)) for v in vocab]
        else:
            # pad=True totalizes unequal lengths (gap counts as
            # mismatches) so every distance is comparable
            dist = [str_hamming(c, F.lit(v), pad=True) for v in vocab]
        structs = F.array(*[
            F.struct(d.alias("d"), F.lit(v).alias("w"))
            for d, v in zip(dist, vocab)
        ])
        best = F.array_min(structs)  # struct ordering: by first field (d)
        return df.withColumn(out_name, best.getField("w"))
    if metric not in _VOCAB_METRICS:
        raise ValueError(
            f"unknown metric {metric!r}; one of {_VOCAB_METRICS + ('hamming',)}")
    arr = _vocab_sims_udf(tuple(vocab), metric)(to_col(c))
    words = F.array(*[F.lit(v) for v in vocab])
    best = F.array_max(F.zip_with(
        arr, words, lambda s, w: F.struct(s.alias("s"), w.alias("w"))))
    return df.withColumn(out_name, best.getField("w"))
