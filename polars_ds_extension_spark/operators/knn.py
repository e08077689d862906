"""KNN / similarity search over embedding columns (array<float|double>).

Mirrors the reference's spatial queries (ref exprs/expr_knn.py:100
query_knn_ptwise, :265 knn_avg, :471 radius_ptwise, :601 nb_cnt) but
Spark-shaped. The Column helpers (`dot`, `cosine`, `l2`, ...) are JVM
higher-order folds for scan-side filters and small LSH buckets; every
batch kernel is numpy inside `mapInPandas` / `applyInPandas`.

  * brute force (`knn_join`, `radius_count`, `radius_join`): the index
    set is broadcast as a matrix (dims tables are small: centroids,
    label prototypes, a query batch) and each Arrow batch of queries is
    scored by one GEMM — no shuffle of the big side;
  * SRP-LSH (`ann_lsh_join`): signatures scan-side, ONE shuffle on the
    bucket key, exact re-rank inside buckets — never a cartesian product;
  * IVF (`ivf_knn_join`, `ivf_search`, `ivf_cosine_pairs`, the persisted
    vector index): vectors bucket to their nearest broadcast centroids
    scan-side, one shuffle on the cell key brings each cell together, a
    top-k or threshold search runs inside each cell, and one global
    merge follows. Each IVF step is written once here and shared by
    every IVF operator (and `embedding.ivfpq_knn_join`):
    `_resolve_centroids`, the assignment core `_assign` behind
    `ivf_assign` / `ivf_assign_probe`, the assign-and-salt step
    `_salted_cells`, and the slab-chunked cosine GEMM `_cosine_slabs`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cluster import _assign_np, _dist2_np, _to_mat


# ------------------------------------------------------------ vector algebra

def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_sq(a: Column, b: Column) -> Column:
    d = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v * v)


def l2(a: Column, b: Column) -> Column:
    return F.sqrt(l2_sq(a, b))


def l1(a: Column, b: Column) -> Column:
    d = F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double")))
    return F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v)


def linf(a: Column, b: Column) -> Column:
    d = F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double")))
    return F.array_max(d)


_METRICS = {"cosine": lambda a, b: -cosine(a, b), "l2": l2, "l2_sq": l2_sq,
            "l1": l1, "inf": linf}


def _chunked_dist(Q, m, metric, slab_bytes: int = 1 << 28):
    """l1/inf distance matrix in fixed-size memory slabs — the 3-D
    broadcast would otherwise blow past the Arrow batch budget
    (batch x index x dim doubles). The chunk is derived from the index
    size so the slab stays ~``slab_bytes`` (256 MB default) no matter
    how large the broadcast index is — a fixed row chunk would scale the
    slab linearly with index rows."""
    import numpy as np

    out = np.empty((Q.shape[0], m.shape[0]))
    red = np.sum if metric == "l1" else np.max
    chunk = max(1, int(slab_bytes // max(1, m.shape[0] * m.shape[1] * 8)))
    for s0 in range(0, Q.shape[0], chunk):
        sl = slice(s0, s0 + chunk)
        out[sl] = red(np.abs(Q[sl, None, :] - m[None, :, :]), axis=2)
    return out


def _topk_rows(score, ids, kk):
    """Per-row top-kk selection by (score ASC, id ASC) with EXACT
    boundary-tie handling. np.argpartition alone is unstable at the
    kk-th boundary: when the kk-th and (kk+1)-th candidates score
    exactly equal (guaranteed with duplicate/identical vectors — the
    planted-pair scenario the recall oracles use), the emitted set
    would depend on partition order instead of the lowest id. Fast
    path: argpartition; rows where an UNSELECTED column ties the kk-th
    score fall back to a full (score, id) lexsort of that row, so the
    boundary resolves to the lowest id — the same ORDER BY (score, id)
    contract the SQL replays pin. Returns (scores, ids) both sorted
    (score ASC, id ASC) per row, shape (rows, kk)."""
    import numpy as np

    part = np.argpartition(score, kk - 1, axis=1)[:, :kk]
    psc = np.take_along_axis(score, part, axis=1)
    kth = psc.max(axis=1)
    with np.errstate(invalid="ignore"):
        n_le = (score <= kth[:, None]).sum(axis=1)
    tied = np.nonzero(n_le > kk)[0]
    if tied.size:
        sc_t = score[tied]
        ids_b = np.broadcast_to(ids[None, :], sc_t.shape)
        full = np.lexsort((ids_b, sc_t), axis=1)[:, :kk]
        part[tied] = full
        psc[tied] = np.take_along_axis(sc_t, full, axis=1)
    nid = ids[part]
    order = np.lexsort((nid, psc), axis=1)
    return (np.take_along_axis(psc, order, axis=1),
            np.take_along_axis(nid, order, axis=1))


def _topk_frame(q_id: str, qids, nid, val_col: str, vals, keep=None):
    """The (q_id, neighbor_id, <val_col>, rank) rows of a `_topk_rows`
    selection — rank 1..kk along each row — keeping only ``keep``."""
    kk = nid.shape[1]
    cols = {q_id: np.repeat(qids, kk), "neighbor_id": nid.ravel(),
            val_col: vals.ravel(),
            "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), len(qids))}
    if keep is not None:
        cols = {c: v[keep.ravel()] for c, v in cols.items()}
    return pd.DataFrame(cols)


def _cosine_slabs(Q, X):
    """Yield ``(slice, cos)`` over row slabs of ``Q``: ``cos`` is the
    (slab × |X|) cosine matrix of those rows against every row of
    ``X`` — the dot over the product of dot-then-sqrt float64 norms, the
    expression the SQL replays compute. The slab keeps each matrix
    ~128 MB however large a cell or bucket gets; the per-group kernels
    (LSH buckets, IVF cells) each apply their own emit step to it."""
    qn = np.sqrt((Q * Q).sum(1))
    xn = qn if X is Q else np.sqrt((X * X).sum(1))
    chunk = max(1, (1 << 27) // max(1, len(X) * 8))
    for s0 in range(0, len(Q), chunk):
        sl = slice(s0, min(s0 + chunk, len(Q)))
        yield sl, (Q[sl] @ X.T) / (qn[sl][:, None] * xn[None, :])


# ---------------------------------------------------- brute force (broadcast)

#: hard cap on broadcast index rows — at 128d float64 this is ~5 GB,
#: the edge of what a healthy executor broadcast tolerates. Beyond it
#: the ann_lsh_join / ivf_knn_join scale paths are the right tool.
MAX_BROADCAST_INDEX_ROWS = 5_000_000


def _collect_index(index: DataFrame, i_id: str, i_vec: str,
                   max_rows: int = MAX_BROADCAST_INDEX_ROWS):
    """Materialize the (broadcast-size by contract) index side as numpy —
    the correctness-path analogue of the reference's in-memory kd-tree
    build (ref expr_knn.py builds one per call). Guarded: a too-big
    index fails fast with a pointer at the scale paths instead of
    silently OOMing the driver."""
    # Plain collect + length check: a limit(cap+1) here routes through
    # Spark's incremental CollectLimit scale-up (1 partition, then x4,
    # ...) — sequential jobs that doubled brute-force knn wall time at
    # sf0.1. The index is broadcast-size by contract, so the parallel
    # collect is the fast path and the cap stays a fail-fast check.
    rows = index.select(i_id, i_vec).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"index exceeds the broadcast cap of {max_rows} rows; use "
            "ann_lsh_join / ivf_knn_join for index sets this large")
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    return ids, _to_mat([r[1] for r in rows])


def knn_join(
    queries: DataFrame, q_id: str, q_vec: str,
    index: DataFrame, i_id: str, i_vec: str,
    k: int = 5, metric: str = "cosine",
    max_bound: float | None = None,
    route: str = "brute",
    route_threshold: int = MAX_BROADCAST_INDEX_ROWS,
    index_count: int | None = None,
    route_centroids: "str | DataFrame" = "kmeans",
) -> DataFrame:
    """Exact top-k neighbors of each query among ``index`` rows.

    Ref expr_knn.py:100 (query_knn_ptwise). The index matrix is broadcast
    to executors and each Arrow batch of queries is scored with one numpy
    GEMM + argpartition top-k — the big side streams with zero shuffle,
    and per-pair cost is a fused multiply-add instead of a JVM
    higher-order fold (~40× faster at 2k×2k×128d). For index sets too
    big to broadcast use `ann_lsh_join` / `ivf_knn_join` / `ivf_search`.
    Output: (q_id, neighbor_id, cosine|dist, rank), rank 1..k,
    ties broken by neighbor id ascending. ``max_bound`` (distance
    metrics only — ref expr_knn.py max_bound) drops neighbors farther
    than the bound, so a query may return fewer than k rows. The
    reference's eval_mask/data_mask are subsumed by this two-frame API:
    filter ``queries``/``index`` before the call.

    ``route="auto"`` (cosine only): when the index side exceeds
    ``route_threshold`` rows, delegate to the IVF scale path
    (`ivf_search` with sqrt(N) centroids, nprobe=2) instead of failing
    at the broadcast cap — results become probe-bounded APPROXIMATE
    above the threshold, the documented industry trade at corpus
    scale. Below the threshold the exact brute path runs unchanged.
    Routing needs the index cardinality: pass ``index_count`` when the
    caller already knows it (catalog stats, a prior action) to skip the
    counting job entirely; otherwise one `count()` runs per DISTINCT
    index frame — memoized weakly per DataFrame object, so repeated
    auto-routed calls against the same index pay it once. The memo is
    never invalidated: a long-lived DataFrame over a table whose
    underlying files GROW (appended parquet) keeps routing on the
    cardinality measured first — pass ``index_count`` explicitly (or
    re-create the frame) when reuse across appends is expected, or a
    grown index may stay on the brute broadcast path past
    ``route_threshold``.
    """
    from pyspark.sql.types import StructType

    if max_bound is not None and metric == "cosine":
        raise ValueError("max_bound applies to distance metrics; for "
                         "cosine use ann_lsh_join(min_cosine=...)")
    if route == "auto":
        import math

        from .._utils import memo

        n_index = (int(index_count) if index_count is not None
                   else memo(index, "count", index.count))
        if n_index > route_threshold:
            if metric != "cosine":
                raise ValueError(
                    "route='auto' supports metric='cosine' only; for "
                    "distance metrics pre-bucket with ivf_assign")
            # route_centroids: "kmeans" (default — balanced cells on any
            # id space) or "first"/prebuilt for deterministic
            # SQL-replayable routing (the knn_auto_route oracle)
            return ivf_search(
                queries, q_id, q_vec, index, i_id, i_vec, k=k,
                n_centroids=max(16, math.ceil(math.sqrt(n_index))),
                nprobe=2, centroids=route_centroids)
    elif route != "brute":
        raise ValueError(f"unknown route {route!r}")
    ids, mat = _collect_index(index, i_id, i_vec)
    if metric == "cosine":
        mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    else:
        mn = mat
    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast((ids, mn))
    out_val = "cosine" if metric == "cosine" else "dist"
    qf = queries.select(F.col(q_id), F.col(q_vec)).schema.fields
    schema = StructType.fromDDL(
        f"{q_id} {qf[0].dataType.simpleString()}, neighbor_id bigint, "
        f"{out_val} double, rank int")

    def _batches(it):
        iids, m = bc.value
        for pdf in it:
            qids = pdf[q_id].to_numpy()
            Q = _to_mat(pdf[q_vec])
            if metric == "cosine":
                Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
                score = -(Qn @ m.T)            # ascending = best first
            elif metric in ("l2", "l2_sq"):
                d2 = (
                    (Q * Q).sum(1)[:, None] + (m * m).sum(1)[None, :]
                    - 2.0 * (Q @ m.T)
                )
                score = np.maximum(d2, 0.0)
            elif metric in ("l1", "inf"):
                score = _chunked_dist(Q, m, metric)
            else:
                raise ValueError(f"unknown metric {metric}")
            score[qids[:, None] == iids[None, :]] = np.inf  # exclude self
            kk = min(k, score.shape[1] - 1 if score.shape[1] > 1 else 1)
            # fully columnar top-k emit with exact (score, id) boundary
            # tie-break — no per-pair Python appends
            psc, nid = _topk_rows(score, iids, kk)
            if metric == "cosine":
                vals = -psc
            elif metric == "l2":
                vals = np.sqrt(psc)
            else:
                vals = psc
            # candidates are score-sorted ascending, so the old loop's
            # `break` conditions are plain masks: non-finite scores sort
            # last, and every candidate past a max_bound hit is farther
            keep = np.isfinite(psc)
            if max_bound is not None:
                keep &= vals <= max_bound
            yield _topk_frame(q_id, qids, nid, out_val, vals, keep)

    return queries.select(q_id, q_vec).mapInPandas(_batches, schema)


def knn_avg(
    queries: DataFrame, q_id: str, q_vec: str,
    index: DataFrame, i_id: str, i_vec: str, value: str,
    k: int = 5, metric: str = "cosine",
) -> DataFrame:
    """Mean of ``value`` over each query's k nearest index rows.
    Ref expr_knn.py:265."""
    nn = knn_join(queries, q_id, q_vec, index, i_id, i_vec, k, metric)
    vals = index.select(F.col(i_id).cast("bigint").alias("neighbor_id"),
                        F.col(value).alias("__v"))
    return (
        nn.join(F.broadcast(vals), "neighbor_id")
        .groupBy(q_id)
        .agg(F.avg("__v").alias(f"knn_avg_{value}"))
    )


def _radius_map(
    queries: DataFrame, q_id: str, q_vec: str,
    index: DataFrame, i_id: str, i_vec: str,
    metric: str, out_ddl: str, emit,
) -> DataFrame:
    """The radius kernel of `radius_count` / `radius_join`: the index
    broadcast as a matrix (the knn_join shape), each query batch scored
    by the metric's distance block with self pairs set to +inf, and
    ``emit(qids, iids, dist)`` turning the block into output columns
    (``out_ddl`` after the query id)."""
    from pyspark.sql.types import StructType

    ids, mat = _collect_index(index, i_id, i_vec)
    bc = queries.sparkSession.sparkContext.broadcast((ids, mat))
    qf = queries.select(F.col(q_id)).schema.fields
    schema = StructType.fromDDL(
        f"{q_id} {qf[0].dataType.simpleString()}, {out_ddl}")

    def _batches(it):
        iids, m = bc.value
        m2 = (m * m).sum(1)
        for pdf in it:
            qids = pdf[q_id].to_numpy()
            Q = _to_mat(pdf[q_vec])
            # each metric computes only what it needs — no discarded GEMM
            if metric == "cosine":
                qn = np.linalg.norm(Q, axis=1, keepdims=True)
                val = 1.0 - (Q @ m.T) / (qn * np.sqrt(m2)[None, :])
            elif metric in ("l1", "inf"):
                val = _chunked_dist(Q, m, metric)
            else:
                d2 = (Q * Q).sum(1)[:, None] + m2[None, :] - 2.0 * (Q @ m.T)
                d2 = np.maximum(d2, 0.0)
                val = np.sqrt(d2) if metric == "l2" else d2
            val[qids[:, None] == iids[None, :]] = np.inf
            yield pd.DataFrame(emit(qids, iids, val))

    return queries.select(q_id, q_vec).mapInPandas(_batches, schema)


def radius_count(
    queries: DataFrame, q_id: str, q_vec: str,
    index: DataFrame, i_id: str, i_vec: str,
    radius: float, metric: str = "l2",
) -> DataFrame:
    """Count of index rows within ``radius`` of each query.
    Ref expr_knn.py:601 (nb_cnt). Same broadcast-matrix + batch-GEMM
    shape as knn_join; queries with zero neighbors emit no row."""
    def _count(qids, iids, val):
        cnt = (val <= radius).sum(1)
        keep = cnt > 0
        return {q_id: qids[keep], "nb_cnt": cnt[keep]}

    return _radius_map(queries, q_id, q_vec, index, i_id, i_vec, metric,
                       "nb_cnt bigint", _count)


def radius_join(
    queries: DataFrame, q_id: str, q_vec: str,
    index: DataFrame, i_id: str, i_vec: str,
    radius: float, metric: str = "l2",
) -> DataFrame:
    """All (query, index) pairs within ``radius`` — the pairwise form of
    ``radius_count`` (ref expr_knn.py:471 query_radius_ptwise, list
    output exploded to rows, self excluded). Same broadcast-matrix +
    batch-GEMM shape; output (q_id, neighbor_id, dist)."""
    def _pairs(qids, iids, val):
        qi, ii = np.nonzero(val <= radius)
        return {q_id: qids[qi], "neighbor_id": iids[ii], "dist": val[qi, ii]}

    return _radius_map(queries, q_id, q_vec, index, i_id, i_vec, metric,
                       "neighbor_id bigint, dist double", _pairs)


def knn_freq_cnt(
    queries: DataFrame, q_id: str, q_vec: str,
    index: DataFrame, i_id: str, i_vec: str,
    k: int = 5, metric: str = "cosine",
) -> DataFrame:
    """How many times each index row appears as a k-NN of some query —
    ref expr_knn.py:203 (query_knn_ptwise → explode → value_counts).
    The count is a map-side-combinable groupBy on neighbor_id over the
    knn_join output. Output: (neighbor_id, freq_cnt); rows never chosen
    as a neighbor are absent (count 0), as in the reference."""
    nn = knn_join(queries, q_id, q_vec, index, i_id, i_vec, k, metric)
    return nn.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).alias("freq_cnt"))


def radius_freq_cnt(
    queries: DataFrame, q_id: str, q_vec: str,
    index: DataFrame, i_id: str, i_vec: str,
    radius: float, metric: str = "l2",
) -> DataFrame:
    """How many within-radius lists each index row appears in — ref
    expr_knn.py:566 (query_radius_ptwise → explode → value_counts).
    Output: (neighbor_id, freq_cnt)."""
    pairs = radius_join(queries, q_id, q_vec, index, i_id, i_vec,
                        radius, metric)
    return pairs.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).alias("freq_cnt"))


def radius_count_null_safe(
    queries: DataFrame, q_id: str, q_vec: str,
    index: DataFrame, i_id: str, i_vec: str,
    radius: float, metric: str = "l2",
) -> DataFrame:
    """Null-safe radius count — ref expr_knn.py:528
    (query_radius_ptwise_null_safe): rows whose vector is null or
    contains a null element are excluded from the neighbor pool AND
    surface with a null count instead of erroring; valid rows with zero
    neighbors keep radius_count's no-row contract."""
    has_null = (F.col(q_vec).isNull()
                | F.exists(q_vec, lambda x: x.isNull()))
    clean_q = queries.where(~has_null)
    clean_i = index.where(F.col(i_vec).isNotNull()
                          & ~F.exists(i_vec, lambda x: x.isNull()))
    counted = radius_count(clean_q, q_id, q_vec, clean_i, i_id, i_vec,
                           radius, metric)
    nulls = queries.where(has_null).select(
        F.col(q_id), F.lit(None).cast("bigint").alias("nb_cnt"))
    return counted.unionByName(nulls)


# --------------------------------------------------------- LSH scale path

def hyperplane_signature(vec: Column, n_planes: int = 16, seed: int = 7) -> Column:
    """Random-hyperplane (SRP) bit signature packed into a long.

    Plane p's normal components are derived per-dimension from
    xxhash64(seed, p, dim) — deterministic, no stored model, computed
    scan-side. sign(v·r_p) gives bit p. Charikar STOC'02.

    NOTE: a DIFFERENT seed scheme from `srp_signatures_batch` (the
    numpy kernel behind ann_lsh_join) — the two signature spaces are
    disjoint by design; never compare buckets across the two APIs.
    """
    dim = F.size(vec)
    sig = F.lit(0).cast("long")

    # factory closure (pyspark lambdas treat default args as lambda vars)
    def _component(p):
        return lambda x, d: x.cast("double") * (
            F.xxhash64(F.lit(seed), F.lit(p), d).cast("double") / 9.223372036854776e18
        )

    # unrolled over planes (n_planes is small and fixed) — each term is
    # one flat dot-product aggregate.
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), dim - 1), _component(p)),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        sig = sig.bitwiseOR(
            F.when(proj >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return sig


def srp_signatures_batch(X, n_tables: int, n_planes: int):
    """All-tables SRP signatures for a (rows × dim) float64 matrix —
    the numpy kernel behind ann_lsh_join's signature UDF, exposed at
    module level so the invariants (row-order independence, positive
    scale invariance, identical-vector determinism) are directly
    property-testable without a JVM. Plane normals derive from a
    seeded generator keyed only on (n_tables, n_planes), so signatures
    are deterministic across batch boundaries and data layouts.

    NOTE: this seed scheme deliberately DIVERGES from the Column-form
    `hyperplane_signature` (xxhash64(seed=7+…) per plane component,
    kept as the composable scan-side API): the two produce DISJOINT
    signature spaces. Never mix them — prebucketing with
    `hyperplane_signature` and comparing against `ann_lsh_join` buckets
    matches nothing. Within one mechanism signatures are stable.
    Returns an (rows × n_tables) int64 array of packed sign bits."""
    import numpy as np

    if n_planes > 64:
        raise ValueError(
            f"srp_signatures_batch: n_planes={n_planes} > 64 overflows "
            "the uint64 bit-pack; use <= 64 planes (or more tables)")
    rng = np.random.default_rng(0x5EED ^ (n_planes << 8) ^ n_tables)
    R = rng.standard_normal((n_tables * n_planes, X.shape[1]))
    bits = (X @ R.T) >= 0.0                     # (rows, tables*planes)
    weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))
    sig = (bits.reshape(len(X), n_tables, n_planes)
           .astype(np.uint64) * weights[None, None, :]).sum(
        axis=2, dtype=np.uint64)
    return sig.view(np.int64)


def _srp_buckets(df: DataFrame, id_col: str, vec_col: str,
                 n_tables: int, n_planes: int):
    """The SRP signature stage of `ann_lsh_join`, which
    `srp_bucket_stats` measures: ``(base, sigs)`` where ``base`` is
    (__id, __vec, __nrm) over nonzero-norm rows and ``sigs`` adds one
    (t, sig) bucket key per table, computed in one Arrow batch UDF."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _sigs(vs: pd.Series) -> pd.Series:
        X = _to_mat(vs)
        if X.ndim != 2 or not len(X):
            return pd.Series([[0] * n_tables] * len(vs))
        return pd.Series(list(srp_signatures_batch(X, n_tables, n_planes)))

    # zero-norm vectors have no defined cosine; drop them scan-side so
    # BOTH of ann_lsh_join's size routes see the same candidate set (the
    # JVM fold yields NULL for 0/0 — sorted last — while the numpy GEMM
    # yields NaN — which Spark orders greater than any value, i.e. ranked
    # FIRST; the same degenerate pair would otherwise rank differently
    # depending on which route its bucket took)
    base = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__nrm"),
    ).where(F.col("__nrm") > 0)
    return base, base.select(
        "__id", "__vec", "__nrm",
        F.posexplode(_sigs(F.col("__vec"))).alias("t", "sig"))


def srp_bucket_stats(
    df: DataFrame, id_col: str, vec_col: str,
    n_tables: int = 4, n_planes: int = 12,
    max_bucket: int = 1000,
) -> dict:
    """Measured bucket-volume evidence for the SRP-LSH plan — the
    "no silent caps" twin of dedup.lsh_candidate_stats: ann_lsh_join
    DROPS buckets larger than ``max_bucket`` before the pair stage
    (their members fall back to their other n_tables−1 signatures), and
    a dropped count that grows with the data says the cap started
    binding (recall quietly degrading) while pair_slots growing faster
    than rows says the bucket geometry stopped fitting the corpus.
    Builds its buckets with ann_lsh_join's own signature stage
    (`_srp_buckets`: zero-norm rows dropped scan-side, same seeded GEMM
    signatures), so the stats replay the operator by construction; returns
    {n_rows, n_buckets, max_bucket_size, dropped_buckets, pair_slots}
    via one tiny aggregation action."""
    base, sigs = _srp_buckets(df, id_col, vec_col, n_tables, n_planes)
    n_rows = base.count()
    sizes = (sigs.groupBy("t", "sig").agg(F.count(F.lit(1)).alias("n"))
             .where(F.col("n") >= 2))
    agg = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket_size"),
        F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0))
        .alias("dropped_buckets"),
        F.sum(F.when(F.col("n") <= max_bucket,
                     F.col("n") * (F.col("n") - 1) / 2).otherwise(0))
        .alias("pair_slots"),
    ).collect()[0]
    return {
        "n_rows": int(n_rows),
        "n_buckets": int(agg["n_buckets"] or 0),
        "max_bucket_size": int(agg["max_bucket_size"] or 0),
        "dropped_buckets": int(agg["dropped_buckets"] or 0),
        "pair_slots": int(agg["pair_slots"] or 0),
    }


def ann_lsh_join(
    df: DataFrame, id_col: str, vec_col: str,
    k: int = 5,
    n_tables: int = 4, n_planes: int = 12,
    min_cosine: float | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """Approximate self-KNN via multi-table SRP-LSH.

    Each row gets ``n_tables`` independent signatures; rows sharing any
    (table, signature) bucket are candidates — ONE shuffle on the bucket
    key, exact cosine re-rank per query. No cartesian product: buckets
    larger than ``max_bucket`` (degenerate signatures — zero vectors,
    constant embeddings, spam clusters) are dropped before the pair
    join, so the per-bucket pair term is bounded by max_bucket² instead
    of n². Same guard the minhash dedup path uses; members of an
    oversized bucket simply fall back to their other n_tables-1
    signatures.

    All ``n_tables`` signatures are computed in ONE vectorized Arrow
    batch UDF (an (batch × dim) @ (dim × tables·planes) GEMM + bit
    pack): the plane normals are drawn from a seeded generator at the
    first batch, so signatures are deterministic across partitionings
    and layouts, and the per-row cost is BLAS flops instead of
    tables × planes × dim interpreted JVM lambda folds (the unrolled
    `hyperplane_signature` Column form — kept as the composable
    scan-side API — measured ~2 s for 4×12×64d at 4 k rows; this path
    is milliseconds at that size).

    Within-bucket scoring is SIZE-ROUTED after ONE shuffle that
    collects each (table, signature) bucket's members: LSH buckets are
    tiny by design (that is the point of the data structure), and an
    `applyInPandas` per bucket pays ~2 ms of Arrow/pandas overhead per
    GROUP — 2.6 k buckets of ~3 members measured 5.5 s of pure
    per-group overhead for ~11 k pairs of actual work. Small buckets
    (≤ ``small_bucket``) therefore pair up entirely JVM-side: norms are
    precomputed scan-side, the i<j member pairs come from one nested
    array transform, and the per-pair cost is a single dot-product
    fold. Only oversized buckets (rare: spam clusters, degenerate
    embeddings) re-explode into the slab-chunked numpy-GEMM
    `applyInPandas` path, where the Python overhead amortizes over
    ≥ small_bucket² pairs. The cross-table dedup (a pair can share
    several tables) and the per-query top-k stay as one combinable
    groupBy + one partitioned window.
    Output: (id, neighbor_id, cosine, rank). Zero-norm vectors are
    EXCLUDED from both the query and neighbor sides (cosine is
    undefined for them, and the two size routes would rank the same
    degenerate pair differently — NULL sorts last, NaN first); such
    rows emit no output rows at all.
    """
    from .._utils import pairs

    small_bucket = 64
    _, sigs = _srp_buckets(df, id_col, vec_col, n_tables, n_planes)
    # ONE shuffle on the bucket key collects members AND applies the
    # 2..max_bucket size guard (no separate count + semi-join pass)
    buckets = (
        sigs.groupBy("t", "sig")
        .agg(F.collect_list(F.struct("__id", "__vec", "__nrm")).alias("mem"))
        .where((F.size("mem") >= 2) & (F.size("mem") <= max_bucket))
    )
    id_type = df.schema[id_col].dataType.simpleString()
    thr = float(min_cosine) if min_cosine is not None else None

    # small buckets: i<j pairs + dot-product cosine, pure JVM
    pair_structs = pairs("mem", lambda x, y: F.struct(
        x["__id"].alias("id_a"), y["__id"].alias("id_b"),
        (dot(x["__vec"], y["__vec"]) / (x["__nrm"] * y["__nrm"]))
        .alias("cosine")))
    half = (buckets.where(F.size("mem") <= small_bucket)
            .select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b", "p.cosine"))
    if thr is not None:
        half = half.where(F.col("cosine") >= thr)
    small_pairs = half.unionByName(half.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cosine"))

    # oversized buckets: re-explode and run the slab-chunked GEMM per
    # bucket — Python overhead amortizes over >= small_bucket² pairs
    schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    def _bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf["__id"].to_numpy()
        X = _to_mat(pdf["__vec"])
        out = []
        for sl, cos in _cosine_slabs(X, X):
            keep = ids[sl][:, None] != ids[None, :]
            if thr is not None:
                keep &= cos >= thr
            ra, cb = np.nonzero(keep)
            out.append(pd.DataFrame({
                "id_a": ids[sl][ra], "id_b": ids[cb],
                "cosine": cos[ra, cb]}))
        return pd.concat(out, ignore_index=True)

    big = (buckets.where(F.size("mem") > small_bucket)
           .select("t", "sig", F.explode("mem").alias("m"))
           .select("t", "sig", F.col("m.__id").alias("__id"),
                   F.col("m.__vec").alias("__vec")))
    big_pairs = big.groupBy("t", "sig").applyInPandas(_bucket_pairs, schema)

    # max, not first: the JVM fold (small buckets) and the numpy GEMM
    # (big buckets) can differ in the last ulp for the SAME pair seen
    # through two tables — a deterministic combiner keeps the re-rank
    # reproducible across partitionings
    cand = (small_pairs.unionByName(big_pairs)
            .groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine")))
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("id_a").alias(id_col), F.col("id_b").alias("neighbor_id"),
                "cosine", "rank")
    )


# ------------------------------------------------------------- IVF scale path

def _resolve_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int,
    centroids: "str | DataFrame", seed: int,
) -> "tuple[DataFrame, str, str]":
    """(frame, c_id, c_vec) for an IVF operator's ``centroids``
    argument: a prebuilt (centroid_id, centroid) DataFrame as given;
    "first" as the rows of ``df`` with id < n_centroids (SQL-replayable;
    needs a dense 0-based numeric id space); "sample"/"kmeans" trained
    by `ivf_centroids`."""
    if isinstance(centroids, DataFrame):
        return centroids, "centroid_id", "centroid"
    if centroids == "first":
        return df.where(F.col(id_col) < n_centroids), id_col, vec_col
    return (ivf_centroids(df, id_col, vec_col, n_centroids,
                          method=centroids, seed=seed),
            "centroid_id", "centroid")


def _assign(
    df: DataFrame, id_col: str, vec_col: str,
    centroids: DataFrame, c_id: str, c_vec: str,
    nprobe: int, carry_vec: bool, probe: bool,
) -> DataFrame:
    """The centroid-broadcast assignment behind `ivf_assign` (nprobe=1,
    no ``probe`` column) and `ivf_assign_probe`: collect the centroids,
    sort them by id, broadcast them, and give each row of every Arrow
    batch its ``nprobe`` nearest cells by the exact (x−c)² distance,
    ties toward the LOWEST centroid id. Output (id_col, centroid_id
    [, probe] [, vec_col])."""
    crows = centroids.select(c_id, c_vec).collect()
    if not crows:
        raise ValueError(
            f"{'ivf_assign_probe' if probe else 'ivf_assign'}: centroid "
            "frame is empty — with centroids='first' this means no row "
            "has id < n_centroids (the contract assumes dense 0-based "
            "ids); use centroids='kmeans'/'sample' or pass a prebuilt "
            "centroid frame for filtered/offset/string id spaces")
    # natural dtype (ints -> int64, strings -> str, decimals -> object):
    # the output schema derives cid_type from the centroid frame, so the
    # collected ids must NOT be coerced to int64 — a string/decimal
    # centroid id would raise here while the schema promised it back
    cids = np.array([r[0] for r in crows])
    # sort by centroid id so the first-occurrence tie-break lands on
    # the lowest cid — the ORDER BY (distance, cid) replay contract
    order = np.argsort(cids, kind="stable")
    bc = df.sparkSession.sparkContext.broadcast(
        (cids[order], _to_mat([r[1] for r in crows])[order]))
    npb = min(nprobe, len(cids))
    id_type = df.schema[id_col].dataType.simpleString()
    cid_type = centroids.schema[c_id].dataType.simpleString()
    schema = f"{id_col} {id_type}, centroid_id {cid_type}"
    if probe:
        schema += ", probe int"
    if carry_vec:
        schema += f", {vec_col} {df.schema[vec_col].dataType.simpleString()}"

    def _batches(it):
        ids_c, Cm = bc.value
        pos = np.arange(len(ids_c))
        # the row slab bounds the materialized (slab × n_centroids)
        # distance matrix; _dist2_np cache-blocks the (x−c)² arithmetic
        slab = max(1, (1 << 23) // max(1, len(ids_c) * 8))
        for pdf in it:
            if not len(pdf):
                continue
            X = _to_mat(pdf[vec_col])
            if npb == 1:
                sel, _ = _assign_np(X, Cm)
            else:
                sel = np.concatenate([
                    _topk_rows(_dist2_np(X[s0:s0 + slab], Cm), pos, npb)[1]
                    for s0 in range(0, len(X), slab)])
            out = {id_col: np.repeat(pdf[id_col].values, npb),
                   "centroid_id": ids_c[sel].ravel()}
            if probe:
                out["probe"] = np.tile(
                    np.arange(1, npb + 1, dtype=np.int32), len(X))
            if carry_vec:
                out[vec_col] = np.repeat(pdf[vec_col].values, npb)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(_batches, schema)


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str,
    centroids: DataFrame, c_id: str, c_vec: str,
    carry_vec: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (l2, deterministic
    tie-break toward the LOWEST centroid id).

    Centroids broadcast (centroid-count-sized by contract — √N rows at
    the prescribed scaling, a few MB even at 10⁹ vectors); the big side
    streams through one vectorized numpy argmin per Arrow batch — no
    shuffle at all. The distance is the direct (x−c)² float64 sum
    (cluster.py:_assign_np), the same expression an SQL replay computes
    — NOT the x²−2xc+c² GEMM expansion, whose different rounding would
    jitter argmin near-ties across engines. A JVM crossJoin+struct-min
    formulation of this same contract measured ~30× slower at 20k×140
    (per-pair higher-order folds + an N·C-row argmin shuffle, the r7
    scale-probe's super-linear term); this shape is flop-bound and
    shuffle-free. Output: (id_col, centroid_id).

    ``carry_vec=True`` additionally passes the vector column through
    the batch (same name/type) — for consumers that need (id, vec,
    centroid_id) rows it replaces a corpus-wide join-back-by-id (a full
    shuffle of the embedding lake at scale, and 2-3 stages of pure
    overhead at small scale — the r11 knn_auto_route probe was ~90%
    task scheduling on 10 MB of data) with zero extra plan nodes.
    """
    return _assign(df, id_col, vec_col, centroids, c_id, c_vec,
                   nprobe=1, carry_vec=carry_vec, probe=False)


def ivf_assign_probe(
    df: DataFrame, id_col: str, vec_col: str,
    centroids: DataFrame, c_id: str, c_vec: str,
    nprobe: int = 2,
    carry_vec: bool = False,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (l2,
    ties toward the LOWEST centroid id — the multi-probe generalization
    of ivf_assign, same broadcast + vectorized-batch shape, no
    shuffle). Output: (id_col, centroid_id, probe) with probe 1..nprobe.
    ``carry_vec=True`` passes the vector through (repeated per probe) —
    see ivf_assign; replaces the join-back-by-id in the search paths.
    """
    return _assign(df, id_col, vec_col, centroids, c_id, c_vec,
                   nprobe=nprobe, carry_vec=carry_vec, probe=True)


def ivf_centroids(
    df: DataFrame, id_col: str, vec_col: str,
    n_centroids: int = 16, method: str = "kmeans",
    seed: int = 42, kmeans_iters: int = 8,
) -> DataFrame:
    """Build IVF centroids. ``method``:

    * ``"first"`` — rows with id < n_centroids (deterministic; the
      oracle-reproducible path, NOT balanced on clustered data);
    * ``"sample"`` — a seeded uniform sample of n_centroids rows;
    * ``"kmeans"`` — Lloyd k-means on a seeded driver-side sample
      (~64 rows per centroid), k-means++-style farthest-point init.
      One sample collect, numpy iterations on ≤ 64·C vectors, then the
      centroids broadcast back — the standard IVF training shape
      (sample-train-broadcast), never a full-data k-means.

    Output: (centroid_id bigint, centroid array<double>).
    """
    spark = df.sparkSession
    if method == "first":
        return df.where(F.col(id_col) < n_centroids).select(
            F.col(id_col).cast("long").alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("centroid"))
    pool_n = max(n_centroids * 64, 1024)
    total = df.count()
    frac = min(1.0, pool_n / max(total, 1) * 1.5)
    pool = (df.select(vec_col).sample(fraction=frac, seed=seed)
            .limit(pool_n).collect())
    X = _to_mat([r[0] for r in pool])
    if X.shape[0] < n_centroids:
        raise ValueError(
            f"ivf_centroids: sample ({X.shape[0]}) smaller than "
            f"n_centroids ({n_centroids})")
    rng = np.random.RandomState(seed)
    if method == "sample":
        C = X[rng.choice(X.shape[0], n_centroids, replace=False)]
    elif method == "kmeans":
        # farthest-point init, then Lloyd on the sample. Assignment via
        # the slab-chunked _assign_np: the naive (pool × C × dim)
        # broadcast temporary is ~64·C²·d doubles — at the auto-route
        # scale (C = √N ≈ 2237 for a 5M-row index) that is ~300 GB on
        # the DRIVER, the same unbounded-slab class the r9 advice
        # flagged in ivf_assign_probe
        C = [X[rng.randint(X.shape[0])]]
        d2 = ((X - C[0]) ** 2).sum(1)
        for _ in range(n_centroids - 1):
            C.append(X[int(np.argmax(d2))])
            d2 = np.minimum(d2, ((X - C[-1]) ** 2).sum(1))
        C = np.array(C)
        for _ in range(kmeans_iters):
            lab, _ = _assign_np(X, C)
            for j in range(n_centroids):
                m = lab == j
                if m.any():
                    C[j] = X[m].mean(0)
    else:
        raise ValueError(f"unknown centroid method {method!r}")
    out = spark.createDataFrame(
        [(int(i), [float(v) for v in c]) for i, c in enumerate(C)],
        "centroid_id bigint, centroid array<double>")
    # training provenance for the _ivf stamp (r13 verdict trivia):
    # the EFFECTIVE pool size — sample(frac).limit(pool_n) can return
    # fewer than pool_n rows — rides the returned frame as a plain
    # Python attribute; build_vector_index persists it into the stamp,
    # every other caller ignores it
    out._pds_train_meta = f"{method}-pool{X.shape[0]}"
    return out


def _salted_cells(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int,
    centroids: "str | DataFrame", max_cell: "int | None", seed: int,
    carry_vec: bool = True,
) -> "tuple[DataFrame, DataFrame | None]":
    """The IVF cell stage of `ivf_knn_join`, `ivf_cosine_pairs` and
    `ivf_cell_stats`: resolve the centroids, assign each row to its
    nearest cell, and salt cells larger than ``max_cell`` into
    ceil(n/max_cell) sub-cells. Returns ``(tagged, pinned)``: tagged
    rows are (centroid_id, __id[, __vec], __salt); ``pinned`` is the
    pinned assignment output when salting applies, else None. The pin
    is LRU-evicted via _utils and released at harness boundaries by
    release_pins(); a caller that consumes its frames may unpin it."""
    from .._utils import pin

    cents, c_id, c_vec = _resolve_centroids(df, id_col, vec_col,
                                            n_centroids, centroids, seed)
    # carry_vec: (id, vec, cell) straight off the assignment batch —
    # no corpus-wide join-back-by-id (see ivf_assign)
    tagged = (ivf_assign(df, id_col, vec_col, cents, c_id, c_vec,
                         carry_vec=carry_vec)
              .select(F.col(id_col).alias("__id"),
                      *([F.col(vec_col).alias("__vec")] if carry_vec
                        else []),
                      "centroid_id"))
    if max_cell is None:
        return tagged.withColumn("__salt", F.lit(0)), None
    # the cell census and the per-cell stage both read the assignment
    # output, and Spark does not share the two subtrees: unpinned, each
    # call ran the Θ(N·C·d) assignment twice (measured: semantic_dedup
    # 7.7 s unsalted → 12.0 s when the salted default engaged the
    # census). The census is ≤ n_centroids rows and joins back by
    # broadcast — no shuffle of the big side beyond the caller's own
    # cell-key shuffle.
    pinned = pin(tagged)
    cell_n = F.broadcast(
        pinned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("__cn")))
    salted = pinned.join(cell_n, "centroid_id").withColumn(
        "__salt",
        F.when(F.col("__cn") <= max_cell, F.lit(0)).otherwise(F.pmod(
            F.xxhash64(F.col("__id")),
            F.ceil(F.col("__cn") / max_cell).cast("long"))),
    ).drop("__cn")
    return salted, pinned


def ivf_knn_join(
    df: DataFrame, id_col: str, vec_col: str,
    n_centroids: int = 16, k: int = 5,
    centroids: str | DataFrame = "first",
    max_cell: int | None = 100_000,
    seed: int = 42,
) -> DataFrame:
    """Approximate self-KNN via an IVF (inverted-file) index.

    ``centroids``: "first" (deterministic first-id seeds — the
    oracle-reproducible default), "sample"/"kmeans" (balanced production
    paths via ivf_centroids), or a prebuilt (centroid_id, centroid)
    DataFrame. Vectors are bucketed by nearest centroid (broadcast
    scan), then neighbors are searched ONLY within the bucket: one
    shuffle on centroid_id, per-bucket pairs, window top-k. At 100 TB:
    n_centroids ~ sqrt(N) keeps buckets executor-sized, and the
    all-pairs term n²/C is C× cheaper than brute force.

    ``max_cell`` (default 100k) bounds the quadratic term on skewed
    data: cells larger than max_cell are salted into ceil(n/max_cell)
    sub-cells, so the pair stage never exceeds max_cell²·subcells even
    when one centroid swallows the dataset (recall inside an oversized
    cell drops to ~1/subcells per probe — the documented cap-vs-recall
    trade). The finite default also bounds what applyInPandas
    MATERIALIZES: each (cell, salt) group's ids + vectors land in one
    in-memory pandas frame before scoring, so only the salting keeps a
    degenerate cell from OOMing an executor — the slab chunking below
    bounds the SCORE MATRIX, not the group itself. Pass max_cell=None
    only when the cell-size distribution is known to be bounded.
    With salting, the assignment output is pinned so the cell census
    and the search read one assignment pass (`_salted_cells`); the pin
    escapes the call, as in ivf_cosine_pairs — it is LRU-evicted via
    _utils and released at harness boundaries by release_pins().

    The within-cell search is ONE numpy GEMM + argpartition per
    (cell, salt) group (`applyInPandas`): the n²/C pair term runs as
    BLAS flops instead of JVM per-pair array folds, and only the top-k
    rows ever leave the group — the r7 self-join formulation emitted
    every candidate pair into a window sort and probed 6.3× at 10×
    data; this shape is the same one shuffle (on the cell key) with a
    ~100× smaller constant. The (query-chunk × cell) score matrix is
    slab-chunked to ~128 MB. Output: (id, neighbor_id, cosine, rank).
    """
    tagged, _ = _salted_cells(df, id_col, vec_col, n_centroids, centroids,
                              max_cell, seed)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (f"{id_col} {id_type}, neighbor_id {id_type}, "
              "cosine double, rank int")

    def _cell_topk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {id_col: [], "neighbor_id": [], "cosine": [], "rank": []})
        ids = pdf["__id"].to_numpy()
        X = _to_mat(pdf["__vec"])
        kk = min(k, m - 1)
        out = []
        for sl, cos in _cosine_slabs(X, X):
            score = -cos
            # exclude self by position (ids are unique within a cell)
            score[np.arange(sl.stop - sl.start), np.arange(sl.start, sl.stop)] = np.inf
            psc, nid = _topk_rows(score, ids, kk)
            out.append(_topk_frame(id_col, ids[sl], nid, "cosine", -psc))
        return pd.concat(out, ignore_index=True)

    return (tagged.groupBy("centroid_id", "__salt")
            .applyInPandas(_cell_topk, schema))


def ivf_search(
    queries: DataFrame, q_id: str, q_vec: str,
    index: DataFrame, i_id: str, i_vec: str,
    k: int = 5, n_centroids: int = 16, nprobe: int = 2,
    centroids: str | DataFrame = "first",
    seed: int = 42,
) -> DataFrame:
    """Two-frame IVF cosine search: each QUERY probes its ``nprobe``
    nearest cells of an inverted-file index over ``index`` — the scale
    path `knn_join(route="auto")` delegates to when the index side
    outgrows the broadcast cap.

    Plan (the standard distributed IVF shape): centroids broadcast;
    index rows bucket to their nearest cell and queries to their
    ``nprobe`` nearest cells — both pure scan-side vectorized batches,
    no shuffle; then ONE cogroup shuffle on centroid_id brings each
    cell's queries and index members together and a numpy GEMM +
    exact-tie-break top-k runs per cell; a final window takes the
    global top-k per query across its probed cells (an index row lives
    in exactly one cell, so no cross-probe duplicates exist). At 100 TB
    with n_centroids ~ sqrt(N), per-cell work is (q·nprobe/C) × (N/C)
    flops and nothing ever broadcasts the corpus. Recall is
    probe-bounded exactly as published for IVF (nprobe/C of the space
    searched); self-matches (same id) are excluded as in knn_join.
    ``centroids``: "first" (id < n_centroids — the SQL-replayable mode;
    REQUIRES a dense 0-based numeric id space, and fails fast in
    ivf_assign when that yields an empty frame — filtered/offset/string
    ids should use "kmeans"/"sample" or a prebuilt frame, which is what
    knn_join(route='auto') passes), "sample"/"kmeans", or a prebuilt
    (centroid_id, centroid) DataFrame.
    Output: (q_id, neighbor_id, cosine, rank).
    """
    cents, c_id, c_vec = _resolve_centroids(index, i_id, i_vec,
                                            n_centroids, centroids, seed)
    # carry_vec: the (id, vec, centroid_id) rows come straight out of
    # the scan-side assignment batch — no corpus-wide join-back-by-id
    # (a full embedding-lake shuffle at 100 TB; 2-3 stages of pure task
    # overhead at probe scale — the r11 knn_auto_route driver probe)
    itag = (ivf_assign(index, i_id, i_vec, cents, c_id, c_vec,
                       carry_vec=True)
            .select(F.col(i_id).alias("__iid"),
                    F.col(i_vec).alias("__ivec"), "centroid_id"))
    qtag = (ivf_assign_probe(queries, q_id, q_vec, cents, c_id, c_vec,
                             nprobe=nprobe, carry_vec=True)
            .select(F.col(q_id).alias("__qid"),
                    F.col(q_vec).alias("__qvec"), "centroid_id"))
    q_type = queries.schema[q_id].dataType.simpleString()
    i_type = index.schema[i_id].dataType.simpleString()
    return _ivf_cell_topk(qtag, itag, q_id, k, q_type, i_type)


def _ivf_cell_topk(qtag: DataFrame, itag: DataFrame, q_id: str, k: int,
                   q_type: str, i_type: str) -> DataFrame:
    """The shared IVF scoring tail (`ivf_search` /
    `search_vector_index`): ONE cogroup shuffle on centroid_id brings
    each cell's queries (__qid, __qvec) and index members (__iid,
    __ivec) together, a slab-chunked numpy GEMM + exact (score, id)
    tie-break takes the per-cell top-k, and a final per-query window
    merges the probed cells. Self-matches (same id) are excluded."""

    schema = (f"{q_id} {q_type}, neighbor_id {i_type}, "
              "cosine double, rank int")

    def _cell(key, qpdf: "pd.DataFrame", ipdf: "pd.DataFrame"):
        if not len(qpdf) or not len(ipdf):
            return pd.DataFrame(
                {q_id: [], "neighbor_id": [], "cosine": [], "rank": []})
        qids = qpdf["__qid"].to_numpy()
        iids = ipdf["__iid"].to_numpy()
        out = []
        for sl, cos in _cosine_slabs(_to_mat(qpdf["__qvec"]),
                                     _to_mat(ipdf["__ivec"])):
            score = -cos
            score[qids[sl][:, None] == iids[None, :]] = np.inf
            kk = min(k, score.shape[1])
            psc, nid = _topk_rows(score, iids, kk)
            out.append(_topk_frame(q_id, qids[sl], nid, "cosine", -psc,
                                   np.isfinite(psc)))
        return pd.concat(out, ignore_index=True)

    per_cell = (qtag.groupBy("centroid_id")
                .cogroup(itag.groupBy("centroid_id"))
                .applyInPandas(_cell, schema))
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(),
                                         F.col("neighbor_id").asc())
    return (per_cell.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= k)
            .select(q_id, "neighbor_id", "cosine",
                    F.col("__r").cast("int").alias("rank")))


# ----------------------------------------- persisted / updatable IVF index

def _ivf_stamp_of(crows, train: "str | None" = None) -> str:
    """Geometry + content fingerprint of a centroid set:
    "n_centroids/dim/sha1[:12] of the id-ordered, 9dp-rounded centroid
    matrix", plus an optional 4th training-provenance field (r13
    verdict trivia: e.g. "kmeans-pool1024" — the centroid-training
    method and EFFECTIVE sample-pool size, persisted with the artifact
    so drift forensics can ask "was this quantizer trained on a pool
    representative of today's corpus?" years after the build; "first"
    centroids and prebuilt frames carry no pool, so their stamp keeps
    the 3-field format byte-identical to older artifacts). Rides both
    artifact frames so a probe/update can verify the cells were
    assigned against EXACTLY these centroids — mixed artifact
    generations would otherwise return silently wrong neighbors
    (recall loss indistinguishable from hard queries)."""
    import hashlib

    cids = np.array([r[0] for r in crows])
    order = np.argsort(cids, kind="stable")
    C = np.round(_to_mat([r[1] for r in crows])[order], 9)
    fp = hashlib.sha1(C.tobytes()).hexdigest()[:12]
    base = f"{len(crows)}/{C.shape[1]}/{fp}"
    return f"{base}/{train}" if train else base


def _check_ivf_stamp(
    centroids: DataFrame, cells: DataFrame, require: bool = False,
) -> "tuple[DataFrame, DataFrame, str | None]":
    """Verify the ``_ivf`` stamps of a persisted vector index agree,
    then drop them; returns (centroids, cells, verified_stamp). Each
    frame's stamp must be unique (`_utils.read_stamp`). Probes tolerate
    stripped stamps (``require=False`` — a consistent unstamped
    artifact still searches correctly); updates REQUIRE both stamps
    (``require=True``): update ≡ rebuild is void when the cells weren't
    assigned against these exact centroids, so "can't verify" must
    raise there, not proceed."""
    from .._utils import read_stamp

    s_c = read_stamp(centroids, "_ivf", "vector index centroid")
    s_x = read_stamp(cells, "_ivf", "vector index cells")
    if require and (s_c is None or s_x is None):
        raise ValueError(
            "vector index frame(s) missing the '_ivf' stamp column — "
            "updating needs the centroid fingerprint verified (cells "
            "assigned against different centroids silently void "
            "update == rebuild); keep the stamp when persisting, or "
            "rebuild with build_vector_index")
    if s_c is not None and s_x is not None and s_c != s_x:
        raise ValueError(
            f"vector index stamp mismatch: centroids carry {s_c!r} but "
            f"cells carry {s_x!r} — these frames are from different "
            "builds; probing/updating across generations returns "
            "silently wrong neighbors")
    return (centroids.drop("_ivf") if "_ivf" in centroids.columns
            else centroids,
            cells.drop("_ivf") if "_ivf" in cells.columns else cells,
            s_c if s_c is not None else s_x)


def build_vector_index(
    df: DataFrame, id_col: str, vec_col: str,
    n_centroids: int = 16,
    centroids: str | DataFrame = "kmeans",
    seed: int = 42,
) -> "tuple[DataFrame, DataFrame]":
    """Build the PERSISTABLE IVF vector index once — the one
    assignment pass over the embedding lake that `ivf_search` (and the
    `knn_join(route='auto')` delegate) would otherwise redo per call:
    the documented Θ(N·√N) index-assignment term, amortized across
    query batches the same way `build_near_dup_index` amortizes the
    text side of the daily-crawl loop. Returns two frames to write as
    parquet:

      * ``centroids`` — (centroid_id, centroid: array<double>): the
        FROZEN coarse quantizer (√N-sized by the ivf_search scaling —
        a few MB at 10⁹ vectors);
      * ``cells`` — (centroid_id, vec_id, vec): the inverted file, one
        row per indexed vector in its nearest cell; partition/bucket by
        centroid_id when persisting so probes prune cells at the scan.

    Both frames carry an ``_ivf`` stamp
    (n_centroids/dim/centroid-fingerprint) verified at probe/update
    time — see `_check_ivf_stamp`. ``centroids``: "kmeans"/"sample"
    (production), "first" (id < n_centroids — the SQL-replayable
    mode), or a prebuilt (centroid_id, centroid) frame.

    Freezing the quantizer is the published IVF contract (FAISS
    retrains only on drift): `update_vector_index` assigns new batches
    against THESE centroids, so update ≡ rebuild holds frame-for-frame
    against `build_vector_index(old ∪ new, centroids=<same frame>)`.
    """
    cents, c_id, c_vec = _resolve_centroids(df, id_col, vec_col,
                                            n_centroids, centroids, seed)
    crows = cents.select(c_id, c_vec).collect()
    if not crows:
        raise ValueError(
            "build_vector_index: centroid frame is empty — see "
            "ivf_assign; 'first' centroids require dense 0-based ids")
    stamp = _ivf_stamp_of(crows,
                          train=getattr(cents, "_pds_train_meta", None))
    spark = df.sparkSession
    # centroid_id keeps the RESOLVED centroid frame's id type: 'first'
    # centroids carry the corpus id type, but kmeans/sample/prebuilt
    # frames carry their own (bigint 0..C-1) — forcing the corpus type
    # onto those crashes createDataFrame for string/decimal id spaces
    # (r11 review finding)
    cid_type = cents.schema[c_id].dataType.simpleString()
    # the inverted file is pinned with its stamp (r15): production
    # persists it to parquet, but composed in-session use (search /
    # update / stats on the live frame) re-ran the full assignment GEMM
    # once per consumer subtree. Same rationale as
    # build_near_dup_index's bucket pin.
    from .._utils import stamp as _stamp

    cents_out = _stamp(spark.createDataFrame(
        [(r[0], [float(x) for x in r[1]]) for r in crows],
        schema=f"centroid_id {cid_type}, centroid array<double>"),
        "_ivf", stamp, persist=False)
    cells = _stamp(_index_cells(df, id_col, vec_col, cents_out.drop("_ivf")),
                   "_ivf", stamp)
    return cents_out, cells


def _index_cells(df: DataFrame, id_col: str, vec_col: str,
                 centroids: DataFrame) -> DataFrame:
    """The inverted-file rows of a persisted vector index, (centroid_id,
    vec_id, vec: array<double>), for ``df`` assigned against a
    (centroid_id, centroid) frame — the one projection
    `build_vector_index` and `update_vector_index` both write, so an
    update's cells stack onto a build's."""
    return (ivf_assign(df, id_col, vec_col, centroids,
                       "centroid_id", "centroid", carry_vec=True)
            .select("centroid_id", F.col(id_col).alias("vec_id"),
                    F.transform(F.col(vec_col),
                                lambda x: x.cast("double")).alias("vec")))


def search_vector_index(
    queries: DataFrame, q_id: str, q_vec: str,
    centroids: DataFrame, cells: DataFrame,
    k: int = 5, nprobe: int = 2,
) -> DataFrame:
    """IVF cosine search against a PREBUILT index (the
    `build_vector_index` artifact read back from parquet): the indexed
    corpus is never re-assigned — queries bucket scan-side to their
    ``nprobe`` nearest frozen centroids (broadcast, no shuffle) and the
    shared cogroup GEMM tail (`_ivf_cell_topk`) scores each probed
    cell; with cells persisted partitioned by centroid_id, the scan
    prunes to probed cells. Same output contract as `ivf_search`:
    (q_id, neighbor_id, cosine, rank), self-matches excluded —
    `ivf_search(q, ..., index, ...)` with the same centroid frame is
    result-identical (pinned by pytest). Stamps verified when present;
    see `_check_ivf_stamp`."""
    centroids, cells, _ = _check_ivf_stamp(centroids, cells)
    qtag = (ivf_assign_probe(queries, q_id, q_vec, centroids,
                             "centroid_id", "centroid", nprobe=nprobe,
                             carry_vec=True)
            .select(F.col(q_id).alias("__qid"),
                    F.col(q_vec).alias("__qvec"), "centroid_id"))
    itag = cells.select(F.col("vec_id").alias("__iid"),
                        F.col("vec").alias("__ivec"), "centroid_id")
    q_type = queries.schema[q_id].dataType.simpleString()
    i_type = cells.schema["vec_id"].dataType.simpleString()
    return _ivf_cell_topk(qtag, itag, q_id, k, q_type, i_type)


def vector_index_stats(centroids: DataFrame, cells: DataFrame) -> DataFrame:
    """Index-health report over a persisted vector index — the
    when-to-retrain statistic of the IVF lifecycle (FAISS retrains the
    frozen quantizer on drift, and drift shows up here first): per
    occupied cell, occupancy + within-cell squared-distance mass +
    worst assignment. Skewed occupancy says the query cogroup will
    straggle; growing sse/max_d2 after updates says the frozen
    centroids no longer fit the data and the coarse quantizer should
    retrain (rebuild with centroids='kmeans').

    Plan: centroids broadcast into one join against the cells frame,
    d² as a pure JVM zip_with/aggregate fold per row, one combinable
    groupBy — a single pass over the inverted file, no UDF. Cells with
    zero members are absent from the output (occupancy 0 is visible as
    a missing centroid_id). Stamps verified when present.

    Output: (centroid_id, n_vecs, sse, max_d2)."""
    centroids, cells, _ = _check_ivf_stamp(centroids, cells)
    d2 = F.aggregate(
        F.zip_with(F.col("vec"), F.col("centroid"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, x: a + x)
    return (cells.join(F.broadcast(centroids), "centroid_id")
            .select("centroid_id", d2.alias("__d2"))
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum("__d2").alias("sse"),
                 F.max("__d2").alias("max_d2")))


def update_vector_index(
    new: DataFrame, id_col: str, vec_col: str,
    centroids: DataFrame, cells: DataFrame,
) -> "tuple[DataFrame, DataFrame]":
    """Fold a new embedding batch INTO the persisted vector index —
    the write half of the daily loop (search the batch with
    `search_vector_index`, keep what survives curation, then index it
    so tomorrow's batch searches against today's too). Returns the
    updated (centroids, cells), EXACTLY equivalent to a rebuild over
    the union against the same frozen quantizer::

        update_vector_index(new, ..., *build_vector_index(old, ...))
            == build_vector_index(old UNION ALL new,
                                  centroids=<the old build's frame>)

    (pinned frame-for-frame by a parity pytest) — WITHOUT re-assigning
    the old corpus: assignment is per-row against the frozen centroids,
    so the old cells are append-only and only the batch pays the
    assignment GEMM. New-batch ids are assumed distinct from indexed
    ids (a re-indexed id contributes a duplicate cell row, exactly as
    the rebuild-over-union would). Requires stamped frames — see
    `_check_ivf_stamp`; the batch's vector dim must match the index's
    (the assignment batch fails loudly on mismatch)."""
    c_chk, x_chk, stamp = _check_ivf_stamp(centroids, cells,
                                           require=True)
    new_cells = _index_cells(new, id_col, vec_col, c_chk)
    # pinned and re-stamped like build_vector_index's artifact (a
    # downstream probe's cell join would otherwise replay the batch
    # assignment and the old-cells read). Both generations carry the
    # verified stamp, so one literal over the union is value-identical.
    from .._utils import stamp as _stamp

    out_cells = _stamp(x_chk.unionByName(new_cells.select(*x_chk.columns)),
                       "_ivf", stamp)
    return centroids, out_cells


def ivf_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str,
    min_cosine: float,
    n_centroids: int = 16,
    centroids: str | DataFrame = "first",
    max_cell: int | None = 100_000,
    seed: int = 42,
) -> DataFrame:
    """All within-cell pairs with cosine >= ``min_cosine`` — the
    candidate-pair stage of SemDeDup-style semantic dedup (Abbas et al.
    2023: cluster embeddings, compare only inside clusters). Same IVF
    bucketing as ``ivf_knn_join`` (one shuffle on centroid_id, optional
    ``max_cell`` salting bounds the quadratic term on skew) but emits
    the full thresholded pair set (id_a < id_b) instead of top-k —
    recall is cluster-bounded exactly as published. With salting, the
    assignment output is pinned (`_salted_cells`) and the pin escapes
    the call: it is LRU-evicted via _utils and released at harness
    boundaries by release_pins().
    Output: (id_a, id_b, cosine).
    """
    tagged, _ = _salted_cells(df, id_col, vec_col, n_centroids, centroids,
                              max_cell, seed)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    thr = float(min_cosine)

    def _cell_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # one GEMM per (cell, salt) group, thresholded BEFORE any row
        # leaves the group — the n²/C term runs as BLAS flops and the
        # emitted set is only the qualifying pairs (same as the old
        # self-join + filter, minus the per-pair JVM array folds and the
        # full candidate-pair shuffle)
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf["__id"].to_numpy()
        X = _to_mat(pdf["__vec"])
        out = []
        for sl, cos in _cosine_slabs(X, X):
            ra, cb = np.nonzero(
                (cos >= thr) & (ids[sl][:, None] < ids[None, :]))
            out.append(pd.DataFrame({
                "id_a": ids[sl][ra], "id_b": ids[cb],
                "cosine": cos[ra, cb]}))
        return pd.concat(out, ignore_index=True)

    return (tagged.groupBy("centroid_id", "__salt")
            .applyInPandas(_cell_pairs, schema))


def ivf_cell_stats(
    df: DataFrame, id_col: str, vec_col: str,
    n_centroids: int = 16,
    centroids: str | DataFrame = "first",
    max_cell: int | None = 100_000,
    seed: int = 42,
) -> dict:
    """Measured cell-occupancy evidence for the IVF pair plan
    (``ivf_cosine_pairs`` / ``semantic_dedup``) — the vector analogue
    of ``dedup.lsh_candidate_stats``: the within-cell pair term is
    Σ g·(g−1)/2 over SALTED (cell, salt) groups, so a super-linear
    semantic-dedup wall with linear within_pairs is constants/weather,
    while a jump in within_pairs names a fused/hot cluster that the
    ``max_cell`` salting either bounded (max_group ≤ max_cell) or —
    when ``max_cell=None`` — didn't.

    Builds its groups with ivf_cosine_pairs' own assignment + salting
    step (`_salted_cells`, without the vectors), so the groups it counts
    are the groups the pair mine scores, then runs ONE group-size
    aggregation and releases the assignment pin. Returns {n_vectors,
    n_cells, n_groups, max_group, p99_group, within_pairs}.
    """
    from .._utils import unpin

    tagged, pinned = _salted_cells(df, id_col, vec_col, n_centroids,
                                   centroids, max_cell, seed,
                                   carry_vec=False)
    sizes = (tagged.groupBy("centroid_id", "__salt")
             .agg(F.count(F.lit(1)).alias("g")))
    try:
        row = sizes.agg(
            F.sum("g").alias("n_vectors"),
            F.countDistinct("centroid_id").alias("n_cells"),
            F.count(F.lit(1)).alias("n_groups"),
            F.max("g").alias("max_group"),
            F.expr("percentile(g, 0.99)").alias("p99_group"),
            F.sum(F.col("g") * (F.col("g") - 1) / 2).alias("within_pairs"),
        ).first()
    finally:
        # released on the error path too — a failed .first() would
        # otherwise leak the pin until LRU eviction or release_pins
        if pinned is not None:
            unpin(pinned)
    return {
        "n_vectors": int(row["n_vectors"]),
        "n_cells": int(row["n_cells"]),
        "n_groups": int(row["n_groups"]),
        "max_group": int(row["max_group"]),
        "p99_group": round(float(row["p99_group"]), 1),
        "within_pairs": int(row["within_pairs"]),
    }


def ann_recall(approx: DataFrame, exact: DataFrame,
               q_id: str = "vec_id",
               n_id: str = "neighbor_id") -> DataFrame:
    """Recall@k of an ANN result against the exact neighbor set: per
    query, the fraction of exact neighbors the approximate search
    recovered; averaged over queries. The standard ANN quality
    diagnostic — run it on a held-out query sample to tune
    nprobe/n_tables/centroid count before a full-corpus pass.

    Inputs are any two (q_id, n_id, ...) neighbor frames (knn_join,
    ann_lsh_join, ivf_knn_join, pq/ivfpq search). Plan: one left-semi
    hash join on (q_id, n_id) + two map-side-combinable aggs — never
    moves vectors, only id pairs. Output: one row
    (n_queries, mean_recall, min_recall).
    """
    e = exact.select(F.col(q_id).alias("__q"), F.col(n_id).alias("__n"))
    a = approx.select(F.col(q_id).alias("__q"), F.col(n_id).alias("__n"))
    hits = (e.join(a, ["__q", "__n"], "left_semi")
            .groupBy("__q").agg(F.count(F.lit(1)).alias("__hit")))
    per = (e.groupBy("__q").agg(F.count(F.lit(1)).alias("__tot"))
           .join(hits, "__q", "left")
           .select((F.coalesce(F.col("__hit"), F.lit(0))
                    / F.col("__tot")).alias("__r")))
    return per.agg(F.count(F.lit(1)).alias("n_queries"),
                   F.avg("__r").alias("mean_recall"),
                   F.min("__r").alias("min_recall"))


def dist_from_kth_nb(
    df: DataFrame, id_col: str, vec_col: str,
    k: int = 5, metric: str = "l2",
) -> DataFrame:
    """Distance to each point's k-th nearest neighbor — the core of
    LOF-style outlier scores. Ref expr_knn.py (query_dist_from_kth_nb).
    Output: (id, kth_dist)."""
    nn = knn_join(df, id_col, vec_col, df, id_col, vec_col, k=k, metric=metric)
    val = "cosine" if metric == "cosine" else "dist"
    return nn.where(F.col("rank") == k).select(
        F.col(id_col), F.col(val).alias("kth_dist"))


def within_dist_from(
    df: DataFrame, id_col: str, vec_col: str,
    target: list, radius: float, metric: str = "l2",
) -> DataFrame:
    """Rows within ``radius`` of a fixed target vector — a pure scan-side
    filter (no join at all). Ref expr_knn.py (within_dist_from)."""
    t = F.array(*[F.lit(float(v)) for v in target])
    d = {"l2": l2, "l2_sq": l2_sq, "cosine": lambda a, b: 1.0 - cosine(a, b)}[metric]
    return df.where(d(F.col(vec_col), t) <= radius)


def is_knn_from(
    df: DataFrame, id_col: str, vec_col: str,
    target: list, k: int, metric: str = "l2",
) -> DataFrame:
    """The k rows nearest to a fixed target vector (scan + global top-k
    via sort-limit — Spark's TakeOrdered, no full sort materialized).
    Ref expr_knn.py (is_knn_from)."""
    t = F.array(*[F.lit(float(v)) for v in target])
    dfn = {"l2": l2, "l2_sq": l2_sq, "cosine": lambda a, b: 1.0 - cosine(a, b)}[metric]
    return (df.withColumn("__d", dfn(F.col(vec_col), t))
            .orderBy(F.col("__d").asc(), F.col(id_col).asc()).limit(k))
