"""CDC compaction, SCD2 history, PageRank, heavy hitters, group split —
edge cases the catalog oracles do not reach (tombstones, dangling
nodes, global top-k, the leakage invariant)."""

import math

import pytest
from pyspark.sql import functions as F

from polars_ds_extension_spark.functions import sample as SMP
from polars_ds_extension_spark.operators import cdc as CDC
from polars_ds_extension_spark.operators import graph as G
from polars_ds_extension_spark.operators import retrieval as R


# ------------------------------------------------------------------ CDC

def test_latest_by_key_tombstone(spark):
    df = spark.createDataFrame(
        [("k1", 1, 10.0, False), ("k1", 2, 20.0, False),
         ("k2", 1, 5.0, False), ("k2", 3, 0.0, True),   # delete wins
         ("k3", 9, 7.0, True), ("k3", 10, 8.0, False)],  # later upsert revives
        "key string, seq int, v double, del boolean")
    out = CDC.latest_by_key(df, ["key"], ["seq"], delete_col="del")
    rows = {r["key"]: (r["seq"], r["v"]) for r in out.collect()}
    # k2's winning row is a tombstone -> key gone; older row must NOT
    # resurrect. k3's tombstone was superseded -> row lives.
    assert rows == {"k1": (2, 20.0), "k3": (10, 8.0)}


def test_latest_by_key_deterministic_under_layout(spark):
    df = spark.createDataFrame(
        [("k", 5, i, float(i)) for i in range(20)],  # all ts tie at 5
        "key string, ts int, uid int, v double")
    a = CDC.latest_by_key(df, ["key"], ["ts", "uid"]).collect()
    b = CDC.latest_by_key(df.repartition(7), ["key"], ["ts", "uid"]).collect()
    assert a == b and a[0]["uid"] == 19


def test_scd2_collapse_and_validity(spark):
    df = spark.createDataFrame(
        [("u", 1, "a"), ("u", 2, "a"), ("u", 3, "b"),
         ("u", 4, "b"), ("u", 5, "a")],
        "key string, t int, state string")
    out = CDC.scd2(df, ["key"], "t", attr_cols=["state"],
                   collapse_unchanged=True).orderBy("t").collect()
    assert [(r["state"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in out] == [
        ("a", 1, 3, False), ("b", 3, 5, False), ("a", 5, None, True)]


def test_scd2_null_safe_collapse(spark):
    df = spark.createDataFrame(
        [("u", 1, None), ("u", 2, None), ("u", 3, "x")],
        "key string, t int, state string")
    out = CDC.scd2(df, ["key"], "t", attr_cols=["state"],
                   collapse_unchanged=True).orderBy("t").collect()
    # NULL == NULL counts as unchanged (eqNullSafe), so the two NULL
    # snapshots collapse into one interval.
    assert len(out) == 2 and out[0]["valid_to"] == 3


# ------------------------------------------------------------------ graph

def _pagerank_numpy(edges, n_iter, d=0.85):
    import numpy as np

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = {v: 0 for v in nodes}
    for u, _ in edges:
        out[u] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dang = sum(r[idx[v]] for v in nodes if out[v] == 0)
        nxt = np.full(n, (1 - d) / n + d * dang / n)
        for u, v in edges:
            nxt[idx[v]] += d * r[idx[u]] / out[u]
        r = nxt
    return {v: r[idx[v]] for v in nodes}


def test_snapshot_diff_classes(spark):
    old = spark.createDataFrame(
        [(1, "same text"), (2, "gone"), (3, "body changes here"),
         (4, "Caf\u00e9  au  lait"),  # composed e-acute, double spaces
         (5, "exact")],
        "id long, txt string")
    new = spark.createDataFrame(
        [(1, "same text"), (3, "body changed now"),
         (4, "cafe\u0301 au lait"),  # decomposed form, lower, 1-space
         (5, "exact"), (6, "brand new")],
        "id long, txt string")
    got = {r["id"]: r["status"]
           for r in CDC.snapshot_diff(old, new, "id", "txt").collect()}
    assert got == {1: "unchanged", 2: "removed", 3: "modified",
                   4: "reformatted", 5: "unchanged", 6: "added"}
    # without the NFC pass, reformatted collapses into modified
    got2 = {r["id"]: r["status"] for r in CDC.snapshot_diff(
        old, new, "id", "txt", classify_reformat=False).collect()}
    assert got2[4] == "modified" and got2[1] == "unchanged"


def test_pagerank_matches_power_iteration_with_dangling(spark):
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
             ("d", "c")]  # e is reachable-only? add dangling sink:
    edges.append(("c", "e"))  # e has no out-edges -> dangling
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in G.pagerank(df, "src", "dst", n_iter=7).collect()}
    want = _pagerank_numpy(edges, n_iter=7)
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-9), k
    # mass conserved (the dangling term re-injects it)
    assert math.isclose(sum(got.values()), 1.0, rel_tol=1e-9)


def test_pagerank_dedupes_multi_edges(spark):
    df = spark.createDataFrame(
        [("a", "b")] * 5 + [("b", "a")], "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in G.pagerank(df, "src", "dst", n_iter=4).collect()}
    want = _pagerank_numpy([("a", "b"), ("b", "a")], n_iter=4)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-9)


def test_degree_stats(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string")
    got = {r["node"]: (r["out_deg"], r["in_deg"])
           for r in G.degree_stats(df, "src", "dst").collect()}
    assert got == {"a": (2, 0), "b": (1, 1), "c": (0, 2)}


# --------------------------------------------------------- heavy hitters

def test_top_terms_global_and_ties(spark):
    df = spark.createDataFrame(
        [(1, "x y x z"), (2, "x q z")], "id int, text string")
    out = R.top_terms(df, "text", n=1, k=3).collect()
    assert [(r["term"], r["cnt"], r["rank"]) for r in out] == [
        ("x", 3, 1), ("z", 2, 2), ("q", 1, 3)]  # q < y on the tie


def test_word_ngram_terms_short_docs(spark):
    """Docs with fewer than n tokens must yield an EMPTY n-gram array —
    the naive sequence(1, size-(n-1)) emits a descending [1, 0] when the
    doc is short (Spark defaults step to -1) and slice(w, 0, n) then
    aborts the whole job with INVALID_PARAMETER_VALUE.START."""
    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "a b c")], "id int, text string")
    out = {r["id"]: r["g"] for r in df.select(
        "id", R.word_ngram_terms("text", 2).alias("g")).collect()}
    assert out[1] == [] and out[2] == []
    assert out[3] == ["a b", "b c"]
    # and the composed operator survives a corpus containing short docs
    top = R.top_terms(df, "text", n=3, k=5).collect()
    assert [(r["term"], r["cnt"]) for r in top] == [("a b c", 1)]


def test_top_terms_trigrams_per_group(spark):
    df = spark.createDataFrame(
        [("g1", "a b c d"), ("g1", "a b c"), ("g2", "p q r")],
        "src string, text string")
    out = R.top_terms(df, "text", n=3, k=1, by="src").collect()
    got = {r["src"]: (r["term"], r["cnt"]) for r in out}
    assert got == {"g1": ("a b c", 2), "g2": ("p q r", 1)}


# ------------------------------------------------------------ group split

def test_split_by_group_no_leakage_and_coverage(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = SMP.split_by_group(docs, "source", [0.8, 0.1, 0.1],
                             ["train", "val", "test"])
    per_group = out.groupBy("source").agg(
        F.countDistinct("split").alias("k")).collect()
    assert all(r["k"] == 1 for r in per_group)          # leakage-safe
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits


def test_split_by_group_bad_ratios(spark):
    df = spark.createDataFrame([("a",)], "g string")
    with pytest.raises(ValueError):
        SMP.split_by_group(df, "g", [0.5, 0.4], ["a", "b"])


# ------------------------------------------------------------------ kmeans

def _lloyd_numpy(X, k, n_iter):
    import numpy as np

    C = X[:k].copy()
    for _ in range(n_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2)
        a = d2.argmin(1)
        for c in range(k):
            if (a == c).any():
                C[c] = X[a == c].mean(0)
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2)
    return d2.argmin(1), C


def test_kmeans_matches_numpy_lloyd(spark):
    import numpy as np

    from polars_ds_extension_spark.operators import cluster as CL

    rng = np.random.default_rng(11)
    X = rng.normal(size=(120, 6))
    X[:60] += 4.0  # two real blobs so clustering is non-trivial
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))], "id long, v array<double>")
    C = CL.kmeans_fit(df.repartition(5), "id", "v", k=4, n_iter=3)
    got = {r["id"]: r["cluster"]
           for r in CL.kmeans_assign(df, "id", "v", C).collect()}
    want_a, want_C = _lloyd_numpy(X, 4, 3)
    assert np.allclose(np.array(C), want_C, atol=1e-9)
    assert [got[i] for i in range(len(X))] == want_a.tolist()


def test_kmeans_empty_cluster_keeps_centroid(spark):
    import numpy as np

    from polars_ds_extension_spark.operators import cluster as CL

    # id 0 is an outlier seed that captures nothing after one step:
    # all points sit at 10, seeds are [0 (outlier), 10] -> cluster 0
    # ends empty on iteration 2 and must keep its previous centroid.
    pts = [(0, [0.0]), (1, [10.0]), (2, [10.2]), (3, [9.8])]
    df = spark.createDataFrame(pts, "id long, v array<double>")
    C = CL.kmeans_fit(df, "id", "v", k=2, n_iter=3)
    want_a, want_C = _lloyd_numpy(
        np.array([p[1] for p in pts]), 2, 3)
    assert np.allclose(np.array(C), want_C)


def test_kmeans_inertia(spark):
    import numpy as np

    from polars_ds_extension_spark.operators import cluster as CL

    rng = np.random.default_rng(3)
    X = rng.normal(size=(50, 3))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(50)], "id long, v array<double>")
    C = CL.kmeans_fit(df, "id", "v", k=3, n_iter=2)
    stats = CL.kmeans_inertia(
        CL.kmeans_assign(df, "id", "v", C)).collect()
    a, Cn = _lloyd_numpy(X, 3, 2)
    for r in stats:
        m = a == r["cluster"]
        assert r["n"] == int(m.sum())
        want = float(((X[m] - Cn[r["cluster"]]) ** 2).sum())
        assert abs(r["inertia"] - want) < 1e-8


# ------------------------------------------------------------ unicode

def test_normalize_unicode_forms(spark):
    from polars_ds_extension_spark.operators import text as T

    df = spark.createDataFrame(
        [("café",), ("ﬁne",), (None,)], "t string")
    out = df.select(
        T.normalize_unicode("t", "NFC").alias("nfc"),
        T.normalize_unicode("t", "NFKC").alias("nfkc")).collect()
    assert out[0]["nfc"] == "café" and out[0]["nfkc"] == "café"
    assert out[1]["nfc"] == "ﬁne" and out[1]["nfkc"] == "fine"
    assert out[2]["nfc"] is None


def test_fix_double_encoded(spark):
    from polars_ds_extension_spark.operators import text as T

    df = spark.createDataFrame(
        [("maÃ±ana",),   # latin-1 read of utf-8 'mañana'
         ("plain ascii",),         # fixpoint
         ("already ñ",),      # latin-1-encodable but NOT valid utf-8
         ("emoji \U0001f600",)],   # > U+00FF -> untouched
        "t string")
    got = [r["f"] for r in
           df.select(T.fix_double_encoded("t").alias("f")).collect()]
    assert got == ["mañana", "plain ascii",
                   "already ñ", "emoji \U0001f600"]


def test_encoding_artifact_counts(spark):
    from polars_ds_extension_spark.operators import text as T

    df = spark.createDataFrame(
        [("ok text",), ("bad Ã© and �� and \x07",)],
        "t string")
    out = df.select(T.encoding_artifact_counts("t").alias("a")).collect()
    assert (out[0]["a"]["mojibake_lead"], out[0]["a"]["replacement"],
            out[0]["a"]["ctrl"]) == (0, 0, 0)
    assert (out[1]["a"]["mojibake_lead"], out[1]["a"]["replacement"],
            out[1]["a"]["ctrl"]) == (1, 2, 1)


# --------------------------------------------- latest-state / group sample

def test_stream_latest_state_atomic_payload_batch(spark):
    # The op is pure groupBy/max_by, so its semantics are testable on a
    # batch frame: the NEWEST row wins atomically — including its NULL
    # payload fields (no falling back to older rows per-column).
    from polars_ds_extension_spark.streaming import ops as SO

    df = spark.createDataFrame(
        [("k", 1, 1, 10.0, "a"), ("k", 2, 2, None, "b"),
         ("j", 5, 7, 3.0, None)],
        "key string, ts int, seq int, v double, s string")
    out = {r["key"]: (r["v"], r["s"]) for r in SO.stream_latest_state(
        df, ["key"], ["ts", "seq"], ["v", "s"]).collect()}
    assert out == {"k": (None, "b"), "j": (3.0, None)}


def test_sample_exact_n_per_group(spark):
    from polars_ds_extension_spark.functions import sample as SMP

    rows = [(i, "g%d" % (i % 3)) for i in range(60)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "id long, g string")
    out = SMP.sample_exact_n_per_group(df, "id", "g", 5)
    cnt = {r["g"]: r["n"] for r in
           out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert cnt == {"g0": 5, "g1": 5, "g2": 5, "tiny": 1}
    a = sorted(r["id"] for r in out.collect())
    b = sorted(r["id"] for r in SMP.sample_exact_n_per_group(
        df.repartition(9), "id", "g", 5).collect())
    assert a == b


# -------------------------------------------------- gopher rules / scripts

def test_gopher_rules_edges(spark):
    from polars_ds_extension_spark.operators import text as T

    good = " ".join(["the quick brown fox jumps over the lazy dog it"] * 6)
    bully = "\n".join(["- item one two three"] * 10)
    df = spark.createDataFrame(
        [(good,), (bully,), ("",), ("#### #### ####",)], "text string")
    out = [r["g"] for r in
           df.select(T.gopher_rules("text").alias("g")).collect()]
    assert out[0]["pass"] is True
    assert out[1]["bullet_start"] is False and out[1]["pass"] is False
    assert out[2]["pass"] is False           # empty fails word_count
    assert out[3]["symbol_to_word"] is False


def test_script_profile_dominant_and_ties(spark):
    from polars_ds_extension_spark.operators import text as T

    df = spark.createDataFrame(
        [("hello мир",),   # latin 5 vs cyrillic 3 -> latin
         ("你好",), ("",), ("77",)], "t string")
    out = [r["s"] for r in
           df.select(T.script_profile("t").alias("s")).collect()]
    assert out[0]["dominant"] == "latin" and out[0]["cyrillic"] == 3
    assert out[1]["dominant"] == "cjk"
    assert out[2]["dominant"] == "und"
    assert out[3]["dominant"] == "und" and out[3]["digit"] == 2


# ------------------------------------------------------- triangles / kfold

def test_triangle_count_known_graph(spark):
    # K4 on {a,b,c,d} (4 triangles, each node in 3) + pendant e + an
    # isolated edge f-g; input has multi-edges, self loops, both
    # directions — all must collapse.
    edges = [("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"), ("b", "c"),
             ("b", "d"), ("c", "d"), ("c", "d"), ("d", "d"), ("d", "e"),
             ("f", "g")]
    df = spark.createDataFrame(edges, "s string, t string")
    got = {r["node"]: r["triangles"]
           for r in G.triangle_count(df, "s", "t").collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangle_count_total(spark):
    import itertools
    import random

    rng = random.Random(5)
    nodes = list(range(18))
    edges = [(str(u), str(v)) for u, v in itertools.combinations(nodes, 2)
             if rng.random() < 0.4]
    df = spark.createDataFrame(edges, "s string, t string")
    got = sum(r["triangles"] for r in
              G.triangle_count(df, "s", "t").collect())
    es = {frozenset(e) for e in edges}
    want = 3 * sum(1 for x, y, z in itertools.combinations(nodes, 3)
                   if {frozenset((str(x), str(y))),
                       frozenset((str(y), str(z))),
                       frozenset((str(x), str(z)))} <= es)
    assert got == want


def test_kfold_split_properties(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    out = SMP.kfold_split(df, "id", 5)
    folds = {r["fold"]: r["n"] for r in
             out.groupBy("fold").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(folds) == {0, 1, 2, 3, 4}
    assert all(100 < v < 300 for v in folds.values())  # roughly uniform
    with pytest.raises(ValueError):
        SMP.kfold_col("id", 1)


# ------------------------------------------------------------------ ivfpq

def test_ivfpq_recall_vs_bruteforce(spark):
    import numpy as np

    from polars_ds_extension_spark.operators import embedding as EMB
    from polars_ds_extension_spark.operators import knn as K

    rng = np.random.default_rng(7)
    # clustered blobs (recall is meaningful there, matching the PQ
    # test): 10 centers, tight noise, queries jittered off index points
    centers = rng.normal(0, 5, (10, 32))
    X = np.vstack([c + rng.normal(0, 0.4, (40, 32)) for c in centers])
    n, nq = len(X), 12
    Qv = X[:nq]  # index points as queries — the house PQ-recall setup
    idx = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "vec_id long, v array<double>")
    qs = spark.createDataFrame(
        [(1000 + i, Qv[i].tolist()) for i in range(nq)],
        "q_id long, v array<double>")
    books = EMB.pq_train(idx.orderBy("vec_id"), "v", m=8, k=16,
                         sample_rows=400, method="kmeans", seed=3)
    cents = K.ivf_centroids(idx, "vec_id", "v", n_centroids=8,
                            method="kmeans", seed=1)
    got = EMB.ivfpq_knn_join(qs, "q_id", "v", idx, "vec_id", "v",
                             books, cents, nprobe=4, k=10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    # recall@10 vs exact brute force (the house PQ-recall bar: ADC
    # ranking inside a tight blob is quantization-noisy, so the
    # meaningful signal is set overlap at k=10, not fine top-5 order)
    hits = total = 0
    for i in range(nq):
        d = ((X - Qv[i]) ** 2).sum(1)
        exact = set(np.argsort(d, kind="stable")[:10].tolist())
        total += 10
        hits += len(exact & by_q.get(1000 + i, set()))
    assert hits / total >= 0.6, f"recall {hits/total:.2f}"
    # ranks are 1..k and deterministic under relayout
    got2 = EMB.ivfpq_knn_join(qs.repartition(5), "q_id", "v",
                              idx.repartition(7), "vec_id", "v",
                              books, cents, nprobe=4, k=10)
    a = sorted((r["q_id"], r["rank"], r["neighbor_id"])
               for r in got.collect())
    b = sorted((r["q_id"], r["rank"], r["neighbor_id"])
               for r in got2.collect())
    assert a == b



def test_ivfpq_probing_every_cell_equals_pq_knn_join(spark):
    """With nprobe >= the centroid count every query probes every cell,
    so IVF-PQ must return the broadcast PQ search over the same codes:
    the same (q_id, neighbor_id, rank), adc_dist to 1e-12, on data with
    no ADC tie inside the top k. A centroid frame with its own column
    names (c_id / c_vec) routes the same way."""
    import numpy as np

    from polars_ds_extension_spark.operators import embedding as EMB
    from polars_ds_extension_spark.operators import knn as K

    rng = np.random.default_rng(11)
    centers = rng.normal(0, 5, (6, 16))
    X = np.vstack([c + rng.normal(0, 1.0, (30, 16)) for c in centers])
    Q = X[:10] + rng.normal(0, 0.3, (10, 16))
    idx = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, v array<double>")
    qs = spark.createDataFrame(
        [(1000 + i, Q[i].tolist()) for i in range(len(Q))],
        "q_id long, v array<double>")
    books = EMB.pq_train(idx.orderBy("vec_id"), "v", m=4, k=16,
                         sample_rows=180, method="kmeans", seed=3)
    cents = K.ivf_centroids(idx, "vec_id", "v", n_centroids=5,
                            method="kmeans", seed=1)
    ref = EMB.pq_knn_join(qs, "q_id", "v",
                          EMB.pq_encode(idx, "vec_id", "v", books),
                          "vec_id", "codes", books, k=6).collect()
    by_q = {}
    for r in ref:
        by_q.setdefault(r["q_id"], {})[r["rank"]] = r["adc_dist"]
    # tie-free: the six best distances of every query strictly increase
    assert all(np.all(np.diff([d[i] for i in range(1, 7)]) > 0)
               for d in by_q.values())
    want = sorted((r["q_id"], r["neighbor_id"], r["rank"], r["adc_dist"])
                  for r in ref if r["rank"] <= 5)
    renamed = cents.select(F.col("centroid_id").alias("cid"),
                           F.col("centroid").alias("cvec"))
    for cf, c_id, c_vec, nprobe in [(cents, "centroid_id", "centroid", 5),
                                    (renamed, "cid", "cvec", 8)]:
        got = sorted(
            (r["q_id"], r["neighbor_id"], r["rank"], r["adc_dist"])
            for r in EMB.ivfpq_knn_join(
                qs, "q_id", "v", idx, "vec_id", "v", books, cf,
                nprobe=nprobe, k=5, c_id=c_id, c_vec=c_vec).collect())
        assert [g[:3] for g in got] == [w[:3] for w in want]
        assert all(abs(g[3] - w[3]) <= 1e-12 for g, w in zip(got, want))


# ---------------------------------------------------------------- gapfill

def test_fill_time_gaps_ffill_and_null(spark):
    from polars_ds_extension_spark.operators import temporal as TJ

    df = spark.createDataFrame(
        [("u", 0, 1.0), ("u", 10, None), ("u", 25, 3.0),
         ("w", 100, 9.0)],
        "k string, t long, v double")
    out = TJ.fill_time_gaps(df, "t", 5, ["k"], ["v"], how="ffill") \
        .orderBy("k", "t").collect()
    got = [(r["k"], r["t"], r["v"], r["is_gap"]) for r in out]
    # u grid: 0..25 step 5 -> ticks 0,5,10,15,20,25; 10 observed (NULL
    # value rides atomically — ffill must NOT resurrect 1.0 for t=10);
    # 25 off-grid? 25 = 0+5k yes on grid but observed wins.
    assert got == [
        ("u", 0, 1.0, False), ("u", 5, 1.0, True), ("u", 10, None, False),
        ("u", 15, None, True), ("u", 20, None, True), ("u", 25, 3.0, False),
        ("w", 100, 9.0, False)]
    out2 = TJ.fill_time_gaps(df, "t", 5, ["k"], ["v"], how="null")
    assert out2.where(F.col("is_gap") & F.col("v").isNotNull()).count() == 0


def test_fill_time_gaps_preserves_offgrid_rows(spark):
    from polars_ds_extension_spark.operators import temporal as TJ

    df = spark.createDataFrame([("u", 0, 1.0), ("u", 7, 2.0)],
                               "k string, t long, v double")
    out = TJ.fill_time_gaps(df, "t", 5, ["k"], ["v"], how="ffill")
    ts = sorted(r["t"] for r in out.collect())
    assert ts == [0, 5, 7]  # off-grid observation kept, grid tick added


def test_sessionize_islands(spark):
    from polars_ds_extension_spark.operators import temporal as TJ

    df = spark.createDataFrame(
        [("u", 0), ("u", 5), ("u", 30), ("u", 32), ("u", 100),
         ("w", 1)],
        "k string, t long")
    out = TJ.sessionize(df, "t", ["k"], gap=10).orderBy("k", "t").collect()
    assert [(r["k"], r["t"], r["session_id"]) for r in out] == [
        ("u", 0, 0), ("u", 5, 0), ("u", 30, 1), ("u", 32, 1),
        ("u", 100, 2), ("w", 1, 0)]
    # layout invariance
    out2 = TJ.sessionize(df.repartition(4), "t", ["k"], gap=10) \
        .orderBy("k", "t").collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]


def test_pmi_bigrams_known_values(spark):
    import math

    # corpus: "a b" x4, "a c" x1, "c b" x1 -> T=6
    rows = [("a b",)] * 4 + [("a c",), ("c b",)]
    df = spark.createDataFrame(rows, "text string")
    out = R.pmi_bigrams(df, "text", k=5, min_count=1).collect()
    got = {(r["w1"], r["w2"]): (r["c12"], r["pmi"], r["rank"])
           for r in out}
    # left marginals: a=5, c=1; right marginals: b=5, c=1
    want = {
        ("a", "b"): round(math.log(4 * 6 / (5 * 5)), 6),
        ("a", "c"): round(math.log(1 * 6 / (5 * 1)), 6),
        ("c", "b"): round(math.log(1 * 6 / (1 * 5)), 6),
    }
    assert {k: v[1] for k, v in got.items()} == want
    # ranks: c-b (0.182) > a-c = a-b? ln(6/5)=0.182 for both a-c, c-b;
    # a-b = ln(24/25) < 0. Tie c-b vs a-c breaks by w1: 'a' first.
    assert got[("a", "c")][2] == 1 and got[("c", "b")][2] == 2
    assert got[("a", "b")][2] == 3


def test_quantile_bin_transform(spark):
    import numpy as np

    from polars_ds_extension_spark.pipeline.transforms import (
        QuantileBin, Transform)

    rng = np.random.default_rng(2)
    x = rng.normal(size=500)
    df = spark.createDataFrame([(float(v),) for v in x] + [(None,)],
                               "v double")
    t = QuantileBin(["v"], n_bins=4).fit(df)
    cuts = np.quantile(x, [0.25, 0.5, 0.75])
    assert np.allclose(t.params["v"], cuts)
    out = t.transform(df)
    got = {r["v"]: r["v_bin"] for r in out.collect()}
    for v, b in got.items():
        if v is None:
            assert b is None
        else:
            assert b == int((v > cuts).sum())
    # near-equal bin sizes + JSON round trip
    sizes = sorted(
        r["n"] for r in out.where(F.col("v_bin").isNotNull())
        .groupBy("v_bin").agg(F.count(F.lit(1)).alias("n")).collect())
    assert len(sizes) == 4 and sizes[-1] - sizes[0] <= 2
    t2 = Transform.from_dict(t.to_dict())
    assert t2.params == t.params
    with pytest.raises(ValueError):
        QuantileBin(["v"], n_bins=1)


def test_normalized_dedup_classes(spark):
    from polars_ds_extension_spark.operators import dedup as D

    rows = [(1, "Café  du   Monde"),
            (2, "café du monde"),   # decomposed + case + spacing
            (3, "cafe du monde"),          # genuinely different (no accent)
            (4, " CAFÉ DU MONDE ")]
    df = spark.createDataFrame(rows, "id long, t string")
    kept = sorted(r["id"] for r in
                  D.normalized_dedup(df, "t", "id").collect())
    # 1, 2, 4 canonicalize identically -> min id 1 survives; 3 distinct
    assert kept == [1, 3]


def test_weighted_sample_n_properties(spark):
    from polars_ds_extension_spark.functions import sample as SMP

    # heavy rows (weight 1000) vs light (weight 1): a 50-of-200 draw
    # must strongly favor the heavy half, exact-n, layout-stable
    rows = [(i, 1000.0 if i < 100 else 1.0) for i in range(200)]
    rows += [(900, None), (901, 0.0), (902, -1.0)]  # excluded
    df = spark.createDataFrame(rows, "id long, w double")
    out = SMP.weighted_sample_n(df, "id", "w", 50)
    ids = sorted(r["id"] for r in out.collect())
    assert len(ids) == 50 and not ({900, 901, 902} & set(ids))
    heavy = sum(1 for i in ids if i < 100)
    assert heavy >= 40  # weight ratio 1000:1 dominates the draw
    ids2 = sorted(r["id"] for r in SMP.weighted_sample_n(
        df.repartition(7), "id", "w", 50).collect())
    assert ids == ids2


def test_histogram_edges_and_degenerate(spark):
    from polars_ds_extension_spark.functions import eda as E

    df = spark.createDataFrame(
        [(0.0,), (2.5,), (5.0,), (10.0,), (None,)], "v double")
    out = {r["bin"]: (r["lo"], r["hi"], r["n"])
           for r in E.histogram(df, "v", n_bins=4).collect()}
    # range [0,10], width 2.5: 0->bin0, 2.5->bin1 (left-closed),
    # 5.0->bin2, 10.0 (the max) closes into the LAST bin
    assert out[0][2] == 1 and out[1][2] == 1 and out[2][2] == 1
    assert out[3][2] == 1 and out[3][1] == 10.0
    const = spark.createDataFrame([(7.0,), (7.0,)], "v double")
    row = E.histogram(const, "v", n_bins=4).collect()
    assert len(row) == 1 and row[0]["n"] == 2
    # all-NULL and empty columns produce NO bins, not a phantom row
    nulls = spark.createDataFrame([(None,), (None,)], "v double")
    assert E.histogram(nulls, "v", n_bins=4).collect() == []
    assert E.histogram(nulls.limit(0), "v", n_bins=4).collect() == []


def test_asof_join_directions_vs_pandas(spark):
    import numpy as np
    import pandas as pd

    from polars_ds_extension_spark.operators import temporal as TJ

    rng = np.random.default_rng(9)
    lt = np.sort(rng.integers(0, 1000, 60))
    rt = np.sort(rng.integers(0, 1000, 25))
    lf = pd.DataFrame({"k": "a", "t": lt, "i": range(60)})
    rf = pd.DataFrame({"k": "a", "t": rt, "v": rng.normal(size=25)})
    sl = spark.createDataFrame(lf)
    sr = spark.createDataFrame(rf)
    for direction in ("forward", "nearest"):
        got = TJ.asof_join(sl, sr, on="t", by=["k"], right_cols=["v"],
                           direction=direction).orderBy("i").collect()
        want = pd.merge_asof(lf.sort_values("t"), rf.sort_values("t"),
                             on="t", by="k", direction=direction)
        want = want.sort_values("i")
        for g, (_, w) in zip(got, want.iterrows()):
            gv, wv = g["v_right"], w["v"]
            assert (gv is None and pd.isna(wv)) or abs(gv - wv) < 1e-12, \
                (direction, g["t"])
    # tolerance in the forward direction
    tol = TJ.asof_join(sl, sr, on="t", by=["k"], right_cols=["v"],
                       direction="forward", tolerance=10).collect()
    wantt = pd.merge_asof(lf.sort_values("t"), rf.sort_values("t"),
                          on="t", by="k", direction="forward",
                          tolerance=10)
    assert sum(r["v_right"] is not None for r in tol) \
        == int(wantt["v"].notna().sum())


# ---------------------------------------------- hypothesis property tests
#
# Spark-backed, so example counts are small (each example is a JVM
# job); the generators aim at the EDGES — exact timestamp ties,
# all-equal weights, all-NULL attribute runs — rather than volume.

from hypothesis import given, settings, strategies as st  # noqa: E402

_TS = st.lists(st.integers(0, 30), min_size=1, max_size=12)


@settings(max_examples=8, deadline=None)
@given(lt=_TS, rt=_TS)
def test_asof_nearest_tie_prefers_backward_property(spark, lt, rt):
    """nearest = whichever of backward/forward is closer; EXACT ties
    (including equal timestamps, which the small integer domain forces
    constantly) must resolve to the backward match — the pandas
    merge_asof contract, property-checked."""
    import pandas as pd

    from polars_ds_extension_spark.operators import temporal as TJ

    lf = pd.DataFrame({"k": "a", "t": sorted(lt), "i": range(len(lt))})
    rf = pd.DataFrame({"k": "a", "t": sorted(rt),
                       "v": [float(10 * j) for j in range(len(rt))]})
    got = TJ.asof_join(spark.createDataFrame(lf), spark.createDataFrame(rf),
                       on="t", by=["k"], right_cols=["v"],
                       direction="nearest").orderBy("i").collect()
    want = pd.merge_asof(lf, rf.drop_duplicates("t", keep="last"),
                         on="t", by="k", direction="nearest")
    for g, (_, w) in zip(got, want.iterrows()):
        gv, wv = g["v_right"], w["v"]
        assert (gv is None and pd.isna(wv)) or gv == wv, (lt, rt, g["t"])


@settings(max_examples=8, deadline=None)
@given(n_rows=st.integers(5, 40), n=st.integers(1, 6),
       parts=st.integers(1, 7))
def test_weighted_sample_equal_weights_layout_invariant(spark, n_rows,
                                                       n, parts):
    """With all-equal weights, weighted_sample_n must pick the SAME id
    set regardless of partition layout or row order (deterministic
    scrambled-id keys, no RNG state), and exactly min(n, n_rows) rows;
    zero/negative-weight rows are excluded from the draw entirely."""
    from polars_ds_extension_spark.functions import sample as SMP

    rows = [(i, 1.0) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "id long, w double")
    a = sorted(r["id"] for r in SMP.weighted_sample_n(df, "id", "w", n).collect())
    shuffled = spark.createDataFrame(list(reversed(rows)),
                                     "id long, w double").repartition(parts)
    b = sorted(r["id"] for r in
               SMP.weighted_sample_n(shuffled, "id", "w", n).collect())
    assert a == b and len(a) == min(n, n_rows)
    # zero-weight rows can never be drawn
    dead = spark.createDataFrame(
        [(i, 0.0) for i in range(n_rows)] + [(n_rows + 1, 2.0)],
        "id long, w double")
    picked = [r["id"] for r in
              SMP.weighted_sample_n(dead, "id", "w", n).collect()]
    assert picked == [n_rows + 1]


@settings(max_examples=8, deadline=None)
@given(attrs=st.lists(st.sampled_from([None, "x", "y"]),
                      min_size=2, max_size=10))
def test_scd2_collapse_all_null_runs_property(spark, attrs):
    """collapse_unchanged with runs of all-NULL attributes: null-safe
    comparison must merge consecutive equal (incl. NULL==NULL) versions,
    leave no adjacent null-safe-equal survivors, keep exactly one
    current row, and chain valid_to == next valid_from."""
    from polars_ds_extension_spark.operators import cdc as CDC

    rows = [(1, t, a) for t, a in enumerate(attrs)]
    df = spark.createDataFrame(rows, "k int, ts long, attr string")
    out = (CDC.scd2(df, ["k"], "ts", attr_cols=["attr"],
                    collapse_unchanged=True)
           .orderBy("valid_from").collect())
    # reference collapse: keep rows whose attr differs from the previous
    want = [a for i, a in enumerate(attrs) if i == 0 or a != attrs[i - 1]]
    assert [r["attr"] for r in out] == want
    assert sum(r["is_current"] for r in out) == 1 and out[-1]["is_current"]
    for prev, nxt in zip(out, out[1:]):
        assert prev["valid_to"] == nxt["valid_from"]
    assert out[-1]["valid_to"] is None


def test_token_mixture_sample_budget_shares(spark):
    """Token-budget mixture: expected kept-token mass tracks the target
    weights (deterministic scramble ≈ uniform); an over-asked source
    caps at rate 1; unlisted sources drop entirely."""
    rows = []
    for i in range(300):
        src = ["a", "b", "c"][i % 3]
        rows.append((i, src, 10 if src != "c" else 100))
    df = spark.createDataFrame(rows, "id long, src string, toks long")
    # totals: a=1000, b=1000, c=10000; budget 600: a 50% -> 300 toks
    # (rate .3), b 50% -> 300 toks (rate .3), c unlisted -> dropped
    out = SMP.token_mixture_sample(df, "id", "src", "toks",
                                   {"a": 0.5, "b": 0.5}, token_budget=600)
    got = {r["src"]: r["kept"] for r in
           out.groupBy("src").agg(F.sum("toks").alias("kept")).collect()}
    assert "c" not in got
    assert abs(got["a"] - 300) <= 120 and abs(got["b"] - 300) <= 120
    # cap: asking for more than a source has keeps ALL of it
    capped = SMP.token_mixture_sample(df, "id", "src", "toks",
                                      {"a": 1.0}, token_budget=50_000)
    assert capped.where(F.col("src") == "a").count() == 100


def test_personalized_pagerank_matches_numpy_replay(spark):
    import numpy as np
    from polars_ds_extension_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 0)]
    e = spark.createDataFrame(edges, "s bigint, d bigint")
    seeds = spark.createDataFrame([(0, 2.0), (3, 1.0), (99, 5.0)],
                                  "node bigint, w double")  # 99 not in graph
    got = {r["node"]: r["rank"] for r in
           pagerank(e, "s", "d", n_iter=12, personalization=seeds).collect()}

    n, d = 6, 0.85
    s = np.zeros(n); s[0], s[3] = 2 / 3, 1 / 3
    out = np.zeros(n)
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[a][b] = 1
        out[a] += 1
    pr = s.copy()
    for _ in range(12):
        dang = pr[out == 0].sum()
        new = np.zeros(n)
        for v in range(n):
            new[v] = (1 - d) * s[v] + d * dang * s[v] + d * sum(
                pr[u] / out[u] for u in range(n) if adj[u][v])
        pr = new
    for v in range(n):
        assert abs(got[v] - pr[v]) < 1e-9, (v, got[v], pr[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_personalized_pagerank_uniform_seeds_equal_plain(spark):
    from polars_ds_extension_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (3, 1)]
    e = spark.createDataFrame(edges, "s bigint, d bigint")
    uni = spark.createDataFrame([(i, 1.0) for i in range(4)],
                                "node bigint, w double")
    plain = {r["node"]: r["rank"]
             for r in pagerank(e, "s", "d", n_iter=8).collect()}
    pers = {r["node"]: r["rank"]
            for r in pagerank(e, "s", "d", n_iter=8,
                              personalization=uni).collect()}
    assert set(plain) == set(pers)
    for v in plain:
        assert abs(plain[v] - pers[v]) < 1e-12


def test_personalized_pagerank_rejects_unreachable_seeds(spark):
    import pytest
    from polars_ds_extension_spark.operators.graph import pagerank

    e = spark.createDataFrame([(0, 1)], "s bigint, d bigint")
    bad = spark.createDataFrame([(7, 1.0)], "node bigint, w double")
    with pytest.raises(ValueError, match="no positive-weight seed"):
        pagerank(e, "s", "d", n_iter=3, personalization=bad)


def test_personalized_pagerank_duplicate_seeds_preaggregate(spark):
    # duplicate node rows in the seed frame must SUM, not fan out the
    # node set through the join (r12 advice: duplicated rank rows /
    # inflated N / wrong mass)
    from polars_ds_extension_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (3, 1)]
    e = spark.createDataFrame(edges, "s bigint, d bigint")
    dup = spark.createDataFrame([(0, 1.0), (0, 1.0), (3, 1.0)],
                                "node bigint, w double")
    agg = spark.createDataFrame([(0, 2.0), (3, 1.0)],
                                "node bigint, w double")
    got_dup = pagerank(e, "s", "d", n_iter=6, personalization=dup).collect()
    got_agg = {r["node"]: r["rank"] for r in
               pagerank(e, "s", "d", n_iter=6,
                        personalization=agg).collect()}
    assert len(got_dup) == 4  # one rank row per node, no fan-out
    for r in got_dup:
        assert abs(r["rank"] - got_agg[r["node"]]) < 1e-12
    assert abs(sum(r["rank"] for r in got_dup) - 1.0) < 1e-9


def test_personalized_pagerank_rejects_negative_weights(spark):
    import pytest
    from polars_ds_extension_spark.operators.graph import pagerank

    e = spark.createDataFrame([(0, 1), (1, 0)], "s bigint, d bigint")
    neg = spark.createDataFrame([(0, 2.0), (1, -1.0)],
                                "node bigint, w double")
    with pytest.raises(ValueError, match="negative seed weight"):
        pagerank(e, "s", "d", n_iter=3, personalization=neg)
