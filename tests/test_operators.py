"""Tests for the LLM-pipeline operators: dedup, text analysis, knn."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from polars_ds_extension_spark.operators import dedup as D
from polars_ds_extension_spark.operators import knn as K
from polars_ds_extension_spark.operators import text as T


# ------------------------------------------------------------------- dedup

def test_exact_dedup(spark):
    pdf = pd.DataFrame({
        "id": [1, 2, 3, 4, 5],
        "txt": ["aa", "bb", "aa", "cc", "bb"],
    })
    sdf = spark.createDataFrame(pdf)
    out = D.exact_dedup(sdf, ["txt"], "id").orderBy("id").toPandas()
    assert list(out["id"]) == [1, 2, 4]
    stats = D.duplicate_stats(sdf, ["txt"]).first()
    assert (stats["n_rows"], stats["n_distinct"], stats["n_dupes"]) == (5, 3, 2)


def test_char_shingles_and_jaccard(spark):
    sdf = spark.createDataFrame(pd.DataFrame({"a": ["abcdef"], "b": ["bcdefg"]}))
    row = sdf.select(
        D.char_shingles("a", 3).alias("sa"),
        D.char_shingles("b", 3).alias("sb"),
    ).select(D.jaccard(F.col("sa"), F.col("sb")).alias("j")).first()
    # shingles(a) = {abc,bcd,cde,def}; shingles(b) = {bcd,cde,def,efg}
    assert row["j"] == pytest.approx(3 / 5)


_KGRAM_TEXTS = [
    None, "", "a", "ab", "abcdefghijk", "abcdefghijkl", "abcdefghijklm",
    "héllo wörld, ünïcode", "中文文本的近重复检测" * 3, "emoji 😀🎉 four-byte 🚀" * 2,
    "e\u0301 combining", "x" * 100, "abab" * 30, "the quick brown fox " * 8,
]


def test_shingle_minhash_matches_spark_reference(spark):
    """The Arrow kernel's ``sh`` equals Spark's interpreted
    `hashed_char_shingles` — values and order — and its ``bands`` equal
    `minhash_bands_batch` of those shingles (the previous pipeline), at
    k=3, 12 and 40 (windows of ≥32 bytes exercise XXH64's stripe loop),
    whatever the Arrow batch size."""
    sdf = spark.createDataFrame(list(enumerate(_KGRAM_TEXTS)), "id long, t string")
    assert sdf.select(F.xxhash64(F.lit("Spark"))).first()[0] == -4294468057691064905
    for k in (3, 12, 40):
        q = sdf.select("id", D.hashed_char_shingles("t", k).alias("ref"),
                       D.shingle_minhash("t", k, 24, 8).alias("m")).orderBy("id")
        rows = q.collect()
        for r in rows:
            assert list(r["m"]["sh"]) == list(r["ref"]), (k, _KGRAM_TEXTS[r["id"]])
        want = D.minhash_bands_batch(
            [np.array(r["ref"], np.int64) for r in rows], 24, 8)
        assert np.array_equal(np.array([r["m"]["bands"] for r in rows]), want)
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(conf)
        spark.conf.set(conf, "3")
        try:
            assert q.collect() == rows
        finally:
            spark.conf.set(conf, old)
    null_row = sdf.where(F.col("t").isNull()).select(
        D.shingle_minhash("t").alias("m")).first()["m"]
    assert list(null_row["sh"]) == [42] and len(null_row["bands"]) == 32


def test_strip_boilerplate_floors(spark):
    # Group g1: 4 docs sharing a header (freq 1.0 -> stripped); a promo
    # line on 2 of 4 docs (doc_freq 2 < min_docs=3 -> kept); unique
    # bodies kept. Group g2: 2 docs sharing a header — doc_freq 2 fails
    # the min_docs floor even at frac 1.0 -> kept.
    rows = [
        {"id": i, "g": "g1",
         "txt": "HEAD\nbody %d%s" % (i, "\npromo" if i < 2 else "")}
        for i in range(4)
    ] + [{"id": 10 + i, "g": "g2", "txt": "H2\nbody2 %d" % i}
         for i in range(2)]
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    out = D.strip_boilerplate(sdf, "id", "txt", group_col="g",
                              min_docs=3, min_frac=0.5)
    got = {r["id"]: (r["txt"], r["n_removed"]) for r in out.collect()}
    assert got[0] == ("body 0\npromo", 1)
    assert got[2] == ("body 2", 1)
    assert got[10] == ("H2\nbody2 0", 0)
    assert len(got) == 6


def test_strip_boilerplate_all_removed_and_global(spark):
    # A pure-boilerplate doc survives with empty text; repeated
    # occurrences inside ONE doc all strip and all count; the trimmed
    # line is the identity; whitespace-only lines are preserved.
    rows = [
        {"id": 0, "txt": "FOOT\nunique a\n  FOOT  \n \nFOOT"},
        {"id": 1, "txt": "FOOT\nunique b"},
        {"id": 2, "txt": "FOOT"},
    ]
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    out = D.strip_boilerplate(sdf, "id", "txt", group_col=None,
                              min_docs=3, min_frac=1.0)
    got = {r["id"]: (r["txt"], r["n_removed"]) for r in out.collect()}
    assert got[0] == ("unique a\n ", 3)
    assert got[1] == ("unique b", 1)
    assert got[2] == ("", 1)
    census = D.boilerplate_lines(sdf, "id", "txt", min_docs=3,
                                 min_frac=1.0).collect()
    assert [(r["line"], r["doc_freq"], r["group_docs"])
            for r in census] == [("FOOT", 3, 3)]


def test_strip_boilerplate_identity_when_nothing_qualifies(spark):
    # with an unreachable frequency floor the explode+reassemble round
    # trip must return every text verbatim (incl. repeated, leading,
    # and trailing separators) with n_removed == 0
    rng = np.random.default_rng(31)
    texts = ["\n".join(
        " ".join(f"w{rng.integers(50)}" for _ in range(4))
        for _ in range(rng.integers(1, 5)))
        for _ in range(10)]
    texts += ["", "\n", "a\n\nb\n", "\n\nx"]
    sdf = spark.createDataFrame(pd.DataFrame(
        [{"id": i, "txt": t} for i, t in enumerate(texts)]))
    out = D.strip_boilerplate(sdf, "id", "txt", min_docs=10 ** 9)
    got = {r["id"]: (r["txt"], r["n_removed"]) for r in out.collect()}
    assert got == {i: (t, 0) for i, t in enumerate(texts)}
    # regex-metacharacter separator round-trips literally too
    sdf2 = spark.createDataFrame(pd.DataFrame(
        [{"id": 0, "txt": "a b|c d|e"}, {"id": 1, "txt": "||x.y"}]))
    out2 = D.strip_boilerplate(sdf2, "id", "txt", min_docs=10 ** 9,
                               sep="|")
    got2 = {r["id"]: r["txt"] for r in out2.collect()}
    assert got2 == {0: "a b|c d|e", 1: "||x.y"}


def test_strip_boilerplate_null_text_and_null_group(spark):
    # NULL text survives as an empty doc (never dropped); NULL group is
    # its own bucket and strips like any other
    rows = [{"id": i, "g": None, "txt": "GDPR NOTICE\nbody %d" % i}
            for i in range(3)]
    rows += [{"id": 10, "g": "a", "txt": None},
             {"id": 11, "g": "a", "txt": "keep me"}]
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    out = D.strip_boilerplate(sdf, "id", "txt", group_col="g",
                              min_docs=3, min_frac=1.0)
    got = {r["id"]: (r["txt"], r["n_removed"]) for r in out.collect()}
    assert len(got) == 5
    assert got[0] == ("body 0", 1)         # NULL group still stripped
    assert got[10] == ("", 0)              # NULL text kept as empty doc
    assert got[11] == ("keep me", 0)


def test_leakage_safe_split_invariants(spark):
    from polars_ds_extension_spark.functions import sample as SMP
    rng = np.random.default_rng(9)
    vocab = [f"w{i:03d}" for i in range(300)]
    uniq = [" ".join(rng.choice(vocab, 40)) for _ in range(30)]
    dup = [" ".join(rng.choice(vocab, 40)) for _ in range(6)]
    rows = [{"id": i, "txt": t} for i, t in enumerate(uniq)]
    # 6 exact-dup pairs (jaccard 1 -> banding recall certain)
    rows += [{"id": 100 + j, "txt": t} for j, t in enumerate(dup)]
    rows += [{"id": 200 + j, "txt": t} for j, t in enumerate(dup)]
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    out = SMP.leakage_safe_split(sdf, "id", "txt", eval_frac=0.5)
    got = {r["id"]: (r["split"], r["leaked_to"]) for r in out.collect()}
    assert len(got) == len(rows)                      # every doc labeled
    for i, (sp, lk) in got.items():
        assert sp in ("eval", "train", "dropped")
        assert (lk is not None) == (sp == "dropped")  # audit iff dropped
        if sp == "dropped":
            assert got[lk][0] == "eval"               # leaked TO eval
    # an exact-dup pair split across the cut: the train side is dropped
    for j in range(6):
        a, b = got[100 + j], got[200 + j]
        sides = {a[0], b[0]}
        if sides == {"eval"} or "eval" not in sides:
            assert "dropped" not in sides             # no leak, no drop
        else:                                         # pair straddles
            assert "dropped" in sides
    with pytest.raises(ValueError, match="eval_frac"):
        SMP.leakage_safe_split(sdf, "id", "txt", eval_frac=0.0)


def test_chunk_documents_reconstructs_exactly(spark):
    # chunk0 + chunk1[overlap:] + ... must rebuild each doc verbatim;
    # empty/NULL text yields one '' chunk; multi-codepoint text never
    # splits inside a character (substr is codepoint-based)
    rows = [
        {"id": 0, "txt": "abcdefghijklmnopqrstuvwxyz" * 7},   # 182 chars
        {"id": 1, "txt": "short"},
        {"id": 2, "txt": ""},
        {"id": 3, "txt": None},
        {"id": 4, "txt": "héllo wörld ünïcode £€¥ " * 9},
        {"id": 5, "txt": "x" * 96},                           # exact fit
        {"id": 6, "txt": "y" * 97},                           # one over
    ]
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    out = T.chunk_documents(sdf, "id", "txt", chunk_chars=96, overlap=16)
    got = {}
    for r in out.collect():
        got.setdefault(r["id"], []).append(
            (r["chunk_id"], r["chunk"], r["n_chunks"]))
    for row in rows:
        chunks = sorted(got[row["id"]])
        want = row["txt"] or ""
        assert len(chunks) == chunks[0][2]          # n_chunks correct
        assert [c[0] for c in chunks] == list(range(len(chunks)))
        rebuilt = chunks[0][1] + "".join(c[1][16:] for c in chunks[1:])
        assert rebuilt == want, row["id"]
        # consecutive chunks share exactly the overlap
        for a, b in zip(chunks, chunks[1:]):
            assert a[1][-16:] == b[1][:16] or len(a[1]) < 96
    # exact-fit doc stays one chunk; one-over spills to two
    assert len(got[5]) == 1 and len(got[6]) == 2
    with pytest.raises(ValueError):
        T.chunk_documents(sdf, "id", "txt", chunk_chars=16, overlap=16)

    # boundary-length sweep in ONE job: every length around the
    # overlap, stride, chunk, and 2-chunk cuts reconstructs exactly
    # with the model count n = max(1, ceil((L-overlap)/stride))
    import math
    lengths = [0, 1, 15, 16, 17, 79, 80, 81, 95, 96, 97,
               160, 161, 175, 176, 177, 256, 257]
    sweep = spark.createDataFrame(pd.DataFrame(
        [{"id": L, "txt": ("x" * (L % 7) + "abcdefg" * (L // 7 + 1))[:L]}
         for L in lengths]))
    out2 = T.chunk_documents(sweep, "id", "txt", chunk_chars=96,
                             overlap=16)
    by_id = {}
    for r in out2.collect():
        by_id.setdefault(r["id"], []).append((r["chunk_id"], r["chunk"]))
    for L in lengths:
        want_txt = ("x" * (L % 7) + "abcdefg" * (L // 7 + 1))[:L]
        cs = sorted(by_id[L])
        want_n = max(1, math.ceil((L - 16) / 80))
        assert len(cs) == want_n, L
        rebuilt = cs[0][1] + "".join(c[1][16:] for c in cs[1:])
        assert rebuilt == want_txt, L


def test_chunk_documents_by_tokens(spark):
    # joining chunk0's tokens + each later chunk's tokens[overlap:]
    # must rebuild the whitespace-NORMALIZED token sequence; every doc
    # emits >= 1 chunk (empty/NULL included); token counts and 0-based
    # chunk ids hold per chunk
    import math
    rows = [
        {"id": 0, "txt": " ".join(f"w{i}" for i in range(50))},
        {"id": 1, "txt": "one two   three\nfour\t five "},  # messy ws
        {"id": 2, "txt": ""},
        {"id": 3, "txt": None},
        {"id": 4, "txt": " ".join(f"t{i}" for i in range(16))},  # fit
        {"id": 5, "txt": " ".join(f"t{i}" for i in range(17))},  # over
    ]
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    out = T.chunk_documents_by_tokens(sdf, "id", "txt",
                                      chunk_tokens=16, overlap=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["chunk_n_tokens"]))
    for row in rows:
        toks = (row["txt"] or "").split()
        n = max(1, len(toks))  # split('') -> [''] counts one token
        cs = sorted(got[row["id"]])
        assert [c[0] for c in cs] == list(range(len(cs)))
        assert len(cs) == max(1, math.ceil((n - 4) / 12))
        rebuilt = (cs[0][1].split(" ")
                   + [t for c in cs[1:] for t in c[1].split(" ")[4:]])
        want = toks if toks else [""]
        assert rebuilt == want, row["id"]
        for c in cs:
            assert c[2] == len(c[1].split(" ")), row["id"]
    assert len(got[4]) == 1 and len(got[5]) == 2
    with pytest.raises(ValueError):
        T.chunk_documents_by_tokens(sdf, "id", "txt",
                                    chunk_tokens=8, overlap=8)


def _index_frames_as_sets(buckets, shingles):
    b = {(r["band"], r["bh"],
          tuple(sorted(r["ids"])) if r["ids"] is not None else None)
         for r in buckets.collect()}
    s = {(r["index_id"], r["th"], tuple(r["shingles"]))
         for r in shingles.collect()}
    return b, s


def test_update_index_equals_rebuild(spark):
    # update(build(old), new) must equal build(old UNION new) frame for
    # frame — including over-cap tombstones: old has FOUR near-identical
    # texts (distinct, so the text-hash dedup keeps all four and a tiny
    # cap of 3 tombstones their shared buckets); new adds a fifth
    # near-dup (the tombstone must stay dropped, not resurrect with the
    # new member alone) plus unique docs that form fresh buckets.
    base = ("the quick brown fox jumps over the lazy dog again and "
            "again while the band plays on %s")
    old_rows = [{"id": i, "txt": base % f"variant {i}"} for i in range(4)]
    old_rows += [{"id": 10 + i,
                  "txt": f"completely unrelated unique document {i} "
                         f"with its own distinct wording here"}
                 for i in range(3)]
    new_rows = [{"id": 20, "txt": base % "variant 20"},
                {"id": 21, "txt": "another fresh singleton document "
                                  "that matches nothing else at all"},
                {"id": 22, "txt": old_rows[5]["txt"]}]  # exact dup of id 11
    old = spark.createDataFrame(pd.DataFrame(old_rows))
    new = spark.createDataFrame(pd.DataFrame(new_rows))
    kw = dict(shingle_k=8, n_hashes=32, bands=16, max_bucket=3)

    ub, us = D.update_near_dup_index(
        new, *D.build_near_dup_index(old, "id", "txt", **kw),
        id_col="id", text_col="txt", **kw)
    rb, rs = D.build_near_dup_index(
        old.unionByName(new), "id", "txt", **kw)
    assert _index_frames_as_sets(ub, us) == _index_frames_as_sets(rb, rs)
    # the stress is real: at least one tombstone exists on both sides
    assert any(r["ids"] is None for r in rb.collect())

    # and probing the updated index equals probing the rebuilt one
    probe = spark.createDataFrame(pd.DataFrame(
        [{"id": 100, "txt": base % "variant 100"}]))
    got_u = sorted(D.near_dup_against_prebuilt(
        probe, ub, us, "id", "txt", shingle_k=8, n_hashes=32,
        bands=16).collect())
    got_r = sorted(D.near_dup_against_prebuilt(
        probe, rb, rs, "id", "txt", shingle_k=8, n_hashes=32,
        bands=16).collect())
    assert got_u == got_r

    # the daily loop ITERATES: update(update(build(A), B), C) must
    # equal build(A ∪ B ∪ C) — day-2 output is a valid day-3 input
    # (tombstones re-persist, stamp re-written, th frame appended);
    # day3 also carries an IN-BATCH duplicate pair (ids 30/31 share
    # text — rebuild dedups them, the update agg must too)
    day3_rows = [{"id": 30, "txt": base % "variant 30"},
                 {"id": 31, "txt": base % "variant 30"},
                 {"id": 32, "txt": "yet another standalone document "
                                   "with nothing shared anywhere"}]
    day3 = spark.createDataFrame(pd.DataFrame(day3_rows))
    ub2, us2 = D.update_near_dup_index(day3, ub, us,
                                       id_col="id", text_col="txt", **kw)
    rb2, rs2 = D.build_near_dup_index(
        old.unionByName(new).unionByName(day3), "id", "txt", **kw)
    assert _index_frames_as_sets(ub2, us2) == _index_frames_as_sets(rb2, rs2)

    # empty batch: update is the identity on bucket/shingle CONTENT
    empty = spark.createDataFrame([], schema="id long, txt string")
    eb, es = D.update_near_dup_index(empty, ub, us,
                                     id_col="id", text_col="txt", **kw)
    assert _index_frames_as_sets(eb, es) == _index_frames_as_sets(ub, us)


def test_index_mixed_generation_stamp_raises(spark):
    # a bucket frame UNIONED from two builds (different geometry) must
    # raise even when the first-sampled row matches the caller's params
    idx = spark.createDataFrame(pd.DataFrame(
        [{"id": i, "txt": f"some indexable text number {i} right here"}
         for i in range(6)]))
    b1, s1 = D.build_near_dup_index(idx, "id", "txt")
    b2, s2 = D.build_near_dup_index(idx, "id", "txt", shingle_k=8)
    mixed = b1.unionByName(b2)
    probe = idx.limit(2)
    with pytest.raises(ValueError, match="MULTIPLE"):
        D.near_dup_against_prebuilt(probe, mixed, s1, "id", "txt")
    with pytest.raises(ValueError, match="MULTIPLE"):
        D.update_near_dup_index(probe, mixed, s1, "id", "txt")


def test_update_index_cap_mismatch_raises(spark):
    idx = spark.createDataFrame(pd.DataFrame(
        [{"id": i, "txt": f"some indexable text number {i} right here"}
         for i in range(4)]))
    buckets, shingles = D.build_near_dup_index(idx, "id", "txt",
                                               max_bucket=100)
    with pytest.raises(ValueError, match="max_bucket"):
        D.update_near_dup_index(idx.limit(1), buckets, shingles,
                                "id", "txt", max_bucket=50)
    with pytest.raises(ValueError, match="'th'"):
        D.update_near_dup_index(idx.limit(1), buckets,
                                shingles.drop("th"), "id", "txt",
                                max_bucket=100)
    # a STRIPPED stamp must fail the update loudly (can't verify the
    # cap -> can't promise update == rebuild); probes still tolerate it
    with pytest.raises(ValueError, match="_lsh"):
        D.update_near_dup_index(idx.limit(1), buckets.drop("_lsh"),
                                shingles, "id", "txt", max_bucket=100)
    D.near_dup_against_prebuilt(idx.limit(1), buckets.drop("_lsh"),
                                shingles, "id", "txt").count()
    # a pre-cap-format 3-field stamp must fail the update too
    import pyspark.sql.functions as F
    old_fmt = buckets.withColumn("_lsh", F.lit("12/96/32"))
    with pytest.raises(ValueError, match="cap-bearing"):
        D.update_near_dup_index(idx.limit(1), old_fmt, shingles,
                                "id", "txt", max_bucket=100)


def test_prebuilt_index_geometry_mismatch_raises(spark):
    idx = spark.createDataFrame(pd.DataFrame(
        [{"id": i, "txt": f"some indexable text number {i} right here"}
         for i in range(5)]))
    buckets, shingles = D.build_near_dup_index(idx, "id", "txt", bands=16)
    new = idx.limit(1)
    with pytest.raises(ValueError, match="geometry"):
        D.near_dup_against_prebuilt(new, buckets, shingles, "id", "txt",
                                    bands=32)
    # matching geometry passes (and the _lsh stamp is dropped)
    D.near_dup_against_prebuilt(new, buckets, shingles, "id", "txt",
                                bands=16).count()
    # a pre-materialized _base built with other parameters than the
    # call's (here bands=32 against bands=16) raises at every consumer
    (wrong,) = D._overlap_minhash_bases([(new, "id", "txt")])
    with pytest.raises(ValueError, match="minhash geometry"):
        D.build_near_dup_index(idx, "id", "txt", bands=16, _base=wrong)
    with pytest.raises(ValueError, match="minhash geometry"):
        D.update_near_dup_index(new, buckets, shingles, "id", "txt",
                                bands=16, _base=wrong)
    with pytest.raises(ValueError, match="minhash geometry"):
        D.near_dup_against_prebuilt(new, buckets, shingles, "id", "txt",
                                    bands=16, _base=wrong)


def test_failed_materialization_releases_pins(spark):
    """Pins an operator uses internally are released on the error path
    too: a failed `materialize` unpins every frame it was given, and a
    failing `lsh_candidate_stats` unpins its minhash base. Checked on
    the CacheManager, which is empty as soon as unpersist returns (the
    persistent-RDD list lags behind a non-blocking unpersist)."""
    from polars_ds_extension_spark._utils import materialize, pin

    def boom_at(df, col, at):
        return df.withColumn(col, F.when(
            F.col("id") == at, F.raise_error(F.lit("boom at %d" % at)))
            .otherwise(F.col(col)))

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    good = pin(spark.range(20).withColumn("x", F.col("id") * 2))
    bad = pin(boom_at(spark.range(20).withColumn("x", F.col("id")), "x", 11))
    with pytest.raises(Exception, match="boom at 11"):
        materialize(good, bad)
    assert cache.isEmpty()

    # built on range(), not a local relation: the optimizer would fold
    # the raise_error into a local relation at plan time, before the
    # operator pins anything
    docs = spark.range(8).select("id", F.concat(
        F.lit("some minable text number "), F.col("id").cast("string"),
        F.lit(" right here")).alias("txt"))
    with pytest.raises(Exception, match="boom at 5"):
        D.lsh_candidate_stats(boom_at(docs, "txt", 5), "id", "txt",
                              collapse=False)
    assert cache.isEmpty()


def test_pairs_expands_every_i_lt_j_pair_in_order(spark):
    """`_utils.pairs` emits exactly itertools.combinations(arr, 2), in
    order, for arrays of length 0-6 with repeated values — all cases in
    one query."""
    import itertools
    from polars_ds_extension_spark._utils import pairs

    rng = np.random.default_rng(11)
    cases = [[]] + [rng.integers(0, 3, size=n).tolist()
                    for n in range(1, 7) for _ in range(6)]
    df = spark.createDataFrame(
        [(i, arr) for i, arr in enumerate(cases)], "case int, arr array<int>")
    got = dict(df.select("case", pairs(
        "arr", lambda x, y: F.struct(x.alias("a"), y.alias("b")))
        .alias("p")).collect())
    for i, arr in enumerate(cases):
        assert [(p["a"], p["b"]) for p in got[i]] == \
            list(itertools.combinations(arr, 2)), arr


def test_near_dup_pairs_finds_planted_dups(spark):
    rng = np.random.default_rng(5)
    vocab = [f"w{i:03d}" for i in range(400)]
    texts = [" ".join(rng.choice(vocab, 40)) for _ in range(30)]
    rows = [{"id": i, "txt": t} for i, t in enumerate(texts)]
    rows += [{"id": 100 + i, "txt": t + " extra"} for i, t in enumerate(texts[:5])]
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    out = D.near_dup_pairs(sdf, "id", "txt", threshold=0.6).toPandas()
    found = set(zip(out["id_a"], out["id_b"]))
    assert {(i, 100 + i) for i in range(5)} <= found
    assert (out["jaccard"] >= 0.6).all()


def _mixed_dup_corpus():
    rng = np.random.default_rng(23)
    vocab = [f"w{i:03d}" for i in range(300)]
    texts = [" ".join(rng.choice(vocab, 40)) for _ in range(12)]
    rows = [{"id": i, "txt": t} for i, t in enumerate(texts)]
    # exact-dup clusters: texts 0..2 copied 6x each (ids 100+)
    rows += [{"id": 100 + 10 * j + c, "txt": texts[j]}
             for j in range(3) for c in range(6)]
    # near dups: perturbed copies of texts 3..5 (ids 200+)
    rows += [{"id": 200 + j, "txt": texts[3 + j] + " extra tail"}
             for j in range(3)]
    return rows


def test_near_dup_pairs_collapse_branches_agree(spark):
    df = spark.createDataFrame(pd.DataFrame(_mixed_dup_corpus()))
    out = {}
    for mode in (True, False):
        got = D.near_dup_pairs(df, "id", "txt", threshold=0.6,
                               collapse=mode).toPandas()
        out[mode] = sorted(
            (int(a), int(b), round(float(j), 9))
            for a, b, j in zip(got["id_a"], got["id_b"], got["jaccard"]))
    assert out[True] == out[False]
    # exact clusters of 7 members (original + 6 copies): C(7,2)=21
    # within-pairs each at jaccard exactly 1.0
    ones = [p for p in out[True] if p[2] == 1.0]
    assert len(ones) == 3 * 21
    # the near-dup perturbed pairs survive with jaccard < 1
    near = {(a, b) for a, b, j in out[True] if j < 1.0}
    assert {(3, 200), (4, 201), (5, 202)} <= near


def test_verify_prune_branches_agree(spark):
    """_verify_pairs' adaptive incident-id prune (r12): the pruned
    (broadcast-semi) and unpruned verify joins must emit identical
    (id_a, id_b, jaccard) rows — an inner join drops non-candidate
    rows anyway; the semi only drops them before the shuffle. Tested
    against each other at both override settings (the adaptive-gate
    lesson: both branches of a measured gate share one contract)."""
    from polars_ds_extension_spark.operators.dedup import (
        _lsh_candidates, _minhash_base, _verify_pairs)

    df = spark.createDataFrame(pd.DataFrame(_mixed_dup_corpus()))
    out = {}
    for mode in (True, False):
        base = _minhash_base(df, "id", "txt", 12, 96, 32)
        cand = _lsh_candidates(base, 200)
        got = _verify_pairs(base, cand, 0.6, prune=mode).toPandas()
        out[mode] = sorted(
            (int(a), int(b), round(float(j), 9))
            for a, b, j in zip(got["id_a"], got["id_b"], got["jaccard"]))
    assert out[True] == out[False]
    assert len(out[True]) > 0


def test_verify_join_scores_each_pair_once(spark):
    """The verify step keeps jaccard ≥ threshold inside a Generate, so
    each candidate pair's shingle intersection appears ONCE in the
    final AQE plan. A Filter over the projected score is pushed into
    the join condition, and the projection then computes it again."""
    df = spark.createDataFrame(pd.DataFrame(_mixed_dup_corpus()))
    new = df.where(F.col("id") < 6).select(
        (F.col("id") + 1000).alias("id"),
        F.concat("txt", F.lit(" new")).alias("txt"))
    for out in (D.near_dup_pairs(df, "id", "txt", collapse=False),
                D.near_dup_against_index(new, df, "id", "txt")):
        assert out.collect()
        final = out._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan ==")[0]
        assert final.count("array_intersect") == 1, final


def test_near_dup_pairs_exact_clusters_are_cap_independent(spark):
    # a 40-copy identical cluster with max_bucket=10: every LSH bucket
    # is over cap, yet the full C(40,2) pair set must still come out of
    # BOTH branches (the exact tier is cap-independent by contract)
    rows = [{"id": i, "txt": "the same exact document text forty times"}
            for i in range(40)]
    rows += [{"id": 100 + i,
              "txt": f"totally different filler document number {i} xyz"}
             for i in range(5)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    for mode in (True, False):
        got = D.near_dup_pairs(df, "id", "txt", threshold=0.6,
                               max_bucket=10, collapse=mode).toPandas()
        in_cluster = got[(got["id_a"] < 40) & (got["id_b"] < 40)]
        assert len(in_cluster) == 40 * 39 // 2
        assert (in_cluster["jaccard"] == 1.0).all()


def test_near_dup_pairs_tolerates_duplicate_input_ids(spark):
    rows = [{"id": 1, "txt": "alpha beta gamma delta epsilon zeta eta"},
            {"id": 1, "txt": "alpha beta gamma delta epsilon zeta eta"},
            {"id": 2, "txt": "alpha beta gamma delta epsilon zeta eta"}]
    df = spark.createDataFrame(pd.DataFrame(rows))
    for mode in (True, False):
        got = D.near_dup_pairs(df, "id", "txt", collapse=mode).toPandas()
        assert not (got["id_a"] == got["id_b"]).any()
        assert sorted(zip(got["id_a"], got["id_b"])) == [(1, 2)]


def test_near_dup_against_index_flags_only_new_dups(spark):
    rng = np.random.default_rng(11)
    vocab = [f"w{i:03d}" for i in range(400)]
    texts = [" ".join(rng.choice(vocab, 40)) for _ in range(30)]
    index = spark.createDataFrame(pd.DataFrame(
        [{"id": i, "txt": t} for i, t in enumerate(texts)]))
    # new batch: 5 perturbed copies (must flag, best match = source) +
    # 5 fresh docs (must not flag)
    fresh = [" ".join(rng.choice(vocab, 40)) for _ in range(5)]
    new = spark.createDataFrame(pd.DataFrame(
        [{"id": 100 + i, "txt": texts[i] + " extra"} for i in range(5)]
        + [{"id": 200 + i, "txt": t} for i, t in enumerate(fresh)]))
    out = D.near_dup_against_index(new, index, "id", "txt",
                                   threshold=0.6).toPandas()
    got = dict(zip(out["new_id"], out["index_id"]))
    assert got == {100 + i: i for i in range(5)}
    assert (out["jaccard"] >= 0.6).all()
    # one row per flagged new doc (best match), never more
    assert out["new_id"].is_unique


def test_near_dup_against_index_dense_index_cluster_still_matches(spark):
    # the index holds 300 verbatim copies of one text: bucket members
    # dedupe by text-hash, so even max_bucket=5 cannot drop the bucket
    # and the best match is the cluster's min id (the tie-break winner
    # an undeduped bucket would have picked anyway)
    base = "the quick brown fox jumps over the lazy dog again and again"
    idx = [{"id": 1000 + i, "txt": base} for i in range(300)]
    idx += [{"id": i, "txt": f"unrelated filler text number {i} here okay"}
            for i in range(3)]
    index = spark.createDataFrame(pd.DataFrame(idx))
    new = spark.createDataFrame(pd.DataFrame(
        [{"id": 5, "txt": base + " tail"}]))
    out = D.near_dup_against_index(new, index, "id", "txt",
                                   threshold=0.6, max_bucket=5).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["new_id"] == 5 and out.iloc[0]["index_id"] == 1000


def test_prebuilt_index_roundtrip_matches_direct(spark, tmp_path):
    # build → write parquet → read back → probe must equal the direct
    # two-frame path exactly (shared _probe_index tail + artifact IO)
    rng = np.random.default_rng(17)
    vocab = [f"w{i:03d}" for i in range(400)]
    texts = [" ".join(rng.choice(vocab, 40)) for _ in range(25)]
    index = spark.createDataFrame(pd.DataFrame(
        [{"id": i, "txt": t} for i, t in enumerate(texts)]))
    fresh = [" ".join(rng.choice(vocab, 40)) for _ in range(4)]
    new = spark.createDataFrame(pd.DataFrame(
        [{"id": 100 + i, "txt": texts[i] + " extra"} for i in range(4)]
        + [{"id": 200 + i, "txt": t} for i, t in enumerate(fresh)]))
    buckets, shingles = D.build_near_dup_index(index, "id", "txt")
    bp, sp = str(tmp_path / "buckets"), str(tmp_path / "shingles")
    buckets.write.parquet(bp)
    shingles.write.parquet(sp)
    got = D.near_dup_against_prebuilt(
        new, spark.read.parquet(bp), spark.read.parquet(sp),
        "id", "txt", threshold=0.6).toPandas()
    want = D.near_dup_against_index(new, index, "id", "txt",
                                    threshold=0.6).toPandas()
    key = lambda d: sorted(map(tuple, d[["new_id", "index_id",
                                         "jaccard"]].values.tolist()))
    assert key(got) == key(want)
    assert len(got) == 4


def test_near_dup_against_index_empty_sides(spark):
    df = spark.createDataFrame(
        pd.DataFrame([{"id": 1, "txt": "some document text here ok"}]))
    empty = df.where(F.lit(False))
    assert D.near_dup_against_index(empty, df, "id", "txt").count() == 0
    assert D.near_dup_against_index(df, empty, "id", "txt").count() == 0


def test_simhash_properties(spark):
    sdf = spark.createDataFrame(pd.DataFrame({
        "a": ["the quick brown fox jumps over the lazy dog"],
        "b": ["the quick brown fox jumps over the lazy cat"],
        "c": ["completely different words entirely unrelated text here now"],
    }))
    row = sdf.select(
        D.simhash("a").alias("ha"), D.simhash("b").alias("hb"),
        D.simhash("c").alias("hc"),
    ).select(
        D.hamming64(F.col("ha"), F.col("ha")).alias("self"),
        D.hamming64(F.col("ha"), F.col("hb")).alias("near"),
        D.hamming64(F.col("ha"), F.col("hc")).alias("far"),
    ).first()
    assert row["self"] == 0
    assert row["near"] < row["far"]


# -------------------------------------------------------------------- text

def test_token_counts(spark):
    sdf = spark.createDataFrame(pd.DataFrame({"t": ["Hello world, 42 foo-bar!"]}))
    row = sdf.select(
        T.token_count("t").alias("tc"),
        T.bpeish_token_count("t").alias("bc"),
        T.char_count("t").alias("cc"),
    ).first()
    assert row["tc"] == 4
    # Hello, world, ',', 4, 2, foo, -, bar, '!'
    assert row["bc"] == 9
    assert row["cc"] == 24


def test_quality_and_language(spark):
    good = ("The quick brown fox jumps over the lazy dog and it was a very "
            "good day for all of the animals in the big green forest today.")
    sdf = spark.createDataFrame(pd.DataFrame({"t": [good, "x y z"]}))
    out = sdf.select(
        T.quality_score("t").alias("q"), T.language_id("t").alias("lid")
    ).collect()
    assert out[0]["q"] == 1.0
    assert out[0]["lid"] == "en"
    assert out[1]["q"] < 0.5
    assert out[1]["lid"] == "und"
    de = "der Hund und die Katze sind nicht auf der Couch"
    lid = spark.createDataFrame(pd.DataFrame({"t": [de]})).select(
        T.language_id("t").alias("l")).first()["l"]
    assert lid == "de"


def test_source_overlap_matrix_planted(spark):
    # srcA and srcB share one doc verbatim; srcC is disjoint
    shared_doc = "alpha beta gamma delta epsilon zeta"
    rows = [
        {"id": 1, "src": "A", "txt": shared_doc},
        {"id": 2, "src": "A", "txt": "one two three four five six"},
        {"id": 3, "src": "B", "txt": shared_doc},
        {"id": 4, "src": "C", "txt": "cat dog bird fish mouse horse"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = T.source_overlap_matrix(df, "src", "txt", n=3).toPandas()
    got = {(r.source_a, r.source_b): r for r in out.itertuples()}
    # A has 8 distinct 3-grams (4 per doc), B has 4, all of B's shared
    ab = got[("A", "B")]
    assert (ab.grams_a, ab.grams_b, ab.shared) == (8, 4, 4)
    assert ab.jaccard == pytest.approx(4 / 8)
    # C overlaps nothing — no row at all for (A,C) or (B,C)
    assert set(got) == {("A", "B")}


def test_quality_classifier_learns_weak_signal(spark):
    # fluent docs (high stopword ratio) labeled 1, keyword spam labeled 0
    fluent = ["the cat sat on the mat and it was a good day for this",
              "it is a fine day and the sun was out in the sky",
              "this is the story of a dog that was in the park"]
    spam = ["buy cheap widgets discount sale bargain deals offers",
            "keyword keyword stuffing spam links click here now",
            "lorem ipsum dolor sit amet consectetur adipiscing elit"]
    rows = [{"id": i, "txt": t, "y": 1} for i, t in enumerate(fluent * 4)]
    rows += [{"id": 100 + i, "txt": t, "y": 0}
             for i, t in enumerate(spam * 4)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    beta, scored = T.quality_classifier_scores(
        df, "id", "txt", F.col("y"), l2=1.0)
    out = scored.toPandas().set_index("id")["score"]
    # perfectly separable in stopword ratio — ridge keeps the fit
    # finite, and the ranking must still put every fluent doc on top
    assert all(np.isfinite(beta)) and abs(beta[0]) < 50
    assert out[out.index < 100].min() > out[out.index >= 100].max()


def test_quality_classifier_skips_empty_docs(spark):
    df = spark.createDataFrame(pd.DataFrame(
        [{"id": 1, "txt": "the cat is on the mat", "y": 1},
         {"id": 2, "txt": "   ", "y": 0},
         {"id": 3, "txt": "spam words only here", "y": 0}]))
    _, scored = T.quality_classifier_scores(df, "id", "txt", F.col("y"))
    ids = {r["id"] for r in scored.collect()}
    assert ids == {1, 3}


def test_fingerprints(spark):
    sdf = spark.createDataFrame(pd.DataFrame({
        "a": ["Hello   World"], "b": ["hello world"], "c": ["other text"],
    }))
    row = sdf.select(
        T.content_fingerprint("a").alias("fa"),
        T.content_fingerprint("b").alias("fb"),
        T.content_fingerprint("c").alias("fc"),
        T.rolling_fingerprint("a").alias("ra"),
        T.rolling_fingerprint("b").alias("rb"),
    ).first()
    assert row["fa"] == row["fb"] != row["fc"]  # canonicalization
    assert row["ra"] == row["rb"]


# --------------------------------------------------------------------- knn

def _vecs():
    return pd.DataFrame({
        "id": [0, 1, 2, 3],
        "v": [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [-1.0, 0.0]],
    })


def test_knn_join_brute(spark):
    sdf = spark.createDataFrame(_vecs())
    out = K.knn_join(sdf, "id", "v", sdf, "id", "v", k=1, metric="cosine").toPandas()
    nn = dict(zip(out["id"], out["neighbor_id"]))
    assert nn[0] == 1 and nn[1] == 0
    # cosine values exact
    got = out.set_index("id")["cosine"]
    assert got[0] == pytest.approx(0.9 / np.sqrt(0.81 + 0.01))


def test_knn_avg_and_radius(spark):
    pdf = _vecs()
    pdf["lab"] = [10.0, 20.0, 30.0, 40.0]
    sdf = spark.createDataFrame(pdf)
    avg = K.knn_avg(sdf, "id", "v", sdf, "id", "v", "lab", k=2,
                    metric="cosine").toPandas().set_index("id")
    assert avg.loc[0, "knn_avg_lab"] == pytest.approx((20.0 + 30.0) / 2)
    rc = K.radius_count(sdf, "id", "v", sdf, "id", "v", radius=0.2,
                        metric="l2").toPandas()
    assert dict(zip(rc["id"], rc["nb_cnt"])) == {0: 1, 1: 1}


def test_ivf_matches_brute_when_one_bucket(spark):
    # with a single centroid every vector lands in one bucket → IVF == brute
    sdf = spark.createDataFrame(_vecs())
    ivf = K.ivf_knn_join(sdf, "id", "v", n_centroids=1, k=2).toPandas()
    brute = K.knn_join(sdf, "id", "v", sdf, "id", "v", k=2,
                       metric="cosine").toPandas()
    ivf_s = ivf.sort_values(["id", "rank"]).reset_index(drop=True)
    brute_s = brute.sort_values(["id", "rank"]).reset_index(drop=True)
    assert list(ivf_s["neighbor_id"]) == list(brute_s["neighbor_id"])


def test_ann_lsh_self_similarity(spark):
    # near-identical vectors must share buckets and be found
    rng = np.random.default_rng(3)
    base = rng.normal(size=(20, 16))
    rows = [{"id": i, "v": base[i].tolist()} for i in range(20)]
    rows += [{"id": 100 + i, "v": (base[i] + 1e-4).tolist()} for i in range(5)]
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    out = K.ann_lsh_join(sdf, "id", "v", k=1, n_tables=4, n_planes=8).toPandas()
    nn = dict(zip(out["id"], out["neighbor_id"]))
    for i in range(5):
        assert nn.get(i) == 100 + i or nn.get(100 + i) == i


def test_embedding_quantize_roundtrip(spark):
    import numpy as np
    import pandas as pd
    from polars_ds_extension_spark.operators import embedding as EMB
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    vecs = [rng.normal(0, 1, 16).tolist() for _ in range(50)]
    sdf = spark.createDataFrame(pd.DataFrame({"id": range(50), "v": vecs}))
    out = sdf.select(
        "id",
        EMB.l2_normalize("v").alias("unit"),
        EMB.dequantize_int8(EMB.quantize_int8("v"),
                            EMB.quantize_scale("v")).alias("back"),
    ).collect()
    for r in out:
        orig = np.array(vecs[r["id"]])
        assert abs(np.linalg.norm(r["unit"]) - 1.0) < 1e-9
        # int8 roundtrip error bounded by scale/254 per component
        err = np.abs(np.array(r["back"]) - orig).max()
        assert err <= np.abs(orig).max() / 254 + 1e-12


def test_radius_count_null_safe(spark):
    from polars_ds_extension_spark.operators import knn as K
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.1, 0.0]),
        (2, [5.0, 5.0]),
        (3, None),
        (4, [0.2, None]),
    ]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    got = {r["id"]: r["nb_cnt"]
           for r in K.radius_count_null_safe(
               df, "id", "v", df, "id", "v", radius=0.5).collect()}
    # 0 and 1 see each other; 2 isolated (no row); 3,4 null vectors -> null
    assert got == {0: 1, 1: 1, 3: None, 4: None}


def test_knn_freq_cnt_small(spark):
    from polars_ds_extension_spark.operators import knn as K
    # three colinear points: nearest neighbor of each is the middle one
    rows = [(0, [0.0]), (1, [1.0]), (2, [2.5])]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    got = {r["neighbor_id"]: r["freq_cnt"]
           for r in K.knn_freq_cnt(df, "id", "v", df, "id", "v",
                                   k=1, metric="l2").collect()}
    assert got == {1: 2, 0: 1}


_TEMPLATES = [
    "the quick brown fox jumps over the lazy dog while the band "
    "plays on through the night %s",
    "completely different subject matter about distributed query "
    "engines and their shuffle strategies %s",
    "a third unrelated template concerning tokenizer vocabularies "
    "and byte pair encodings at scale %s",
    "numbers and measurements calibration report for instrument "
    "cluster twenty seven revision %s",
]


def test_near_dup_index_algebra_property(spark):
    """Hypothesis over the r10d index algebra (the load-bearing
    artifact contract): for RANDOM corpora with planted exact/near
    duplicate structure, random batch splits (1-4 batches, any order),
    and caps that do/don't bind, EVERY update chain equals the one-shot
    rebuild frame-for-frame — tombstones included — and probing the
    folded index equals probing the rebuilt one."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    kw = dict(shingle_k=6, n_hashes=16, bands=8)

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        docs=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 2),
                      st.integers(0, 3)),
            min_size=4, max_size=28),
        cap=st.sampled_from([2, 8, 200]),
    )
    def run(docs, cap):
        rows = [{"id": i, "txt": _TEMPLATES[t] % f"variant {v}",
                 "b": b} for i, (t, v, b) in enumerate(docs)]
        batches = [
            [{"id": r["id"], "txt": r["txt"]} for r in rows if r["b"] == b]
            for b in range(max(r["b"] for r in rows) + 1)
        ]
        batches = [b for b in batches if b]  # empty batches fold as []
        full = spark.createDataFrame(
            pd.DataFrame([{"id": r["id"], "txt": r["txt"]} for r in rows]))
        rb, rs = D.build_near_dup_index(full, "id", "txt",
                                        max_bucket=cap, **kw)
        head, *tail = batches
        ub, us = D.build_near_dup_index(
            spark.createDataFrame(pd.DataFrame(head)), "id", "txt",
            max_bucket=cap, **kw)
        for b in tail:
            ub, us = D.update_near_dup_index(
                spark.createDataFrame(pd.DataFrame(b)), ub, us,
                id_col="id", text_col="txt", max_bucket=cap, **kw)
        assert _index_frames_as_sets(ub, us) == \
            _index_frames_as_sets(rb, rs), (docs, cap)

    run()


def _vec_rows(n, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    return [{"vid": i, "v": [float(x) for x in rng.normal(size=dim)]}
            for i in range(n)]


def _cells_as_set(cells):
    return {(r["centroid_id"], r["vec_id"],
             tuple(round(x, 9) for x in r["vec"]), r["_ivf"])
            for r in cells.collect()}


def test_vector_index_update_equals_rebuild(spark):
    # update(build(old), new) must equal build(old UNION new) against
    # the same frozen centroid frame, frame for frame — and iterated:
    # update∘update == one rebuild. Probing updated == probing rebuilt.
    rows = _vec_rows(60)
    old = spark.createDataFrame(pd.DataFrame(rows[:40]))
    new = spark.createDataFrame(pd.DataFrame(rows[40:50]))
    day3 = spark.createDataFrame(pd.DataFrame(rows[50:]))
    cents, cells = K.build_vector_index(old, "vid", "v", n_centroids=5,
                                        centroids="first")
    c2, x2 = K.update_vector_index(new, "vid", "v", cents, cells)
    rb_c, rb_x = K.build_vector_index(old.unionByName(new), "vid", "v",
                                      centroids=cents.drop("_ivf"))
    assert _cells_as_set(x2) == _cells_as_set(rb_x)
    c3, x3 = K.update_vector_index(day3, "vid", "v", c2, x2)
    rb3_c, rb3_x = K.build_vector_index(
        old.unionByName(new).unionByName(day3), "vid", "v",
        centroids=cents.drop("_ivf"))
    assert _cells_as_set(x3) == _cells_as_set(rb3_x)
    # empty batch: identity on cell content
    empty = spark.createDataFrame([], schema="vid long, v array<double>")
    ce, xe = K.update_vector_index(empty, "vid", "v", c3, x3)
    assert _cells_as_set(xe) == _cells_as_set(x3)
    # probe parity (updated vs rebuilt vs direct ivf_search); cosines
    # at 9dp — each side recomputes and BLAS reductions are not
    # bit-stable across session states (see the stamp-contract test)
    q = spark.createDataFrame(pd.DataFrame(_vec_rows(5, seed=9)))

    def _res(out):
        return {(r[0], r[1], round(r[2], 9), r[3]) for r in out.collect()}

    got_u = _res(K.search_vector_index(q, "vid", "v", c3, x3, k=3,
                                       nprobe=2))
    got_r = _res(K.search_vector_index(q, "vid", "v", rb3_c, rb3_x, k=3,
                                       nprobe=2))
    assert got_u == got_r
    direct = _res(K.ivf_search(
        q, "vid", "v",
        spark.createDataFrame(pd.DataFrame(rows)), "vid", "v",
        k=3, nprobe=2, centroids=cents.drop("_ivf")))
    assert got_u == direct


def test_ivf_stamp_train_provenance(spark):
    """r15 (r13 verdict trivia): a kmeans/sample-trained build records
    the training method + EFFECTIVE sample-pool size as a 4th stamp
    field for drift forensics; updates copy it verbatim so the stamp
    contract still holds; 'first'/prebuilt builds keep the legacy
    3-field format byte-compatible with older persisted artifacts."""
    rows = _vec_rows(40)
    df = spark.createDataFrame(pd.DataFrame(rows))
    cents, cells = K.build_vector_index(df, "vid", "v", n_centroids=3,
                                        centroids="kmeans")
    stamp = cents.select("_ivf").first()[0]
    parts = stamp.split("/")
    assert len(parts) == 4 and parts[3] == "kmeans-pool40"
    assert cells.select("_ivf").distinct().collect()[0][0] == stamp
    # update copies the 4-field stamp; probing the updated index works
    batch = spark.createDataFrame(pd.DataFrame(_vec_rows(5, seed=7)))
    c2, x2 = K.update_vector_index(batch, "vid", "v", cents, cells)
    assert set(r[0] for r in x2.select("_ivf").distinct().collect()) \
        == {stamp}
    q = spark.createDataFrame(pd.DataFrame(_vec_rows(3, seed=13)))
    assert K.search_vector_index(q, "vid", "v", c2, x2, k=2,
                                 nprobe=2).count() > 0
    # legacy format for the SQL-replayable 'first' path
    fc, _fx = K.build_vector_index(df, "vid", "v", n_centroids=3,
                                   centroids="first")
    assert len(fc.select("_ivf").first()[0].split("/")) == 3


def test_vector_index_stamp_contract(spark, tmp_path):
    rows = _vec_rows(30)
    df = spark.createDataFrame(pd.DataFrame(rows))
    cents, cells = K.build_vector_index(df, "vid", "v", n_centroids=4,
                                        centroids="first")
    other_c, other_x = K.build_vector_index(
        df.where(F.col("vid") % 2 == 0), "vid", "v", n_centroids=3,
        centroids="first")
    batch = spark.createDataFrame(pd.DataFrame(_vec_rows(3, seed=11)))
    # mixed generations raise at probe AND update time
    with pytest.raises(ValueError, match="mismatch"):
        K.search_vector_index(batch, "vid", "v", other_c, cells)
    with pytest.raises(ValueError, match="mismatch"):
        K.update_vector_index(batch, "vid", "v", cents, other_x)
    # a cells frame UNIONED from two generations raises even when the
    # first-sampled row matches (the distinct-stamp check)
    mixed = cells.unionByName(other_x.select(*cells.columns))
    with pytest.raises(ValueError, match="MULTIPLE"):
        K.search_vector_index(batch, "vid", "v", cents, mixed)
    with pytest.raises(ValueError, match="MULTIPLE"):
        K.update_vector_index(batch, "vid", "v", cents, mixed)
    # kmeans centroids carry their own bigint cell ids — building over
    # any id space must not force the corpus id type onto them
    kc, kx = K.build_vector_index(df, "vid", "v", n_centroids=4,
                                  centroids="kmeans")
    assert kx.count() == 30 and kc.count() == 4
    # a stripped stamp is tolerated at probe time, fatal at update time
    assert K.search_vector_index(batch, "vid", "v", cents.drop("_ivf"),
                                 cells.drop("_ivf"), k=2).count() > 0
    with pytest.raises(ValueError, match="_ivf"):
        K.update_vector_index(batch, "vid", "v", cents.drop("_ivf"),
                              cells)
    # parquet round-trip preserves the artifact contract end to end
    # (cosines compared at 9dp: parquet stores the doubles exactly,
    # but the in-memory reference side RECOMPUTES its assignment on
    # every action and BLAS reductions are not bit-stable across
    # session states — observed once in ~5 full-suite runs; the
    # catalog oracle protocol rounds for the same reason)
    cents.write.parquet(str(tmp_path / "cents"))
    cells.write.parquet(str(tmp_path / "cells"))
    rc = spark.read.parquet(str(tmp_path / "cents"))
    rx = spark.read.parquet(str(tmp_path / "cells"))

    def _res(out):
        return {(r[0], r[1], round(r[2], 9), r[3]) for r in out.collect()}

    got = _res(K.search_vector_index(batch, "vid", "v", rc, rx, k=2))
    ref = _res(K.search_vector_index(batch, "vid", "v", cents, cells,
                                     k=2))
    assert got == ref and got


def test_vector_index_boundaries(spark):
    # nprobe beyond the centroid count clamps (every cell probed);
    # k beyond the corpus returns all non-self neighbors; a 1-cell
    # index degenerates to exact search
    rows = _vec_rows(12, dim=4, seed=7)
    df = spark.createDataFrame(pd.DataFrame(rows))
    cents, cells = K.build_vector_index(df, "vid", "v", n_centroids=3,
                                        centroids="first")
    q = df.where(F.col("vid") < 2)
    out = K.search_vector_index(q, "vid", "v", cents, cells,
                                k=50, nprobe=99)
    got = {r["vid"]: r["neighbor_id"]
           for r in out.collect() if r["rank"] == 1}
    assert len(got) == 2
    for vid, nb in got.items():
        assert nb != vid  # self excluded even at full probe
    one_c, one_x = K.build_vector_index(df, "vid", "v", n_centroids=1,
                                        centroids="first")
    exact = K.search_vector_index(q, "vid", "v", one_c, one_x, k=11,
                                  nprobe=1)
    assert exact.where(F.col("rank") == 1).count() == 2
    assert exact.count() == 22  # 11 non-self neighbors per query


def test_near_dup_downsample_boundaries(spark):
    # no-near-dup corpus passes through untouched at any k; k<1 raises
    # (texts must be GENUINELY dissimilar — template docs differing in
    # one digit share nearly all char-12 shingles and rightly cluster)
    topics = ["astronomy telescopes observing distant quasars nightly",
              "sourdough fermentation hydration ratios and crumb",
              "marathon training intervals tempo runs and recovery",
              "quantum error correction surface codes explained",
              "medieval trade routes spice merchants and ledgers",
              "coral reef symbiosis bleaching and restoration work",
              "jazz harmony tritone substitutions in bebop heads",
              "glacier mass balance measured by ablation stakes"]
    docs = spark.createDataFrame(pd.DataFrame(
        [{"id": i, "txt": t * 2} for i, t in enumerate(topics)]))
    out = D.near_dup_downsample(docs, "id", "txt", 0.6,
                                keep_per_cluster=1)
    assert out.count() == 8
    with pytest.raises(ValueError, match="keep_per_cluster"):
        D.cluster_downsample(docs, "id",
                             docs.selectExpr("id as id_a", "id as id_b"),
                             keep_per_cluster=0)


def test_vector_index_stats(spark):
    # stats must equal a numpy replay (assignment, occupancy, sse,
    # max d2) and must be additive under update: stats(update(new)) ==
    # stats(build(old UNION new)) per cell
    rows = _vec_rows(40, dim=6, seed=5)
    df = spark.createDataFrame(pd.DataFrame(rows))
    cents, cells = K.build_vector_index(df, "vid", "v", n_centroids=4,
                                        centroids="first")
    got = {r["centroid_id"]: (r["n_vecs"], round(r["sse"], 9),
                              round(r["max_d2"], 9))
           for r in K.vector_index_stats(cents, cells).collect()}
    X = np.array([r["v"] for r in rows])
    C = X[:4]
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2)
    a = d2.argmin(1)
    want = {}
    for c in range(4):
        m = a == c
        if m.any():
            want[c] = (int(m.sum()), round(float(d2[m, c].sum()), 9),
                       round(float(d2[m, c].max()), 9))
    assert got == want
    # drift visibility: folding a shifted batch must grow that cell's
    # sse in the stats of the UPDATED index (frozen centroids)
    far = spark.createDataFrame(pd.DataFrame(
        [{"vid": 100 + i, "v": [float(x + 3.0) for x in rows[i]["v"]]}
         for i in range(5)]))
    c2, x2 = K.update_vector_index(far, "vid", "v", cents, cells)
    got2 = {r["centroid_id"]: r["sse"]
            for r in K.vector_index_stats(c2, x2).collect()}
    assert sum(got2.values()) > sum(v[1] for v in want.values())


def test_collect_index_cap(spark):
    import pytest as _pt
    from polars_ds_extension_spark.operators import knn as K
    df = spark.createDataFrame([(i, [float(i)]) for i in range(40)],
                               "id bigint, v array<double>")
    with _pt.raises(ValueError, match="broadcast cap"):
        K._collect_index(df, "id", "v", max_rows=10)


def test_pq_knn_join_cap(spark):
    # r13 ADVICE: the ADC path must fail fast past the broadcast cap
    # with a pointer at the sharded ivfpq path, like knn._collect_index
    import pytest as _pt
    from polars_ds_extension_spark.operators import embedding as E
    rng = np.random.default_rng(5)
    X = rng.normal(size=(30, 8))
    sdf = spark.createDataFrame(
        pd.DataFrame({"vid": range(len(X)), "v": list(X)}))
    books = E.pq_train(sdf, "v", m=4, k=4, seed=1)
    enc = E.pq_encode(sdf, "vid", "v", books)
    qdf = sdf.limit(3).select(F.col("vid").alias("q_id"), "v")
    with _pt.raises(ValueError, match="ivfpq_knn_join"):
        E.pq_knn_join(qdf, "q_id", "v", enc, "vid", "codes", books,
                      k=2, max_index_rows=10)
    # under the cap: unchanged behavior, and the collected codes ride
    # the narrowest dtype (uint8 at K=4) without changing any value
    got = E.pq_knn_join(qdf, "q_id", "v", enc, "vid", "codes", books,
                        k=2).toPandas()
    assert len(got) == 6 and set(got["rank"]) == {1, 2}


def test_knn_join_max_bound(spark):
    from polars_ds_extension_spark.operators import knn as K
    rows = [(0, [0.0]), (1, [1.0]), (2, [10.0])]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    got = K.knn_join(df, "id", "v", df, "id", "v", k=2, metric="l2",
                     max_bound=2.0).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["id"], []).append((r["neighbor_id"], r["dist"]))
    # 0 and 1 keep only each other (dist 1 <= 2); 2 has no neighbor within 2
    assert sorted(by_q[0]) == [(1, 1.0)]
    assert sorted(by_q[1]) == [(0, 1.0)]
    assert 2 not in by_q
    import pytest as _pt
    with _pt.raises(ValueError, match="max_bound"):
        K.knn_join(df, "id", "v", df, "id", "v", metric="cosine",
                   max_bound=1.0)


def test_knn_join_l1_inf_metrics(spark):
    import numpy as np
    from polars_ds_extension_spark.operators import knn as K
    rng = np.random.default_rng(5)
    X = rng.normal(0, 1, (30, 4))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(30)],
        "id bigint, v array<double>")
    for metric, red in (("l1", lambda d: np.abs(d).sum(-1)),
                        ("inf", lambda d: np.abs(d).max(-1))):
        got = K.knn_join(df, "id", "v", df, "id", "v", k=3,
                         metric=metric).collect()
        D = red(X[:, None, :] - X[None, :, :])
        np.fill_diagonal(D, np.inf)
        for r in got:
            i, j = r["id"], r["neighbor_id"]
            assert r["dist"] == pytest.approx(D[i, j], rel=1e-12)
        # top-1 neighbor matches argmin
        top1 = {r["id"]: r["neighbor_id"] for r in got if r["rank"] == 1}
        for i in range(30):
            assert D[i, top1[i]] == pytest.approx(D[i].min(), rel=1e-12)


def test_semantic_dedup(spark):
    """ivf_cosine_pairs + semantic_dedup on planted duplicates: exact
    copies and a tiny perturbation cluster collapse to min-id
    survivors; unrelated vectors pass through."""
    from pyspark.sql import functions as F

    from polars_ds_extension_spark.operators import dedup as D
    from polars_ds_extension_spark.operators import knn as K

    rows = [
        (0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]),   # centroids
        (10, [5.0, 3.0, 0.0]), (11, [5.0, 3.0, 0.0]),  # exact dups
        (12, [5.02, 3.0, 0.0]),                        # near dup of 10/11
        (20, [0.0, 9.0, 4.0]),                         # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    pairs = K.ivf_cosine_pairs(df, "vec_id", "v", min_cosine=0.999,
                               n_centroids=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (10, 11) in got and (10, 12) in got and (11, 12) in got
    assert all(a < b for a, b in got)
    assert not any(20 in p for p in got)

    kept = sorted(r["vec_id"]
                  for r in D.semantic_dedup(df, "vec_id", "v",
                                            min_cosine=0.999,
                                            n_centroids=2).collect())
    assert kept == [0, 1, 10, 20]

    # max_cell salting keeps the op runnable on a degenerate all-one-cell
    # input (recall may drop, exact dups at identical salt still pair)
    salted = K.ivf_cosine_pairs(df, "vec_id", "v", min_cosine=0.999,
                                n_centroids=1, max_cell=3)
    assert salted.count() >= 0  # runs; bounded pair stage


def test_semantic_dedup_salted_default(spark):
    """r15 (r14 verdict #2): semantic_dedup ships the SALTED default —
    max_cell=10_000 — so the measured-quadratic within-cell term is
    bounded without opting in. Under the cap (every cell at every test
    and bench SF) the salt column is constant 0, so the default is
    RESULT-IDENTICAL to the explicit max_cell=None opt-out."""
    import inspect

    from polars_ds_extension_spark.operators import dedup as D

    default = inspect.signature(D.semantic_dedup).parameters["max_cell"]
    assert default.default == 10_000

    # 8 mutually-orthogonal one-hots (pairwise cosine 0), each with an
    # exact duplicate at id+100 — the pair set is exactly the 8 planted
    # dups, so keep-min-id returns ids 0..7
    rows = ([(i, [1.0 if j == i else 0.0 for j in range(8)])
             for i in range(8)]
            + [(100 + i, [1.0 if j == i else 0.0 for j in range(8)])
               for i in range(8)])
    df = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    kept_default = sorted(
        r["vec_id"] for r in D.semantic_dedup(
            df, "vec_id", "v", min_cosine=0.999, n_centroids=4).collect())
    kept_opt_out = sorted(
        r["vec_id"] for r in D.semantic_dedup(
            df, "vec_id", "v", min_cosine=0.999, n_centroids=4,
            max_cell=None).collect())
    assert kept_default == kept_opt_out == list(range(8))


def test_ivf_cell_stats_matches_pair_plan(spark):
    """ivf_cell_stats replays ivf_cosine_pairs' assignment + salting:
    within_pairs must equal the pair count an UNthresholded mine would
    emit, and salting must bound max_group."""
    from polars_ds_extension_spark.operators import knn as K

    rows = [(i, [float(i % 2), 1.0, 0.5 * i]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    stats = K.ivf_cell_stats(df, "vec_id", "v", n_centroids=2,
                             max_cell=None)
    assert stats["n_vectors"] == 20 and stats["n_cells"] <= 2
    # unthresholded mine emits exactly the within-group pair count
    mined = K.ivf_cosine_pairs(df, "vec_id", "v", min_cosine=-1.0,
                               n_centroids=2, max_cell=None).count()
    assert stats["within_pairs"] == mined
    # salting bounds the biggest group (and therefore the pair term)
    salted = K.ivf_cell_stats(df, "vec_id", "v", n_centroids=1,
                              max_cell=5)
    assert salted["max_group"] <= 2 * 5  # hash salt is uneven, ~cap
    assert salted["within_pairs"] < stats["within_pairs"] + 190


def test_ann_recall_counts_exact_overlap(spark):
    """ann_recall on hand-built neighbor frames: q1 recovers 2/3, q2
    3/3, q3 0/3 -> mean 5/9, min 0."""
    from polars_ds_extension_spark.operators.knn import ann_recall

    exact = spark.createDataFrame(
        [(q, n) for q, ns in [(1, [10, 11, 12]), (2, [20, 21, 22]),
                              (3, [30, 31, 32])] for n in ns],
        "vec_id long, neighbor_id long")
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 99),      # 2/3
         (2, 20), (2, 21), (2, 22),      # 3/3
         (3, 98), (3, 97), (3, 96)],     # 0/3
        "vec_id long, neighbor_id long")
    row = ann_recall(approx, exact).first()
    assert row["n_queries"] == 3
    assert abs(row["mean_recall"] - 5 / 9) < 1e-12
    assert row["min_recall"] == 0.0


def test_ann_recall_kmeans_centroids_beat_first(spark):
    """On clustered data, kmeans-trained IVF centroids must recover
    more of the exact neighbor set than the degenerate 'first'-id
    seeds — the tuning decision ann_recall exists to inform."""
    import numpy as np

    from polars_ds_extension_spark.operators.knn import (
        ann_recall, ivf_knn_join, knn_join)

    rng = np.random.default_rng(4)
    centers = rng.normal(size=(6, 8)) * 10
    X = np.concatenate([c + rng.normal(size=(40, 8)) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "id long, v array<double>")
    exact = knn_join(df, "id", "v", df, "id", "v", k=3, metric="cosine")
    r_first = ann_recall(
        ivf_knn_join(df, "id", "v", n_centroids=6, k=3,
                     centroids="first"),
        exact, "id").first()
    r_km = ann_recall(
        ivf_knn_join(df, "id", "v", n_centroids=6, k=3,
                     centroids="kmeans"),
        exact, "id").first()
    assert r_km["mean_recall"] > r_first["mean_recall"]
    assert r_km["mean_recall"] >= 0.6


# ------------------------------------------------------- dup-span signal

def test_dup_span_stats_flags_shared_spans(spark):
    # doc 1 and 2 share an identical 6-word span inside otherwise
    # distinct text; doc 3 is fully unique; doc 4 is too short.
    span = "the quick brown fox jumps high"
    pdf = pd.DataFrame({
        "id": [1, 2, 3, 4],
        "txt": [
            "alpha beta " + span + " gamma delta",
            "one two three " + span,
            "totally unique words with no repeats at all here now",
            "tiny doc",
        ],
    })
    out = T.dup_span_stats(spark.createDataFrame(pdf), "id", "txt", n=6) \
        .orderBy("id").toPandas()
    # doc 4 (2 tokens < n) emits no windows at all
    assert list(out["id"]) == [1, 2, 3]
    by_id = out.set_index("id")
    # doc1 has 10 tokens -> 5 windows; exactly the span window is shared
    assert by_id.loc[1, "n_windows"] == 5
    assert by_id.loc[1, "n_dup_windows"] == 1
    assert by_id.loc[2, "n_dup_windows"] == 1
    assert by_id.loc[3, "n_dup_windows"] == 0
    assert by_id.loc[3, "dup_frac"] == 0.0


def test_dup_char_span_catches_what_word_tier_misses(spark):
    """A shared 45-char run spanning only 6 words: the word-13-gram
    tier sees ZERO duplicated windows (no 13-word window repeats), the
    char tier flags the span — the Lee et al. char-fidelity gap the r7
    verdict called out, pinned."""
    span = "extraordinarily incomprehensible deinstitutionalization"
    pdf = pd.DataFrame({
        "id": [1, 2],
        "txt": [
            "alpha beta gamma delta " + span + " epsilon zeta eta theta "
            "iota kappa lam mu nu xi omicron pi rho sigma tau",
            "one two three four five six seven eight nine ten eleven "
            "twelve " + span + " thirteen fourteen",
        ],
    })
    df = spark.createDataFrame(pdf)
    word = T.dup_span_stats(df, "id", "txt", n=13).toPandas()
    assert word["n_dup_windows"].sum() == 0          # word tier blind
    char = T.dup_char_span_stats(df, "id", "txt", n=40).orderBy("id") \
        .toPandas()
    assert (char["n_dup_windows"] > 0).all()         # char tier catches
    # hash keys and exact string keys agree on collision-free data
    exact = T.dup_char_span_stats(df, "id", "txt", n=40, exact_keys=True) \
        .orderBy("id").toPandas()
    assert char.equals(exact)
    # stride=k is a 1/k-recall sampler: it catches the span only when
    # the per-doc span offsets agree mod k — pin both sides of that
    pre1 = "alpha beta gamma delta "
    pre2 = "one two three four five six seven eight nine ten eleven twelve "
    pad = "z" * ((len(pre1) - len(pre2)) % 3)
    aligned = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2],
        "txt": [pre1 + span + " epsilon zeta",
                pre2 + pad + span + " thirteen"],
    }))
    strided = T.dup_char_span_stats(aligned, "id", "txt", n=40, stride=3) \
        .orderBy("id").toPandas()
    assert (strided["n_dup_windows"] > 0).all()


def test_dup_span_stats_requires_distinct_docs(spark):
    # a span repeated WITHIN one doc is not a cross-doc duplicate
    pdf = pd.DataFrame({
        "id": [1],
        "txt": ["a b c d a b c d"],
    })
    out = T.dup_span_stats(spark.createDataFrame(pdf), "id", "txt", n=4) \
        .toPandas()
    assert out.loc[0, "n_dup_windows"] == 0


# ------------------------------------------------------- mixture resample

def test_mixture_sample_upweights_small_sources(spark):
    from polars_ds_extension_spark.functions import sample as SMP
    pdf = pd.DataFrame({
        "id": range(1000),
        "src": ["big"] * 900 + ["small"] * 100,
    })
    out = SMP.mixture_sample(spark.createDataFrame(pdf), "id", "src",
                             alpha=0.5).groupBy("src").count().toPandas()
    got = dict(zip(out["src"], out["count"]))
    # alpha=0.5 target shares: sqrt(900):sqrt(100) = 3:1 over 1000 rows
    # -> big ~750 kept of 900 (rate .833), small stays complete (rate
    # would be 2.5 -> capped at 1.0)
    assert got["small"] == 100
    assert 700 <= got["big"] <= 800


def test_mixture_sample_null_group_key(spark):
    # A NULL source label must neither crash the driver-side sort
    # (None vs str comparison) nor silently drop its rows from the
    # sample (null-comparing filter).
    from polars_ds_extension_spark.functions import sample as SMP
    pdf = pd.DataFrame({
        "id": range(300),
        "src": ["a"] * 100 + ["b"] * 100 + [None] * 100,
    })
    out = SMP.mixture_sample(spark.createDataFrame(pdf), "id", "src",
                             alpha=0.5).groupBy("src").count().toPandas()
    got = {(k if isinstance(k, str) else None): v
           for k, v in zip(out["src"], out["count"])}
    # equal-sized sources, alpha rebalancing keeps each complete
    assert got.get("a") == 100 and got.get("b") == 100
    assert got.get(None) == 100


def test_mixture_sample_deterministic(spark):
    from polars_ds_extension_spark.functions import sample as SMP
    pdf = pd.DataFrame({"id": range(500), "src": ["a", "b"] * 250})
    sdf = spark.createDataFrame(pdf)
    a = SMP.mixture_sample(sdf, "id", "src", alpha=0.5,
                           target_rows=300).toPandas()
    b = SMP.mixture_sample(sdf, "id", "src", alpha=0.5,
                           target_rows=300).toPandas()
    assert sorted(a["id"]) == sorted(b["id"])
    assert len(a) < 500


# ------------------------------------------------- global quantile filter

def test_filter_by_global_quantile_matches_rank_semantics(spark):
    from polars_ds_extension_spark.functions import sample as SMP
    vals = [5, 1, 9, 3, 3, 7, 7, 7, 2, 8]
    sdf = spark.createDataFrame(pd.DataFrame({"v": vals}))
    top = SMP.filter_by_global_quantile(sdf, "v", q=0.5, keep="top") \
        .toPandas()["v"].tolist()
    # n=10, cut=5; min-ranks: 1->1 2->2 3->3(x2) 5->5 7->6(x3) 8->9 9->10
    # keep rank > 5: the 7s, 8, 9
    assert sorted(top) == [7, 7, 7, 8, 9]
    bot = SMP.filter_by_global_quantile(sdf, "v", q=0.5, keep="bottom") \
        .toPandas()["v"].tolist()
    assert sorted(bot) == [1, 2, 3, 3, 5]


# ---------------------------------------------------- product quantization

def test_pq_roundtrip_and_recall(spark):
    from polars_ds_extension_spark.operators import embedding as E

    rng = np.random.default_rng(17)
    # clustered data: PQ recall is meaningful, not vacuous
    centers = rng.normal(0, 5, (10, 32))
    X = np.vstack([c + rng.normal(0, 0.4, (40, 32)) for c in centers])
    pdf = pd.DataFrame({"vid": range(len(X)), "v": list(X)})
    sdf = spark.createDataFrame(pdf)

    books = E.pq_train(sdf, "v", m=8, k=16, seed=3)
    assert books.shape == (8, 16, 4)
    enc = E.pq_encode(sdf, "vid", "v", books)
    codes = enc.toPandas().sort_values("vid")
    assert len(codes) == len(X)
    assert all(0 <= c < 16 for row in codes["codes"] for c in row)

    qdf = spark.createDataFrame(pdf.iloc[:25][["vid", "v"]])
    got = E.pq_knn_join(qdf, "vid", "v", enc, "vid", "codes",
                        books, k=10).toPandas()
    # exact brute-force top-10 (excluding nothing; self included both sides)
    import numpy.linalg as la
    recall = []
    for qi in range(25):
        d = ((X - X[qi]) ** 2).sum(1)
        exact = set(np.argsort(d, kind="stable")[:10])
        approx = set(got[got["vid"] == qi]["neighbor_id"])
        recall.append(len(exact & approx) / 10)
    assert np.mean(recall) >= 0.7, np.mean(recall)


def test_pq_encode_deterministic_first_method(spark):
    from polars_ds_extension_spark.operators import embedding as E

    rng = np.random.default_rng(5)
    X = rng.normal(0, 1, (64, 8))
    sdf = spark.createDataFrame(
        pd.DataFrame({"vid": range(64), "v": list(X)}))
    books = E.pq_train(sdf, "v", m=2, k=4, method="first")
    # 'first' codebooks are literally the first 4 sub-vectors
    assert np.allclose(books[0], X[:4, :4])
    assert np.allclose(books[1], X[:4, 4:])
    a = E.pq_encode(sdf, "vid", "v", books).toPandas().sort_values("vid")
    b = E.pq_encode(sdf, "vid", "v", books).toPandas().sort_values("vid")
    assert list(map(list, a["codes"])) == list(map(list, b["codes"]))


# ------------------------------------------------------- temporal joins

def test_asof_join_matches_pandas_merge_asof(spark):
    from polars_ds_extension_spark.operators import temporal as TJ

    rng = np.random.default_rng(23)
    left = pd.DataFrame({
        "k": rng.integers(0, 4, 60), "t": rng.integers(0, 1000, 60),
        "lv": rng.normal(size=60)})
    right = pd.DataFrame({
        "k": rng.integers(0, 4, 40), "t": rng.integers(0, 1000, 40),
        "px": rng.normal(size=40)})
    right = right.drop_duplicates(["k", "t"])
    got = TJ.asof_join(spark.createDataFrame(left),
                       spark.createDataFrame(right),
                       on="t", by=["k"], right_cols=["px"]) \
        .toPandas().sort_values(["k", "t", "lv"]).reset_index(drop=True)
    exp = pd.merge_asof(
        left.sort_values("t"), right.sort_values("t"),
        on="t", by="k", direction="backward", suffixes=("", "_right")) \
        .sort_values(["k", "t", "lv"]).reset_index(drop=True)
    assert len(got) == len(exp)
    a = got["px_right"].to_numpy()
    b = exp["px"].to_numpy() if "px" in exp else exp["px_right"].to_numpy()
    assert ((np.isnan(a) & np.isnan(b)) | (a == b)).all()


def test_asof_join_tolerance_and_ties(spark):
    from polars_ds_extension_spark.operators import temporal as TJ

    left = pd.DataFrame({"k": [1, 1, 1], "t": [10.0, 20.0, 100.0]})
    right = pd.DataFrame({"k": [1, 1], "t": [10.0, 15.0], "px": [5.0, 7.0]})
    out = TJ.asof_join(spark.createDataFrame(left),
                       spark.createDataFrame(right),
                       on="t", by=["k"], right_cols=["px"],
                       tolerance=10.0).toPandas().sort_values("t")
    # t=10 matches the equal-ts right row (inclusive); t=100 is > 10
    # past the last right row, so tolerance nulls it
    assert out.iloc[0]["px_right"] == 5.0
    assert out.iloc[1]["px_right"] == 7.0
    assert pd.isna(out.iloc[2]["px_right"])


def test_asof_join_null_payload_attaches_one_row(spark):
    # A NULL inside a right payload column must NOT make that field fall
    # back to an older right row: the newest right row is attached
    # atomically, NULLs included (polars/DuckDB asof semantics).
    from polars_ds_extension_spark.operators import temporal as TJ

    left = pd.DataFrame({"k": [1, 1], "t": [25.0, 12.0]})
    right = pd.DataFrame({
        "k": [1, 1], "t": [10.0, 20.0],
        "px": [5.0, None], "qty": [100.0, 200.0]})
    out = TJ.asof_join(spark.createDataFrame(left),
                       spark.createDataFrame(right),
                       on="t", by=["k"], right_cols=["px", "qty"]) \
        .toPandas().sort_values("t").reset_index(drop=True)
    # t=12 -> right t=10 row whole
    assert out.iloc[0]["px_right"] == 5.0
    assert out.iloc[0]["qty_right"] == 100.0
    assert out.iloc[0]["t_right"] == 10.0
    # t=25 -> right t=20 row whole: px NULL rides along, it does not
    # borrow px=5.0 from the t=10 row
    assert pd.isna(out.iloc[1]["px_right"])
    assert out.iloc[1]["qty_right"] == 200.0
    assert out.iloc[1]["t_right"] == 20.0


def test_range_join_matches_naive_and_avoids_nested_loop(spark):
    from polars_ds_extension_spark.operators import temporal as TJ

    rng = np.random.default_rng(31)
    pts = pd.DataFrame({"pid": range(300),
                        "v": rng.uniform(-50, 150, 300)})
    iv = pd.DataFrame({"iid": range(20),
                       "lo": rng.uniform(-60, 100, 20)})
    iv["hi"] = iv["lo"] + rng.uniform(1, 80, 20)
    got = TJ.range_join(spark.createDataFrame(pts), "v",
                        spark.createDataFrame(iv), "lo", "hi",
                        closed="left")
    gp = got.toPandas()
    naive = pts.merge(iv, how="cross")
    naive = naive[(naive["v"] >= naive["lo"]) & (naive["v"] < naive["hi"])]
    assert len(gp) == len(naive)
    assert (set(map(tuple, gp[["pid", "iid"]].values))
            == set(map(tuple, naive[["pid", "iid"]].values)))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    # closed='both' adds the v == hi boundary matches
    both = TJ.range_join(spark.createDataFrame(pts), "v",
                         spark.createDataFrame(iv), "lo", "hi",
                         closed="both").count()
    assert both >= len(gp)


def test_rollup_hypertable_coarse_equals_from_raw(spark):
    from polars_ds_extension_spark.operators import temporal as TJ

    rng = np.random.default_rng(41)
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-03-01", periods=500, freq="7min"),
        "g": [f"g{i % 3}" for i in range(500)],
        "v": rng.uniform(0, 100, 500),
    })
    sdf = spark.createDataFrame(pdf)
    lv = TJ.rollup_hypertable(
        sdf, "ts", {"n": ("count", "v"), "s": ("sum", "v"),
                    "mx": ("max", "v"), "a": ("avg", "v")},
        levels=("1 hour", "1 day"), by=["g"])
    # daily re-aggregated from hourly must equal daily from raw
    raw_day = sdf.groupBy(
        F.window("ts", "1 day").getField("start").alias("bucket"), "g") \
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"),
             F.max("v").alias("mx"), F.avg("v").alias("a")) \
        .toPandas().sort_values(["bucket", "g"]).reset_index(drop=True)
    got = lv["1 day"].toPandas().sort_values(["bucket", "g"]) \
        .reset_index(drop=True)
    assert (got["n"] == raw_day["n"]).all()
    assert got["s"].values == pytest.approx(raw_day["s"].values)
    assert got["mx"].values == pytest.approx(raw_day["mx"].values)
    assert got["a"].values == pytest.approx(raw_day["a"].values)
    # hourly level row count: 500 rows over 7min spacing ~ 59 hours x 3 groups
    assert lv["1 hour"].count() > got.shape[0]


def test_sample_exact_n(spark):
    from polars_ds_extension_spark.functions import sample as SMP

    pdf = pd.DataFrame({"id": range(997), "v": range(997)})
    sdf = spark.createDataFrame(pdf)
    a = SMP.sample_exact_n(sdf, "id", 100).toPandas()
    b = SMP.sample_exact_n(sdf, "id", 100).toPandas()
    assert len(a) == 100
    assert sorted(a["id"]) == sorted(b["id"])          # deterministic
    # spec: the 100 smallest (scramble_bucket, id) pairs
    bkt = ((pdf["id"] % 10_000) * 2654435761) % 10_000
    exp = pdf.assign(b=bkt).sort_values(["b", "id"]).head(100)["id"]
    assert sorted(a["id"]) == sorted(exp)
    # n >= rows: everything
    assert SMP.sample_exact_n(sdf, "id", 5000).count() == 997


# ----------------------------------------------------------------- BPE

def test_bpe_train_classic_corpus(spark):
    from polars_ds_extension_spark.operators import bpe as B

    corpus = ["low "] * 5 + ["lower "] * 2 + ["newest "] * 6 + ["widest "] * 3
    sdf = spark.createDataFrame(
        pd.DataFrame({"id": range(len(corpus)), "text": corpus}))
    m = B.bpe_train(sdf.orderBy("id"), "text", n_merges=5)
    # the Sennrich et al. example: 'es' then 'est' dominate
    assert m[0] == ("e", "s")
    assert m[1] == ("es", "t")
    assert ("l", "o") in m and ("lo", "w") in m


def test_bpe_train_partition_order_invariant(spark):
    # limit() takes whatever partitions answer first; the content-hash
    # sample must yield identical merges however the frame is laid out
    from polars_ds_extension_spark.operators import bpe as B

    rng = np.random.default_rng(5)
    vocab = ["alpha", "beta", "gamma", "delta", "spark", "query"]
    corpus = [" ".join(rng.choice(vocab, rng.integers(2, 8)))
              for _ in range(800)]
    pdf = pd.DataFrame({"id": range(len(corpus)), "text": corpus})
    base = spark.createDataFrame(pdf)
    layouts = [base.coalesce(1), base.repartition(32),
               base.repartition(7, "id").sortWithinPartitions(
                   F.col("id").desc())]
    # sample_rows < corpus size so the SELECTION (not just tie-break)
    # must be deterministic
    merges = [B.bpe_train(d, "text", n_merges=8, sample_rows=300)
              for d in layouts]
    assert merges[0] == merges[1] == merges[2]
    assert len(merges[0]) == 8


def test_bpe_encode_matches_reference_and_handles_unseen(spark):
    from polars_ds_extension_spark.operators import bpe as B

    corpus = ["low "] * 5 + ["lower "] * 2 + ["newest "] * 6 + ["widest "] * 3
    sdf = spark.createDataFrame(
        pd.DataFrame({"id": range(len(corpus)), "text": corpus}))
    m = B.bpe_train(sdf.orderBy("id"), "text", n_merges=10)
    test = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2, 3, 4],
        "text": ["lowest low", "newest newest", "unseen xyz", None]}))
    out = {r["id"]: (r["n_tokens"], list(r["tokens"]))
           for r in B.bpe_encode(test, "id", "text", m,
                                 with_tokens=True).collect()}
    assert out[1] == (3, ["low", "est</w>", "low</w>"])
    assert out[2] == (2, ["newest</w>", "newest</w>"])
    assert out[3][0] == 11          # character fallback for unseen words
    assert out[4] == (0, [])        # null text


def test_contamination_report_fractions(spark):
    """Planted overlap: doc 1 shares half its 3-gram set with the
    benchmark, doc 2 none."""
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta unique tail here"),
         (2, "completely different words only in this doc")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.contamination_report(
        docs, "doc_id", "text", bench, "text", n_gram=3).collect()}
    # doc1: 5 distinct 3-grams, 2 of them ("alpha beta gamma",
    # "beta gamma delta") in the benchmark
    assert out[1]["n_grams"] == 5 and out[1]["n_contaminated_grams"] == 2
    assert out[1]["overlap_frac"] == 0.4
    assert out[2]["n_contaminated_grams"] == 0 and out[2]["overlap_frac"] == 0.0


def test_srp_bucket_stats(spark):
    """srp_bucket_stats replays ann_lsh_join's bucket pipeline: planted
    identical copies must surface as non-singleton buckets (pair slots
    >= one slot per planted pair per colliding table), zero-norm rows
    are excluded from n_rows, and a tiny max_bucket reports drops
    instead of silently capping."""
    from pyspark.sql import functions as F

    from polars_ds_extension_spark.operators import knn as K
    from polars_ds_extension_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings") \
        .select("vec_id", F.col("embedding").cast("array<double>")
                .alias("v")).limit(40)
    dup = emb.select((F.col("vec_id") + 10_000).alias("vec_id"), "v")
    zero = spark.range(1).select(
        (F.col("id") + 20_000).alias("vec_id"),
        F.array(*[F.lit(0.0)] * 64).alias("v"))
    u = emb.unionByName(dup).unionByName(zero)
    st = K.srp_bucket_stats(u, "vec_id", "v", n_tables=4, n_planes=10)
    assert st["n_rows"] == 80  # zero-norm row excluded
    # every identical pair collides in EVERY table (same signature)
    assert st["pair_slots"] >= 40 * 4
    assert st["max_bucket_size"] >= 2
    assert st["dropped_buckets"] == 0
    st2 = K.srp_bucket_stats(u, "vec_id", "v", n_tables=4, n_planes=10,
                             max_bucket=1)
    assert st2["dropped_buckets"] == st2["n_buckets"]
    assert st2["pair_slots"] == 0
