"""The two workloads. Each one makes its inputs from the seed,
defines one pass as an ordered list of (op type, op), and checks its
outputs in a gate that runs outside the timed window.

Every op calls into the library through ``Run.call``/``Run.span`` so the
traced run can attribute its time to the layer it entered.
"""

from __future__ import annotations

import math
import os
import random

import duckdb
import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
import oracle

JACCARD = 0.7
SHINGLE_K = 12
_QUANTILES = {"quality": [0.1, 0.5, 0.9], "n_chars": [0.25, 0.5, 0.75]}
# The catalog's sf0.01 test tables, copied byte for byte.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# Short catalog queries on the sf0.01 tables (0.07-0.20 s each once fully
# warm, on 4 cores; every one passes its DuckDB oracle there), taken from
# 8 equal cost slices of the 96 shortest. Fixed per-query cost (plan
# build, eager gate jobs, Catalyst, job launch) is most of their wall,
# which is what query_mix measures. A pass runs every FIXED query and
# one query of each of the QUERY_PAIRS, in an order the seed shuffles.
# FIXED holds the four slowest in a timed pass (0.45-0.55 s), so the
# slowest op, which op_tail_s reports, is always one of them. Pairs hold
# queries of about the same wall in a timed pass (0.24-0.35 s), so seeds
# differ in which queries run but not in how heavy the pass is.
FIXED = ("woe_iv", "token_mixture", "jaccard_arrays", "blueprint_lin_impute")
QUERY_PAIRS = [
    ("sample_split", "cat_cross_entropy"), ("ttest", "kfold_split"), ("dcg", "random_envelope"),
    ("zorder_key", "tpr_fpr"), ("histogram", "copula_entropy"),
]


def _force(run, df, name):
    """Run ``df`` to completion, touching every column (row count and
    xor of per-row xxhash64)."""
    from pyspark.sql import functions as F

    c = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns)))
    with run.span(name):
        c.collect()
    run.forced(c)


class QueryMix:
    """Many short catalog queries on the catalog's sf0.01 tables."""

    name = "query_mix"
    # The first warm pass is the gate's collect pass. Passes got faster
    # until about the sixth (13.0, 3.6, 2.9, 2.5, 2.4, 2.3 s on 4 cores);
    # after three warm passes the timed passes were still speeding up.
    warm_passes = 6
    pass_s = 3.0  # nominal wall of one warm pass on 4 cores
    queries_per_pass = 9

    def generate(self, seed, data):
        self.dir = SF_DIR
        self.tables = sorted(f[:-len(".parquet")] for f in os.listdir(SF_DIR) if f.endswith(".parquet"))
        rng = random.Random(seed)
        self.names = list(FIXED) + [rng.choice(pair) for pair in QUERY_PAIRS]
        self.names = self.names[-self.queries_per_pass:]
        rng.shuffle(self.names)
        return {"queries": self.names}

    def setup(self, run):
        import __spark_entry__

        catalog = __spark_entry__.queries()
        self.fns = {n: catalog[n] for n in self.names}
        self.spark_hash: dict[str, str] = {}
        self.rows: dict[str, int] = {}

    def passes(self, run, warm_index):
        return [(n, self._collect_op(n) if warm_index == 0 else self._count_op(n))
                for n in self.names]

    def _collect_op(self, name):
        def op(run):
            pdf = run.call("queries.build", lambda: self.fns[name](run.spark, self.dir)).toPandas()
            self.spark_hash[name] = oracle.result_hash(pdf)
            self.rows[name] = len(pdf)
        return op

    def _count_op(self, name):
        def op(run):
            df = run.call("queries.build", lambda: self.fns[name](run.spark, self.dir))
            c = df.groupBy().count()
            with run.span("queries.action"):
                n = c.collect()[0][0]
            run.forced(c)
            if n != self.rows[name]:
                raise AssertionError(f"{name}: {n} rows, gate pass saw {self.rows[name]}")
        return op

    def gate(self, run):
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            bad = [n for n in self.names
                   if oracle.result_hash(con.sql(oracles[n]).df()) != self.spark_hash.get(n)]
        finally:
            con.close()
        return not bad, {"oracle_mismatch": bad, "checked": len(self.names)}

    def inputs(self):
        return [os.path.join(self.dir, f"{t}.parquet") for t in self.tables]

    def outputs(self):
        return []


def _shingles(text: str) -> set[str]:
    return {text[i:i + SHINGLE_K] for i in range(max(len(text) - SHINGLE_K + 1, 1))}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter) if sa or sb else 0.0


class CorpusDedup:
    """A corpus curation chain, each stage read back from the previous
    stage's parquet: text cleaning and quality gates -> near-dup pairs
    -> their connected components -> embedding dedup of the survivors
    -> per-source statistics, exact quantiles and tie-averaged ranks of
    the kept documents -> a fitted feature pipeline -> training shards
    of the features."""

    name = "corpus_dedup"
    warm_passes = 1
    pass_s = 15.0  # nominal wall of one warm pass on 4 cores
    n_docs = 1200

    def generate(self, seed, data):
        self.data = os.path.join(data, "corpus")
        info = gen.corpus(seed, self.data, n_docs=self.n_docs)
        self.clusters = info["clusters"]
        return {"docs": info["n_docs"], "planted_clusters": len(self.clusters)}

    def setup(self, run):
        self.out = run.out
        self.result = {}

    def passes(self, run, warm_index):
        return [("clean", self.clean), ("near_dup_pairs", self.near_dup_pairs),
                ("connected_components", self.components), ("semantic_dedup", self.semantic),
                ("group_stats", self.group_stats), ("quantiles", self.quantiles),
                ("avg_rank", self.avg_rank), ("pipeline", self.pipeline),
                ("shards", self.shards)]

    def _write(self, df, name):
        df.write.mode("overwrite").parquet(os.path.join(self.out, f"{name}.parquet"))

    def clean(self, run):
        from pyspark.sql import functions as F

        from polars_ds_extension_spark.operators import dedup as D
        from polars_ds_extension_spark.operators import text as T

        docs = _load(run, self.data, "docs")
        stripped = run.call("operators.build", lambda: D.strip_boilerplate(
            docs, "doc_id", "text", group_col="source", min_docs=3, min_frac=0.5))
        cleaned = run.call("operators.build", lambda: (
            stripped.join(docs.select("doc_id", "source"), "doc_id")
            .select("doc_id", "source", T.fix_double_encoded("text").alias("text"))
            .where(T.gopher_rules("text").getField("pass"))
            .select("doc_id", "source", "text", T.quality_score("text").alias("quality"),
                    F.length("text").cast("double").alias("n_chars"),
                    T.token_count("text").cast("double").alias("n_words"))))
        with run.span("operators.gopher_rules.action"):
            self._write(cleaned, "clean")

    def near_dup_pairs(self, run):
        from polars_ds_extension_spark.operators import dedup as D

        clean = _load(run, self.out, "clean")
        pairs = run.call("operators.build", lambda: D.near_dup_pairs(
            clean, "doc_id", "text", threshold=JACCARD, shingle_k=SHINGLE_K))
        with run.span("operators.near_dup_pairs.action"):
            self._write(pairs, "pairs")

    def components(self, run):
        from polars_ds_extension_spark.operators import dedup as D

        pairs = _load(run, self.out, "pairs")
        comps = run.call("operators.build", lambda: D.connected_components(pairs, "id_a", "id_b"))
        with run.span("operators.connected_components.action"):
            self._write(comps, "comps")

    def semantic(self, run):
        from pyspark.sql import functions as F

        from polars_ds_extension_spark.operators import dedup as D

        emb = _load(run, self.data, "emb")
        clean = _load(run, self.out, "clean").select("doc_id")
        comps = _load(run, self.out, "comps")
        survivors = (emb.join(clean, "doc_id")
                     .join(comps, emb["doc_id"] == comps["id"], "left")
                     .where(F.col("comp").isNull() | (F.col("comp") == F.col("doc_id")))
                     .select("doc_id", "v"))
        kept = run.call("operators.build", lambda: D.semantic_dedup(
            survivors, "doc_id", "v", min_cosine=0.95, n_centroids=16))
        with run.span("operators.semantic_dedup.action"):
            self._write(kept.select("doc_id"), "kept")

    def _kept_docs(self, run):
        return _load(run, self.out, "clean").join(_load(run, self.out, "kept"), "doc_id")

    def group_stats(self, run):
        import polars_ds_extension_spark as pds

        aggs = run.call("functions.build", lambda: [
            pds.weighted_mean("quality", "n_chars").alias("wmean"),
            pds.weighted_var("quality", "n_chars").alias("wvar"),
            pds.gmean("n_chars").alias("gmean"),
            pds.query_l1("n_chars", "n_words").alias("l1"),
        ])
        res = self._kept_docs(run).groupBy("source").agg(*aggs)
        with run.span("functions.action"):
            rows = res.collect()
        run.forced(res)
        self.result["group_stats"] = {r["source"]: r.asDict() for r in rows}

    def quantiles(self, run):
        from polars_ds_extension_spark.plans.ranks import exact_quantiles

        docs = self._kept_docs(run)
        self.result["quantiles"] = run.call("plans.build", lambda: exact_quantiles(docs, _QUANTILES))

    def avg_rank(self, run):
        from pyspark.sql import functions as F

        from polars_ds_extension_spark.plans.ranks import global_avg_rank

        docs = self._kept_docs(run)
        ranked = run.call("plans.build", lambda: global_avg_rank(docs, "n_chars", by=["source"]))
        c = ranked.agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.col("avg_rank") * F.col("n_words")).alias("s"))
        with run.span("plans.action"):
            row = c.collect()[0]
        run.forced(c)
        self.result["avg_rank"] = (row["n"], row["s"])

    def pipeline(self, run):
        from polars_ds_extension_spark.pipeline import Pipeline
        from polars_ds_extension_spark.pipeline.transforms import OneHot, Scale, Winsorize

        docs = self._kept_docs(run)
        self.pipe = run.call("pipeline.fit", lambda: Pipeline([
            Winsorize(["n_chars", "n_words"], 0.01, 0.99),
            Scale(["n_chars", "n_words"], method="standard"),
            OneHot(["source"]),
        ]).fit(docs))
        with run.span("pipeline.transform"):
            _force(run, self.pipe.transform(docs), "pipeline.action")

    def shards(self, run):
        from polars_ds_extension_spark.sources import write_training_shards

        feats = self.pipe.transform(self._kept_docs(run))
        with run.span("sinks.write"):
            write_training_shards(feats, os.path.join(self.out, "shards"), "doc_id", n_shards=8)

    def gate(self, run):
        clean = pq.read_table(os.path.join(self.out, "clean.parquet")).to_pydict()
        text = dict(zip(clean["doc_id"], clean["text"]))
        pairs = pq.read_table(os.path.join(self.out, "pairs.parquet")).to_pydict()
        found = set(zip(pairs["id_a"], pairs["id_b"]))
        below = [(a, b) for a, b in found if _jaccard(text[a], text[b]) < JACCARD]
        planted, hit = 0, 0
        expect_kept = set(text)
        for members in self.clusters:
            alive = [m for m in members if m in text]
            expect_kept -= set(alive[1:])
            for i, a in enumerate(alive):
                for b in alive[i + 1:]:
                    if _jaccard(text[a], text[b]) >= JACCARD:
                        planted += 1
                        hit += (a, b) in found
        kept = set(pq.read_table(os.path.join(self.out, "kept.parquet")).column("doc_id").to_pylist())
        shard_ids = ds.dataset(os.path.join(self.out, "shards"), partitioning="hive") \
            .to_table(columns=["doc_id"]).column("doc_id").to_pylist()
        bad = self._feature_mismatches()
        if below:
            bad.append("pairs_below_threshold")
        if kept != expect_kept:
            bad.append("kept")
        if len(shard_ids) != len(kept) or set(shard_ids) != kept:
            bad.append("shard_rows")
        return not bad, {"mismatch": bad, "pairs": len(found), "pairs_below_threshold": len(below),
                         "planted_pairs": planted, "planted_recall": hit / planted if planted else 1.0,
                         "kept": len(kept), "kept_expected": len(expect_kept),
                         "shard_rows": len(shard_ids), "docs_after_gates": len(text)}

    def _feature_mismatches(self):
        """Statistics, quantiles and ranks of the kept documents against
        DuckDB on the same parquet; the shards' centring and one-hot
        columns."""
        bad = []
        con = duckdb.connect()
        try:
            con.execute(f"""CREATE VIEW docs AS
                SELECT c.* FROM '{self.out}/clean.parquet/*.parquet' c
                JOIN '{self.out}/kept.parquet/*.parquet' k USING (doc_id)""")
            exp = con.sql("""
                SELECT source,
                  SUM(quality * n_chars) / SUM(n_chars) AS wmean,
                  SUM(n_chars * quality * quality) / SUM(n_chars)
                    - POW(SUM(n_chars * quality) / SUM(n_chars), 2) AS wvar,
                  EXP(AVG(LN(n_chars))) AS gmean,
                  AVG(ABS(n_chars - n_words)) AS l1
                FROM docs GROUP BY source""").fetchall()
            got = self.result.get("group_stats", {})
            for k, *vals in exp:
                g = got.get(k)
                for name, v in zip(("wmean", "wvar", "gmean", "l1"), vals):
                    if g is None or not math.isclose(g[name], v, rel_tol=1e-9, abs_tol=1e-12):
                        bad.append(f"group_stats[{k}].{name}")
            if len(got) != len(exp):
                bad.append("group_stats.groups")
            q = self.result.get("quantiles", {})
            for col, probs in _QUANTILES.items():
                want = con.sql(f"SELECT quantile_cont({col}, {list(probs)}) FROM docs").fetchone()[0]
                if not np.allclose(q.get(col, []), want, rtol=1e-12, atol=0):
                    bad.append(f"quantiles.{col}")
            n, s = con.sql("""
                SELECT COUNT(*), SUM(r * n_words) FROM (
                  SELECT n_words, RANK() OVER (PARTITION BY source ORDER BY n_chars)
                    + (COUNT(*) OVER (PARTITION BY source, n_chars) - 1) / 2.0 AS r FROM docs)""").fetchone()
            gn, gs = self.result.get("avg_rank", (None, None))
            if gn != n or gs is None or not math.isclose(gs, s, rel_tol=1e-9):
                bad.append("avg_rank")
            shards = os.path.join(self.out, "shards", "*", "*.parquet")
            onehot = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM '{shards}'").fetchall()
                      if r[0].startswith("source_")]
            sn, smean, ssum = con.sql(f"""SELECT COUNT(*), AVG(n_chars),
                SUM({' + '.join(onehot) or '0'}) FROM '{shards}'""").fetchone()
            if sn != n or abs(smean) > 1e-6 or len(onehot) != len(exp) or ssum != sn:
                bad.append("shard_features")
        finally:
            con.close()
        return bad

    def inputs(self):
        return [os.path.join(self.data, f) for f in ("docs.parquet", "emb.parquet")]

    def outputs(self):
        return [os.path.join(self.out, "shards")]

    def candidate_stats(self, run):
        """Verified pairs per LSH candidate slot (traced run only)."""
        from polars_ds_extension_spark.operators import dedup as D

        clean = _load(run, self.out, "clean")
        with run.span("dedup.lsh_candidate_stats"):
            st = D.lsh_candidate_stats(clean, "doc_id", "text", shingle_k=SHINGLE_K)
        n_pairs = ds.dataset(os.path.join(self.out, "pairs.parquet")).count_rows()
        return n_pairs / max(st["cand_slots"], 1)


def _load(run, where, name):
    from polars_ds_extension_spark.sources import load_table

    return run.call("sources.load", lambda: load_table(run.spark, where, name))


WORKLOADS = {w.name: w for w in (QueryMix, CorpusDedup)}
