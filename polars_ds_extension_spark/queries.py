"""Query catalog: every implemented operator exposed as a
(spark_callable, oracle_sql) pair over the synthetic test tables.

The driver runs each Spark query and its DuckDB oracle side-by-side and
hash-compares values — so both sides round floats to 6 dp and use
identical algebraic formulations. Columns are aliased identically.

Conventions:
  * spark callables: (spark, sf_dir) -> DataFrame
  * oracle SQL: ANSI-ish DuckDB SQL over pre-registered views
    region nation customer supplier part orders lineitem events
    documents embeddings
  * floats rounded via _r / ROUND(x, 6) on BOTH sides
  * no timestamp columns in outputs (ns-vs-us precision differs across
    engines); timestamps are used only for ordering
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import functions as _f  # noqa: F401
from .functions import metrics as M
from .functions import num as N
from .functions import stats as S
from .functions import string_ as STR
from .functions import ts as TS
from .sources import load_table

_SPARK_QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: Dict[str, str] = {}


def _r(c, scale: int = 6):
    return F.round(c.cast("double"), scale)


def query(name: str, sql: str | None = None):
    def deco(fn):
        _SPARK_QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn
    return deco


# Round of each query's MOST RECENT driver hash-green stamp
# (CORRECTNESS_r02/r03/r04 union, latest wins). The driver verifies a
# bounded catalog-order prefix (~50), so ordering decides which queries
# get a fresh hard row each round: unstamped/stale oracled queries
# first, then greens oldest-stamp-first so every green row re-verifies
# within ~2 rounds. New queries (absent here) automatically sort front.
_GREEN_ROUND = {
    # last stamped in round 10
    "elastic_net": 10, "lin_reg_multi": 10, "lin_reg_report": 10,
    "logistic_reg": 10, "pipeline_encode": 10, "pipeline_iv_rankhot": 10,
    "product": 10, "rolling_lin_reg": 10, "sample_split": 10,
    "simple_lin_reg": 10, "smooth_spline_natural": 10, "snapshot_diff": 10,
    "stream_dedup": 10, "stream_running_stats": 10,
    "stream_sessionize": 10, "stream_windowed_agg": 10,
    # last stamped in round 11
    "ar_coeffs": 11, "array_math": 11, "bpe_tokenize_oracle": 11,
    "chunk_by_tokens": 11, "corr_matrix": 11, "dia_col_validation": 11,
    "dia_row_validation": 11, "downsample": 11, "eda_flags": 11,
    "float_neighbors": 11, "glm_poisson": 11, "hypertable_rollup": 11,
    "isotonic": 11, "jaccard_arrays": 11, "kendall": 11,
    "lin_reg_rcond_oracle": 11, "pca": 11, "permute_entropy": 11,
    "range_join": 11, "rfft": 11, "salted_join": 11, "sample_exact_n": 11,
    "select_by_std_cols": 11, "series_entropy_oracle": 11,
    "similar_count": 11, "singular_values": 11, "smooth_spline_oracle": 11,
    "stream_curation_gate": 11, "stream_interval_join": 11,
    "string_kernels_oracle": 11, "volume_neutral": 11,
    # last stamped in round 12
    "ann_ivf_search": 12, "batch_sessionize": 12,
    "bloom_decontaminate": 12, "cohort_retention": 12, "event_funnel": 12,
    "feature_screen": 12, "fuzzy_match": 12, "group_sample_exact": 12,
    "group_split": 12, "ivf_ann": 12, "ivf_recall": 12, "ivfpq_search": 12,
    "kfold_split": 12, "knn_auto_route": 12, "ngram_diversity": 12,
    "normalized_dedup": 12, "pack_sequences": 12, "pmi_collocations": 12,
    "recursive_lin_reg": 12, "regional_volume": 12,
    "repetition_signals": 12, "rolling_anomaly": 12, "scd2_history": 12,
    "script_profile": 12, "stream_topk": 12, "stream_upsert": 12,
    "time_gapfill": 12, "token_budget_sample": 12, "triangle_count": 12,
    "unicode_clean": 12, "upsert_latest": 12, "vocab_nearest_metrics": 12,
    "weighted_sample": 12, "zorder_key": 12,
    # last stamped in round 13
    "add_at": 13, "asof_join": 13, "asof_join_forward": 13, "bicor": 13,
    "blocked_jaccard": 13, "cat_cross_entropy": 13,
    "contamination_report": 13, "convolve": 13, "copula_entropy": 13,
    "curation_pipeline": 13, "curation_pipeline_v2": 13,
    "decontaminate": 13, "dia_profile": 13, "drift_over_time": 13,
    "dup_char_spans": 13, "dup_spans": 13, "embedding_drift": 13,
    "fuzzy_entity_dedup": 13, "gopher_gate": 13, "histogram": 13,
    "kaplan_meier": 13, "key_skew": 13, "kmeans": 13, "kmeans_inertia": 13,
    "knn_entropy": 13, "linear_impute": 13, "mad": 13,
    "mixture_resample": 13, "near_dup_simhash": 13,
    "pipeline_poly_impute": 13, "pipeline_qbin": 13,
    "pipeline_transform": 13, "pricing_summary": 13, "psi": 13,
    "quality_quantile_filter": 13, "smooth_spline": 13,
    "stream_decontaminate": 13, "text_quality": 13, "token_mixture": 13,
    "tpr_fpr": 13, "transfer_entropy": 13, "winsorize": 13,
    # last stamped in round 14
    "benford": 14, "blueprint_dyn_agg": 14, "blueprint_lin_impute": 14,
    "chi2": 14, "classification_metrics": 14, "cond_entropy": 14,
    "cond_indep": 14, "count_uniques": 14, "dcg": 14, "dedup_stats": 14,
    "dist_kth_nb": 14, "dup_cluster_downsample": 14,
    "dup_cluster_sizes": 14, "elementwise_math": 14, "entropy": 14,
    "exact_dedup": 14, "f_test": 14, "gcd_lcm": 14,
    "integrate_detrend": 14, "is_monotonic": 14, "knn_avg_label": 14,
    "knn_cosine": 14, "knn_freq": 14, "language_id": 14, "mean_family": 14,
    "near_dup_cluster_dedup": 14, "near_dup_minhash": 14, "normality": 14,
    "pipeline_blueprint": 14, "regression_metrics": 14,
    "softmax_znorm": 14, "string_cleaning": 14, "string_similarity": 14,
    "target_encode": 14, "token_stats": 14, "top_ngrams": 14,
    "ts_autocorr": 14, "ts_moments": 14, "ts_ordered": 14,
    "ts_streaks": 14, "ttest": 14, "vocab_nearest": 14,
    "weighted_stats": 14, "woe_iv": 14,
    # last stamped in round 15
    "bigram_lm": 15, "bm25_score": 15, "chunk_documents": 15,
    "combinations": 15, "corr_family": 15, "curation_pipeline_v3": 15,
    "dsir_sample": 15, "eda_describe": 15, "embedding_ops": 15,
    "fingerprints": 15, "graph_degrees": 15, "incremental_dedup": 15,
    "index_update": 15, "knn_from_target": 15, "ks_2samp": 15,
    "leakage_safe_split": 15, "line_dedup": 15, "lsh_recall": 15,
    "mann_whitney": 15, "mase_full": 15, "multi_roc_auc": 15,
    "multimodal_blobs": 15, "multimodal_decode": 15,
    "multimodal_resize": 15, "onlinelr_merge": 15, "pagerank": 15,
    "pagerank_personalized": 15, "perplexity_gate": 15, "pii_scrub": 15,
    "pq_encode": 15, "pq_search": 15, "prebuilt_index_dedup": 15,
    "quality_classifier": 15, "radius_nb_cnt": 15, "random_envelope": 15,
    "roc_auc": 15, "semantic_decontaminate": 15, "semantic_dedup": 15,
    "series_entropy": 15, "shuffle_shards": 15, "source_overlap": 15,
    "stratified_sample": 15, "strip_boilerplate": 15, "tfidf_topk": 15,
    "vector_index_build": 15, "vector_index_search": 15,
    "vector_index_stats": 15, "vector_index_update": 15,
    "within_radius_target": 15, "xi_corr": 15,
}

# Queries whose covering code changed AFTER their last stamp — their
# green rows are stale, so they rank with the unstamped until the
# driver re-stamps them.
# NB (r9): the session-level exclusion of InferFiltersFromGenerate
# (session.py) touches EVERY query's physical plan but changes no
# expression semantics (it removes a redundant inferred filter that
# re-evaluated exploded UDF columns). Rather than staling all 186
# rows — which would evict the r4-stamp rotation from the driver
# prefix — the change was verified by a full independent mirror run:
# 186/186 hash-green at sf0.01 on the final tree.
# NB: sources.load_table now reads each table's schema from its parquet
# footer on the driver (sources.parquet_schema) instead of Spark's
# one-task inference job. That touches every query's table scan but no
# plan: the optimized logical plans of all 217 queries are identical
# once expression, plan and AQE stage ids and lambda-variable suffixes
# are stripped. As with r9, it was verified by full check_oracles runs
# (217/217 at sf0.001 and at sf0.01) instead of staling all 217 rows.
_STALE = frozenset({
    # (r15's stale set re-stamped by CORRECTNESS_r15 — all 50 prefix
    # rows hash-green; folded above. Round-16 OPTIMIZATION entries
    # accumulate below: every query whose covering kernel/plan changed
    # this round ranks ahead of the oldest-stamp rotation. The
    # optimization contract independently re-oracles the full catalog
    # at sf0.001 + sf0.01 at round end.)
    # round 16 (r15 verdict #2): global_rank_pair / global_rank_then_lag
    # collect O(P) per-axis MARGINALS from one grouping-sets agg instead
    # of the dense (pid_x × pid_y) grid (O(P²) driver rows at cluster
    # parallelism). Values identical (marginals of the same counts; the
    # per-x-bucket last row comes from the same max_by, now grouped
    # server-side); covering plans changed for every fused-rank consumer.
    "corr_family", "xi_corr", "copula_entropy",
    # round 16 (r15 verdict #1): the composed index-lifecycle queries
    # pre-materialize their independent minhash bases CONCURRENTLY
    # (_overlap_minhash_bases; guide §2.6) and pass them to build/
    # update/probe via _base=. Same frames, same pins — the serialized
    # eager counts become overlapped jobs; values identical.
    "index_update", "prebuilt_index_dedup",
    # round 16 (r15 verdict #4): the exact (x−c)² assignment kernel is
    # cache-blocked (cluster._dist2_np) — bit-identical distances
    # (numpy pairwise sum over each element's own contiguous dim-run),
    # ~dim-fold less DRAM traffic, kills the 32-worker memory-bandwidth
    # contention diagnosed in r15. Covering kernel for every kmeans/IVF
    # assignment consumer.
    "kmeans", "kmeans_inertia", "knn_auto_route", "ann_ivf_search",
    "ivf_ann", "ivf_recall", "ivfpq_search", "semantic_dedup",
    "vector_index_build", "vector_index_search", "vector_index_stats",
    "vector_index_update",
    # (a round-16 cache-blocked variant of the minhash banding kernel
    # was built, measured bit-identical — and REVERTED: at catalog
    # batch shapes the single-task blocked path lost ~2×, and its
    # 32-way contention win is not gateable on batch size alone; see
    # OPTIMIZATION_r16.md. The shipped kernel is byte-identical to
    # r15's, so its consumers are not staled here.)
    # round 16 (r15 verdict #6): curation_pipeline_v3 pins its LM score
    # frame (the global-quantile rank plan read it twice, re-training
    # the bigram LM each time — 63 → 42 driver jobs, values identical).
    # pagerank releases superseded iteration pins at each eager
    # checkpoint (r15 advice — storage hygiene, values identical);
    # bigram_lm_score's unigram broadcast hint is now gated on the
    # vocab cap (catalog plans unchanged — all callers cap).
    "curation_pipeline_v3", "pagerank", "pagerank_personalized",
    "perplexity_gate", "bigram_lm",
    # every query that builds a minhash base: k-grams are hashed and
    # banded by one Arrow kernel (dedup.shingle_minhash) instead of a
    # JVM transform lambda plus a banding UDF — shingle and band hashes
    # bit-identical (parity tests) — and near_dup_pairs' uncollapsed
    # branch filters identical-text candidates inside the verify join
    # (same pairs, two fewer joins); jaccard_distinct let-binds its
    # intersection (same values). index_update and
    # prebuilt_index_dedup, listed above, build one too. The eight
    # that verify candidates (all but stream_decontaminate) change plan
    # again: one shared verify step keeps jaccard >= threshold inside a
    # Generate, so each pair's intersection runs once (same pairs).
    "dup_cluster_downsample", "dup_cluster_sizes", "incremental_dedup",
    "leakage_safe_split", "near_dup_cluster_dedup", "near_dup_minhash",
    "stream_decontaminate",
    # query_r2 / query_adj_r2 return NULL on a zero-variance group and
    # Scale divides by 1 on a zero spread (both raised DIVIDE_BY_ZERO
    # under ANSI); values elsewhere unchanged.
    "regression_metrics", "pipeline_transform",
    # ivf_ann, ivf_recall and ivfpq_search (listed above) change plan
    # again: every IVF step is written once in operators/knn.py.
    # ivf_knn_join's salting pins the assignment output like
    # ivf_cosine_pairs, so the cell census and the top-k read one
    # assignment pass (ivf_ann, ivf_recall); ivfpq_knn_join routes
    # queries through ivf_assign_probe instead of its own routing batch
    # (ivfpq_search). Rows identical; the other vector queries keep
    # their plans.
})


def _ordered(names) -> list:
    # Rank by how much a hard driver row would ADD: oracled queries with
    # no current stamp (new or stale) first, rows-only next (they get
    # the same weak row-count check wherever they sit), stamped greens
    # last — oldest stamp first, so evidence rotates.
    def key(n: str):
        stamped = n in _GREEN_ROUND and n not in _STALE
        if not stamped:
            rank = 1 if n not in _ORACLES else 0
            # brand-new queries (never stamped) carry more evidence
            # value than stale re-stamps (green once, code touched) —
            # new first when the prefix can't cover both
            rnd = 1 if n in _GREEN_ROUND else 0
        else:
            rank = 2
            rnd = _GREEN_ROUND[n]
        return (rank, rnd, list(_SPARK_QUERIES).index(n))

    return sorted(names, key=key)


def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _SPARK_QUERIES[n] for n in _ordered(_SPARK_QUERIES)}


def oracle_sql() -> Dict[str, str]:
    return {n: _ORACLES[n] for n in _ordered(_ORACLES)}


# =========================================================== flagship / TPC-H

@query("pricing_summary", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
""")
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-flavored rollup — the flagship smoke query. Pure built-in
    aggregates; scan→partial agg→final agg, no extra shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _r(F.sum("l_quantity"), 2).alias("sum_qty"),
        _r(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        _r(F.avg("l_quantity")).alias("avg_qty"),
        _r(F.avg("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ======================================================== stats aggregations

@query("weighted_stats", """
SELECT l_returnflag,
  ROUND(SUM(l_discount*l_quantity)/SUM(l_quantity), 6) AS wmean,
  ROUND((SUM(l_quantity*l_discount*l_discount)
        - SUM(l_quantity*l_discount)*SUM(l_quantity*l_discount)/SUM(l_quantity))
        / SUM(l_quantity), 6) AS wvar,
  ROUND((SUM(l_quantity*l_tax*l_discount)
         - SUM(l_quantity*l_tax)*SUM(l_quantity*l_discount)/SUM(l_quantity))/SUM(l_quantity)
        / SQRT(((SUM(l_quantity*l_tax*l_tax)
                 - SUM(l_quantity*l_tax)*SUM(l_quantity*l_tax)/SUM(l_quantity))/SUM(l_quantity))
               *((SUM(l_quantity*l_discount*l_discount)
                 - SUM(l_quantity*l_discount)*SUM(l_quantity*l_discount)/SUM(l_quantity))/SUM(l_quantity))), 6) AS wcorr,
  ROUND(SUM(l_quantity*l_tax*l_discount)
        / SQRT(SUM(l_quantity*l_tax*l_tax)*SUM(l_quantity*l_discount*l_discount)), 6) AS wcos
FROM lineitem GROUP BY l_returnflag
""")
def weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # small-magnitude variables (discount/tax ∈ [0, 0.1]) so the 6-dp
    # round dominates cross-engine float-summation-order noise
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _r(S.weighted_mean("l_discount", "l_quantity")).alias("wmean"),
        _r(S.weighted_var("l_discount", "l_quantity")).alias("wvar"),
        _r(S.weighted_corr("l_tax", "l_discount", "l_quantity")).alias("wcorr"),
        _r(S.weighted_cosine_sim("l_tax", "l_discount", "l_quantity")).alias("wcos"),
    )


@query("mean_family", """
SELECT l_returnflag,
  ROUND(COUNT(l_quantity) / SUM(1.0/l_quantity), 6) AS hmean,
  ROUND(EXP(AVG(LN(l_quantity))), 6) AS gmean,
  ROUND(SUM(l_quantity)/SUM(l_quantity/l_extendedprice), 6) AS whmean,
  ROUND(EXP(SUM(l_quantity*LN(l_extendedprice))/SUM(l_quantity)), 6) AS wgmean,
  ROUND(SUM(l_quantity*l_extendedprice)/SQRT(SUM(l_quantity*l_quantity)*SUM(l_extendedprice*l_extendedprice)), 6) AS cos_sim
FROM lineitem GROUP BY l_returnflag
""")
def mean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _r(S.hmean("l_quantity")).alias("hmean"),
        _r(S.gmean("l_quantity")).alias("gmean"),
        _r(S.weighted_hmean("l_extendedprice", "l_quantity")).alias("whmean"),
        _r(S.weighted_gmean("l_extendedprice", "l_quantity")).alias("wgmean"),
        _r(S.cosine_sim("l_quantity", "l_extendedprice")).alias("cos_sim"),
    )


@query("ttest", """
WITH a AS (SELECT AVG(value) m, VAR_SAMP(value) v, COUNT(*)::DOUBLE n FROM events WHERE event_type='click'),
     b AS (SELECT AVG(value) m, VAR_SAMP(value) v, COUNT(*)::DOUBLE n FROM events WHERE event_type='view')
SELECT ROUND((a.m - b.m)/SQRT(a.v/a.n + b.v/b.n), 6) AS welch_t,
       ROUND((a.m - b.m)/SQRT((((a.n-1)*a.v + (b.n-1)*b.v)/(a.n+b.n-2))*(1/a.n + 1/b.n)), 6) AS student_t
FROM a, b
""")
def ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    click = F.when(F.col("event_type") == "click", F.col("value"))
    view = F.when(F.col("event_type") == "view", F.col("value"))
    return ev.agg(
        _r(S.ttest_ind_stat(click, view, equal_var=False)).alias("welch_t"),
        _r(S.ttest_ind_stat(click, view, equal_var=True)).alias("student_t"),
    )


@query("ks_2samp", """
WITH d AS (
  SELECT value,
    SUM(CASE WHEN event_type='click' THEN 1.0 ELSE 0 END)
      OVER (ORDER BY value RANGE UNBOUNDED PRECEDING) AS ca,
    SUM(CASE WHEN event_type='view' THEN 1.0 ELSE 0 END)
      OVER (ORDER BY value RANGE UNBOUNDED PRECEDING) AS cb,
    SUM(CASE WHEN event_type='click' THEN 1.0 ELSE 0 END) OVER () AS ta,
    SUM(CASE WHEN event_type='view' THEN 1.0 ELSE 0 END) OVER () AS tb
  FROM events WHERE event_type IN ('click','view')
)
SELECT ROUND(MAX(ABS(ca/ta - cb/tb)), 6) AS statistic FROM d
""")
def ks_2samp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    out = S.ks_2samp(ev, "value", "event_type", groups=("click", "view"))
    return out.select(_r(F.col("statistic")).alias("statistic"))


@query("mann_whitney", """
WITH r AS (
  SELECT event_type,
    RANK() OVER (ORDER BY value) + (COUNT(*) OVER (PARTITION BY value) - 1)/2.0 AS ar
  FROM events WHERE event_type IN ('click','view')
), agg AS (
  SELECT SUM(CASE WHEN event_type='click' THEN ar ELSE 0 END) AS r1,
         SUM(CASE WHEN event_type='click' THEN 1.0 ELSE 0 END) AS n1,
         SUM(CASE WHEN event_type='view' THEN 1.0 ELSE 0 END) AS n2
  FROM r
)
SELECT ROUND(r1 - n1*(n1+1)/2, 6) AS u1,
       ROUND(n1*n2 - (r1 - n1*(n1+1)/2), 6) AS u2,
       ROUND(GREATEST(r1 - n1*(n1+1)/2, n1*n2 - (r1 - n1*(n1+1)/2)), 6) AS statistic
FROM agg
""")
def mann_whitney_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    out = S.mann_whitney_u(ev, "value", "event_type", groups=("click", "view"))
    return out.select(
        _r(F.col("u1")).alias("u1"), _r(F.col("u2")).alias("u2"),
        _r(F.col("statistic")).alias("statistic"),
    )


@query("chi2", """
WITH obs AS (
  SELECT event_type, (value > 100) AS vb, COUNT(*)::DOUBLE AS o
  FROM events GROUP BY 1, 2
), e AS (
  SELECT o,
    SUM(o) OVER (PARTITION BY event_type) * SUM(o) OVER (PARTITION BY vb) / SUM(o) OVER () AS exp,
    event_type, vb
  FROM obs
)
SELECT ROUND(SUM((o-exp)*(o-exp)/exp), 6) AS statistic,
       (COUNT(DISTINCT event_type)-1)*(COUNT(DISTINCT vb)-1) AS dof
FROM e
""")
def chi2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("vb", F.col("value") > 100)
    out = S.chi2(ev, "event_type", "vb")
    return out.select(_r(F.col("statistic")).alias("statistic"), F.col("dof"))


@query("f_test", """
WITH lev AS (
  SELECT event_type, COUNT(*)::DOUBLE n, SUM(value) s, SUM(value*value) ss
  FROM events GROUP BY 1
), t AS (
  SELECT SUM(s*s/n) AS b, SUM(ss - s*s/n) AS wi,
         SUM(s)*SUM(s)/SUM(n) AS corr_term, SUM(n) AS N, COUNT(*)::DOUBLE AS k
  FROM lev
)
SELECT ROUND(((b - corr_term)/(k-1)) / (wi/(N-k)), 6) AS statistic,
       ROUND(k-1, 6) AS df_between, ROUND(N-k, 6) AS df_within
FROM t
""")
def f_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = S.f_test(ev, "value", "event_type")
    return out.select(
        _r(F.col("statistic")).alias("statistic"),
        _r(F.col("df_between")).alias("df_between"),
        _r(F.col("df_within")).alias("df_within"),
    )


@query("corr_family", """
WITH r AS (
  SELECT
    RANK() OVER (ORDER BY value) + (COUNT(*) OVER (PARTITION BY value)-1)/2.0 AS rx,
    RANK() OVER (ORDER BY user_id) + (COUNT(*) OVER (PARTITION BY user_id)-1)/2.0 AS ry,
    value, user_id
  FROM events
)
SELECT ROUND(CORR(value, user_id), 6) AS pearson,
       ROUND(CORR(rx, ry), 6) AS spearman
FROM r
""")
def corr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = S.corr(ev, "value", "user_id", method="pearson").withColumnRenamed("corr", "pearson")
    s = S.corr(ev, "value", "user_id", method="spearman").withColumnRenamed("corr", "spearman")
    return p.crossJoin(s).select(
        _r(F.col("pearson")).alias("pearson"), _r(F.col("spearman")).alias("spearman")
    )


@query("xi_corr", """
WITH t AS (
  SELECT value + event_id*1e-9 AS xv, user_id FROM events
), ry AS (
  SELECT xv, RANK() OVER (ORDER BY user_id) AS r FROM t
), d AS (
  SELECT ABS(r - LAG(r) OVER (ORDER BY xv)) AS dr FROM ry
)
SELECT ROUND(1 - 3.0*SUM(dr)/(COUNT(*)*COUNT(*)::DOUBLE - 1), 6) AS corr FROM d
""")
def xi_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tie-free ordering column so the lag sequence is deterministic
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("value") + F.col("event_id") * 1e-9).alias("xv"), "user_id"
    )
    out = S.xi_corr(ev, "xv", "user_id")
    return out.select(_r(F.col("corr")).alias("corr"))


@query("normality", """
SELECT event_type, ROUND(AVG(value), 6) AS mean_v, ROUND(STDDEV_SAMP(value), 6) AS std_v,
       ROUND(SKEWNESS(value)*((COUNT(*)-2)::DOUBLE/SQRT(COUNT(*)*(COUNT(*)-1)::DOUBLE)), 6) AS skew_pop,
       COUNT(*) AS n
FROM events GROUP BY event_type
""")
def normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment sanity check feeding normal_test (population skewness —
    DuckDB's SKEWNESS is sample-adjusted, so the oracle de-adjusts)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _r(F.avg("value")).alias("mean_v"),
        _r(F.stddev_samp("value")).alias("std_v"),
        _r(F.skewness("value")).alias("skew_pop"),
        F.count(F.lit(1)).alias("n"),
    )


# ============================================================ ML metrics

@query("regression_metrics", """
SELECT l_returnflag,
  ROUND(1 - SUM(POW(l_quantity - l_quantity*(1-l_discount), 2))
          / (SUM(l_quantity*l_quantity) - SUM(l_quantity)*SUM(l_quantity)/COUNT(*)), 6) AS r2,
  ROUND(SUM(ABS(l_quantity*l_discount))/COUNT(*), 6) AS l1,
  ROUND(SUM(POW(l_quantity*l_discount, 2))/COUNT(*), 6) AS l2,
  ROUND(MAX(ABS(l_quantity*l_discount)), 6) AS l_inf,
  ROUND(AVG(ABS(l_quantity - l_quantity*(1-l_discount))/(ABS(l_quantity) + ABS(l_quantity*(1-l_discount)))), 6) AS smape,
  ROUND(SUM(ABS(l_quantity*l_discount))/SUM(ABS(l_quantity)), 6) AS wmape,
  ROUND(SUM(POW(LN(1+l_quantity) - LN(1+l_quantity*(1-l_discount)), 2))/COUNT(*), 6) AS msle,
  ROUND(SUM(CASE WHEN ABS(l_quantity*l_discount) <= 2 THEN 0.5*POW(l_quantity*l_discount,2)
            ELSE 2*(ABS(l_quantity*l_discount) - 1) END)/COUNT(*), 6) AS huber
FROM lineitem GROUP BY l_returnflag
""")
def regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quantity-scale actual/pred keeps every metric O(1)-O(10): the 6-dp
    # round then dominates float-summation-order noise across engines
    li = load_table(spark, sf_dir, "lineitem")
    actual = F.col("l_quantity")
    pred = F.col("l_quantity") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag").agg(
        _r(M.query_r2(actual, pred)).alias("r2"),
        _r(M.query_l1(actual, pred)).alias("l1"),
        _r(M.query_l2(actual, pred)).alias("l2"),
        _r(M.query_l_inf(actual, pred)).alias("l_inf"),
        _r(M.query_smape(actual, pred)).alias("smape"),
        _r(M.query_mape(actual, pred, weighted=True)).alias("wmape"),
        _r(M.query_msle(actual, pred)).alias("msle"),
        _r(M.query_huber_loss(actual, pred, delta=2.0)).alias("huber"),
    )


@query("mase_full", """
WITH tr AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts) AS rn
  FROM events WHERE ts < TIMESTAMP '2024-01-20'
), den AS (
  SELECT a.event_type, AVG(ABS(a.value - b.value)) AS den
  FROM tr a JOIN tr b ON a.event_type = b.event_type AND a.rn = b.rn + 7
  GROUP BY a.event_type
), num AS (
  SELECT event_type, AVG(ABS(value * 0.1)) AS num
  FROM events WHERE ts >= TIMESTAMP '2024-01-20' GROUP BY event_type
), trg AS (
  SELECT value, ROW_NUMBER() OVER (ORDER BY ts) AS rn
  FROM events WHERE ts < TIMESTAMP '2024-01-20'
), deng AS (
  SELECT AVG(ABS(a.value - b.value)) AS den
  FROM trg a JOIN trg b ON a.rn = b.rn + 1
), numg AS (
  SELECT AVG(ABS(value * 0.1)) AS num
  FROM events WHERE ts >= TIMESTAMP '2024-01-20'
)
SELECT event_type, ROUND(num / den, 6) AS mase FROM num JOIN den USING (event_type)
UNION ALL
SELECT '__all__' AS event_type, ROUND(num / den, 6) AS mase FROM numg, deng
""")
def mase_full_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MASE with the seasonal-naive train loss computed internally
    (metrics.query_mase_df; ref exprs/metrics.py query_mase column-train
    branch). Train = value before Jan 20, test = after, pred = 0.9·value.
    Covers BOTH plans: per-event_type seasonal diff (freq=7, grouped
    window) and the global two-pass rank/self-join path (freq=1)."""
    ev = load_table(spark, sf_dir, "events")
    is_test = F.col("ts") >= F.lit("2024-01-20")
    actual = F.when(is_test, F.col("value"))
    pred = F.when(is_test, F.col("value") * 0.9)
    train = F.when(~is_test, F.col("value"))
    grouped = M.query_mase_df(ev, actual, pred, train, "ts",
                              by=["event_type"], freq=7)
    glob = (M.query_mase_df(ev, actual, pred, train, "ts", freq=1)
            .select(F.lit("__all__").alias("event_type"), "mase"))
    return (grouped.unionByName(glob)
            .select("event_type", _r(F.col("mase")).alias("mase")))


@query("classification_metrics", """
WITH t AS (
  SELECT (l_discount > 0.05)::INT AS y,
         l_discount*8 + 0.1 AS p,
         (l_discount*8 + 0.1 >= 0.5)::INT AS yhat
  FROM lineitem
), c AS (
  SELECT SUM((y=1 AND yhat=1)::INT)::DOUBLE tp, SUM((y=0 AND yhat=1)::INT)::DOUBLE fp,
         SUM((y=0 AND yhat=0)::INT)::DOUBLE tn, SUM((y=1 AND yhat=0)::INT)::DOUBLE fn,
         ROUND(-AVG(CASE WHEN y=0 THEN LN(1-p) ELSE LN(p) END), 6) AS log_loss
  FROM t
)
SELECT log_loss,
  ROUND(tp/(tp+fp), 6) AS precision,
  ROUND(tp/(tp+fn), 6) AS recall,
  ROUND(2*(tp/(tp+fp))*(tp/(tp+fn))/((tp/(tp+fp))+(tp/(tp+fn))), 6) AS f1,
  ROUND((tp+tn)/(tp+tn+fp+fn), 6) AS accuracy,
  ROUND((tp*tn - fp*fn)/SQRT((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn)), 6) AS mcc,
  tp::BIGINT AS tp, fp::BIGINT AS fp, tn::BIGINT AS tn, fn::BIGINT AS fn
FROM c
""")
def classification_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y = (F.col("l_discount") > 0.05).cast("int")
    p = F.col("l_discount") * 8 + 0.1
    d = li.select(y.alias("y"), p.alias("p"))
    agg = d.agg(
        _r(M.query_log_loss("y", "p")).alias("log_loss"),
        M.query_binary_metrics("y", "p").alias("bm"),
        _r(M.query_mcc("y", "p")).alias("mcc"),
        M.confusion_matrix_counts("y", "p").alias("cm"),
    )
    return agg.select(
        "log_loss",
        _r(F.col("bm.precision")).alias("precision"),
        _r(F.col("bm.recall")).alias("recall"),
        _r(F.col("bm.f1")).alias("f1"),
        _r(F.col("bm.accuracy")).alias("accuracy"),
        "mcc",
        F.col("cm.tp").alias("tp"), F.col("cm.fp").alias("fp"),
        F.col("cm.tn").alias("tn"), F.col("cm.fn").alias("fn"),
    )


@query("roc_auc", """
WITH t AS (
  SELECT l_returnflag, (l_tax > 0.04)::DOUBLE AS y,
    RANK() OVER (PARTITION BY l_returnflag ORDER BY l_discount)
      + (COUNT(*) OVER (PARTITION BY l_returnflag, l_discount) - 1)/2.0 AS r
  FROM lineitem
), agg AS (
  SELECT l_returnflag, SUM(y) np, COUNT(*) - SUM(y) nn, SUM(r*y) rs
  FROM t GROUP BY l_returnflag
)
SELECT l_returnflag, ROUND((rs - np*(np+1)/2)/(np*nn), 6) AS roc_auc,
       ROUND(2*((rs - np*(np+1)/2)/(np*nn)) - 1, 6) AS gini
FROM agg
""")
def roc_auc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        "l_returnflag",
        (F.col("l_tax") > 0.04).cast("int").alias("y"),
        F.col("l_discount").alias("p"),
    )
    auc = M.roc_auc(d, "y", "p", by=["l_returnflag"], out_name="__auc")
    return auc.select(
        "l_returnflag",
        _r(F.col("__auc")).alias("roc_auc"),
        _r(F.col("__auc") * 2 - 1).alias("gini"),
    )


@query("mad", """
SELECT l_returnflag,
  ROUND(AVG(ABS(l_quantity - m)), 6) AS mad_mean,
  ROUND(MEDIAN(ABS(l_quantity - md)), 6) AS mad_median
FROM (
  SELECT l_returnflag, l_quantity,
         AVG(l_quantity) OVER (PARTITION BY l_returnflag) AS m,
         MEDIAN(l_quantity) OVER (PARTITION BY l_returnflag) AS md
  FROM lineitem
) GROUP BY l_returnflag
""")
def mad_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = M.query_mad(li, "l_quantity", use_mean=True, by=["l_returnflag"]) \
        .withColumnRenamed("mad", "mad_mean")
    b = M.query_mad(li, "l_quantity", use_mean=False, by=["l_returnflag"]) \
        .withColumnRenamed("mad", "mad_median")
    return a.join(b, "l_returnflag").select(
        "l_returnflag", _r(F.col("mad_mean")).alias("mad_mean"),
        _r(F.col("mad_median")).alias("mad_median"),
    )


@query("dcg", """
WITH t AS (
  SELECT event_type, FLOOR(value/50) AS rel,
         value + event_id*1e-9 AS p
  FROM events
), g AS (
  SELECT event_type,
    rel/LOG2(1 + ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY p DESC)) AS gain,
    rel/LOG2(1 + ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY rel DESC, p DESC)) AS igain
  FROM t
)
SELECT event_type, ROUND(SUM(gain), 6) AS dcg, ROUND(SUM(gain)/SUM(igain), 6) AS ndcg
FROM g GROUP BY event_type
""")
def dcg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") / 50).cast("double").alias("rel"),
        (F.col("value") + F.col("event_id") * 1e-9).alias("p"),
    )
    # deterministic tie-break for the ideal ordering: rel desc, then p desc
    keys = ["event_type"]
    wp = Window.partitionBy("event_type").orderBy(F.col("p").desc())
    wi = Window.partitionBy("event_type").orderBy(F.col("rel").desc(), F.col("p").desc())
    pos = F.row_number().over(wp).cast("double")
    ipos = F.row_number().over(wi).cast("double")
    gain = F.col("rel") / F.log2(pos + 1)
    igain = F.col("rel") / F.log2(ipos + 1)
    step = ev.select(*keys, gain.alias("__g"), igain.alias("__ig"))
    return step.groupBy(*keys).agg(
        _r(F.sum("__g")).alias("dcg"),
        _r(F.sum("__g") / F.sum("__ig")).alias("ndcg"),
    )


# ========================================================== numeric / series

@query("softmax_znorm", """
WITH s AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
    EXP(c_acctbal - MAX(c_acctbal) OVER (PARTITION BY c_nationkey)) AS sh,
    AVG(c_acctbal) OVER (PARTITION BY c_nationkey) AS m,
    STDDEV_SAMP(c_acctbal) OVER (PARTITION BY c_nationkey) AS sd
  FROM customer
)
SELECT c_custkey,
  ROUND(sh / SUM(sh) OVER (PARTITION BY c_nationkey), 6) AS softmax,
  ROUND((c_acctbal - m)/sd, 6) AS z,
  ROUND(c_acctbal - m, 6) AS centered
FROM s
""")
def softmax_znorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    return cu.select(
        "c_custkey",
        _r(N.softmax("c_acctbal", by=["c_nationkey"])).alias("softmax"),
        _r(N.z_normalize("c_acctbal", by=["c_nationkey"])).alias("z"),
        _r(N.center("c_acctbal", by=["c_nationkey"])).alias("centered"),
    )


@query("gcd_lcm", """
SELECT l_orderkey, l_linenumber,
  GCD(l_orderkey + 1, l_partkey + 1)::BIGINT AS g,
  LCM(l_linenumber::BIGINT, 6)::BIGINT AS l
FROM lineitem
""")
def gcd_lcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        N.gcd(F.col("l_orderkey") + 1, F.col("l_partkey") + 1).alias("g"),
        N.lcm(F.col("l_linenumber"), 6).alias("l"),
    )


@query("elementwise_math", """
SELECT l_orderkey, l_linenumber,
  ROUND(1/(1+EXP(-l_discount)), 6) AS expit,
  ROUND(CASE WHEN l_discount=0 THEN '-Infinity'::DOUBLE ELSE LN(l_discount/(1-l_discount)) END, 6) AS logit,
  ROUND(POW(2.0, l_quantity/10), 6) AS exp2,
  ROUND(CASE WHEN PI()*l_discount = 0 THEN 1.0 ELSE SIN(PI()*l_discount)/(PI()*l_discount) END, 6) AS sinc,
  ROUND(CASE WHEN l_discount=0 THEN 0.0 ELSE l_discount*LN(l_quantity) END, 6) AS xlogy,
  ROUND(l_quantity/7 - TRUNC(l_quantity/7), 6) AS fract,
  ROUND(GAMMA(1 + l_discount*10), 6) AS gamma_v,
  ROUND(2*6371.0*ASIN(SQRT(POW(SIN(RADIANS(l_tax*100 - l_discount*100)/2),2)
      + COS(RADIANS(l_discount*100))*COS(RADIANS(l_tax*100))
        *POW(SIN(RADIANS(40.0 - 30.0)/2),2))), 6) AS haversine_km
FROM lineitem
""")
def elementwise_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        _r(N.expit("l_discount")).alias("expit"),
        _r(N.logit("l_discount")).alias("logit"),
        _r(N.exp2(F.col("l_quantity") / 10)).alias("exp2"),
        _r(N.sinc("l_discount")).alias("sinc"),
        _r(N.xlogy("l_discount", "l_quantity")).alias("xlogy"),
        _r(N.fract(F.col("l_quantity") / 7)).alias("fract"),
        _r(N.gamma(1 + F.col("l_discount") * 10)).alias("gamma_v"),
        _r(N.haversine(
            F.col("l_discount") * 100, F.lit(30.0),
            F.col("l_tax") * 100, F.lit(40.0),
        )).alias("haversine_km"),
    )


@query("winsorize", """
SELECT c_custkey,
  ROUND(CASE WHEN c_acctbal < lo THEN lo WHEN c_acctbal > hi THEN hi ELSE c_acctbal END, 6) AS w
FROM (
  SELECT c_custkey, c_acctbal,
    QUANTILE_CONT(c_acctbal, 0.05) OVER (PARTITION BY c_nationkey) AS lo,
    QUANTILE_CONT(c_acctbal, 0.95) OVER (PARTITION BY c_nationkey) AS hi
  FROM customer
)
""")
def winsorize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load_table(spark, sf_dir, "customer")
    return cu.select(
        "c_custkey",
        _r(S.winsorize("c_acctbal", 0.05, 0.95, by=["c_nationkey"])).alias("w"),
    )


@query("integrate_detrend", """
WITH t AS (
  SELECT event_type, value + event_id*1e-9 AS xv, user_id FROM events
), seg AS (
  SELECT event_type,
    (xv - LAG(xv) OVER (PARTITION BY event_type ORDER BY xv))
    * (user_id + LAG(user_id) OVER (PARTITION BY event_type ORDER BY xv))/2.0 AS s
  FROM t
)
SELECT event_type, ROUND(SUM(s), 6) AS trapz FROM seg GROUP BY event_type
""")
def integrate_detrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tie-free x so trapezoid pairing is deterministic across engines
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("value") + F.col("event_id") * 1e-9).alias("xv"), "user_id"
    )
    out = N.integrate_trapz(ev, "user_id", "xv", by=["event_type"])
    return out.select("event_type", _r(F.col("trapz")).alias("trapz"))


@query("psi", """
WITH base AS (SELECT value FROM events WHERE event_id % 2 = 0),
     new  AS (SELECT value FROM events WHERE event_id % 2 = 1),
     brk  AS (
       SELECT DISTINCT q FROM (
         SELECT UNNEST(QUANTILE_CONT(value, [0.2,0.4,0.6,0.8])) AS q FROM base
       )
     ),
     binned_base AS (
       SELECT (SELECT COUNT(*) FROM brk WHERE q < b.value) AS bin FROM base b
     ),
     binned_new AS (
       SELECT (SELECT COUNT(*) FROM brk WHERE q < n.value) AS bin FROM new n
     ),
     cb AS (SELECT bin, COUNT(*)::DOUBLE c FROM binned_base GROUP BY bin),
     cn AS (SELECT bin, COUNT(*)::DOUBLE c FROM binned_new GROUP BY bin),
     j AS (
       SELECT COALESCE(cn.c / (SELECT SUM(c) FROM cn), 0.0001) AS pn,
              COALESCE(cb.c / (SELECT SUM(c) FROM cb), 0.0001) AS pb
       FROM cb FULL OUTER JOIN cn USING (bin)
     )
SELECT ROUND(SUM((pn - pb) * LN(pn/pb)), 6) AS psi FROM j
""")
def psi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_breakpoints=True: the DuckDB replay computes QUANTILE_CONT
    cuts, and KLL-sketch cuts (the library default — drift tolerates
    them) are partition-order dependent, so only the exact selection
    plan is cross-engine reproducible."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 2 == 0)
    new = ev.where(F.col("event_id") % 2 == 1)
    out = N.psi(new, base, "value", n_bins=5, exact_breakpoints=True)
    return out.select(_r(F.col("psi")).alias("psi"))


@query("woe_iv", """
WITH agg AS (
  SELECT event_type AS value,
         SUM((value > 100)::INT)::DOUBLE AS ev,
         SUM((value <= 100)::INT)::DOUBLE AS nonev
  FROM events GROUP BY event_type
), r AS (
  SELECT value,
    (ev + 1)/SUM(ev + 1) OVER () AS ev_r,
    (nonev + 1)/SUM(nonev + 1) OVER () AS ne_r
  FROM agg
)
SELECT value, ROUND(LN(ne_r/ev_r), 6) AS woe,
       ROUND((ne_r - ev_r)*LN(ne_r/ev_r), 6) AS iv
FROM r
""")
def woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "y", (F.col("value") > 100).cast("int")
    )
    w = N.woe_discrete(ev, "event_type", "y")
    i = N.info_value_discrete(ev, "event_type", "y", return_sum=False)
    return w.join(i, "value").select(
        "value", _r(F.col("woe")).alias("woe"), _r(F.col("iv")).alias("iv")
    )


@query("target_encode", """
WITH agg AS (
  SELECT event_type AS value, COUNT(*)::DOUBLE cnt, AVG((value>100)::INT::DOUBLE) lm
  FROM events GROUP BY event_type
)
SELECT value,
  ROUND(
    (SUM(cnt*lm) OVER ()/SUM(cnt) OVER ()) * (1 - 1/(1+EXP(-(cnt-20)/10.0)))
    + lm * (1/(1+EXP(-(cnt-20)/10.0))), 6) AS enc
FROM agg
""")
def target_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "y", (F.col("value") > 100).cast("int")
    )
    out = N.target_encode(ev, "event_type", "y", min_samples_leaf=20, smoothing=10.0)
    return out.select("value", _r(F.col("to")).alias("enc"))


@query("is_monotonic", """
SELECT o_custkey,
  MIN(CASE WHEN prev IS NULL THEN TRUE ELSE o_totalprice >= prev END) AS is_increasing
FROM (
  SELECT o_custkey, o_totalprice,
         LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
) GROUP BY o_custkey
""")
def is_monotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    return N.is_increasing(
        od, "o_totalprice", F.struct("o_orderdate", "o_orderkey"), by=["o_custkey"]
    )


# =============================================================== strings

@query("string_similarity", """
SELECT doc_id,
  levenshtein(substr(text,1,16), 'the fast key ord') AS lev,
  ROUND(jaccard(substr(text,1,16), 'the fast key ord'), 6) AS jac1,
  ROUND(jaro_similarity(substr(text,1,16), 'the fast key ord'), 6) AS jaro,
  ROUND(jaro_winkler_similarity(substr(text,1,16), 'the fast key ord'), 6) AS jw,
  damerau_levenshtein(substr(text,1,16), 'the fast key ord') AS dlev,
  hamming(substr(text,1,16), 'the fast key ord') AS ham
FROM documents WHERE length(text) >= 16
""")
def string_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.length("text") >= 16)
    s = F.substring("text", 1, 16)
    lit = F.lit("the fast key ord")
    return docs.select(
        "doc_id",
        STR.str_leven(s, lit).alias("lev"),
        _r(STR.str_jaccard(s, lit, substr_size=1)).alias("jac1"),
        _r(STR.str_jaro(s, lit)).alias("jaro"),
        _r(STR.str_jw(s, lit)).alias("jw"),
        STR.str_d_leven(s, lit).alias("dlev"),
        STR.str_hamming(s, lit).alias("ham"),
    )


@query("string_cleaning", """
SELECT p_partkey,
  lower(regexp_replace(regexp_replace(p_name, '([a-z0-9])([A-Z])', '\\1_\\2', 'g'), '[\\s\\-]+', '_', 'g')) AS snake,
  upper(lower(regexp_replace(regexp_replace(p_name, '([a-z0-9])([A-Z])', '\\1_\\2', 'g'), '[\\s\\-]+', '_', 'g'))) AS const,
  regexp_replace(trim(p_type), '\\s+', ' ', 'g') AS norm_ws,
  array_to_string(regexp_extract_all(p_name || ' 42 7.5', '(\\d+\\.?\\d*)', 1), ',') AS nums
FROM part
""")
def string_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = load_table(spark, sf_dir, "part")
    return pt.select(
        "p_partkey",
        STR.to_snake_case("p_name").alias("snake"),
        STR.to_constant_case("p_name").alias("const"),
        STR.normalize_whitespace(F.trim(F.col("p_type"))).alias("norm_ws"),
        STR.extract_numbers(
            F.concat(F.col("p_name"), F.lit(" 42 7.5")), join_by=","
        ).alias("nums"),
    )


# ============================================================== ts features

@query("ts_moments", """
SELECT event_type,
  ROUND((MAX(value) - MIN(value))/2, 6) AS mid_range,
  ROUND(ABS(AVG(value) - MEDIAN(value))/(MAX(value) - MIN(value)), 6) AS symm_ratio,
  ROUND(SUM(value*value), 2) AS abs_energy,
  ROUND(STDDEV_SAMP(value)/AVG(value), 6) AS cv,
  SUM((value BETWEEN 50 AND 150)::INT)::BIGINT AS range_count
FROM events GROUP BY event_type
""")
def ts_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _r(TS.query_mid_range("value")).alias("mid_range"),
        _r(TS.query_symm_ratio("value")).alias("symm_ratio"),
        _r(TS.query_abs_energy("value"), 2).alias("abs_energy"),
        _r(TS.query_cv("value")).alias("cv"),
        TS.query_range_count("value", 50.0, 150.0).alias("range_count"),
    )


@query("ts_ordered", """
WITH w AS (
  SELECT event_type, value,
    LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev,
    LAG(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS l1,
    LAG(value, 2) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS l2,
    LEAD(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
  FROM events
)
SELECT event_type,
  ROUND(AVG(ABS(value - prev)), 6) AS mean_abs_change,
  ROUND(SUM(value * l1 * l2)/(COUNT(*) - 2), 6) AS c3,
  ROUND(SQRT(SUM(POW(value - nxt, 2))), 6) AS cid_ce
FROM w GROUP BY event_type
""")
def ts_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    order = F.struct("ts", "event_id")
    a = TS.query_mean_abs_change(ev, "value", order, by=["event_type"])
    b = TS.query_c3_stats(ev, "value", 1, order, by=["event_type"])
    c = TS.query_cid_ce(ev, "value", order, by=["event_type"])
    return (
        a.join(b, "event_type").join(c, "event_type").select(
            "event_type",
            _r(F.col("mean_abs_change")).alias("mean_abs_change"),
            _r(F.col("c3")).alias("c3"),
            _r(F.col("cid_ce")).alias("cid_ce"),
        )
    )


@query("ts_autocorr", """
WITH s AS (
  SELECT event_type, value,
    value - AVG(value) OVER (PARTITION BY event_type) AS xm,
    VAR_POP(value) OVER (PARTITION BY event_type) AS v
  FROM events
), w AS (
  SELECT event_type, v,
    xm * LEAD(xm) OVER (PARTITION BY event_type ORDER BY (SELECT NULL)) AS prod
  FROM s
)
SELECT 1 AS placeholder
""")
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # oracle replaced below (needs deterministic order); see _ORACLES patch
    ev = load_table(spark, sf_dir, "events")
    out = TS.query_auto_corr(
        ev, "value", 1, F.struct("ts", "event_id"), by=["event_type"], ddof=0
    )
    return out.select("event_type", _r(F.col("auto_corr")).alias("auto_corr"))


_ORACLES["ts_autocorr"] = """
WITH s AS (
  SELECT event_type, ts, event_id, value,
    value - AVG(value) OVER (PARTITION BY event_type) AS xm,
    VAR_POP(value) OVER (PARTITION BY event_type) AS v
  FROM events
), w AS (
  SELECT event_type, v,
    xm * LEAD(xm) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prod
  FROM s
)
SELECT event_type, ROUND(SUM(prod)/((COUNT(*) - 1) * ANY_VALUE(v)), 6) AS auto_corr
FROM w GROUP BY event_type
"""


@query("ts_streaks", """
WITH flagged AS (
  SELECT event_type, (value > 100) AS c,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
  FROM events
), runs AS (
  SELECT event_type, c,
    rn - ROW_NUMBER() OVER (PARTITION BY event_type, c ORDER BY rn) AS island
  FROM flagged
), lens AS (
  SELECT event_type, c, COUNT(*)::BIGINT AS len
  FROM runs GROUP BY event_type, c, island
)
SELECT event_type, MAX(len) AS longest_streak, ROUND(AVG(len), 6) AS avg_streak
FROM lens WHERE c GROUP BY event_type
""")
def ts_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    order = F.struct("ts", "event_id")
    a = TS.query_longest_streak(ev, F.col("value") > 100, order, by=["event_type"])
    b = TS.query_avg_streak(ev, F.col("value") > 100, order, by=["event_type"])
    return a.join(b, "event_type").select(
        "event_type", F.col("longest_streak").cast("long").alias("longest_streak"),
        _r(F.col("avg_streak")).alias("avg_streak"),
    )


@query("benford", """
WITH d AS (
  SELECT FLOOR(ABS(value)/POW(10, FLOOR(LOG10(ABS(value)))))::INT AS fd
  FROM events WHERE value IS NOT NULL AND value != 0
)
SELECT fd, COUNT(*)::BIGINT AS cnt, ROUND(COUNT(*)/(SELECT COUNT(*)::DOUBLE FROM d), 6) AS frac
FROM d GROUP BY fd
""")
def benford_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & (F.col("value") != 0)
    )
    agg = ev.agg(
        TS.query_first_digit_cnt("value").alias("cnts"),
        TS.query_benford("value").alias("fracs"),
    )
    expl = agg.select(
        F.posexplode(F.arrays_zip(F.col("cnts"), F.col("fracs")))
    ).select(
        (F.col("pos") + 1).cast("int").alias("fd"),
        F.col("col.cnts").alias("cnt"),
        _r(F.col("col.fracs")).alias("frac"),
    )
    return expl.where(F.col("cnt") > 0)


@query("entropy", """
WITH vc AS (SELECT event_type, COUNT(*)::DOUBLE c FROM events GROUP BY event_type),
     e AS (SELECT c/SUM(c) OVER () AS p FROM vc)
SELECT ROUND(-SUM(p*LN(p)), 6) AS entropy FROM e
""")
def entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = TS.query_entropy(ev, "event_type")
    return out.select(_r(F.col("entropy")).alias("entropy"))


@query("cond_entropy", """
WITH joint AS (
  SELECT event_type AS x, (value > 100) AS y, COUNT(*)::DOUBLE c
  FROM events GROUP BY 1, 2
), p AS (
  SELECT c/SUM(c) OVER () AS pxy, c/SUM(c) OVER (PARTITION BY y) AS px_y
  FROM joint
)
SELECT ROUND(-SUM(pxy*LN(px_y)), 6) AS cond_entropy FROM p
""")
def cond_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("vb", F.col("value") > 100)
    out = TS.query_cond_entropy(ev, "event_type", "vb")
    return out.select(_r(F.col("cond_entropy")).alias("cond_entropy"))


@query("count_uniques", """
WITH vc AS (SELECT event_type, user_id, COUNT(*) c FROM events GROUP BY 1, 2)
SELECT event_type, SUM((c = 1)::INT)::BIGINT AS n_unique
FROM vc GROUP BY event_type
""")
def count_uniques_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return TS.query_count_uniques(ev, "user_id", by=["event_type"])


# ============================================================ survival

@query("kaplan_meier", """
WITH ev AS (
  SELECT FLOOR(value/20)*20 AS t,
         (event_type = 'error')::INT AS d
  FROM events
), at_risk AS (
  SELECT t, SUM(d)::DOUBLE AS d_t, COUNT(*)::DOUBLE AS c_t
  FROM ev GROUP BY t
), km AS (
  SELECT t, d_t,
    SUM(c_t) OVER (ORDER BY t DESC) AS n_t
  FROM at_risk
)
SELECT t::BIGINT AS t, ROUND(EXP(SUM(LN(1 - d_t/n_t)) OVER (ORDER BY t)), 6) AS survival
FROM km WHERE d_t < n_t
""")
def kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimator via the scale-safe stats.kaplan_meier
    (two-pass prefix plans for both cumulatives — distinct event times
    never funnel through one partition). Ref exprs/survival.py:11."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.floor(F.col("value") / 20) * 20).alias("t"),
        (F.col("event_type") == "error").cast("int").alias("d"),
    )
    out = S.kaplan_meier(ev, "t", "d")
    return out.select(F.col("t").cast("long").alias("t"),
                      _r(F.col("survival")).alias("survival"))


@query("kendall", """
WITH t AS (
  SELECT ROW_NUMBER() OVER () AS i, value AS x, user_id::DOUBLE AS y
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT SIGN(a.x - b.x) AS dx, SIGN(a.y - b.y) AS dy
  FROM t a JOIN t b ON a.i < b.i
), c AS (
  SELECT SUM(CASE WHEN dx <> 0 AND dx = dy THEN 1 ELSE 0 END)::DOUBLE AS con,
         SUM(CASE WHEN dx <> 0 AND dy <> 0 AND dx <> dy THEN 1 ELSE 0 END)::DOUBLE AS dis,
         SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END)::DOUBLE AS xt,
         SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END)::DOUBLE AS yt,
         COUNT(*)::DOUBLE AS tot
  FROM p
)
SELECT ROUND((con - dis) / SQRT(tot - xt) / SQRT(tot - yt), 6) AS corr FROM c
""")
def kendall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b via the numpy Knight O(n log n) kernel
    (functions/stats.py:_tau_b_numpy). Oracle counts pairs by brute-force
    self-join — only viable at oracle SF, which is the point of it."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    out = S.kendall_tau(ev, "value", "user_id")
    return out.select(_r(F.col("corr")).alias("corr"))


# Register the LLM-pipeline catalog (dedup / text / similarity search).
# Import at module bottom: queries_llm needs `query`/`_r` from this module.
from . import queries_llm  # noqa: E402,F401
from . import queries_linear  # noqa: E402,F401
from . import queries_pipeline  # noqa: E402,F401
from . import queries_misc  # noqa: E402,F401
from . import queries_streaming  # noqa: E402,F401
