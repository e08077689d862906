"""ML evaluation metrics — Spark-native re-expression of the reference's
metrics module (reference: python/polars_ds/exprs/metrics.py).

Everything possible is an **aggregate Column expression** (composable in
one ``groupBy().agg(...)`` pass — the reference's headline feature of
evaluating many metrics per segment in one scan works identically here,
with map-side partial aggregation). Rank-based metrics (ROC-AUC, DCG,
Mann-Whitney-style) need a sort window first, so they ship as
DataFrame-level operators: one sort-shuffle on (by, pred), then a groupBy.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .._utils import to_col, group_window

__all__ = [
    "query_r2", "query_adj_r2", "query_log_cosh", "query_huber_loss",
    "query_l1", "query_l2", "query_l_inf", "query_log_loss", "query_msle",
    "query_mape", "query_smape", "query_mase_precomputed", "query_mase_df",
    "query_cat_cross_entropy", "confusion_matrix_counts",
    "query_binary_metrics", "query_mcc",
    "query_mad", "roc_auc", "query_gini", "multi_roc_auc",
    "query_dcg_score", "tpr_fpr",
]


# ------------------------------------------------------- agg Column exprs

def query_r2(actual, pred) -> Column:
    """R², single-pass algebraic form (map-side combinable):
    1 - Σ(a-p)² / (Σa² - (Σa)²/n). Ref metrics.py:64.

    NULL when ``actual`` has zero variance in the group (one row, a
    constant group, or no non-null value): R² is undefined there, and
    the division would raise DIVIDE_BY_ZERO under ANSI."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    ss_res = F.sum((a - p) * (a - p))
    ss_tot = F.sum(a * a) - F.sum(a) * F.sum(a) / F.count(a)
    return F.when((F.max(a) > F.min(a)) & (ss_tot > 0),
                  1 - ss_res / ss_tot)


def query_adj_r2(actual, pred, p: int) -> Column:
    """Adjusted R² with p regressors. Ref metrics.py:84. NULL where
    `query_r2` is, and when n ≤ p + 1 (no residual degrees of freedom)."""
    a = to_col(actual)
    n = F.count(a).cast("double")
    r2 = query_r2(actual, pred)
    return F.when(n > p + 1, 1 - (1 - r2) * (n - 1) / (n - p - 1))


def query_log_cosh(actual, pred, normalize: bool = True) -> Column:
    """Σ log(cosh(p-a)) (/n). Ref metrics.py:108. cosh via exp to stay
    JVM-side; uses |d| - log 2 + log1p(exp(-2|d|)) to avoid overflow."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    d = F.abs(p - a)
    log_cosh = d + F.log1p(F.exp(-2 * d)) - F.lit(0.6931471805599453)
    s = F.sum(log_cosh)
    return s / F.count(a) if normalize else s


def query_huber_loss(actual, pred, delta: float) -> Column:
    """Huber loss (mean). Ref metrics.py:118 (query_hubor_loss)."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    d = F.abs(a - p)
    cell = F.when(d <= delta, 0.5 * d * d).otherwise(delta * (d - 0.5 * delta))
    return F.sum(cell) / F.count(a)


def query_l1(actual, pred, normalize: bool = True) -> Column:
    """MAE. Ref metrics.py:162."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    s = F.sum(F.abs(a - p))
    return s / F.count(a) if normalize else s


def query_l2(actual, pred, normalize: bool = True) -> Column:
    """MSE. Ref metrics.py:141."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    s = F.sum((a - p) * (a - p))
    return s / F.count(a) if normalize else s


def query_l_inf(actual, pred) -> Column:
    """max |a-p|. Ref metrics.py:182."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    return F.max(F.abs(a - p))


def query_log_loss(actual, pred, normalize: bool = True) -> Column:
    """Binary cross-entropy with xlogy semantics (0*log 0 = 0).
    Ref metrics.py:198."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    t1 = F.when(a == 0, F.lit(0.0)).otherwise(a * F.log(p))
    t2 = F.when(a == 1, F.lit(0.0)).otherwise((1 - a) * F.log(1 - p))
    s = -F.sum(t1 + t2)
    return s / F.count(a) if normalize else s


def query_msle(actual, pred, normalize: bool = True) -> Column:
    """Mean squared log error. Ref metrics.py:334."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    d = F.log1p(a) - F.log1p(p)
    s = F.sum(d * d)
    return s / F.count(a) if normalize else s


def query_mape(actual, pred, weighted: bool = False) -> Column:
    """MAPE / wMAPE. Ref metrics.py:229."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    if weighted:
        return F.sum(F.abs(a - p)) / F.sum(F.abs(a))
    return F.avg(F.abs(1 - p / a))


def query_smape(actual, pred) -> Column:
    """SMAPE (0..1, wikipedia 3rd version: no 100, |a|+|p| denominator).
    Ref metrics.py:253."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    return F.avg(F.abs(a - p) / (F.abs(a) + F.abs(p)))


def query_mase_precomputed(actual, pred, train_loss: float,
                           use_mean: bool = True) -> Column:
    """MASE with a precomputed naive-forecast training loss (the
    reference's float-train branch, metrics.py:275). The column-train
    branch is order-dependent → query_mase_df."""
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    num = F.avg(F.abs(a - p)) if use_mean else F.median(F.abs(a - p))
    return num / F.lit(train_loss)


def query_mase_df(df: DataFrame, actual, pred, train, order_by,
                  by: Sequence[str] | None = None, freq: int = 1,
                  use_mean: bool = True) -> DataFrame:
    """Mean/Median Absolute Scaled Error with the seasonal-naive train
    loss computed internally — the reference's column-train branch
    (ref exprs/metrics.py:275 ``query_mase``): denominator =
    mean/median |train_t − train_{t−freq}| over the train series in
    ``order_by`` order.

    Membership is null-driven, mirroring the reference's filter-expr
    usage: rows where ``train`` is non-null form the training series;
    rows where ``actual`` AND ``pred`` are non-null form the test set
    (typically ``F.when(ts < T, y)`` / ``F.when(ts >= T, y)``).

    Scale shape: with ``by`` the diff is a per-group ordered window
    (group-sized partitions, the usual per-series contract). Without
    ``by`` a global window would funnel every row through one task, so
    the train series gets two-pass global ranks (plans/ranks) and the
    lag-``freq`` neighbor comes from a self-equi-join on rank — hash
    shuffles only. ``order_by`` must be unique per group (a time index).

    Returns one row per group: (by..., mase).
    """
    if freq < 1:
        raise ValueError("Input `freq` must be >= 1.")
    keys = list(by or [])
    a, p = to_col(actual).cast("double"), to_col(pred).cast("double")
    t = to_col(train).cast("double")
    stat = (lambda c: F.avg(c)) if use_mean else (lambda c: F.median(c))

    tr = (df.select(*keys, to_col(order_by).alias("__o"), t.alias("__t"))
          .where(F.col("__t").isNotNull()))
    o_type = tr.schema["__o"].dataType.simpleString()
    if o_type.startswith("timestamp"):
        # the two-pass rank plan range-buckets on a numeric key; epoch
        # micros is the order-preserving numeric image of a timestamp
        o_num = (F.unix_micros(F.to_utc_timestamp(F.col("__o"), "UTC"))
                 if o_type == "timestamp_ntz" else F.unix_micros(F.col("__o")))
        tr = tr.withColumn("__o", o_num)
    if keys:
        w = Window.partitionBy(*keys).orderBy("__o")
        diff = tr.withColumn("__prev", F.lag("__t", freq).over(w))
    elif freq == 1:
        # r15: lag-1 comes straight from the cross-partition lag plan
        # (local lag per range bucket + a collected P-sized boundary
        # map) — the rank + rank-shifted SELF-JOIN below re-shuffled
        # the whole train series twice more on __rn for the same
        # neighbor. Same two driver jobs, two exchanges fewer.
        from ..plans.ranks import global_lag
        # NB: "__prev" itself is global_lag's internal boundary column
        # (dropped on return) — use a distinct output name
        diff = global_lag(tr, "__o", "__t", out_name="__lagt") \
            .withColumnRenamed("__lagt", "__prev")
    else:
        from ..plans.ranks import global_min_rank
        rn = global_min_rank(tr, "__o", out_name="__rn")
        prev = rn.select((F.col("__rn") + freq).alias("__rn"),
                         F.col("__t").alias("__prev"))
        diff = rn.join(prev, "__rn", "left")
    den = (diff.where(F.col("__prev").isNotNull())
           .groupBy(*keys)
           .agg(stat(F.abs(F.col("__t") - F.col("__prev"))).alias("__den")))

    num = (df.select(*keys, a.alias("__a"), p.alias("__p"))
           .where(F.col("__a").isNotNull() & F.col("__p").isNotNull())
           .groupBy(*keys)
           .agg(stat(F.abs(F.col("__a") - F.col("__p"))).alias("__num")))

    joined = num.join(den, keys) if keys else num.crossJoin(F.broadcast(den))
    return joined.select(*keys,
                         (F.col("__num") / F.col("__den")).alias("mase"))


def query_cat_cross_entropy(actual, pred_probs) -> Column:
    """Categorical cross-entropy: -avg(log(probs[actual])). ``actual`` is
    an int class index, ``pred_probs`` an array<double> of probabilities.
    Ref metrics.py:569. Stays JVM-side via element_at."""
    a = to_col(actual).cast("int")
    probs = to_col(pred_probs)
    return -F.avg(F.log(F.element_at(probs, a + 1)))


def confusion_matrix_counts(actual, pred, threshold: float = 0.5) -> Column:
    """tp/fp/tn/fn counts as a struct (agg). Ref metrics.py:418."""
    a = to_col(actual).cast("int")
    yhat = (to_col(pred).cast("double") >= F.lit(threshold)).cast("int")
    tp = F.sum(((a == 1) & (yhat == 1)).cast("long"))
    fp = F.sum(((a == 0) & (yhat == 1)).cast("long"))
    tn = F.sum(((a == 0) & (yhat == 0)).cast("long"))
    fn = F.sum(((a == 1) & (yhat == 0)).cast("long"))
    return F.struct(tp.alias("tp"), fp.alias("fp"), tn.alias("tn"), fn.alias("fn"))


def query_binary_metrics(actual, pred, threshold: float = 0.5) -> Column:
    """precision/recall/f1/accuracy struct in one agg pass.
    Ref metrics.py:495."""
    a = to_col(actual).cast("int")
    yhat = (to_col(pred).cast("double") >= F.lit(threshold)).cast("int")
    tp = F.sum(((a == 1) & (yhat == 1)).cast("double"))
    fp = F.sum(((a == 0) & (yhat == 1)).cast("double"))
    tn = F.sum(((a == 0) & (yhat == 0)).cast("double"))
    fn = F.sum(((a == 1) & (yhat == 0)).cast("double"))
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    f1 = 2 * precision * recall / (precision + recall)
    acc = (tp + tn) / (tp + tn + fp + fn)
    return F.struct(
        precision.alias("precision"), recall.alias("recall"),
        f1.alias("f1"), acc.alias("accuracy"),
    )


def query_mcc(y_true, y_pred, threshold: float = 0.5) -> Column:
    """Matthews correlation coefficient (agg). Ref metrics.py:599."""
    a = to_col(y_true).cast("int")
    yhat = (to_col(y_pred).cast("double") >= F.lit(threshold)).cast("int")
    tp = F.sum(((a == 1) & (yhat == 1)).cast("double"))
    fp = F.sum(((a == 0) & (yhat == 1)).cast("double"))
    tn = F.sum(((a == 0) & (yhat == 0)).cast("double"))
    fn = F.sum(((a == 1) & (yhat == 0)).cast("double"))
    return (tp * tn - fp * fn) / F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))


# --------------------------------------------------- DataFrame-level metrics

def query_mad(df: DataFrame, x: str, use_mean: bool = True,
              by: Sequence[str] | None = None) -> DataFrame:
    """Mean (or median) absolute deviation. Ref metrics.py:46.
    Grouped: group window + aggregation — one shuffle. Ungrouped: the
    center comes from a tiny separate aggregation broadcast back (a
    global window would funnel every row through ONE partition)."""
    keys = list(by) if by else []
    xx = to_col(x).cast("double")
    centerer = F.mean(xx) if use_mean else F.median(xx)
    if keys:
        dev = F.abs(xx - centerer.over(group_window(keys)))
        step = df.select(*keys, dev.alias("__dev"))
    else:
        center = df.agg(centerer.alias("__c"))
        step = (df.crossJoin(F.broadcast(center))
                .select(F.abs(xx - F.col("__c")).alias("__dev")))
    out = F.mean("__dev") if use_mean else F.median("__dev")
    if keys:
        return step.groupBy(*keys).agg(out.alias("mad"))
    return step.agg(out.alias("mad"))


def roc_auc(df: DataFrame, actual: str, pred: str,
            by: Sequence[str] | None = None,
            out_name: str = "roc_auc") -> DataFrame:
    """ROC AUC via the Mann-Whitney rank-sum identity with midranks
    (exactly equals the trapezoidal ROC integral with tie handling).

    Ref metrics.py:354 (Rust kernel sorts per group); here: one
    sort-shuffle on (by, pred) for the rank window, then a groupBy —
    both distributed, no collect. Output: ``by`` + out_name.
    """
    keys = list(by) if by else []
    a = to_col(actual).cast("double")
    if keys:
        r = _avg_rank_expr(df, pred, keys)
        step = df.select(*keys, a.alias("__a"), r.alias("__r"))
    else:
        # global path: two-pass range-partitioned ranks — no
        # single-partition sort (plans/ranks.py)
        from ..plans import global_avg_rank
        pre = df.select(a.alias("__a"), to_col(pred).alias("__p"))
        step = global_avg_rank(pre, "__p", out_name="__r")
    npos = F.sum("__a")
    nneg = F.count(F.lit(1)) - npos
    rank_sum = F.sum(F.col("__r") * F.col("__a"))
    auc = (rank_sum - npos * (npos + 1) / 2) / (npos * nneg)
    if keys:
        return step.groupBy(*keys).agg(auc.alias(out_name))
    return step.agg(auc.alias(out_name))


def _avg_rank_expr(df: DataFrame, pred: str, keys: list[str]) -> Column:
    wo = (Window.partitionBy(*keys) if keys else Window.partitionBy()).orderBy(to_col(pred))
    wt = (
        Window.partitionBy(*keys, to_col(pred)) if keys
        else Window.partitionBy(to_col(pred))
    )
    return (F.rank().over(wo) + (F.count(F.lit(1)).over(wt) - 1) / 2.0).cast("double")


def query_gini(df: DataFrame, actual: str, pred: str,
               by: Sequence[str] | None = None) -> DataFrame:
    """Gini = 2*AUC - 1. Ref metrics.py:400."""
    out = roc_auc(df, actual, pred, by=by, out_name="__auc")
    keys = list(by) if by else []
    return out.select(*keys, (F.col("__auc") * 2 - 1).alias("gini"))


def multi_roc_auc(df: DataFrame, actual: str, pred_probs: str, n_classes: int,
                  average: str = "macro",
                  by: Sequence[str] | None = None) -> DataFrame:
    """One-vs-rest multiclass ROC AUC (macro or weighted average).
    Ref metrics.py:531.

    One pass: posexplode melts the probability array to (class, is_class,
    prob) rows, then a SINGLE grouped two-pass rank plan (plans/ranks.py,
    scale-safe — no single-partition sort, classes rank in parallel)
    feeds the rank-sum AUC identity per class and the macro/weighted
    average. Replaces the old n_classes-separate-pipelines shape: same
    scanned volume, 1/n_classes the stages."""
    from ..plans import global_avg_rank

    keys = list(by) if by else []
    melted = df.select(
        *keys,
        to_col(actual).cast("int").alias("__y"),
        F.posexplode(to_col(pred_probs)).alias("__cls", "__p"),
    ).where(F.col("__cls") < n_classes).select(
        *keys, "__cls",
        (F.col("__y") == F.col("__cls")).cast("double").alias("__a"),
        "__p",
    )
    ranked = global_avg_rank(melted, "__p", by=["__cls", *keys], out_name="__r")
    npos = F.sum("__a")
    nneg = F.count(F.lit(1)) - npos
    rank_sum = F.sum(F.col("__r") * F.col("__a"))
    auc = (rank_sum - npos * (npos + 1) / 2) / (npos * nneg)
    per_class = ranked.groupBy("__cls", *keys).agg(
        auc.alias("auc"), F.sum("__a").alias("w"))
    if average == "weighted":
        agg = (F.sum(F.col("auc") * F.col("w")) / F.sum("w")).alias("roc_auc")
    else:
        agg = F.avg("auc").alias("roc_auc")
    return per_class.groupBy(*keys).agg(agg) if keys else per_class.agg(agg)


def query_dcg_score(df: DataFrame, actual: str, pred: str, k: int | None = None,
                    log_base: float = 2.0, by: Sequence[str] | None = None,
                    normalize: bool = False) -> DataFrame:
    """(N)DCG: Σ rel_i / log(1+pos_i) with positions ordered by pred desc
    (ideal ordering by rel desc for the normalizer). Ref metrics.py:670,736.
    Two rank windows + one agg — sort-shuffles on (by, pred)/(by, rel)."""
    keys = list(by) if by else []
    rel = to_col(actual).cast("double")
    if keys:
        wp = Window.partitionBy(*keys).orderBy(to_col(pred).desc())
        wi = Window.partitionBy(*keys).orderBy(rel.desc())
        pos = F.row_number().over(wp).cast("double")
        ipos = F.row_number().over(wi).cast("double")
    else:
        # ungrouped: global row_number would collapse to ONE partition —
        # use the two-pass min-rank plan + a tie-local row_number (the
        # tie window is keyed on the value, parallel across distinct
        # values), giving unique positions without a global sort
        from ..plans import global_min_rank

        df = df.select(rel.alias("__rel"),
                       (-to_col(pred).cast("double")).alias("__np"))
        df = global_min_rank(df, "__np", out_name="__pr")
        df = global_min_rank(df, -F.col("__rel"), out_name="__ir")
        wtp = Window.partitionBy("__np").orderBy(F.col("__rel").desc())
        wti = Window.partitionBy("__rel").orderBy(F.col("__np").asc())
        pos = (F.col("__pr") + F.row_number().over(wtp) - 1).cast("double")
        ipos = (F.col("__ir") + F.row_number().over(wti) - 1).cast("double")
        rel = F.col("__rel")
    gain = rel / (F.log(float(log_base), pos + 1))
    igain = rel / (F.log(float(log_base), ipos + 1))
    if k is not None:
        gain = F.when(pos <= k, gain).otherwise(F.lit(0.0))
        igain = F.when(ipos <= k, igain).otherwise(F.lit(0.0))
    step = df.select(*keys, gain.alias("__g"), igain.alias("__ig"))
    if normalize:
        agg = (F.sum("__g") / F.sum("__ig")).alias("ndcg")
    else:
        agg = F.sum("__g").alias("dcg")
    return step.groupBy(*keys).agg(agg) if keys else step.agg(agg)


def tpr_fpr(df: DataFrame, actual: str, pred: str,
            by: Sequence[str] | None = None) -> DataFrame:
    """TPR/FPR at every distinct predicted-probability threshold (for ROC
    curves). Ref metrics.py:379.

    Grouped: cumulative windows over pred desc (parallel across groups).
    Ungrouped: the two-pass range-bucket cumsum plan (plans/ranks.py) —
    a global desc window would collapse to ONE partition; totals come
    from a tiny aggregation broadcast back."""
    keys = list(by) if by else []
    a = to_col(actual).cast("double")
    step = df.select(*keys, a.alias("__a"), to_col(pred).alias("__p"))
    if keys:
        wcum = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__p").desc())
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        gw = group_window(keys)
        tp = F.sum("__a").over(wcum)
        fp = F.count(F.lit(1)).over(wcum) - tp
        npos = F.sum("__a").over(gw)
        nneg = F.count(F.lit(1)).over(gw) - npos
        out = step.select(
            *keys, F.col("__p").alias("threshold"),
            (tp / npos).alias("tpr"), (fp / nneg).alias("fpr"),
        )
        return out.dropDuplicates(keys + ["threshold"])
    from ..plans import global_cumsum

    # cum over pred DESC == cum over (-pred) ASC; ties (equal pred) share
    # a range bucket, so the range-frame tie semantics are preserved
    pre = step.select("__a", "__p", (-F.col("__p").cast("double")).alias("__np"),
                      F.lit(1.0).alias("__one"))
    cum = global_cumsum(pre, "__np", ["__a", "__one"])
    tot = F.broadcast(step.agg(
        F.sum("__a").alias("__npos"),
        (F.count(F.lit(1)) - F.sum("__a")).alias("__nneg")))
    out = cum.crossJoin(tot).select(
        F.col("__p").alias("threshold"),
        (F.col("cum___a") / F.col("__npos")).alias("tpr"),
        ((F.col("cum___one") - F.col("cum___a")) / F.col("__nneg")).alias("fpr"),
    )
    return out.dropDuplicates(["threshold"])
