"""ML metrics vs numpy ground truth (mirrors reference tests/test_metrics.py
which compares against sklearn; expected values here via numpy formulas)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from polars_ds_extension_spark.functions import metrics as M

RNG = np.random.default_rng(7)
N_ = 400
Y_TRUE = RNG.integers(0, 2, N_).astype(float)
P = np.clip(Y_TRUE * 0.3 + RNG.uniform(0, 0.7, N_), 1e-6, 1 - 1e-6)
A = RNG.normal(50, 10, N_)
PRED = A + RNG.normal(0, 5, N_)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(pd.DataFrame({
        "y": Y_TRUE, "p": P, "a": A, "pred": PRED,
    }))



def test_r2_zero_variance_groups_are_null(spark):
    """A one-row or constant group has no variance in ``actual``: R² and
    adjusted R² are NULL there (not DIVIDE_BY_ZERO under ANSI), while a
    varying group still gets its value."""
    sdf = spark.createDataFrame(
        [("one", 3.0, 2.0), ("const", 5.0, 4.0), ("const", 5.0, 6.0),
         ("const", 5.0, 5.0), ("vary", 1.0, 1.5), ("vary", 2.0, 2.0),
         ("vary", 4.0, 3.5), ("vary", 7.0, 7.0)], "g string, a double, p double")
    out = {r["g"]: r for r in sdf.groupBy("g").agg(
        M.query_r2("a", "p").alias("r2"),
        M.query_adj_r2("a", "p", 1).alias("adj")).collect()}
    assert out["one"]["r2"] is None and out["one"]["adj"] is None
    assert out["const"]["r2"] is None and out["const"]["adj"] is None
    a, p = np.array([1.0, 2, 4, 7]), np.array([1.5, 2, 3.5, 7])
    r2 = 1 - ((a - p) ** 2).sum() / ((a - a.mean()) ** 2).sum()
    assert out["vary"]["r2"] == pytest.approx(r2, rel=1e-9)
    assert out["vary"]["adj"] == pytest.approx(1 - (1 - r2) * 3 / 2, rel=1e-9)

def test_regression_metrics(spark, df):
    row = df.agg(
        M.query_r2("a", "pred").alias("r2"),
        M.query_l1("a", "pred").alias("l1"),
        M.query_l2("a", "pred").alias("l2"),
        M.query_l_inf("a", "pred").alias("linf"),
        M.query_smape("a", "pred").alias("smape"),
        M.query_msle("a", "pred").alias("msle"),
        M.query_huber_loss("a", "pred", 3.0).alias("huber"),
        M.query_log_cosh("a", "pred").alias("lc"),
    ).first()
    err = A - PRED
    ss_tot = ((A - A.mean()) ** 2).sum()
    assert row["r2"] == pytest.approx(1 - (err ** 2).sum() / ss_tot, rel=1e-9)
    assert row["l1"] == pytest.approx(np.abs(err).mean(), rel=1e-9)
    assert row["l2"] == pytest.approx((err ** 2).mean(), rel=1e-9)
    assert row["linf"] == pytest.approx(np.abs(err).max(), rel=1e-9)
    assert row["smape"] == pytest.approx(
        float(np.mean(np.abs(err) / (np.abs(A) + np.abs(PRED)))), rel=1e-9)
    assert row["msle"] == pytest.approx(
        float(np.mean((np.log1p(A) - np.log1p(PRED)) ** 2)), rel=1e-9)
    d = np.abs(err)
    hub = np.where(d <= 3.0, 0.5 * d ** 2, 3.0 * (d - 1.5)).mean()
    assert row["huber"] == pytest.approx(hub, rel=1e-9)
    assert row["lc"] == pytest.approx(float(np.mean(np.log(np.cosh(PRED - A)))), rel=1e-9)


def test_log_loss_and_mcc(spark, df):
    row = df.agg(
        M.query_log_loss("y", "p").alias("ll"),
        M.query_mcc("y", "p").alias("mcc"),
    ).first()
    ll = -np.mean(Y_TRUE * np.log(P) + (1 - Y_TRUE) * np.log(1 - P))
    assert row["ll"] == pytest.approx(ll, rel=1e-9)
    yhat = (P >= 0.5).astype(float)
    tp = ((Y_TRUE == 1) & (yhat == 1)).sum()
    fp = ((Y_TRUE == 0) & (yhat == 1)).sum()
    tn = ((Y_TRUE == 0) & (yhat == 0)).sum()
    fn = ((Y_TRUE == 1) & (yhat == 0)).sum()
    mcc = (tp * tn - fp * fn) / np.sqrt(
        float((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)))
    assert row["mcc"] == pytest.approx(mcc, rel=1e-9)


def test_roc_auc_rank_formula(spark, df):
    got = M.roc_auc(df, "y", "p").first()["roc_auc"]
    ranks = pd.Series(P).rank().values
    npos = Y_TRUE.sum()
    nneg = len(Y_TRUE) - npos
    auc = (ranks[Y_TRUE == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg)
    assert got == pytest.approx(auc, rel=1e-9)


def test_roc_auc_with_heavy_ties(spark):
    # quantized predictions → many ties; midrank handling must match
    p = np.round(RNG.uniform(0, 1, 500), 1)
    y = RNG.integers(0, 2, 500).astype(float)
    sdf = spark.createDataFrame(pd.DataFrame({"y": y, "p": p}))
    got = M.roc_auc(sdf, "y", "p").first()["roc_auc"]
    ranks = pd.Series(p).rank().values  # average ranks
    npos, nneg = y.sum(), len(y) - y.sum()
    want = (ranks[y == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg)
    assert got == pytest.approx(want, rel=1e-9)


def test_confusion_and_binary(spark, df):
    row = df.agg(
        M.confusion_matrix_counts("y", "p").alias("cm"),
        M.query_binary_metrics("y", "p").alias("bm"),
    ).first()
    yhat = (P >= 0.5).astype(float)
    tp = int(((Y_TRUE == 1) & (yhat == 1)).sum())
    assert row["cm"]["tp"] == tp
    precision = tp / yhat.sum()
    recall = tp / Y_TRUE.sum()
    assert row["bm"]["precision"] == pytest.approx(precision, rel=1e-9)
    assert row["bm"]["recall"] == pytest.approx(recall, rel=1e-9)


def test_cat_cross_entropy(spark):
    probs = RNG.dirichlet([1, 1, 1], 200)
    actual = RNG.integers(0, 3, 200)
    pdf = pd.DataFrame({"actual": actual, "probs": [list(r) for r in probs]})
    sdf = spark.createDataFrame(pdf)
    got = sdf.agg(M.query_cat_cross_entropy("actual", "probs").alias("ce")).first()["ce"]
    want = -np.mean(np.log(probs[np.arange(200), actual]))
    assert got == pytest.approx(want, rel=1e-9)


def test_mad(spark, df):
    got_mean = M.query_mad(df, "a", use_mean=True).first()["mad"]
    got_med = M.query_mad(df, "a", use_mean=False).first()["mad"]
    assert got_mean == pytest.approx(float(np.mean(np.abs(A - A.mean()))), rel=1e-9)
    assert got_med == pytest.approx(
        float(np.median(np.abs(A - np.median(A)))), rel=1e-9)


def test_query_mase_df_vs_numpy(spark):
    rng = np.random.default_rng(7)
    n = 200
    y = rng.normal(10, 2, n)
    pred = y + rng.normal(0, 0.5, n)
    cut = 120
    pdf = pd.DataFrame({"i": np.arange(n), "y": y, "p": pred})
    df = spark.createDataFrame(pdf)
    actual = F.when(F.col("i") >= cut, F.col("y"))
    predc = F.when(F.col("i") >= cut, F.col("p"))
    train = F.when(F.col("i") < cut, F.col("y"))
    for freq in (1, 12):
        for use_mean in (True, False):
            got = M.query_mase_df(df, actual, predc, train, "i",
                                  freq=freq, use_mean=use_mean
                                  ).collect()[0]["mase"]
            stat = np.mean if use_mean else np.median
            num = stat(np.abs(y[cut:] - pred[cut:]))
            tr = y[:cut]
            den = stat(np.abs(tr[freq:] - tr[:-freq]))
            assert got == pytest.approx(num / den, rel=1e-9), (freq, use_mean)


def test_query_mase_df_grouped_matches_global_per_group(spark):
    rng = np.random.default_rng(11)
    rows = []
    for g in ("a", "b"):
        y = rng.normal(5 if g == "a" else 50, 1, 80)
        for i, v in enumerate(y):
            rows.append((g, i, float(v), float(v * 0.95)))
    df = spark.createDataFrame(rows, ["g", "i", "y", "p"])
    actual = F.when(F.col("i") >= 50, F.col("y"))
    predc = F.when(F.col("i") >= 50, F.col("p"))
    train = F.when(F.col("i") < 50, F.col("y"))
    grouped = {r["g"]: r["mase"] for r in M.query_mase_df(
        df, actual, predc, train, "i", by=["g"], freq=3).collect()}
    for g in ("a", "b"):
        solo = M.query_mase_df(df.where(F.col("g") == g), actual, predc,
                               train, "i", freq=3).collect()[0]["mase"]
        assert grouped[g] == pytest.approx(solo, rel=1e-9)
