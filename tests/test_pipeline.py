"""Pipeline fit/transform + serialization round-trip tests."""

import numpy as np
import pandas as pd
import pytest

from polars_ds_extension_spark.pipeline import Pipeline
from polars_ds_extension_spark.pipeline.transforms import (
    Impute, OneHot, Ordinal, Polynomial, Scale, TargetEncode, Winsorize,
    WoeEncode,
)

RNG = np.random.default_rng(7)


@pytest.fixture(scope="module")
def df(spark):
    pdf = pd.DataFrame({
        "x": [1.0, 2.0, None, 4.0, 100.0],
        "z": [10.0, 20.0, 30.0, 40.0, 50.0],
        "cat": ["a", "b", "a", "c", "b"],
        "y": [0.0, 1.0, 0.0, 1.0, 0.0],
    })
    return spark.createDataFrame(pdf)


def test_impute_scale(df):
    pipe = Pipeline([Impute(["x"], "mean"), Scale(["z"], "standard")]).fit(df)
    out = pipe.transform(df).toPandas()
    assert out["x"].iloc[2] == pytest.approx((1 + 2 + 4 + 100) / 4)
    z = np.array([10, 20, 30, 40, 50.0])
    assert out["z"].values == pytest.approx((z - z.mean()) / z.std(ddof=1))


def test_minmax_and_winsorize(df):
    out = Pipeline([Scale(["z"], "minmax")]).fit(df).transform(df).toPandas()
    assert out["z"].min() == 0.0 and out["z"].max() == 1.0
    w = Pipeline([Winsorize(["z"], 0.25, 0.75)]).fit(df).transform(df).toPandas()
    assert w["z"].max() == 40.0 and w["z"].min() == 20.0



@pytest.mark.parametrize("method", ["standard", "minmax", "robust"])
def test_scale_zero_spread_scales_by_one(spark, method):
    """A constant column (spread 0) and a one-row fit (undefined sample
    std) scale by 1: values are centred, not divided by zero."""
    const = spark.createDataFrame([(3.0,), (3.0,), (3.0,)], "z double")
    out = Pipeline([Scale(["z"], method)]).fit(const).transform(const)
    assert [r["z"] for r in out.collect()] == [0.0, 0.0, 0.0]
    one = spark.createDataFrame([(7.0,)], "z double")
    fitted = Pipeline([Scale(["z"], method)]).fit(one)
    assert [r["z"] for r in fitted.transform(one).collect()] == [0.0]

def test_one_hot_and_ordinal(df):
    out = Pipeline([OneHot(["cat"])]).fit(df).transform(df).toPandas()
    assert {"cat_a", "cat_b", "cat_c"} <= set(out.columns)
    assert out["cat_a"].tolist() == [1, 0, 1, 0, 0]
    o = Pipeline([Ordinal(["cat"])]).fit(df).transform(df).toPandas()
    assert o["cat"].tolist() == [0, 1, 0, 2, 1]


def test_target_and_woe_encode(df):
    pdf = df.toPandas()
    pipe = Pipeline([TargetEncode(["cat"], "y", smoothing=2.0)]).fit(df)
    out = pipe.transform(df).toPandas()
    g = pdf["y"].mean()
    grp = pdf.groupby("cat")["y"].agg(["count", "mean"])
    want_a = (grp.loc["a", "count"] * grp.loc["a", "mean"] + 2 * g) / (grp.loc["a", "count"] + 2)
    assert out["cat"].iloc[0] == pytest.approx(want_a)
    w = Pipeline([WoeEncode(["cat"], "y")]).fit(df).transform(df).toPandas()
    pt, nt = pdf["y"].sum(), (1 - pdf["y"]).sum()
    pb = pdf[pdf["cat"] == "b"]["y"]
    want_b = np.log((pb.sum() / pt) / ((1 - pb).sum() / nt))
    assert w["cat"].iloc[1] == pytest.approx(want_b)
    # pure categories (all-pos / all-neg) have undefined WoE → NULL
    assert pd.isna(w["cat"].iloc[0]) and pd.isna(w["cat"].iloc[3])


def test_polynomial(df):
    out = Pipeline([Polynomial(["x", "z"])]).fit(df).transform(df).toPandas()
    assert out["x_sq"].iloc[0] == 1.0
    assert out["x_x_z"].iloc[1] == pytest.approx(2.0 * 20.0)


def test_json_round_trip(df, spark):
    pipe = Pipeline([
        Impute(["x"], "median"), Scale(["z"], "robust"),
        OneHot(["cat"]), Polynomial(["z"]),
    ]).fit(df)
    blob = pipe.to_json()
    revived = Pipeline.from_json(blob)
    a = pipe.transform(df).toPandas()
    b = revived.transform(df).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_transform_before_fit_raises(df):
    with pytest.raises(RuntimeError):
        Pipeline([Scale(["z"])]).transform(df)


def test_conditional_impute_and_iv_rankhot(spark):
    from polars_ds_extension_spark.pipeline.transforms import (
        ConditionalImpute, IvEncode, RankHot, linear_impute, select_by_std)

    pdf = pd.DataFrame({
        "x": [1.0, None, 3.0, 100.0],
        "cat": ["lo", "hi", "lo", "hi"],
        "y": [0.0, 1.0, 1.0, 0.0],
        "const": [5.0, 5.0, 5.0, 5.0],
    })
    sdf = spark.createDataFrame(pdf)
    # impute with mean over x < 50 (outlier excluded): (1+3)/2 = 2
    ci = Pipeline([ConditionalImpute(["x"], "x < 50")]).fit(sdf)
    assert ci.transform(sdf).toPandas()["x"].iloc[1] == pytest.approx(2.0)
    iv = Pipeline([IvEncode(["cat"], "y")]).fit(sdf).transform(sdf).toPandas()
    # lo: p=1/2, n=1/2 → IV term 0; hi same by symmetry here
    assert iv["cat"].iloc[0] == pytest.approx(0.0)
    rh = Pipeline([RankHot(["cat"])]).fit(sdf).transform(sdf).toPandas()
    assert rh["cat_ge_lo"].tolist() == [1, 0, 1, 0]  # 'hi' < 'lo' lexically
    out = select_by_std(sdf, ["x", "const"], min_std=1e-9)
    assert "const" not in out.columns and "x" in out.columns


def test_linear_impute(spark):
    from polars_ds_extension_spark.pipeline.transforms import linear_impute

    pdf = pd.DataFrame({
        "o": [0, 1, 2, 3, 4, 5],
        "v": [None, 10.0, None, None, 40.0, None],
    })
    out = (linear_impute(spark.createDataFrame(pdf), ["v"], "o")
           .orderBy("o").toPandas())
    assert out["v"].tolist() == [10.0, 10.0, 20.0, 30.0, 40.0, 40.0]


def test_blueprint_steps_json_roundtrip(spark):
    from polars_ds_extension_spark.pipeline import (
        Pipeline, SQLStep, SortStep, GroupByAggStep, ExprStep)
    from polars_ds_extension_spark.pipeline.transforms import Impute

    df = spark.createDataFrame(
        [("a", 1.0, 10.0), ("a", None, 20.0), ("b", 3.0, 30.0),
         ("b", 4.0, None), ("c", 0.5, 5.0)],
        "k string, x double, y double")
    pipe = Pipeline([
        Impute(["x", "y"], strategy="mean"),
        SQLStep("SELECT k, x, y FROM df WHERE x > 0.4"),
        ExprStep("with_columns", ["x + y AS xy"]),
        GroupByAggStep(["k"], ["SUM(xy) AS sum_xy", "COUNT(*) AS n"]),
        SortStep("k", descending=True),
    ])
    out1 = pipe.fit_transform(df).collect()
    blob = pipe.to_json()
    out2 = Pipeline.from_json(blob).transform(df).collect()
    assert [r.asDict() for r in out1] == [r.asDict() for r in out2]
    assert [r["k"] for r in out1] == ["c", "b", "a"]
    got = {r["k"]: (r["sum_xy"], r["n"]) for r in out1}
    # x-mean = (1+3+4+0.5)/4 = 2.125, y-mean = 16.25
    assert got["a"] == (pytest.approx(11.0 + 2.125 + 20.0), 2)
    assert got["b"] == (pytest.approx(33.0 + 4.0 + 16.25), 2)
    assert got["c"] == (pytest.approx(5.5), 1)


def test_expr_step_contexts(spark):
    from polars_ds_extension_spark.pipeline import ExprStep
    df = spark.createDataFrame([(1, [10, 20]), (2, [30])],
                               "id int, arr array<int>")
    ex = ExprStep("explode", "arr").fit(df).transform(df)
    assert sorted((r["id"], r["arr"]) for r in ex.collect()) == [
        (1, 10), (1, 20), (2, 30)]
    sel = ExprStep("select", ["id * 2 AS id2"]).fit(df).transform(df)
    assert sorted(r["id2"] for r in sel.collect()) == [2, 4]
    flt = ExprStep("filter", "id = 2").fit(df).transform(df)
    assert [r["id"] for r in flt.collect()] == [2]
    with pytest.raises(ValueError):
        ExprStep("bogus", "x")


def test_blueprint_chain_matches_manual_pipeline(spark):
    from polars_ds_extension_spark.pipeline import Blueprint, Pipeline
    from polars_ds_extension_spark.pipeline.transforms import Impute, Scale
    from polars_ds_extension_spark.pipeline.steps import ExprStep

    df = spark.createDataFrame(
        [(1.0, 2.0, "a"), (None, 4.0, "b"), (3.0, None, "a"), (5.0, 8.0, "b")],
        "x double, y double, g string")
    bp_out = (Blueprint(df)
              .impute(["x", "y"], method="mean")
              .scale(["x"], method="standard")
              .filter("y > 3")
              .transform())
    manual = Pipeline([
        Impute(["x", "y"], strategy="mean"),
        Scale(["x"], method="standard"),
        ExprStep("filter", "y > 3"),
    ]).fit(df).transform(df)
    a = sorted(tuple(r) for r in bp_out.collect())
    b = sorted(tuple(r) for r in manual.collect())
    assert a == b


def test_blueprint_json_roundtrip_and_stateless_steps(spark):
    from polars_ds_extension_spark.pipeline import Blueprint, Pipeline

    df = spark.createDataFrame(
        [(1, True, float("nan"), "x"), (2, False, 2.5, "y")],
        "i int, b boolean, v double, s string")
    pipe = (Blueprint(df)
            .cast_bools("int")
            .nan_to_null()
            .int_to_float()
            .rename({"s": "label"})
            .drop("label")
            .materialize())
    out = Pipeline.from_json(pipe.to_json()).transform(df)
    rows = sorted((r["i"], r["b"], r["v"]) for r in out.collect())
    assert out.schema["i"].dataType.simpleString() == "double"
    # cast_bools makes b int, then int_to_float lifts it to double —
    # step order composes exactly like the reference's Blueprint
    assert out.schema["b"].dataType.simpleString() == "double"
    assert rows[0] == (1.0, 1.0, None)
    assert rows[1] == (2.0, 0.0, 2.5)
    assert "label" not in out.columns


def test_blueprint_group_by_dynamic_agg(spark, sf_dir):
    import duckdb
    from polars_ds_extension_spark.pipeline import Blueprint
    from polars_ds_extension_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    out = (Blueprint(ev)
           .group_by_dynamic_agg("ts", ["COUNT(*) AS n",
                                        "ROUND(SUM(value), 6) AS sv"],
                                 every="1 hour", group_by="event_type")
           .transform())
    got = {(str(r["ts"]), r["event_type"]): (r["n"], r["sv"])
           for r in out.collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    exp = con.sql("""
        SELECT date_trunc('hour', ts) AS w, event_type, COUNT(*) AS n,
               ROUND(SUM(value), 6) AS sv
        FROM events GROUP BY 1, 2""").df()
    assert len(got) == len(exp)
    for _, row in exp.iterrows():
        key = (str(row["w"]), row["event_type"])
        assert got[key] == (row["n"], row["sv"]), key


def test_blueprint_center_and_target(spark):
    import pytest as _pt
    from polars_ds_extension_spark.pipeline import Blueprint

    df = spark.createDataFrame([(1.0, 0.0), (3.0, 1.0)], "x double, y double")
    out = Blueprint(df, target="y").center(["x"]).transform()
    assert sorted(r["x"] for r in out.collect()) == [-1.0, 1.0]
    with _pt.raises(ValueError):
        Blueprint(df).target_encode(["x"])  # no target anywhere


def test_blueprint_parity_tail(spark):
    """r9 Blueprint parity: linear_impute / select_by_std /
    append_step_from_dict / append_fit_func / with_features_out /
    ensure_features_io (ref pipeline.py:438,524,975,1015,125,189)."""
    import pytest as _pt
    from pyspark.sql import functions as F
    from polars_ds_extension_spark.pipeline import Blueprint, Pipeline

    rows = [(float(i), 2.0 * i + 1.0, float(i % 3)) for i in range(20)]
    rows[5] = (5.0, None, 2.0)       # y null -> linear_impute fills 11
    df = spark.createDataFrame(rows, "x double, y double, z double")

    # linear_impute: y ~ x with bias; the planted line is y = 2x + 1
    pipe = (Blueprint(df, target="y")
            .linear_impute(["x"], add_bias=True)
            .materialize())
    got = {r["x"]: r["y"] for r in pipe.transform(df).collect()}
    assert got[5.0] == _pt.approx(11.0, rel=1e-9)
    # the learned step JSON round-trips
    got2 = {r["x"]: r["y"]
            for r in Pipeline.from_json(pipe.to_json()).transform(df).collect()}
    assert got2[5.0] == _pt.approx(11.0, rel=1e-9)

    # select_by_std: z (std ~0.83) dropped by min 1.0; target survives
    df2 = spark.createDataFrame(
        [(float(i), float(i % 2), 100.0 + i) for i in range(10)],
        "a double, b double, t double")
    p2 = (Blueprint(df2, target="t").select_by_std(1.0).materialize())
    assert set(p2.transform(df2).columns) == {"a", "t"}

    # append_step_from_dict drives a public method; bad names raise
    p3 = (Blueprint(df, target="y")
          .append_step_from_dict(
              {"name": "impute", "args": [["y"]],
               "kwargs": {"method": "mean"}})
          .materialize())
    assert p3.transform(df).where(F.col("y").isNull()).count() == 0
    with _pt.raises(ValueError):
        Blueprint(df).append_step_from_dict({"name": "_append", "args": []})
    with _pt.raises(ValueError):
        Blueprint(df).append_step_from_dict({"name": "nope"})

    # append_fit_func: custom learned step, target injected by signature
    def my_fit(frame, cols, target):
        m = frame.agg(F.avg(target)).first()[0]
        return [(f"{c}_gap", F.col(c) - F.lit(float(m))) for c in cols]

    p4 = (Blueprint(df, target="y").append_fit_func(my_fit, ["x"])
          .materialize())
    out4 = p4.transform(df)
    assert "x_gap" in out4.columns
    with _pt.raises(NotImplementedError):
        p4.to_json()

    # feature-name contracts
    p5 = (Blueprint(df, target="y").impute(["y"], method="mean")
          .ensure_features_io().materialize())
    with _pt.raises(ValueError):
        p5.transform(df.drop("z"))
    p5.ensure_features_io(ensure_in=False, ensure_out=False)
    assert p5.transform(df.drop("z")).columns == ["x", "y"]
    # with_features_out projects the declared output
    p6 = (Blueprint(df, target="y").impute(["y"], method="mean")
          .with_features_out(["x", "y"]).materialize())
    assert p6.transform(df).columns == ["x", "y"]
