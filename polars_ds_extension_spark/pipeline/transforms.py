"""Fit/transform steps — Spark-native re-expression of the reference's
pipeline transforms (ref pipeline/transforms.py:26 impute, :173 scale,
:320 one_hot_encode, :503 target_encode, :562 woe_encode).

Pattern: `fit(df)` runs ONE aggregation and stores a small params dict
(JSON-serializable — floats / category lists, never data); `transform`
emits pure Column expressions with the params as literals. Fitting cost
is one distributed agg per step; scoring cost is scan-speed with zero
Python and zero shuffles, so a fitted pipeline composes into any
downstream plan for free at 100 TB.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_CATEGORIES = 10_000


class Transform:
    """Base: subclasses set self.params in fit() and build exprs in
    transform(). `name` keys the JSON serialization.

    Implements the sklearn estimator protocol (get_params / set_params /
    fit_transform, with an ignored ``y``) so fitted steps compose inside
    sklearn-style pipelines — the Spark analogue of the reference's
    compat layer (ref compat/_compat.py, SKLEARN_COMPATIBILITY.md)."""

    name = "base"

    def __init__(self, **kwargs):
        self.kwargs = kwargs
        self.params: dict[str, Any] | None = None

    def fit(self, df: DataFrame, y=None) -> "Transform":
        self.params = {}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def fit_transform(self, df: DataFrame, y=None) -> DataFrame:
        return self.fit(df).transform(df)

    # sklearn estimator protocol — params are the constructor kwargs
    def get_params(self, deep: bool = True) -> dict:
        return dict(self.kwargs)

    def set_params(self, **params) -> "Transform":
        unknown = set(params) - set(self.kwargs)
        if unknown:
            raise ValueError(f"invalid parameters {sorted(unknown)} "
                             f"for {type(self).__name__}")
        self.kwargs.update(params)
        return self

    def to_dict(self) -> dict:
        return {"name": self.name, "kwargs": self.kwargs, "params": self.params}

    @classmethod
    def from_dict(cls, d: dict) -> "Transform":
        t = _REGISTRY[d["name"]](**d["kwargs"])
        t.params = d["params"]
        return t


class Impute(Transform):
    """Fill nulls with mean / median / mode / constant. Ref
    transforms.py:26."""

    name = "impute"

    def __init__(self, cols: Sequence[str], strategy: str = "mean",
                 value: float | None = None):
        super().__init__(cols=list(cols), strategy=strategy, value=value)

    def fit(self, df: DataFrame, y=None) -> "Impute":
        cols = self.kwargs["cols"]
        strat = self.kwargs["strategy"]
        if strat == "const":
            self.params = {c: float(self.kwargs["value"]) for c in cols}
            return self
        if strat == "median":
            # exact medians via the distributed selection plan —
            # F.median's physical agg buffers every value per partition
            # and merges in ONE reducer (plans/ranks.exact_quantiles,
            # measured value-identical)
            from ..plans.ranks import exact_quantiles

            qs = exact_quantiles(df, {c: [0.5] for c in cols})
            self.params = {c: float(qs[c][0]) for c in cols}
            return self
        if strat == "mean":
            aggs = [F.avg(F.col(c)).alias(c) for c in cols]
        elif strat == "mode":
            aggs = [F.mode(F.col(c)).alias(c) for c in cols]
        else:
            raise ValueError(f"unknown strategy {strat}")
        row = df.agg(*aggs).first()
        self.params = {c: float(row[c]) for c in cols}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        for c, v in self.params.items():
            df = df.withColumn(c, F.coalesce(F.col(c), F.lit(v)))
        return df


class Scale(Transform):
    """standard | minmax | robust (median/IQR) | center (mean-subtract
    only, ref Blueprint.center) scaling. Ref transforms.py:173.

    A fitted spread of 0 — a constant column, or the undefined sample
    std of a one-row fit — scales by 1, as sklearn does: the column is
    centred, not divided by zero."""

    name = "scale"

    def __init__(self, cols: Sequence[str], method: str = "standard"):
        super().__init__(cols=list(cols), method=method)

    def fit(self, df: DataFrame, y=None) -> "Scale":
        cols = self.kwargs["cols"]
        method = self.kwargs["method"]
        if method == "robust":
            # median/IQR via the distributed selection plan, not the
            # single-reducer F.median/F.percentile global aggs
            from ..plans.ranks import exact_quantiles

            qs = exact_quantiles(df, {c: [0.25, 0.5, 0.75] for c in cols})
            self.params = {
                c: [float(qs[c][1]), float(qs[c][2] - qs[c][0])]
                for c in cols}
            return self
        aggs = []
        for c in cols:
            cc = F.col(c).cast("double")
            if method == "standard":
                aggs += [F.avg(cc).alias(f"{c}__a"), F.stddev_samp(cc).alias(f"{c}__b")]
            elif method == "minmax":
                aggs += [F.min(cc).alias(f"{c}__a"), F.max(cc).alias(f"{c}__b")]
            elif method == "center":
                aggs += [F.avg(cc).alias(f"{c}__a"),
                         F.lit(1.0).alias(f"{c}__b")]
            else:
                raise ValueError(f"unknown method {method}")
        row = df.agg(*aggs).first()
        self.params = {c: [float(row[f"{c}__a"]), float(row[f"{c}__b"] or 0.0)]
                       for c in cols}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        method = self.kwargs["method"]
        for c, (a, b) in self.params.items():
            spread = b - a if method == "minmax" else b
            df = df.withColumn(
                c, (F.col(c).cast("double") - F.lit(a)) / F.lit(spread or 1.0))
        return df


class Winsorize(Transform):
    """Clip to fitted percentiles. Ref transforms.py (winsorize)."""

    name = "winsorize"

    def __init__(self, cols: Sequence[str], lower: float = 0.05,
                 upper: float = 0.95):
        super().__init__(cols=list(cols), lower=lower, upper=upper)

    def fit(self, df: DataFrame, y=None) -> "Winsorize":
        cols = self.kwargs["cols"]
        lo, hi = self.kwargs["lower"], self.kwargs["upper"]
        from ..plans.ranks import exact_quantiles

        qs = exact_quantiles(df, {c: [lo, hi] for c in cols})
        self.params = {c: [float(qs[c][0]), float(qs[c][1])]
                       for c in cols}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        for c, (lo, hi) in self.params.items():
            cc = F.col(c).cast("double")
            df = df.withColumn(
                c, F.when(cc < lo, F.lit(lo)).when(cc > hi, F.lit(hi)).otherwise(cc))
        return df


class OneHot(Transform):
    """One-hot encode to <col>_<value> 0/1 columns; categories fitted
    sorted (capped). Ref transforms.py:320."""

    name = "one_hot"

    def __init__(self, cols: Sequence[str], drop_first: bool = False,
                 drop_original: bool = True):
        super().__init__(cols=list(cols), drop_first=drop_first,
                         drop_original=drop_original)

    def fit(self, df: DataFrame, y=None) -> "OneHot":
        self.params = {}
        for c in self.kwargs["cols"]:
            vals = [
                r[0] for r in df.select(F.col(c).cast("string"))
                .where(F.col(c).isNotNull())
                .distinct().limit(_MAX_CATEGORIES + 1).collect()
            ]
            if len(vals) > _MAX_CATEGORIES:
                raise ValueError(f"one_hot: {c} exceeds {_MAX_CATEGORIES} categories")
            self.params[c] = sorted(vals)
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        for c, vals in self.params.items():
            use = vals[1:] if self.kwargs["drop_first"] else vals
            for v in use:
                df = df.withColumn(
                    f"{c}_{v}",
                    (F.col(c).cast("string") == F.lit(v)).cast("int"))
            if self.kwargs["drop_original"]:
                df = df.drop(c)
        return df


class Ordinal(Transform):
    """Map categories to their sorted index. Ref transforms.py
    (ordinal/rank hot)."""

    name = "ordinal"

    def __init__(self, cols: Sequence[str]):
        super().__init__(cols=list(cols))

    def fit(self, df: DataFrame, y=None) -> "Ordinal":
        self.params = {}
        for c in self.kwargs["cols"]:
            vals = sorted(
                r[0] for r in df.select(F.col(c).cast("string"))
                .where(F.col(c).isNotNull())
                .distinct().limit(_MAX_CATEGORIES + 1).collect()
            )
            if len(vals) > _MAX_CATEGORIES:
                raise ValueError(f"ordinal: {c} exceeds {_MAX_CATEGORIES} categories")
            self.params[c] = vals
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        for c, vals in self.params.items():
            mapping = F.map_from_arrays(
                F.array(*[F.lit(v) for v in vals]),
                F.array(*[F.lit(i) for i in range(len(vals))]),
            )
            df = df.withColumn(c, mapping[F.col(c).cast("string")])
        return df


class TargetEncode(Transform):
    """Smoothed mean-target encoding (m-estimate):
    (cnt·mean_cat + m·mean_global) / (cnt + m). Ref transforms.py:503."""

    name = "target_encode"

    def __init__(self, cols: Sequence[str], target: str, smoothing: float = 20.0):
        super().__init__(cols=list(cols), target=target, smoothing=smoothing)

    def fit(self, df: DataFrame, y=None) -> "TargetEncode":
        tgt = F.col(self.kwargs["target"]).cast("double")
        m = self.kwargs["smoothing"]
        g = float(df.agg(F.avg(tgt)).first()[0])
        self.params = {"__global__": g}
        for c in self.kwargs["cols"]:
            # null categories are excluded from the map (a NULL map key is a
            # runtime error); transform()'s coalesce sends them to the
            # global mean
            rows = (
                df.where(F.col(c).isNotNull())
                .groupBy(F.col(c).cast("string").alias("k"))
                .agg(F.count(F.lit(1)).alias("n"), F.avg(tgt).alias("m"))
                .limit(_MAX_CATEGORIES + 1).collect()
            )
            if len(rows) > _MAX_CATEGORIES:
                raise ValueError(f"target_encode: {c} exceeds {_MAX_CATEGORIES}")
            self.params[c] = {
                r["k"]: (r["n"] * r["m"] + m * g) / (r["n"] + m) for r in rows
            }
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        g = self.params["__global__"]
        for c, enc in self.params.items():
            if c == "__global__":
                continue
            mapping = F.map_from_arrays(
                F.array(*[F.lit(k) for k in enc]),
                F.array(*[F.lit(float(v)) for v in enc.values()]),
            )
            df = df.withColumn(
                c, F.coalesce(mapping[F.col(c).cast("string")], F.lit(g)))
        return df


class WoeEncode(Transform):
    """Weight-of-evidence encoding vs a binary target:
    ln((pos_cat/pos_tot)/(neg_cat/neg_tot)). Ref transforms.py:562."""

    name = "woe_encode"

    def __init__(self, cols: Sequence[str], target: str):
        super().__init__(cols=list(cols), target=target)

    def fit(self, df: DataFrame, y=None) -> "WoeEncode":
        import math

        tgt = F.col(self.kwargs["target"]).cast("double")
        tot = df.agg(F.sum(tgt).alias("p"),
                     F.sum(1 - tgt).alias("n")).first()
        pt, nt = float(tot["p"]), float(tot["n"])
        self.params = {}
        for c in self.kwargs["cols"]:
            # null categories excluded (NULL map keys are runtime errors);
            # like pure categories they transform to NULL
            rows = (
                df.where(F.col(c).isNotNull())
                .groupBy(F.col(c).cast("string").alias("k"))
                .agg(F.sum(tgt).alias("p"), F.sum(1 - tgt).alias("n"))
                .limit(_MAX_CATEGORIES + 1).collect()
            )
            if len(rows) > _MAX_CATEGORIES:
                raise ValueError(f"woe_encode: {c} exceeds {_MAX_CATEGORIES}")
            # pure categories (all-pos or all-neg) have undefined WoE —
            # they are left out of the map and transform to NULL
            self.params[c] = {
                r["k"]: math.log((float(r["p"]) / pt) / (float(r["n"]) / nt))
                for r in rows if r["p"] and r["n"]
            }
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        for c, enc in self.params.items():
            if not enc:
                df = df.withColumn(c, F.lit(None).cast("double"))
                continue
            mapping = F.map_from_arrays(
                F.array(*[F.lit(k) for k in enc]),
                F.array(*[F.lit(float(v)) for v in enc.values()]),
            )
            df = df.withColumn(c, mapping[F.col(c).cast("string")])
        return df


class Polynomial(Transform):
    """Degree-2 polynomial / interaction features (stateless). Ref
    transforms.py (polynomial_features)."""

    name = "polynomial"

    def __init__(self, cols: Sequence[str], interaction_only: bool = False):
        super().__init__(cols=list(cols), interaction_only=interaction_only)

    def transform(self, df: DataFrame) -> DataFrame:
        cols = self.kwargs["cols"]
        for i, a in enumerate(cols):
            for b in cols[i:]:
                if a == b and self.kwargs["interaction_only"]:
                    continue
                name = f"{a}_x_{b}" if a != b else f"{a}_sq"
                df = df.withColumn(
                    name, F.col(a).cast("double") * F.col(b).cast("double"))
        return df


class QuantileBin(Transform):
    """Equal-frequency binning: fit learns each column's ``n_bins - 1``
    exact quantile cut points (the distributed selection plan — never a
    single-reducer global percentile), transform assigns the 0-based
    bin as a SUM of comparisons against the literal cuts:

        bin(x) = Σ_i [x > cut_i]

    — branch-free, engine-replayable, monotone in x; NULL stays NULL.
    The standard discretizer for WOE/IV pipelines and drift (PSI)
    bucketing. Beyond the reference's transform set.
    """

    name = "quantile_bin"

    def __init__(self, cols: Sequence[str], n_bins: int = 4,
                 suffix: str = "_bin"):
        if n_bins < 2:
            raise ValueError("n_bins must be >= 2")
        super().__init__(cols=list(cols), n_bins=n_bins, suffix=suffix)

    def fit(self, df: DataFrame, y=None) -> "QuantileBin":
        from ..plans.ranks import exact_quantiles

        n = self.kwargs["n_bins"]
        probs = [i / n for i in range(1, n)]
        qs = exact_quantiles(df, {c: probs for c in self.kwargs["cols"]})
        self.params = {c: [float(v) for v in qs[c]]
                       for c in self.kwargs["cols"]}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        sfx = self.kwargs["suffix"]
        for c, cuts in self.params.items():
            x = F.col(c).cast("double")
            b = None
            for cut in cuts:
                term = (x > F.lit(cut)).cast("int")
                b = term if b is None else b + term
            df = df.withColumn(f"{c}{sfx}", b)
        return df


_REGISTRY = {
    t.name: t for t in
    [Impute, Scale, Winsorize, OneHot, Ordinal, TargetEncode, WoeEncode,
     Polynomial]
}


class ConditionalImpute(Transform):
    """Impute nulls with a statistic computed over rows satisfying a SQL
    condition (e.g. fill with the mean of the non-outlier subset).
    Ref transforms.py (conditional_impute)."""

    name = "conditional_impute"

    def __init__(self, cols: Sequence[str], condition: str,
                 strategy: str = "mean"):
        super().__init__(cols=list(cols), condition=condition, strategy=strategy)

    def fit(self, df: DataFrame, y=None) -> "ConditionalImpute":
        sub = df.where(F.expr(self.kwargs["condition"]))
        strat = self.kwargs["strategy"]
        if strat == "median":
            from ..plans.ranks import exact_quantiles

            qs = exact_quantiles(sub,
                                 {c: [0.5] for c in self.kwargs["cols"]})
            self.params = {c: float(qs[c][0])
                           for c in self.kwargs["cols"]}
            return self
        agg = {"mean": F.avg, "mode": F.mode}[strat]
        row = sub.agg(*[agg(F.col(c)).alias(c) for c in self.kwargs["cols"]]).first()
        self.params = {c: float(row[c]) for c in self.kwargs["cols"]}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        for c, v in self.params.items():
            df = df.withColumn(c, F.coalesce(F.col(c), F.lit(v)))
        return df


class IvEncode(Transform):
    """Information-value encoding: each category maps to its IV
    contribution (p_i − n_i)·WoE_i against a binary target.
    Ref transforms.py (iv_encode)."""

    name = "iv_encode"

    def __init__(self, cols: Sequence[str], target: str):
        super().__init__(cols=list(cols), target=target)

    def fit(self, df: DataFrame, y=None) -> "IvEncode":
        import math

        tgt = F.col(self.kwargs["target"]).cast("double")
        tot = df.agg(F.sum(tgt).alias("p"), F.sum(1 - tgt).alias("n")).first()
        pt, nt = float(tot["p"]), float(tot["n"])
        self.params = {}
        for c in self.kwargs["cols"]:
            # null categories excluded (NULL map keys are runtime errors);
            # they transform to NULL, matching WoeEncode
            rows = (
                df.where(F.col(c).isNotNull())
                .groupBy(F.col(c).cast("string").alias("k"))
                .agg(F.sum(tgt).alias("p"), F.sum(1 - tgt).alias("n"))
                .limit(_MAX_CATEGORIES + 1).collect()
            )
            if len(rows) > _MAX_CATEGORIES:
                raise ValueError(f"iv_encode: {c} exceeds {_MAX_CATEGORIES}")
            enc = {}
            for r in rows:
                if r["p"] and r["n"]:
                    pi, ni = float(r["p"]) / pt, float(r["n"]) / nt
                    enc[r["k"]] = (pi - ni) * math.log(pi / ni)
            self.params[c] = enc
        return self

    transform = WoeEncode.transform  # same literal-map scoring


class RankHot(Transform):
    """Rank-hot (thermometer) encoding for ordinal categories: for sorted
    categories v_1 < … < v_m, emit <col>_ge_<v_i> = 1 iff value ≥ v_i
    (i ≥ 2). Ref transforms.py (rank_hot_encode)."""

    name = "rank_hot"

    def __init__(self, cols: Sequence[str], drop_original: bool = True):
        super().__init__(cols=list(cols), drop_original=drop_original)

    def fit(self, df: DataFrame, y=None) -> "RankHot":
        self.params = {}
        for c in self.kwargs["cols"]:
            vals = sorted(
                r[0] for r in df.select(F.col(c).cast("string"))
                .where(F.col(c).isNotNull())
                .distinct().limit(_MAX_CATEGORIES + 1).collect()
            )
            if len(vals) > _MAX_CATEGORIES:
                raise ValueError(f"rank_hot: {c} exceeds {_MAX_CATEGORIES}")
            self.params[c] = vals
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        for c, vals in self.params.items():
            rank_map = F.map_from_arrays(
                F.array(*[F.lit(v) for v in vals]),
                F.array(*[F.lit(i) for i in range(len(vals))]),
            )
            rk = rank_map[F.col(c).cast("string")]
            for i, v in enumerate(vals[1:], start=1):
                df = df.withColumn(f"{c}_ge_{v}", (rk >= i).cast("int"))
            if self.kwargs["drop_original"]:
                df = df.drop(c)
        return df


def select_by_std(df: DataFrame, cols: Sequence[str],
                  min_std: float) -> DataFrame:
    """Drop near-constant numeric columns (std ≤ min_std) — one agg pass.
    Ref transforms.py (select_by_std)."""
    row = df.agg(*[F.stddev_samp(F.col(c).cast("double")).alias(c)
                   for c in cols]).first()
    drop = [c for c in cols if row[c] is None or row[c] <= min_std]
    return df.drop(*drop)


_NUMERIC_TYPES = ("int", "bigint", "double", "float", "smallint",
                  "tinyint", "decimal")


class SelectByStd(Transform):
    """Learned column selection by standard deviation — ref
    pipeline.py:524 (Blueprint.select_by_std): keep numeric columns
    whose std lies in [min_std, max_std]; non-numeric columns and
    ``keep`` (the target, from the Blueprint) always survive. fit is
    ONE agg pass; the learned drop list serializes with the pipeline
    so transform is a pure projection."""

    name = "select_by_std"

    def __init__(self, min_std: float, max_std: float = float("inf"),
                 keep: Sequence[str] = ()):
        super().__init__(min_std=float(min_std), max_std=float(max_std),
                         keep=list(keep))

    def fit(self, df: DataFrame, y=None) -> "SelectByStd":
        keep = set(self.kwargs["keep"])
        num = [f.name for f in df.schema.fields
               if f.dataType.simpleString().split("(")[0] in _NUMERIC_TYPES
               and f.name not in keep]
        lo, hi = self.kwargs["min_std"], self.kwargs["max_std"]
        if not num:
            self.params = {"drop": []}
            return self
        row = df.agg(*[F.stddev_samp(F.col(c).cast("double")).alias(c)
                       for c in num]).first()
        self.params = {"drop": [
            c for c in num
            if row[c] is None or not (lo <= float(row[c]) <= hi)]}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        return df.drop(*self.params["drop"])


class LinearImpute(Transform):
    """Regression imputation — ref pipeline.py:438
    (Blueprint.linear_impute): fit trains OLS of ``target`` on
    ``features`` over the rows where all are non-null (functions/
    linear.lin_reg — one X'X/X'y aggregation pass, driver solve);
    transform fills the target's nulls with the linear prediction, a
    pure scan-side expression with the coefficients as literals. The
    target is cast to double, as in the reference."""

    name = "linear_impute"

    def __init__(self, features: Sequence[str], target: str,
                 add_bias: bool = False):
        super().__init__(features=list(features), target=target,
                         add_bias=bool(add_bias))

    def fit(self, df: DataFrame, y=None) -> "LinearImpute":
        from ..functions.linear import lin_reg

        beta = lin_reg(df, self.kwargs["features"], self.kwargs["target"],
                       add_bias=self.kwargs["add_bias"],
                       null_policy="skip")
        self.params = {"beta": [float(b) for b in beta]}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        feats = self.kwargs["features"]
        beta = self.params["beta"]
        pred = (F.lit(float(beta[-1])) if self.kwargs["add_bias"]
                else F.lit(0.0))
        for i, f in enumerate(feats):
            pred = pred + F.lit(float(beta[i])) * F.col(f).cast("double")
        t = self.kwargs["target"]
        return df.withColumn(
            t, F.coalesce(F.col(t).cast("double"), pred))


class FitFuncStep(Transform):
    """Custom learned step — ref pipeline.py:975
    (Blueprint.append_fit_func): ``func(df, cols, **kwargs)`` runs at
    fit time and must return a list of (name, Column) pairs (or a dict
    name→Column); transform applies them as withColumns. The learned
    expressions live in memory only — a pipeline holding one does NOT
    JSON-serialize (mirrors the reference, where a custom callable is
    equally unserializable), and to_dict raises a clear error."""

    name = "fit_func"

    def __init__(self, func, cols: Sequence[str], **func_kwargs):
        super().__init__(cols=list(cols), **func_kwargs)
        self._func = func
        self._exprs = None

    def fit(self, df: DataFrame, y=None) -> "FitFuncStep":
        kwargs = {k: v for k, v in self.kwargs.items() if k != "cols"}
        out = self._func(df, list(self.kwargs["cols"]), **kwargs)
        self._exprs = dict(out)
        self.params = {}
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if self._exprs is None:
            raise RuntimeError("FitFuncStep.transform before fit")
        return df.withColumns(self._exprs)

    def to_dict(self) -> dict:
        raise NotImplementedError(
            "a pipeline with a custom fit function (append_fit_func) "
            "cannot be JSON-serialized; express the step as a built-in "
            "Transform to serialize")


_REGISTRY.update({t.name: t for t in [ConditionalImpute, IvEncode, RankHot,
                                      QuantileBin, SelectByStd,
                                      LinearImpute]})


def linear_impute(df: DataFrame, cols: Sequence[str], order_by: str,
                  by: Sequence[str] | None = None) -> DataFrame:
    """Fill nulls by linear interpolation along ``order_by`` within
    groups (ref transforms.py linear_impute / polars interpolate).

    Pure window algebra: previous/next non-null value and position via
    ignorenulls last() over forward/backward frames, then the straight
    line between them; leading/trailing nulls take the nearest non-null.
    One sort-shuffle on (by, order_by), stateless.
    """
    from pyspark.sql.window import Window

    keys = list(by) if by else []
    o = F.col(order_by).cast("double")
    wf = (Window.partitionBy(*keys) if keys else Window.partitionBy()) \
        .orderBy(F.col(order_by).asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wb = (Window.partitionBy(*keys) if keys else Window.partitionBy()) \
        .orderBy(F.col(order_by).desc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for c in cols:
        cc = F.col(c).cast("double")
        pv = F.last(cc, ignorenulls=True).over(wf)
        po = F.last(F.when(cc.isNotNull(), o), ignorenulls=True).over(wf)
        nv = F.last(cc, ignorenulls=True).over(wb)
        no = F.last(F.when(cc.isNotNull(), o), ignorenulls=True).over(wb)
        interp = pv + (nv - pv) * (o - po) / (no - po)
        df = df.withColumn(c, F.coalesce(cc, interp, pv, nv))
    return df
