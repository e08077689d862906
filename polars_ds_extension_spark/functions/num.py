"""Numeric expressions — Spark-native re-expression of the reference's
num module (reference: python/polars_ds/exprs/num.py).

Design: everything here is either
  * an **elementwise Column expression** built from `pyspark.sql.functions`
    (stays inside whole-stage codegen, no Python in the hot path), or
  * a **windowed Column expression** taking ``by=`` (partition keys) —
    callers on very large data must pass ``by`` or accept a single
    partition for the global case, or
  * a **DataFrame-level operator** for ops that need a fit/aggregate pass
    (quantile binning for psi/woe/iv, target encoding).

No RDDs, no driver loops: fit passes aggregate to O(n_bins) rows.
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .._utils import (to_col, to_cols, group_window, ordered_window,
                      with_global_totals)

__all__ = [
    "l_inf_horizontal", "l2_sq_horizontal", "l1_horizontal",
    "arr_dot", "arr_l1_dist", "arr_sql2_dist",
    "list_dot", "list_l1_dist", "list_sql2_dist", "list_amax",
    "center", "z_normalize", "softmax",
    "is_increasing", "is_decreasing",
    "gcd", "lcm", "haversine", "jaccard_row", "jaccard_col",
    "expit", "logit", "exp2", "fract", "trunc", "sinc", "xlogy",
    "gamma", "digamma",
    "integrate_trapz", "convolve", "detrend",
    "psi_discrete", "woe_discrete", "info_value_discrete",
    "psi", "psi_w_breakpoints", "woe", "info_value", "target_encode",
]


# ---------------------------------------------------------------- horizontal

def l_inf_horizontal(*v, normalize: bool = False) -> Column:
    """Row-wise L-inf norm of the given columns. Ref num.py:74."""
    cols = [F.abs(to_col(c)) for c in v]
    out = F.greatest(*cols) if len(cols) > 1 else cols[0]
    return (out / F.lit(len(cols))) if normalize else out


def l2_sq_horizontal(*v, normalize: bool = False) -> Column:
    """Row-wise sum of squares. Ref num.py:92."""
    out = sum((to_col(c) * to_col(c) for c in v), F.lit(0.0))
    return (out / F.lit(len(v))) if normalize else out


def l1_horizontal(*v, normalize: bool = False) -> Column:
    """Row-wise L1 norm. Ref num.py:110."""
    out = sum((F.abs(to_col(c)) for c in v), F.lit(0.0))
    return (out / F.lit(len(v))) if normalize else out


# ------------------------------------------------------------- array / list
# Spark has one array type, so arr_* and list_* collapse to the same
# implementation (ref num.py:128-217 keeps them separate for Polars'
# Array vs List). All stay JVM-side via zip_with + aggregate.

def arr_dot(arr1, arr2) -> Column:
    """Dot product of two array<numeric> columns. Ref num.py:128,173."""
    return F.aggregate(
        F.zip_with(to_col(arr1), to_col(arr2), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def arr_l1_dist(arr1, arr2) -> Column:
    """Elementwise |a-b| summed. Ref num.py:143,188."""
    return F.aggregate(
        F.zip_with(to_col(arr1), to_col(arr2), lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def arr_sql2_dist(arr1, arr2) -> Column:
    """Squared L2 distance between two arrays. Ref num.py:158,203."""
    return F.aggregate(
        F.zip_with(to_col(arr1), to_col(arr2), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


list_dot = arr_dot
list_l1_dist = arr_l1_dist
list_sql2_dist = arr_sql2_dist


def list_amax(list_col) -> Column:
    """Max element of an array column. Ref num.py:915."""
    return F.array_max(to_col(list_col))


# --------------------------------------------------------- window/group ops

def center(x, by: Sequence | None = None) -> Column:
    """x - mean(x) over the group. Ref num.py:253."""
    xx = to_col(x)
    return xx - F.mean(xx).over(group_window(by))


def z_normalize(x, by: Sequence | None = None) -> Column:
    """(x - mean) / std (sample std). Ref num.py:264."""
    xx = to_col(x)
    w = group_window(by)
    return (xx - F.mean(xx).over(w)) / F.stddev_samp(xx).over(w)


def softmax(x, by: Sequence | None = None) -> Column:
    """exp(x)/sum(exp(x)) over the group, max-shifted for stability.

    Ref num.py:277 (reference is not max-shifted; shift cancels exactly
    so results are identical, minus overflow).
    """
    xx = to_col(x)
    w = group_window(by)
    shifted = F.exp(xx - F.max(xx).over(w))
    return shifted / F.sum(shifted).over(w)


def is_increasing(df: DataFrame, x, order_by, by: Sequence[str] | None = None,
                  strict: bool = False) -> DataFrame:
    """Whether x is (strictly) increasing along order_by within each group.

    Ref num.py:218. Spark DataFrames are unordered, so an explicit
    ``order_by`` is required. DataFrame-level (windows can't nest): one
    lag window + one groupBy — a single shuffle on ``by``.
    Output: ``by`` + `is_increasing`.
    """
    xx = to_col(x)
    keys = list(by) if by else []
    w = ordered_window(order_by, keys or None)
    prev = F.lag(xx).over(w)
    ok = F.when(prev.isNull(), F.lit(True)).otherwise(xx > prev if strict else xx >= prev)
    step = df.select(*keys, ok.alias("__ok"))
    name = "is_increasing"
    if keys:
        return step.groupBy(*keys).agg(F.min("__ok").alias(name))
    return step.agg(F.min("__ok").alias(name))


def is_decreasing(df: DataFrame, x, order_by, by: Sequence[str] | None = None,
                  strict: bool = False) -> DataFrame:
    """Mirror of is_increasing. Ref num.py:235."""
    xx = to_col(x)
    keys = list(by) if by else []
    w = ordered_window(order_by, keys or None)
    prev = F.lag(xx).over(w)
    ok = F.when(prev.isNull(), F.lit(True)).otherwise(xx < prev if strict else xx <= prev)
    step = df.select(*keys, ok.alias("__ok"))
    name = "is_decreasing"
    if keys:
        return step.groupBy(*keys).agg(F.min("__ok").alias(name))
    return step.agg(F.min("__ok").alias(name))


# ------------------------------------------------------------- elementwise

def gcd(x, y) -> Column:
    """GCD of two int columns. Ref num.py:291.

    Pure JVM-side Euclid: a 92-step `a, b = b, a % b` fold (worst case for
    64-bit ints is ~92 steps, consecutive Fibonacci numbers) expressed as
    `aggregate(sequence(1,92), struct(a,b), step)` — the loop runs in the
    executor at runtime, the plan stays constant-size, and once b==0 the
    state is a fixed point (extra steps are free). No Python ever runs.
    Returns long to avoid silent 32-bit truncation.
    """
    a = F.abs(to_col(x).cast("long"))
    b = F.abs(to_col(y).cast("long")) if not isinstance(y, int) else F.lit(abs(y)).cast("long")
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(92)),
        F.struct(a.alias("a"), b.alias("b")),
        lambda acc, _i: F.struct(
            F.when(acc["b"] == 0, acc["a"]).otherwise(acc["b"]).alias("a"),
            F.when(acc["b"] == 0, F.lit(0).cast("long"))
            .otherwise(acc["a"] % acc["b"]).alias("b"),
        ),
        lambda acc: acc["a"],
    )


def lcm(x, y) -> Column:
    """LCM via |x*y| / gcd. Ref num.py:314."""
    xx = F.abs(to_col(x).cast("long"))
    yy = F.abs(to_col(y).cast("long")) if not isinstance(y, int) else F.lit(abs(y)).cast("long")
    g = gcd(x, y)
    return F.when(g == 0, F.lit(0).cast("long")).otherwise((xx / g).cast("long") * yy)


def haversine(x_lat, x_long, y_lat, y_long, radius: float = 6371.0) -> Column:
    """Great-circle distance in km. Ref num.py:337."""
    la1, lo1 = F.radians(to_col(x_lat)), F.radians(to_col(x_long))
    la2, lo2 = F.radians(to_col(y_lat)), F.radians(to_col(y_long))
    a = (
        F.pow(F.sin((la2 - la1) / 2), 2)
        + F.cos(la1) * F.cos(la2) * F.pow(F.sin((lo2 - lo1) / 2), 2)
    )
    return F.lit(2.0 * radius) * F.asin(F.sqrt(a))


def jaccard_row(a, b) -> Column:
    """Jaccard similarity between two array columns, row-wise. Ref num.py:466."""
    aa, bb = to_col(a), to_col(b)
    inter = F.size(F.array_intersect(aa, bb))
    union = F.size(F.array_union(aa, bb))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def jaccard_col(a, b) -> Column:
    """Jaccard similarity between the distinct-value sets of two columns —
    an aggregate expression. Ref num.py:487."""
    aa, bb = to_col(a), to_col(b)
    sa = F.collect_set(aa)
    sb = F.collect_set(bb)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def expit(x) -> Column:
    """Sigmoid. Ref num.py:938."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-to_col(x)))


def logit(x) -> Column:
    """log(x/(1-x)), with 0/1 edge handling like scipy. Ref num.py:949."""
    xx = to_col(x)
    return (
        F.when(xx == 0, F.lit(float("-inf")))
        .when(xx == 1, F.lit(float("inf")))
        .when((xx < 0) | (xx > 1), F.lit(float("nan")))
        .otherwise(F.log(xx / (F.lit(1.0) - xx)))
    )


def exp2(x) -> Column:
    """2^x. Ref num.py:961."""
    return F.pow(F.lit(2.0), to_col(x))


def fract(x) -> Column:
    """Fractional part x - trunc(x). Ref num.py:972."""
    xx = to_col(x)
    return xx - trunc(xx)


def trunc(x) -> Column:
    """Integer part, toward zero. Ref num.py:983."""
    xx = to_col(x)
    return F.when(xx >= 0, F.floor(xx)).otherwise(F.ceil(xx)).cast("double")


def sinc(x) -> Column:
    """Normalized sinc: sin(pi x)/(pi x). Ref num.py:994."""
    xx = to_col(x) * F.lit(math.pi)
    return F.when(xx == 0, F.lit(1.0)).otherwise(F.sin(xx) / xx)


def xlogy(x, y) -> Column:
    """x*log(y), 0 when x==0 (even if y==0). Ref num.py:1003."""
    xx, yy = to_col(x), to_col(y)
    return (
        F.when(xx.isNull() | yy.isNull(), F.lit(None))
        .when(xx == 0, F.lit(0.0))
        .otherwise(xx * F.log(yy))
    )


# Lanczos g=7, n=9 coefficients (public-domain constants, e.g. Numerical
# Recipes / Boost). Gives ~15 significant digits for real x > 0.
_LANCZOS_G = 7.0
_LANCZOS = [
    0.99999999999980993,
    676.5203681218851,
    -1259.1392167224028,
    771.32342877765313,
    -176.61502916214059,
    12.507343278686905,
    -0.13857109526572012,
    9.9843695780195716e-6,
    1.5056327351493116e-7,
]


def gamma(x) -> Column:
    """Gamma function via Lanczos approximation, pure Column math (codegen
    keeps it JVM-side). Ref num.py:926 (Rust calls libm tgamma).

    Valid for x > 0 (the domain the reference's tests exercise); uses the
    reflection formula for x < 0.5.
    """
    xx = to_col(x).cast("double")

    def _pos(z: Column) -> Column:  # z >= 0.5
        zz = z - F.lit(1.0)
        a = F.lit(_LANCZOS[0])
        for i, c in enumerate(_LANCZOS[1:], start=1):
            a = a + F.lit(c) / (zz + F.lit(float(i)))
        t = zz + F.lit(_LANCZOS_G + 0.5)
        return (
            F.lit(math.sqrt(2.0 * math.pi))
            * F.pow(t, zz + F.lit(0.5))
            * F.exp(-t)
            * a
        )

    refl = F.lit(math.pi) / (F.sin(F.lit(math.pi) * xx) * _pos(F.lit(1.0) - xx))
    return F.when(xx >= 0.5, _pos(xx)).otherwise(refl)


def digamma(x) -> Column:
    """Digamma via asymptotic series after shifting x up by 6 (standard
    recurrence psi(x) = psi(x+1) - 1/x). Ref num.py:1167."""
    xx = to_col(x).cast("double")
    shift = F.lit(0.0)
    z = xx
    for _ in range(8):
        shift = shift + F.lit(1.0) / z
        z = z + F.lit(1.0)
    inv2 = F.lit(1.0) / (z * z)
    series = (
        F.log(z)
        - F.lit(0.5) / z
        - inv2 * (
            F.lit(1.0 / 12.0)
            - inv2 * (
                F.lit(1.0 / 120.0)
                - inv2 * (F.lit(1.0 / 252.0) - inv2 * F.lit(1.0 / 240.0))
            )
        )
    )
    return series - shift


# --------------------------------------------------- ordered (time-series)

def integrate_trapz(df: DataFrame, y, x, by: Sequence[str] | None = None) -> DataFrame:
    """Trapezoidal integral of y over x (sorted by x) per group.

    Ref num.py:830. DataFrame-level because Spark rows are unordered:
    we sort within a window keyed by ``by`` ordered by ``x`` and sum
    (x_i - x_{i-1}) * (y_i + y_{i-1}) / 2 — one shuffle on ``by``.
    Output: ``by`` + `trapz`.
    """
    yy, xx = to_col(y), to_col(x)
    keys = list(by) if by else []
    w = ordered_window(xx, keys or None)
    seg = (xx - F.lag(xx).over(w)) * (yy + F.lag(yy).over(w)) / 2
    step = df.select(*keys, seg.alias("__seg"))
    if keys:
        return step.groupBy(*keys).agg(F.sum("__seg").alias("trapz"))
    return step.agg(F.sum("__seg").alias("trapz"))


def convolve(
    df: DataFrame,
    x,
    kernel: Iterable[float],
    order_by,
    by: Sequence[str] | None = None,
    mode: str = "full",
    out_name: str = "convolved",
) -> DataFrame:
    """1-D convolution of column x with a small literal kernel, ordered by
    ``order_by`` within groups ``by``. Ref num.py:857.

    Implemented as a sum of lagged columns (kernel lengths here are small
    filter banks; the reference's FFT path targets kernels > ~120 taps,
    out of scope for the windowed form). 'full' pads conceptually with
    ``fill_value=0``; 'valid' drops edge rows. Modes: valid | same.
    """
    kern = [float(k) for k in kernel]
    n_k = len(kern)
    xx = to_col(x)
    keys = list(by) if by else []
    w = ordered_window(order_by, keys or None)
    # y[i] = sum_j kernel[j] * x[i - j]  (direct convolution, kernel reversed
    # relative to cross-correlation — matches numpy.convolve).
    # 'same' centers the kernel: output row i is full-conv row i+(n_k-1)//2,
    # i.e. lag offsets shift by -(n_k-1)//2 (negative lag == lead).
    shift = (n_k - 1) // 2 if mode == "same" else 0
    lagged = [
        F.coalesce(F.lag(xx, j - shift).over(w), F.lit(0.0)) * F.lit(kern[j])
        for j in range(n_k)
    ]
    conv = sum(lagged[1:], lagged[0])
    out = df.withColumn(out_name, conv)
    if mode == "valid":
        rn = F.row_number().over(w)
        out = out.withColumn("__rn", rn).where(F.col("__rn") >= n_k).drop("__rn")
    return out


def detrend(df: DataFrame, x, order_by, by: Sequence[str] | None = None,
            method: str = "linear", out_name: str = "detrended") -> DataFrame:
    """Remove linear (OLS vs 0..n-1 index) or mean trend per group.

    Ref num.py:1021. Closed form: coeff = cov(x, idx)/var(idx);
    const = mean - coeff*(n-1)/2 — all computed with windowed built-ins,
    one shuffle on ``by``.
    """
    xx = to_col(x)
    keys = list(by) if by else []
    if method == "mean":
        w = group_window(keys or None)
        return df.withColumn(out_name, xx - F.mean(xx).over(w))
    wo = ordered_window(order_by, keys or None)
    idx = (F.row_number().over(wo) - 1).cast("double")
    stats_w = group_window(keys or None)
    step = df.withColumn("__idx", idx)
    cov = F.covar_samp(xx, F.col("__idx")).over(stats_w)
    var = F.var_samp(F.col("__idx")).over(stats_w)
    n = F.count(F.lit(1)).over(stats_w).cast("double")
    coeff = cov / var
    const = F.mean(xx).over(stats_w) - coeff * (n - 1) / 2
    return step.withColumn(out_name, xx - F.col("__idx") * coeff - const).drop("__idx")


# ----------------------------------------------- drift / encoding operators

def psi_discrete(df_new: DataFrame, df_base: DataFrame, x: str,
                 imputed_pct: float = 0.0001) -> DataFrame:
    """PSI treating x as a discrete category column. Ref num.py:588.

    Two tiny aggregations (one per side, map-side combinable) + a
    broadcast-size outer join on category. Returns one row: `psi`.
    """
    new_cnt = df_new.groupBy(F.col(x).cast("string").alias("cat")).agg(
        F.count(F.lit(1)).alias("cnt_new")
    )
    base_cnt = df_base.groupBy(F.col(x).cast("string").alias("cat")).agg(
        F.count(F.lit(1)).alias("cnt_base")
    )
    joined = with_global_totals(
        new_cnt.join(base_cnt, "cat", "full_outer"),
        __tot_new=F.sum("cnt_new"), __tot_base=F.sum("cnt_base"),
    )
    p_new = F.coalesce(F.col("cnt_new") / F.col("__tot_new"), F.lit(imputed_pct))
    p_base = F.coalesce(F.col("cnt_base") / F.col("__tot_base"), F.lit(imputed_pct))
    per_bin = (p_new - p_base) * F.log(p_new / p_base)
    return joined.select(per_bin.alias("psi_bin")).agg(F.sum("psi_bin").alias("psi"))


def _quantile_breaks(df: DataFrame, x: str, n_bins: int,
                     exact: bool = False) -> list[float]:
    """Quantile breakpoints (deduplicated, sorted). Default: ONE
    percentile_approx aggregation — drift metrics and coarse encoders
    tolerate approximate cut positions by definition (a bin edge moved
    by n/accuracy ranks shifts a 10-bin PSI in its 4th decimal), and
    the approx sketch is a single map-side-combinable pass at any
    scale. ``exact=True`` routes through the distributed selection plan
    (plans/ranks.exact_quantiles — value-identical to `percentile`
    with no single-reducer buffer), which cross-engine oracle replays
    need because KLL sketch results are partition-order dependent.
    Driver receives only n_bins floats either way."""
    qs = [i / n_bins for i in range(1, n_bins)]
    nn = df.where(to_col(x).isNotNull())
    if exact:
        from ..plans.ranks import exact_quantiles

        vals = exact_quantiles(nn, {x: qs})[x]
    else:
        vals = nn.agg(F.percentile_approx(
            to_col(x).cast("double"), qs, 10_000).alias("q")).first()["q"]
        vals = vals or []
    out: list[float] = []
    for b in vals:
        if b is not None and (not out or b > out[-1]):
            out.append(float(b))
    return out


def _bin_expr(x: str, breaks: list[float]) -> Column:
    """Right-closed quantile-bin id like polars qcut(left_closed=False)."""
    e = F.when(to_col(x) <= F.lit(breaks[0]), F.lit(0))
    for i, b in enumerate(breaks[1:], start=1):
        e = e.when(to_col(x) <= F.lit(b), F.lit(i))
    return e.otherwise(F.lit(len(breaks)))


def psi_w_breakpoints(df_new: DataFrame, df_base: DataFrame, x: str,
                      breakpoints: list) -> DataFrame:
    """Per-bin PSI report with CUSTOM breakpoints — ref num.py:651
    (psi_w_breakpoints → pl_psi_w_bps, src/num_ext/psi.rs:77).

    ``breakpoints`` [b1..bk] (sorted, distinct, finite) define k+1
    right-closed bins (-inf,b1], (b1,b2], .., (bk,inf). Both sides are
    filtered to finite values; every bin appears in the report even if
    empty on both sides (percentages floor at 1e-4, as the reference's
    clip_min). Plan: one flat CASE bin expression per side (scan-side,
    codegen), two tiny grouped counts, then a broadcast join onto the
    k+1-row bin frame — no shuffle of the data beyond the count aggs.

    Output rows ordered by bin: (`<=` double, baseline_pct, actual_pct,
    psi_bin) — identical to the reference's psi_report struct fields.
    """
    if not breakpoints:
        raise ValueError("Breakpoints is empty.")
    bps = [float(b) for b in breakpoints] + [float("inf")]
    spark = df_new.sparkSession
    bins = spark.createDataFrame(
        [(i, b) for i, b in enumerate(bps)], "bin int, le double")

    def _side(df: DataFrame, name: str) -> DataFrame:
        xx = to_col(x).cast("double")
        e = F.when(xx <= F.lit(bps[0]), F.lit(0))
        for i, b in enumerate(bps[1:-1], start=1):
            e = e.when(xx <= F.lit(b), F.lit(i))
        e = e.otherwise(F.lit(len(bps) - 1))
        finite = xx.isNotNull() & ~F.isnan(xx) & (F.abs(xx) != float("inf"))
        return (df.where(finite).select(e.alias("bin"))
                .groupBy("bin").agg(F.count(F.lit(1)).alias(name)))

    j = (bins.join(_side(df_base, "cnt_baseline"), "bin", "left")
         .join(_side(df_new, "cnt_actual"), "bin", "left")
         .fillna(0, subset=["cnt_baseline", "cnt_actual"]))
    j = with_global_totals(j, __tb=F.sum("cnt_baseline"),
                           __ta=F.sum("cnt_actual"))
    b_pct = F.greatest(F.col("cnt_baseline") / F.col("__tb"), F.lit(0.0001))
    a_pct = F.greatest(F.col("cnt_actual") / F.col("__ta"), F.lit(0.0001))
    return (j.select(
        F.col("bin"), F.col("le").alias("<="),
        b_pct.alias("baseline_pct"), a_pct.alias("actual_pct"),
        ((b_pct - a_pct) * F.log(b_pct / a_pct)).alias("psi_bin"))
        .orderBy("bin").drop("bin"))


def psi(df_new: DataFrame, df_base: DataFrame, x: str, n_bins: int = 10,
        exact_breakpoints: bool = False) -> DataFrame:
    """Population Stability Index with quantile bins learned on the
    baseline. Ref num.py:511. Breakpoints: ONE percentile_approx agg by
    default (drift tolerates approx cuts by definition;
    ``exact_breakpoints=True`` opts into the distributed selection plan
    when engine-reproducible cuts are required); binning: flat CASE
    expression (codegen); then as psi_discrete."""
    breaks = _quantile_breaks(df_base, x, n_bins, exact=exact_breakpoints)
    b = _bin_expr(x, breaks)
    new_b = df_new.where(to_col(x).isNotNull()).select(b.alias("bin"))
    base_b = df_base.where(to_col(x).isNotNull()).select(b.alias("bin"))
    return psi_discrete(new_b, base_b, "bin")


def woe_discrete(df: DataFrame, x: str, target: str) -> DataFrame:
    """Weight of Evidence per category of x against binary target.
    Ref num.py:729. +1 smoothing on event/non-event counts, like the
    reference. One groupBy(x) aggregation. Output: (value, woe)."""
    t = to_col(target).cast("double")
    agg = df.groupBy(F.col(x).cast("string").alias("value")).agg(
        F.sum(t).alias("ev"),
        F.sum(F.lit(1.0) - t).alias("nonev"),
    )
    agg = with_global_totals(agg, __tot_ev=F.sum(F.col("ev") + 1),
                             __tot_ne=F.sum(F.col("nonev") + 1))
    ev_r = (F.col("ev") + 1) / F.col("__tot_ev")
    ne_r = (F.col("nonev") + 1) / F.col("__tot_ne")
    return agg.select(F.col("value"), F.log(ne_r / ev_r).alias("woe"))


def woe(df: DataFrame, x: str, target: str, n_bins: int = 10,
        exact_breakpoints: bool = True) -> DataFrame:
    """WOE for continuous x via quantile bins. Ref num.py:698.

    Default EXACT cuts (plans/ranks.exact_quantiles — distributed
    selection, no single-reducer buffer): WOE encodings feed model
    features, so bin edges must match the reference's exact quantile
    binning at any scale, not drift by up to n/accuracy ranks the way a
    sketch would. ``exact_breakpoints=False`` opts into the one-pass
    percentile_approx sketch when the caller only monitors drift."""
    breaks = _quantile_breaks(df, x, n_bins, exact=exact_breakpoints)
    binned = df.where(to_col(x).isNotNull()).select(
        _bin_expr(x, breaks).cast("string").alias("bin"), F.col(target)
    )
    return woe_discrete(binned, "bin", target)


def info_value_discrete(df: DataFrame, x: str, target: str,
                        return_sum: bool = True) -> DataFrame:
    """Information Value per category (or summed). Ref num.py:800."""
    t = to_col(target).cast("double")
    agg = df.groupBy(F.col(x).cast("string").alias("value")).agg(
        F.sum(t).alias("ev"),
        F.sum(F.lit(1.0) - t).alias("nonev"),
    )
    agg = with_global_totals(agg, __tot_ev=F.sum(F.col("ev") + 1),
                             __tot_ne=F.sum(F.col("nonev") + 1))
    ev_r = (F.col("ev") + 1) / F.col("__tot_ev")
    ne_r = (F.col("nonev") + 1) / F.col("__tot_ne")
    per = agg.select(F.col("value"), ((ne_r - ev_r) * F.log(ne_r / ev_r)).alias("iv"))
    if return_sum:
        return per.agg(F.sum("iv").alias("iv"))
    return per


def info_value(df: DataFrame, x: str, target: str, n_bins: int = 10,
               return_sum: bool = True,
               exact_breakpoints: bool = True) -> DataFrame:
    """IV for continuous x via quantile bins. Ref num.py:760.
    Default EXACT cuts for the same reason as `woe` (feature-grade
    encodings; see its docstring) — `exact_breakpoints=False` opts into
    the approx sketch for monitoring-only callers."""
    breaks = _quantile_breaks(df, x, n_bins, exact=exact_breakpoints)
    binned = df.where(to_col(x).isNotNull()).select(
        _bin_expr(x, breaks).cast("string").alias("bin"), F.col(target)
    )
    return info_value_discrete(binned, "bin", target, return_sum)


def target_encode(df: DataFrame, x: str, target: str,
                  min_samples_leaf: int = 20, smoothing: float = 10.0) -> DataFrame:
    """Smoothed mean target encoding mapping (value → encoding).

    Ref num.py:1068 (sklearn/category_encoders formulation):
    enc = global_mean * (1 - s) + level_mean * s, with
    s = 1 / (1 + exp(-(count - min_samples_leaf)/smoothing)).
    One groupBy(x); join back (broadcast — cardinality(x) rows).
    """
    t = to_col(target).cast("double")
    agg = df.groupBy(F.col(x).cast("string").alias("value")).agg(
        F.count(F.lit(1)).alias("cnt"), F.mean(t).alias("level_mean")
    )
    agg = with_global_totals(agg, __tot_t=F.sum(F.col("cnt") * F.col("level_mean")),
                             __tot_n=F.sum("cnt"))
    gm = F.col("__tot_t") / F.col("__tot_n")
    s = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.col("cnt") - F.lit(float(min_samples_leaf))) / F.lit(smoothing))
    )
    return agg.select(F.col("value"), (gm * (1 - s) + F.col("level_mean") * s).alias("to"))


# ------------------------------------------------------- matrix / signal ops

def _cov_matrix(df: DataFrame, cols: Sequence[str]):
    """Sample covariance matrix via ONE aggregation of k(k+3)/2 sums —
    the distributed half of PCA/SVD; O(k²) driver payload."""
    import numpy as np

    k = len(cols)
    cc = [to_col(c).cast("double") for c in cols]
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for i in range(k):
        aggs.append(F.sum(cc[i]).alias(f"s_{i}"))
        for j in range(i, k):
            aggs.append(F.sum(cc[i] * cc[j]).alias(f"q_{i}_{j}"))
    row = df.agg(*aggs).first()
    n = float(row["n"])
    s = np.array([row[f"s_{i}"] for i in range(k)])
    cov = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            cov[i, j] = cov[j, i] = (row[f"q_{i}_{j}"] - s[i] * s[j] / n) / (n - 1)
    return cov, n


def singular_values(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Singular values of the centered data matrix: sqrt((n-1)·eig(cov)).
    Ref num.py:369. Output: (component, singular_value), descending."""
    import numpy as np

    cov, n = _cov_matrix(df, cols)
    eig = np.linalg.eigvalsh(cov)[::-1]
    sv = np.sqrt(np.maximum(eig, 0.0) * (n - 1))
    return df.sparkSession.createDataFrame(
        [(i, float(v)) for i, v in enumerate(sv)],
        "component int, singular_value double",
    )


def pca(df: DataFrame, cols: Sequence[str], k: int | None = None) -> DataFrame:
    """Eigendecomposition of the covariance matrix (distributed agg +
    driver eigh). Ref num.py:398. Output: (component,
    explained_variance, explained_variance_ratio, loadings array)."""
    import numpy as np

    cov, _ = _cov_matrix(df, cols)
    eigval, eigvec = np.linalg.eigh(cov)
    order = np.argsort(eigval)[::-1]
    eigval, eigvec = eigval[order], eigvec[:, order]
    k = k or len(cols)
    tot = float(eigval.sum())
    rows = [
        (i, float(eigval[i]), float(eigval[i] / tot),
         [float(v) for v in eigvec[:, i]])
        for i in range(k)
    ]
    return df.sparkSession.createDataFrame(
        rows,
        "component int, explained_variance double, "
        "explained_variance_ratio double, loadings array<double>",
    )


def principal_components(df: DataFrame, cols: Sequence[str], k: int,
                         prefix: str = "pc") -> DataFrame:
    """Project rows onto the top-k principal axes — the eigenvectors ride
    along as literals, so projection is scan-speed JVM arithmetic.
    Ref num.py:434."""
    import numpy as np

    cov, _ = _cov_matrix(df, cols)
    means = df.agg(*[F.avg(to_col(c).cast("double")).alias(c) for c in cols]).first()
    eigval, eigvec = np.linalg.eigh(cov)
    order = np.argsort(eigval)[::-1]
    eigvec = eigvec[:, order]
    out = df
    for comp in range(k):
        expr = F.lit(0.0)
        for i, c in enumerate(cols):
            expr = expr + F.lit(float(eigvec[i, comp])) * (
                to_col(c).cast("double") - F.lit(float(means[c]))
            )
        out = out.withColumn(f"{prefix}{comp + 1}", expr)
    return out


def isotonic_regression(df: DataFrame, y: str, order_by,
                        by: Sequence[str] | None = None,
                        increasing: bool = True,
                        out_name: str = "isotonic") -> DataFrame:
    """Isotonic regression via pool-adjacent-violators, per ordered
    group. Ref num.py:1106. PAVA is inherently sequential → whole-series
    numpy kernel per group (executor-sized groups; same constraint as
    the reference's per-series kernel).
    Output: ``by`` + order + y + out_name (one row per input row)."""
    import numpy as np
    import pandas as pd

    keys = list(by) if by else []
    key_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = (", ".join(f"{k} {key_types[k]}" for k in keys) + (", " if keys else "")
              + f"__o {key_types.get(order_by if isinstance(order_by, str) else '', 'double')}"
              + f", __y double, {out_name} double")

    def _pava(v: "np.ndarray") -> "np.ndarray":
        n = v.size
        sol = v.astype("float64").copy()
        wts = np.ones(n)
        # pool adjacent violators with weighted block merging
        blocks = [[sol[i], 1.0, i, i] for i in range(n)]  # mean, weight, lo, hi
        out = []
        for b in blocks:
            out.append(b)
            while len(out) > 1 and out[-2][0] > out[-1][0]:
                m2, w2, lo2, hi2 = out.pop()
                m1, w1, lo1, hi1 = out.pop()
                w = w1 + w2
                out.append([(m1 * w1 + m2 * w2) / w, w, lo1, hi2])
        res = np.empty(n)
        for m, w, lo, hi in out:
            res[lo:hi + 1] = m
        return res

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__o").reset_index(drop=True)
        v = pdf["__y"].to_numpy(dtype="float64")
        fit = _pava(v if increasing else -v)
        pdf[out_name] = fit if increasing else -fit
        return pdf

    step = df.select(*keys, to_col(order_by).alias("__o"),
                     to_col(y).cast("double").alias("__y"))
    if keys:
        return step.groupBy(*keys).applyInPandas(_apply, schema)
    return step.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(
        lambda pdf: _apply(pdf.drop(columns="__g")), schema)


def rfft(df: DataFrame, x: str, order_by, by: Sequence[str] | None = None,
         n_coeffs: int | None = None) -> DataFrame:
    """Real FFT per ordered series (numpy kernel per group — FFT needs
    the whole series; the reference's Rust kernel has the same shape).
    Ref num.py:1043. Output: ``by`` + freq_idx, re, im, one row per
    retained coefficient."""
    import numpy as np
    import pandas as pd

    keys = list(by) if by else []
    key_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = (", ".join(f"{k} {key_types[k]}" for k in keys) + (", " if keys else "")
              + "freq_idx int, re double, im double")

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__o")
        z = np.fft.rfft(pdf["__x"].to_numpy(dtype="float64"))
        m = len(z) if n_coeffs is None else min(n_coeffs, len(z))
        out = {k: [pdf[k].iloc[0]] * m for k in keys}
        out["freq_idx"] = list(range(m))
        out["re"] = z.real[:m]
        out["im"] = z.imag[:m]
        return pd.DataFrame(out)

    step = df.select(*keys, to_col(order_by).alias("__o"),
                     to_col(x).cast("double").alias("__x"))
    if keys:
        return step.groupBy(*keys).applyInPandas(_apply, schema)
    return step.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(
        lambda pdf: _apply(pdf.drop(columns="__g")), schema)


def next_up(x) -> Column:
    """Smallest double greater than x (IEEE nextafter +inf). Ref
    num.py (next_up). Arrow-vectorized numpy — no JVM equivalent."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _nu(s: "pd.Series") -> "pd.Series":
        return pd.Series(np.nextafter(s.to_numpy(dtype="float64"), np.inf))

    return _nu(to_col(x).cast("double"))


def next_down(x) -> Column:
    """Largest double smaller than x (IEEE nextafter −inf)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _nd(s: "pd.Series") -> "pd.Series":
        return pd.Series(np.nextafter(s.to_numpy(dtype="float64"), -np.inf))

    return _nd(to_col(x).cast("double"))


def add_at(df: DataFrame, idx: str, values: str) -> DataFrame:
    """np.add.at semantics: sum `values` per index. Ref num.py (add_at).
    One groupBy — the distributed scatter-add.
    Output: (idx, sum)."""
    return df.groupBy(F.col(idx).alias("idx")).agg(
        F.sum(to_col(values).cast("double")).alias("sum"))


def _band2_ldl_solve(d0, d1, d2, rhs):
    """Solve A x = rhs for symmetric positive-definite pentadiagonal A
    given as bands (d0 main, d1 first sub, d2 second sub) via LDLᵀ with
    bandwidth 2 — O(n) time and memory, no dense matrix."""
    import numpy as np

    n = d0.size
    if n == 1:
        return rhs / d0
    if n == 2:
        det = d0[0] * d0[1] - d1[0] * d1[0]
        return np.array([
            (d0[1] * rhs[0] - d1[0] * rhs[1]) / det,
            (d0[0] * rhs[1] - d1[0] * rhs[0]) / det,
        ])
    D = np.empty(n)
    L1 = np.zeros(n - 1)
    L2 = np.zeros(n - 2)
    D[0] = d0[0]
    L1[0] = d1[0] / D[0]
    D[1] = d0[1] - L1[0] ** 2 * D[0]
    for i in range(2, n):
        L2[i - 2] = d2[i - 2] / D[i - 2]
        L1[i - 1] = (d1[i - 1] - L1[i - 2] * L2[i - 2] * D[i - 2]) / D[i - 1]
        D[i] = d0[i] - L1[i - 1] ** 2 * D[i - 1] - L2[i - 2] ** 2 * D[i - 2]
    z = np.empty(n)
    z[0] = rhs[0]
    z[1] = rhs[1] - L1[0] * z[0]
    for i in range(2, n):
        z[i] = rhs[i] - L1[i - 1] * z[i - 1] - L2[i - 2] * z[i - 2]
    x = np.empty(n)
    x[-1] = z[-1] / D[-1]
    x[-2] = z[-2] / D[-2] - L1[-1] * x[-1]
    for i in range(n - 3, -1, -1):
        x[i] = z[i] / D[i] - L1[i] * x[i + 1] - L2[i] * x[i + 2]
    return x


def smooth_spline_natural(df: DataFrame, x: str, y: str,
                          by: Sequence[str] | None = None,
                          lam: float = 1.0,
                          out_name: str = "smoothed") -> DataFrame:
    """Natural cubic smoothing spline f minimizing
    Σ(y−f(x))² + λ∫f″² — the REFERENCE's smooth_spline semantics
    (ref exprs/expr_spline.py:13, maths/smooth_spline.md; Reinsch 1967),
    on arbitrarily-spaced strictly-increasing x.

    Reinsch algorithm per ordered series: build tridiagonal R and
    second-difference Q from the knot gaps h, solve the pentadiagonal
    SPD system (R + λQᵀQ)γ = Qᵀy in O(n) (banded LDLᵀ), then
    g = y − λQγ. λ→0 interpolates; λ→∞ tends to the least-squares line.
    Whole-series kernel per group via applyInPandas (the same contract
    as the reference's in-memory Rust kernel).
    Output: ``by`` + __x + __y + out_name, one row per input row.
    """
    import numpy as np
    import pandas as pd

    keys = list(by) if by else []
    key_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = (", ".join(f"{k} {key_types[k]}" for k in keys) + (", " if keys else "")
              + f"__x double, __y double, {out_name} double")

    def _reinsch(xv: "np.ndarray", yv: "np.ndarray") -> "np.ndarray":
        n = yv.size
        if n < 3 or lam == 0.0:
            return yv.copy()
        h = np.diff(xv)  # strictly increasing x required (ref contract)
        m = n - 2
        # R (tridiag, m×m) and QᵀQ (pentadiag) bands from the gaps
        r0 = (h[:-1] + h[1:]) / 3.0
        r1 = h[1:-1] / 6.0
        inv = 1.0 / h
        c_mid = -(inv[:-1] + inv[1:])          # c_k[k+1]
        q0 = inv[:-1] ** 2 + c_mid ** 2 + inv[1:] ** 2
        q1 = c_mid[:-1] * inv[1:-1] + inv[1:-1] * c_mid[1:]
        q2 = inv[1:-2] * inv[2:-1] if m > 2 else np.empty(0)
        d0 = r0 + lam * q0
        d1 = (r1 + lam * q1) if m > 1 else np.empty(0)
        d2 = lam * q2 if m > 2 else np.zeros(max(m - 2, 0))
        rhs = yv[:-2] * inv[:-1] + yv[1:-1] * c_mid + yv[2:] * inv[1:]
        gamma = _band2_ldl_solve(d0, d1, d2, rhs)
        # g = y − λ Q γ  (Q columns have support {k, k+1, k+2})
        qg = np.zeros(n)
        qg[:-2] += inv[:-1] * gamma
        qg[1:-1] += c_mid * gamma
        qg[2:] += inv[1:] * gamma
        return yv - lam * qg

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__x").reset_index(drop=True)
        pdf[out_name] = _reinsch(pdf["__x"].to_numpy(dtype="float64"),
                                 pdf["__y"].to_numpy(dtype="float64"))
        return pdf

    step = df.select(*keys, to_col(x).cast("double").alias("__x"),
                     to_col(y).cast("double").alias("__y"))
    if keys:
        return step.groupBy(*keys).applyInPandas(_apply, schema)
    return step.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(
        lambda pdf: _apply(pdf.drop(columns="__g")), schema)


def smooth_spline(df: DataFrame, y: str, order_by,
                  by: Sequence[str] | None = None,
                  lam: float = 10.0, out_name: str = "smoothed") -> DataFrame:
    """Penalized smoothing via the Whittaker–Eilers smoother (Eilers,
    Anal. Chem. 2003 "A perfect smoother") — minimize
    Σ(y−f)² + λ·Σ(Δ²f)², the equally-spaced discrete analogue of the
    reference's cubic smoothing spline (ref spline/smooth_spline).

    Solves (I + λ·D'D)f = y per ordered series with a pentadiagonal
    banded Cholesky (O(n) time/memory — no dense n×n matrix), as a
    whole-series kernel per group. λ→0 interpolates, λ→∞ → straight
    line. Output: ``by`` + order + y + out_name.
    """
    import numpy as np
    import pandas as pd

    keys = list(by) if by else []
    key_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    ob_name = order_by if isinstance(order_by, str) else "__o"
    schema = (", ".join(f"{k} {key_types[k]}" for k in keys) + (", " if keys else "")
              + f"__o {key_types.get(ob_name, 'double')}, __y double, {out_name} double")

    def _solve_penta(yv: "np.ndarray") -> "np.ndarray":
        n = yv.size
        if n < 3:
            return yv.copy()
        # A = I + lam * D2'D2, pentadiagonal SPD; band rows: d0 main,
        # d1 first sub, d2 second sub
        # diagonal of D2'D2: [1, 5, 6, …, 6, 5, 1] (n≥5); [1,5,5,1] (n=4);
        # [1,4,1] (n=3)
        d0 = np.full(n, 1.0)
        if n == 3:
            d0 += lam * np.array([1.0, 4.0, 1.0])
        elif n == 4:
            d0 += lam * np.array([1.0, 5.0, 5.0, 1.0])
        else:
            d0 += 6.0 * lam
            d0[0] -= 5.0 * lam
            d0[-1] -= 5.0 * lam
            d0[1] -= lam
            d0[-2] -= lam
        d1 = np.full(n - 1, -4.0 * lam)
        d1[0] = -2.0 * lam
        d1[-1] = -2.0 * lam
        d2 = np.full(n - 2, lam)
        return _band2_ldl_solve(d0, d1, d2, yv)

    def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__o").reset_index(drop=True)
        pdf[out_name] = _solve_penta(pdf["__y"].to_numpy(dtype="float64"))
        return pdf

    step = df.select(*keys, to_col(order_by).alias("__o"),
                     to_col(y).cast("double").alias("__y"))
    if keys:
        return step.groupBy(*keys).applyInPandas(_apply, schema)
    return step.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(
        lambda pdf: _apply(pdf.drop(columns="__g")), schema)
