"""Scale-safe global ranks / cumulative sums / lags.

`Window.partitionBy().orderBy(x)` funnels EVERY row through one
partition — a one-executor sort that dies at scale. These helpers give
the same semantics with the classic two-pass distributed prefix plan:

  1. range-bucket rows on x with boundaries from ONE `percentile_approx`
     aggregation, embedded as literals — deterministic across jobs
     (`repartitionByRange` would re-sample different boundaries in the
     offsets job vs the final job) and tie-preserving (equal x ⇒ equal
     bucket);
  2. per-bucket local rank/cumsum/lag via a window keyed on the bucket
     id (parallel across buckets — a hash shuffle on ~n_parts keys);
  3. per-(bucket, group) totals — a tiny P×G frame — collected to the
     driver, prefix-summed, and broadcast-joined back as offsets.

The only driver round-trips are O(n_parts × groups) scalars. No stage
ever holds more than one bucket's rows in one task.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .._utils import pin, to_col

import math as _math


def _finite_bounds(raw) -> "list[float]":
    """Sorted, deduped, FINITE bucket boundaries. ±inf/NaN boundaries
    are dropped: Spark's string→double cast needs 'Infinity'/'NaN' (a
    repr()'d 'inf' literal casts to NULL and every bucket id goes NULL),
    and as boundaries they add nothing — non-finite values simply pile
    into the edge buckets, which the exact per-bucket counting already
    handles (Spark orders NaN greatest, so bucketing by `x >= b` over
    finite b keeps ties and order exact)."""
    return sorted({float(b) for b in (raw or [])
                   if b is not None and _math.isfinite(float(b))})


def _dlit(b: float) -> str:
    """A SQL double literal Java's Double.parseDouble accepts — repr()
    for finite values, the Java spellings for non-finite ones."""
    if _math.isnan(b):
        return "CAST('NaN' AS DOUBLE)"
    if _math.isinf(b):
        return f"CAST('{'Infinity' if b > 0 else '-Infinity'}' AS DOUBLE)"
    return f"CAST('{b!r}' AS DOUBLE)"


_PID = "__pds_pid"


def _ranged(df: DataFrame, order_col, by: Sequence[str] | None,
            n_parts: int | None) -> DataFrame:
    """Deterministic range bucketing: boundaries = approx quantiles of
    order_col (one tiny collect), bucket id = #boundaries ≤ x as a pure
    Column expression. Equal values always share a bucket."""
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    oc = to_col(order_col)
    probs = [(i + 1) / n for i in range(n - 1)]
    if probs:
        row = df.agg(F.percentile_approx(oc.cast("double"), probs, 10000)
                     .alias("b")).first()
        bounds = _finite_bounds(row["b"])
    else:
        bounds = []
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (oc.cast("double") >= F.lit(b)).cast("int")
    # Null order values get bucket -1: they sort before every real bucket,
    # mirroring Spark's nulls-first ASC window order, and keep the pid
    # column non-null so the driver-side prefix sort never compares None.
    pid = F.when(oc.isNull(), F.lit(-1)).otherwise(pid)
    return df.withColumn(_PID, pid)


def _offsets(part: DataFrame, by: Sequence[str] | None,
             agg_cols: dict[str, object],
             with_totals: bool = False) -> DataFrame:
    """Collect per-(pid, by) totals, prefix-sum per group on the driver,
    return a small offsets DataFrame to broadcast-join back.
    ``with_totals`` additionally emits ``__tot_<n>`` (the group's full
    sum — the running sum after the LAST bucket) on every row, so
    callers that need the group size get it from the same collect
    instead of a separate count() scan."""
    keys = list(by or [])
    totals = (
        part.groupBy(_PID, *keys)
        .agg(*[expr.alias(name) for name, expr in agg_cols.items()])
        .collect()
    )
    rows = {}
    for r in sorted(totals, key=lambda r: r[_PID]):
        gkey = tuple(r[k] for k in keys)
        acc = rows.setdefault(gkey, {"run": {n: 0.0 for n in agg_cols}, "out": []})
        acc["out"].append((r[_PID], dict(acc["run"])))
        for n in agg_cols:
            acc["run"][n] += float(r[n] or 0.0)
    out_rows = []
    for gkey, acc in rows.items():
        tot = acc["run"]
        for pid, offs in acc["out"]:
            vals = [offs[n] for n in agg_cols]
            if with_totals:
                vals += [tot[n] for n in agg_cols]
            out_rows.append(tuple([pid, *gkey] + vals))
    schema_keys = ", ".join(
        f"{k} {dict((f.name, f.dataType.simpleString()) for f in part.schema.fields)[k]}"
        for k in keys
    )
    schema = (
        f"{_PID} int" + (", " + schema_keys if keys else "")
        + ", " + ", ".join(f"__off_{n} double" for n in agg_cols)
    )
    if with_totals:
        schema += ", " + ", ".join(f"__tot_{n} double" for n in agg_cols)
    spark = part.sparkSession
    return F.broadcast(spark.createDataFrame(out_rows, schema))


def global_cumsum(df: DataFrame, order_col, value_cols: Sequence[str],
                  by: Sequence[str] | None = None,
                  n_parts: int | None = None,
                  with_totals: bool = False) -> DataFrame:
    """Adds `cum_<c>` = sum of c over all rows with order_col ≤ this
    row's (range frame — ties all included), per group. Parallel.
    ``with_totals`` additionally attaches ``tot_<c>`` (the group's full
    sum) on every row — free, the offsets collect already sums the
    per-bucket totals (r15): callers needing cumsum AND the total no
    longer pay a separate full-scan aggregation job."""
    keys = list(by or [])
    part = _ranged(df, order_col, keys, n_parts)
    w_local = Window.partitionBy(_PID, *keys).orderBy(to_col(order_col)) \
        .rangeBetween(Window.unboundedPreceding, 0)
    for c in value_cols:
        part = part.withColumn(f"__loc_{c}", F.sum(F.col(c)).over(w_local))
    # the materialization point of every two-pass prefix plan here: the
    # offsets collect AND each downstream job read this narrow frame;
    # unpinned, each re-runs the scan + bucket window (measured 1.8x-2x
    # whole-query cost)
    part = pin(part)
    offs = _offsets(part, keys, {c: F.sum(F.col(c)) for c in value_cols},
                    with_totals=with_totals)
    joined = part.join(offs, [_PID, *keys])
    for c in value_cols:
        joined = joined.withColumn(
            f"cum_{c}", F.col(f"__loc_{c}") + F.col(f"__off_{c}")
        ).drop(f"__loc_{c}", f"__off_{c}")
        if with_totals:
            joined = joined.withColumnRenamed(f"__tot_{c}", f"tot_{c}")
    return joined.drop(_PID)


def global_min_rank(df: DataFrame, order_col,
                    by: Sequence[str] | None = None,
                    out_name: str = "rank",
                    n_parts: int | None = None,
                    total_name: str | None = None,
                    tie_name: str | None = None) -> DataFrame:
    """SQL rank() (min rank, ties share) over the WHOLE frame / group —
    without a single-partition sort. ``total_name`` additionally
    attaches the group's row count (free — the per-bucket counts the
    offsets pass already collects sum to it), saving callers that need
    rank AND size a separate count() scan. ``tie_name`` attaches the
    value's tie-group size, also free: equal values always share a
    range bucket (the bucketing is tie-preserving by construction), so
    the count window partitions by (bucket, group, value) — a SUBSET-
    compatible clustering of the rank window's exchange, and its
    required sort is a prefix of the rank window's — zero extra
    exchange, zero extra sort (r15, guide §2.4)."""
    keys = list(by or [])
    part = _ranged(df, order_col, keys, n_parts)
    w_local = Window.partitionBy(_PID, *keys).orderBy(to_col(order_col))
    part = part.withColumn("__loc_r", F.rank().over(w_local).cast("double"))
    if tie_name is not None:
        w_ties = Window.partitionBy(_PID, *keys, to_col(order_col))
        part = part.withColumn(tie_name, F.count(F.lit(1)).over(w_ties))
    part = pin(part)
    offs = _offsets(part, keys, {"n": F.count(F.lit(1)).cast("double")},
                    with_totals=total_name is not None)
    joined = part.join(offs, [_PID, *keys])
    out = joined.withColumn(out_name, F.col("__loc_r") + F.col("__off_n"))
    if total_name is not None:
        out = out.withColumn(total_name, F.col("__tot_n")) \
            .drop("__tot_n")
    return out.drop("__loc_r", "__off_n", _PID)


def global_avg_rank(df: DataFrame, order_col,
                    by: Sequence[str] | None = None,
                    out_name: str = "avg_rank",
                    n_parts: int | None = None) -> DataFrame:
    """Tie-averaged ranks (scipy `rankdata(average)`) at scale: min rank
    via the two-pass plan; tie counts ride the SAME bucket window (see
    global_min_rank ``tie_name``) instead of a second full hash shuffle
    on the value — one exchange fewer per consumer (r15)."""
    keys = list(by or [])
    ranked = global_min_rank(df, order_col, keys, "__min_r", n_parts,
                             tie_name="__tie_n")
    return ranked.withColumn(
        out_name,
        F.col("__min_r") + (F.col("__tie_n") - 1) / 2.0,
    ).drop("__min_r", "__tie_n")


def global_rank_pair(df: DataFrame, x_col, y_col,
                     out_x: str, out_y: str,
                     avg_ties: bool = True,
                     n_parts: int | None = None) -> DataFrame:
    """Global ranks of TWO independent columns in one fused plan (r15):
    spearman/copula-style consumers ranked x then y as two chained
    two-pass plans — two boundary-sketch jobs, two pins, two offsets
    collects. Fused: ONE aggregation sketches both columns' bucket
    boundaries, both local rank windows run in one pinned stage (two
    exchanges — the two orderings are fundamentally different — but
    one pin), and ONE collect of the (pid_x × pid_y) count grid gives
    both offset maps driver-side (the grid is ≤ P² tiny rows; each
    column's per-bucket counts are its marginals).

    ``avg_ties``: tie-averaged ranks (scipy rankdata 'average', the
    spearman contract) — tie counts ride each column's own bucket
    window exactly as global_min_rank(tie_name=...). False = min rank.
    Output: df columns + out_x + out_y (doubles)."""
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    xc, yc = to_col(x_col), to_col(y_col)
    probs = [(i + 1) / n for i in range(n - 1)]
    if probs:
        row = df.agg(
            F.percentile_approx(xc.cast("double"), probs, 10000).alias("bx"),
            F.percentile_approx(yc.cast("double"), probs, 10000).alias("by"),
        ).first()
        bx, by = _finite_bounds(row["bx"]), _finite_bounds(row["by"])
    else:
        bx, by = [], []

    def _pid(oc, bounds):
        pid = F.lit(0)
        for b in bounds:
            pid = pid + (oc.cast("double") >= F.lit(b)).cast("int")
        return F.when(oc.isNull(), F.lit(-1)).otherwise(pid)

    part = df.withColumn("__px", _pid(xc, bx)).withColumn("__py", _pid(yc, by))
    wx = Window.partitionBy("__px").orderBy(xc)
    part = part.withColumn("__lrx", F.rank().over(wx).cast("double"))
    wy = Window.partitionBy("__py").orderBy(yc)
    part = part.withColumn("__lry", F.rank().over(wy).cast("double"))
    if avg_ties:
        part = part.withColumn(
            "__tx", F.count(F.lit(1)).over(Window.partitionBy("__px", xc)))
        part = part.withColumn(
            "__ty", F.count(F.lit(1)).over(Window.partitionBy("__py", yc)))
    part = pin(part)
    # r16 (r15 verdict #2): the offsets collect is the two axes'
    # MARGINAL bucket counts, computed server-side in ONE grouping-sets
    # aggregation over the pinned frame — ≤ 2·P rows cross the driver.
    # (r15 collected the dense (pid_x × pid_y) grid and marginalized on
    # the driver: ≤ P² rows — harmless at local P=32, a driver scale-
    # killer at a cluster's 10⁴⁺ defaultParallelism.) Bucket ids are
    # never NULL by construction (null values get pid −1), so a NULL
    # grouping column uniquely marks "aggregated over".
    marg_rows = part.groupingSets(
        [["__px"], ["__py"]], F.col("__px"), F.col("__py")
    ).agg(F.count(F.lit(1)).cast("double").alias("n")).collect()
    spark = part.sparkSession

    def _off_frame(axis: str) -> DataFrame:
        other = "__py" if axis == "__px" else "__px"
        marg = {r[axis]: r["n"] for r in marg_rows if r[other] is None}
        run, rows = 0.0, []
        for pid in sorted(marg):
            rows.append((pid, run))
            run += marg[pid]
        return F.broadcast(spark.createDataFrame(
            rows, f"{axis} int, __off_{axis} double"))

    joined = part.join(_off_frame("__px"), "__px") \
                 .join(_off_frame("__py"), "__py")
    rx = F.col("__lrx") + F.col("__off___px")
    ry = F.col("__lry") + F.col("__off___py")
    if avg_ties:
        rx = rx + (F.col("__tx") - 1) / 2.0
        ry = ry + (F.col("__ty") - 1) / 2.0
    out = joined.withColumn(out_x, rx).withColumn(out_y, ry)
    drop = ["__px", "__py", "__lrx", "__lry", "__off___px", "__off___py"]
    if avg_ties:
        drop += ["__tx", "__ty"]
    return out.drop(*drop)


def global_rank_then_lag(df: DataFrame, x_col, y_col,
                         rank_name: str = "rank",
                         lag_name: str = "lag_rank",
                         n_parts: int | None = None) -> DataFrame:
    """Fused xi-correlation plan (r15): the global min-rank of ``y_col``
    AND, per row, the PREVIOUS row's y-rank in ``x_col`` order — what
    xi = 1 − 3·Σ|r_{i+1} − r_i|/(n²−1) consumes. Chaining
    global_min_rank(y) → global_lag(x) paid two boundary-sketch jobs,
    two pins and two offset collects; fused: ONE aggregation sketches
    both columns, both windows run in one pinned stage, and ONE collect
    of the (pid_x, pid_y) grid (counts + last-by-x row per cell) gives
    the y-offset map and each x-bucket's boundary rank driver-side.
    Offsets apply through a P-sized literal map, so the lagged row's
    offset (a DIFFERENT y-bucket's) needs no second join.

    Contract: ``x_col`` values are unique and non-null (a time/sort
    index — the same contract as global_lag); ``y_col`` nulls rank
    first, as in global_min_rank."""
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    xc, yc = to_col(x_col), to_col(y_col)
    probs = [(i + 1) / n for i in range(n - 1)]
    if probs:
        row = df.agg(
            F.percentile_approx(xc.cast("double"), probs, 10000).alias("bx"),
            F.percentile_approx(yc.cast("double"), probs, 10000).alias("by"),
        ).first()
        bx, by = _finite_bounds(row["bx"]), _finite_bounds(row["by"])
    else:
        bx, by = [], []

    def _pid(oc, bounds):
        pid = F.lit(0)
        for b in bounds:
            pid = pid + (oc.cast("double") >= F.lit(b)).cast("int")
        return F.when(oc.isNull(), F.lit(-1)).otherwise(pid)

    part = df.withColumn("__px", _pid(xc, bx)).withColumn("__py", _pid(yc, by))
    wy = Window.partitionBy("__py").orderBy(yc)
    part = part.withColumn("__lry", F.rank().over(wy).cast("double"))
    wx = Window.partitionBy("__px").orderBy(xc)
    part = part.withColumn(
        "__prevs", F.lag(F.struct(F.col("__lry"), F.col("__py"))).over(wx))
    part = pin(part)
    # r16 (r15 verdict #2): ONE grouping-sets aggregation computes both
    # axes' marginals server-side — the y-bucket counts (offset map) on
    # the {__py} set and each x-bucket's last-by-x row (its local y
    # rank + y bucket, via max_by) on the {__px} set — so ≤ 2·P rows
    # reach the driver instead of r15's dense (pid_x × pid_y) grid
    # (≤ P², a driver scale-killer at cluster parallelism). Bucket ids
    # are never NULL by construction (null values get pid −1), so a
    # NULL grouping column uniquely marks "aggregated over".
    grid = part.groupingSets(
        [["__px"], ["__py"]], F.col("__px"), F.col("__py")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.max_by(F.struct(F.col("__lry"), F.col("__py")), xc).alias("__lastr"),
    ).collect()
    # y-offset map: prefix sums of the py marginals
    marg: dict[int, float] = {}
    for r in grid:
        if r["__px"] is None:
            marg[r["__py"]] = marg.get(r["__py"], 0.0) + r["n"]
    run, off_y = 0.0, {}
    for pid in sorted(marg):
        off_y[pid] = run
        run += marg[pid]
    # per x-bucket: the GLOBAL rank of its last-by-x row (max_by gave
    # the row directly), then shift to the NEXT bucket as its first
    # row's lag value
    last_of: dict[int, float] = {}
    for r in grid:
        if r["__py"] is not None or r["__lastr"] is None:
            continue
        last_of[r["__px"]] = (
            r["__lastr"]["__lry"] + off_y[r["__lastr"]["__py"]])
    prev_of = {}
    pxs = sorted(last_of)
    for i, px in enumerate(pxs):
        if i > 0:
            prev_of[px] = last_of[pxs[i - 1]]
    off_items = []
    for pid, off in off_y.items():
        off_items += [F.lit(int(pid)), F.lit(float(off))]
    off_map = F.create_map(*off_items) if off_items else F.create_map()
    prev_items = []
    for px, v in prev_of.items():
        prev_items += [F.lit(int(px)), F.lit(float(v))]
    prev_map = F.create_map(*prev_items) if prev_items else \
        F.create_map().cast("map<int,double>")
    is_first = F.row_number().over(wx) == 1
    out = part.withColumn(
        rank_name, F.col("__lry") + F.element_at(off_map, F.col("__py")))
    out = out.withColumn(
        lag_name,
        F.when(is_first, F.element_at(prev_map, F.col("__px")))
        .otherwise(F.col("__prevs")["__lry"]
                   + F.element_at(off_map, F.col("__prevs")["__py"])))
    return out.drop("__px", "__py", "__lry", "__prevs")


def global_lag(df: DataFrame, order_col, col: str,
               by: Sequence[str] | None = None,
               out_name: str = "lag",
               n_parts: int | None = None) -> DataFrame:
    """lag(col) over the global (or per-group) order of order_col.

    Local lag per range partition; each partition's first row takes the
    previous partition's last value from a collected P×G boundary map.
    NB: with duplicate order_col values the choice of "previous row" is
    tie-ordered by the range partitioner exactly like the
    single-partition window would be (equal keys colocate).
    """
    keys = list(by or [])
    part = _ranged(df, order_col, keys, n_parts)
    w_local = Window.partitionBy(_PID, *keys).orderBy(to_col(order_col))
    part = part.withColumn("__loc_lag", F.lag(F.col(col)).over(w_local))
    part = pin(part)
    # last value of (pid, group) — max_by over the local order
    lasts = (
        part.groupBy(_PID, *keys)
        .agg(F.max_by(F.col(col), to_col(order_col)).alias("__last"))
        .collect()
    )
    prev: dict[tuple, dict[int, float]] = {}
    for r in sorted(lasts, key=lambda r: r[_PID]):
        gkey = tuple(r[k] for k in keys)
        prev.setdefault(gkey, {})[r[_PID]] = r["__last"]
    # map: (pid, group) -> previous pid's last value
    rows = []
    for gkey, by_pid in prev.items():
        pids = sorted(by_pid)
        for i, pid in enumerate(pids):
            if i > 0:
                rows.append(tuple([pid, *gkey, by_pid[pids[i - 1]]]))
    spark = part.sparkSession
    field_types = {f.name: f.dataType.simpleString() for f in part.schema.fields}
    schema_keys = ", ".join(f"{k} {field_types[k]}" for k in keys)
    schema = (f"{_PID} int" + (", " + schema_keys if keys else "")
              + f", __prev {field_types[col]}")
    if rows:
        bmap = F.broadcast(spark.createDataFrame(rows, schema))
        part = part.join(bmap, [_PID, *keys], "left")
    else:
        part = part.withColumn("__prev", F.lit(None).cast(field_types[col]))
    w_first = Window.partitionBy(_PID, *keys).orderBy(to_col(order_col))
    is_first = F.row_number().over(w_first) == 1
    out = part.withColumn(
        out_name,
        F.when(is_first, F.col("__prev")).otherwise(F.col("__loc_lag")),
    )
    return out.drop("__loc_lag", "__prev", _PID)


def quantile_sketch_aggs(cols: Sequence[str],
                         n_parts: int = 32) -> "list":
    """Aggregate expressions a caller can FOLD INTO ITS OWN stats agg to
    prefund exact_quantiles' pass 1 (boundary sketch + non-null count)
    for free on a scan it was already paying for. Parse the result row
    with quantile_sketch_parse."""
    bprobs = [(i + 1) / n_parts for i in range(n_parts - 1)]
    aggs = []
    for c in cols:
        cc = to_col(c).cast("double")
        aggs.append(F.count(cc).alias(f"__qs_n_{c}"))
        if bprobs:
            aggs.append(F.percentile_approx(cc, bprobs, 1000)
                        .alias(f"__qs_b_{c}"))
    return aggs


def quantile_sketch_parse(row, cols: Sequence[str]):
    """(bounds, counts) presketch from a row produced with
    quantile_sketch_aggs — pass to exact_quantiles(presketch=...)."""
    bounds, counts = {}, {}
    d = row.asDict() if hasattr(row, "asDict") else dict(row)
    for c in cols:
        counts[c] = int(d[f"__qs_n_{c}"])
        bounds[c] = _finite_bounds(d.get(f"__qs_b_{c}"))
    return bounds, counts


#: diagnostics of the MOST RECENT exact_quantiles call (driver-side,
#: overwritten per call): which selection branch ran, the observed max
#: candidate-bucket size, how many rows were pinned, and whether any
#: sketch-miss fallback pass fired — the scale probe reads this to
#: attribute wall time to a branch instead of guessing (r9 verdict #3).
LAST_RUN: dict = {}


def exact_quantiles(df: DataFrame, probs_by_col: "dict[str, Sequence[float]]",
                    n_parts: int | None = None,
                    presketch=None) -> "dict[str, list]":
    """EXACT `quantile_cont` values for several columns in TWO scans
    (one with presketch) — the scale-safe replacement for
    ``F.percentile``/``F.median`` (whose physical agg buffers every
    value per partition and merges them all in ONE final reducer:
    exactly the single-node sort this module exists to avoid).

    Distributed selection: (1) ONE aggregation collects every column's
    approx bucket boundaries + non-null count (skipped entirely when the
    caller prefunded it via ``presketch`` on a scan it already pays —
    quantile_sketch_aggs); (2) ONE fused scan filters to the sketch-
    predicted candidate buckets (±1) via direct value-range comparisons
    (never a per-row all-buckets bucket id), PINS those ~|targets|·n/P
    rows, and rides the exact candidate/prefix counts on the same job as
    observe() metrics; the driver locates each order statistic from the
    metrics and a final tiny window+agg over the PINNED rows (cache
    read, not a table scan) picks the values. Interpolation happens
    driver-side with the same lower + frac·(upper−lower) rule as
    Spark's Percentile and DuckDB's quantile_cont. A sketch that
    misranks by a whole bucket falls back to an exact per-bucket count
    pass — correctness never depends on the sketch.

    Driver state: O(P × columns) scalars. No task ever sorts more than
    one bucket.
    """
    import math

    cols = {c: sorted(set(ps)) for c, ps in probs_by_col.items()}
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    bprobs = [(i + 1) / n for i in range(n - 1)]

    # pass 1: boundaries + non-null counts, one agg for every column —
    # skipped entirely when the caller prefunded it on its own stats agg
    if presketch is not None:
        bounds, counts_n = presketch
        bounds = {c: _finite_bounds(bounds[c]) for c in cols}
        counts_n = {c: int(counts_n[c]) for c in cols}
    else:
        aggs = []
        for c in cols:
            cc = to_col(c).cast("double")
            aggs.append(F.count(cc).alias(f"__n_{c}"))
            if bprobs:
                # low accuracy on purpose: boundaries only balance
                # buckets (±1% size skew is harmless); sketch cost
                # scales with it
                aggs.append(F.percentile_approx(cc, bprobs, 1000)
                            .alias(f"__b_{c}"))
        row = df.agg(*aggs).first()
        bounds, counts_n = {}, {}
        for c in cols:
            counts_n[c] = int(row[f"__n_{c}"])
            bounds[c] = _finite_bounds(row[f"__b_{c}"] if bprobs else [])

    # Narrow value projection; full bucket ids are only ever computed on
    # the RARE sketch-miss fallback path (_full_counts) — the hot path
    # below works from direct value-range comparisons instead, so the
    # scan never evaluates the 31-term bucket CASE per column.
    def _pid_sql(c):
        if not bounds[c]:
            terms = "0"
        else:
            terms = " + ".join(
                f"CAST(__v_{c} >= {_dlit(b)} AS INT)"
                for b in bounds[c])
        return (f"CASE WHEN __v_{c} IS NULL THEN -1 ELSE {terms} END")

    proj_v = df.select(*[to_col(c).cast("double").alias(f"__v_{c}")
                         for c in cols])
    _proj_cache = []

    def _proj():
        # fallback-only frame carrying the full bucket-id CASE
        if not _proj_cache:
            p = proj_v
            for c in cols:
                p = p.withColumn(f"__p_{c}", F.expr(_pid_sql(c)))
            _proj_cache.append(p)
        return _proj_cache[0]

    # which order statistics do we need, and which buckets could hold
    # them? The sketch already tells us: boundary i of the RAW list has
    # rank ~ (i+1)/P·n with error ≤ n/accuracy ≪ the n/P bucket size,
    # so position k lives in the sketch-predicted bucket ± 1. Pass 2
    # then only counts the few candidate buckets + one prefix per
    # position (O(#targets) agg terms), never P×C.
    need_of: "dict[str, list[int]]" = {}
    cand_of: "dict[str, dict[int, list[int]]]" = {}
    for c, ps in cols.items():
        nn = counts_n[c]
        need = set()
        for q in ps:
            if nn == 0:
                continue
            p = q * (nn - 1)
            need.add(math.floor(p) + 1)
            need.add(math.ceil(p) + 1)
        need_of[c] = sorted(need)
        # deduped boundaries are ~evenly spaced in rank by construction
        # (they are the P-quantiles); heavy ties skew the estimate, but
        # the exact-count verification below catches any miss and the
        # _full_counts fallback re-locates it correctly
        n_b = len(bounds[c])
        approx_rank = {}
        for j, b in enumerate(bounds[c]):
            approx_rank[j] = (j + 1) / (n_b + 1) * nn if n_b else 0
        cands = {}
        for k in need_of[c]:
            pred = sum(1 for j in range(n_b) if approx_rank[j] <= k)
            cands[k] = [p for p in range(max(0, pred - 1),
                                         min(n_b, pred + 1) + 1)]
        cand_of[c] = cands

    # passes 2+3 fused into ONE scan: the candidate-bucket rows are
    # materialized (pinned) for the rank pass while the exact candidate
    # counts + prefixes ride the SAME job as observe() metrics — the
    # separate counting scan the r7 plan paid is gone. Bucket membership
    # and in-window bucket ids come from direct comparisons against the
    # few candidate boundaries (bounds are strictly increasing, so
    # pid >= b ⟺ v >= bounds[b-1] exactly — ties, NaN ordering and all),
    # never the full per-row bucket CASE.
    from pyspark.sql import Observation

    def _runs(buckets: "list[int]") -> "list[list[int]]":
        runs: "list[list[int]]" = []
        for b in buckets:
            if runs and b == runs[-1][-1] + 1:
                runs[-1].append(b)
            else:
                runs.append([b])
        return runs

    runs_of = {
        c: _runs(sorted({b for bs in cand_of[c].values() for b in bs}))
        for c in cols
    }
    tag_of = {c: i for i, c in enumerate(cols)}

    def _ge(c, i):
        return f"(__v_{c} >= {_dlit(bounds[c][i])})"

    def _lt(c, i):
        return f"(__v_{c} < {_dlit(bounds[c][i])})"

    obs_aggs, zero_keys = [], []
    mem_exprs = []
    for c in cols:
        nb = len(bounds[c])
        branches = []
        for run in runs_of[c]:
            lo, hi = run[0], run[-1]
            if lo > 0:
                obs_aggs.append(F.expr(
                    f"SUM(CASE WHEN __v_{c} IS NOT NULL AND {_lt(c, lo - 1)} "
                    "THEN 1 ELSE 0 END)").alias(f"__pre_{c}_{lo}"))
            else:
                zero_keys.append(f"__pre_{c}_{lo}")
            for b in run:
                conds = [f"__v_{c} IS NOT NULL"]
                if b > 0:
                    conds.append(_ge(c, b - 1))
                if b < nb:
                    conds.append(_lt(c, b))
                obs_aggs.append(F.expr(
                    "SUM(CASE WHEN " + " AND ".join(conds)
                    + " THEN 1 ELSE 0 END)").alias(f"__c_{c}_{b}"))
            mconds = [f"__v_{c} IS NOT NULL"]
            if lo > 0:
                mconds.append(_ge(c, lo - 1))
            if hi < nb:
                mconds.append(_lt(c, hi))
            if len(run) == 1:
                pid_expr = str(lo)
            else:
                inner = " + ".join(f"CAST({_ge(c, i)} AS INT)"
                                   for i in range(lo, hi))
                pid_expr = f"{lo} + ({inner})"
            branches.append(
                f"WHEN {' AND '.join(mconds)} THEN named_struct("
                f"'tag', {tag_of[c]}, 'pid', {pid_expr}, 'v', __v_{c})")
        if branches:
            mem_exprs.append("CASE " + " ".join(branches) + " ELSE NULL END")

    crow: dict = {k: 0 for k in zero_keys}
    stacked = None
    if obs_aggs or mem_exprs:
        obs = Observation()
        observed = proj_v.observe(obs, *obs_aggs) if obs_aggs else proj_v
        if mem_exprs:
            stacked = observed.select(F.explode(F.filter(
                F.array(*[F.expr(e) for e in mem_exprs]),
                lambda s: s.isNotNull())).alias("s")
            ).select("s.tag", "s.pid", "s.v")
            stacked = pin(stacked)
            stacked.count()  # one job: scan + metrics + pinned candidates
        else:
            observed.count()
        if obs_aggs:
            crow.update(obs.get)

    # driver: locate (bucket, local position); if a position falls
    # outside its candidate window (sketch failure — shouldn't happen,
    # but correctness must not depend on a sketch), fall back to a full
    # per-bucket count pass for that locate
    full_counts: "dict[str, list[int]] | None" = None

    def _full_counts():
        nonlocal full_counts
        if full_counts is None:
            proj = _proj()
            stacked_all = proj.select(F.explode(F.array(*[
                F.struct(F.lit(tag_of[c]).alias("tag"),
                         F.col(f"__p_{c}").alias("pid"))
                for c in cols])).alias("s")).select("s.tag", "s.pid")
            cc = {(r["tag"], r["pid"]): r["count"] for r in
                  stacked_all.groupBy("tag", "pid").count().collect()}
            full_counts = {
                c: [int(cc.get((tag_of[c], p), 0))
                    for p in range(len(bounds[c]) + 1)] for c in cols}
        return full_counts

    in_window: "dict[str, set[int]]" = {
        c: {b for run in runs_of[c] for b in run} for c in cols}
    targets: "dict[str, dict[int, tuple[int, int]]]" = {}
    misses: "dict[str, set[int]]" = {}
    for c in cols:
        located = {}
        run_start = {b: run[0] for run in runs_of[c] for b in run}
        for k in need_of[c]:
            bs = cand_of[c][k]
            bmin = min(bs) if bs else 0
            # prefix below min(bs): the observed prefix below the run
            # start plus the observed counts of the run buckets before it
            lo = run_start.get(bmin, bmin)
            cum = int(crow.get(f"__pre_{c}_{lo}", 0) or 0)
            for b in range(lo, bmin):
                cum += int(crow.get(f"__c_{c}_{b}", 0) or 0)
            found = False
            for b in bs:
                cnt = int(crow.get(f"__c_{c}_{b}", 0) or 0)
                if cum < k <= cum + cnt:
                    located[k] = (b, k - cum)
                    found = True
                    break
                cum += cnt
            if not found:
                per_bucket = _full_counts()[c]
                cum2 = 0
                for b, cnt in enumerate(per_bucket):
                    if cum2 < k <= cum2 + cnt:
                        located[k] = (b, k - cum2)
                        if b not in in_window[c]:
                            misses.setdefault(c, set()).add(b)
                        break
                    cum2 += cnt
        targets[c] = located

    # selection: pick every target order statistic from the PINNED
    # candidate rows (already materialized by the fused job above — this
    # reads the cache, not the table). Two shapes, chosen by the
    # OBSERVED max bucket size: buckets that fit a heap array use
    # sort_array(collect_list) per (tag, pid) — a group-local sort, ~8×
    # faster than ranking every pinned row through a window (r8
    # measurement at 1M pinned rows); oversized buckets fall back to the
    # window rank, whose external sorter spills instead of OOMing.
    values: "dict[str, dict[int, float]]" = {c: {} for c in cols}
    wanted = []  # (c, k, bucket, local-rank) for in-window targets
    for c in cols:
        for k, (b, k_loc) in targets[c].items():
            if b in in_window[c]:
                wanted.append((c, k, b, k_loc))
    LAST_RUN.clear()
    LAST_RUN.update(
        selection=None,
        pinned_rows=sum(int(crow.get(f"__c_{c}_{b}", 0) or 0)
                        for c in cols for run in runs_of[c] for b in run),
        sketch_misses=sum(len(tb) for tb in misses.values()),
        full_counts_pass=full_counts is not None,
        n_targets=len(wanted),
    )
    if wanted and stacked is not None:
        max_bucket = max(
            (int(crow.get(f"__c_{c}_{b}", 0) or 0) for c, _k, b, _l in wanted),
            default=0)
        LAST_RUN["max_bucket"] = max_bucket
        LAST_RUN["selection"] = ("sort_array" if max_bucket <= 20_000_000
                                 else "window")
        if max_bucket <= 20_000_000:  # ≤ ~160 MB of doubles per group
            ag = stacked.groupBy("tag", "pid").agg(
                F.sort_array(F.collect_list("v")).alias("__a"))
            sel = [F.max(F.when(
                (F.col("tag") == tag_of[c]) & (F.col("pid") == b),
                F.element_at("__a", k_loc))).alias(f"__s_{tag_of[c]}_{k}")
                for c, k, b, k_loc in wanted]
            srow = ag.agg(*sel).first()
        else:
            w = Window.partitionBy("tag", "pid").orderBy("v")
            sel = [F.max(F.when(
                (F.col("tag") == tag_of[c]) & (F.col("pid") == b)
                & (F.col("r") == k_loc), F.col("v")))
                .alias(f"__s_{tag_of[c]}_{k}")
                for c, k, b, k_loc in wanted]
            srow = (stacked.withColumn("r", F.row_number().over(w))
                    .agg(*sel).first())
        for c, k, _b, _l in wanted:
            values[c][k] = srow[f"__s_{tag_of[c]}_{k}"]

    # sketch-miss stragglers (target bucket outside the candidate
    # window — possible only when the sketch misranked by a whole
    # bucket): one extra old-style pass over just those buckets
    if misses:
        proj = _proj()
        elems = []
        for c, tb in misses.items():
            elems.append(F.when(
                F.col(f"__p_{c}").isin(*tb),
                F.struct(F.lit(tag_of[c]).alias("tag"),
                         F.col(f"__p_{c}").alias("pid"),
                         F.col(f"__v_{c}").alias("v"))))
        stacked2 = proj.select(F.explode(
            F.filter(F.array(*elems), lambda s: s.isNotNull())
        ).alias("s")).select("s.tag", "s.pid", "s.v")
        w = Window.partitionBy("tag", "pid").orderBy("v")
        ranked2 = stacked2.withColumn("r", F.row_number().over(w))
        sel2 = []
        for c, tb in misses.items():
            for k, (b, k_loc) in targets[c].items():
                if b in tb:
                    sel2.append(F.max(F.when(
                        (F.col("tag") == tag_of[c]) & (F.col("pid") == b)
                        & (F.col("r") == k_loc), F.col("v")))
                        .alias(f"__s_{tag_of[c]}_{k}"))
        srow2 = ranked2.agg(*sel2).first()
        for c, tb in misses.items():
            for k, (b, _loc) in targets[c].items():
                if b in tb:
                    values[c][k] = srow2[f"__s_{tag_of[c]}_{k}"]

    out: "dict[str, list]" = {}
    for c, ps_sorted in cols.items():
        nn = counts_n[c]
        res = {}
        for q in ps_sorted:
            if nn == 0:
                res[q] = None
                continue
            p = q * (nn - 1)
            lo = values[c].get(math.floor(p) + 1)
            hi = values[c].get(math.ceil(p) + 1)
            if lo is None or hi is None:
                res[q] = None
            else:
                res[q] = lo + (p - math.floor(p)) * (hi - lo)
        out[c] = [res[q] for q in probs_by_col[c]]
    return out
