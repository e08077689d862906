"""Shared helpers for the PySpark-native polars_ds engine.

Parallels reference python/polars_ds/_utils.py:1-58 (str_to_expr /
to_expr coercion), re-expressed for pyspark Columns.
"""

from __future__ import annotations

import weakref
from concurrent.futures import ThreadPoolExecutor
from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

ColumnLike = "str | Column"


def to_col(x) -> Column:
    """Coerce a str column name / Column / numeric literal to a Column."""
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(x)
    if isinstance(x, (int, float, bool)):
        return F.lit(x)
    raise TypeError(f"expected str | Column | numeric, got {type(x)}")


def to_cols(xs: Iterable) -> list[Column]:
    return [to_col(x) for x in xs]


def group_window(by: Sequence | None) -> WindowSpec:
    """A Window partitioned by ``by`` (global single partition if None).

    A global window on a 100 TB table collapses to one partition — every
    function that accepts ``by=None`` documents this; benchmark queries
    always pass a grouping.
    """
    if by:
        return Window.partitionBy(*to_cols(by))
    return Window.partitionBy()


def with_global_totals(df, **aggs: Column):
    """Attach global scalar aggregates as literal-like columns via one
    agg + broadcast cross-join.

    The scale-safe replacement for ``F.sum(c).over(Window.partitionBy())``
    on an unbounded frame: the aggregate is map-side combinable (partial
    per partition, one tiny merge), whereas the empty window funnels every
    row through a SinglePartition exchange before summing.
    """
    tot = df.agg(*[a.alias(n) for n, a in aggs.items()])
    return df.crossJoin(F.broadcast(tot))


def ordered_window(order_by, by: Sequence | None = None, desc: bool = False) -> WindowSpec:
    ob = to_col(order_by)
    ob = ob.desc() if desc else ob.asc()
    if by:
        return Window.partitionBy(*to_cols(by)).orderBy(ob)
    return Window.partitionBy().orderBy(ob)


def spread(df, min_ratio: int = 2):
    """Round-robin repartition a narrow input up to the session's default
    parallelism before CPU-heavy per-row work (shingling, vector math,
    signature UDFs).

    At 100 TB this is a no-op: big scans arrive with thousands of file
    splits, so the condition never fires and no shuffle is added. It
    fires only when the scan yields far fewer partitions than cores
    (small files / single-row-group parquet) — there, shuffling a few MB
    once unlocks an N-core speedup on everything downstream.
    """
    if df.isStreaming:  # partitioning is the source's concern on streams
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * min_ratio <= target:
        return df.repartition(target)
    return df


# ------------------------------------------------------------------ pinning
#
# This section owns the lifecycle of every materialized intermediate
# (minhash bases, two-pass rank frames, LSH bucket and IVF cell
# artifacts). The contract:
#
# * `pin` persists MEMORY_AND_DISK and registers the frame in `_PINNED`,
#   a small LRU window (the active query plus a few predecessors); older
#   pins are unpersisted. Unpersisting a finished query's pin is always
#   safe — Spark recomputes lineage if it is ever re-read.
# * A pin used only INSIDE an operator is released by that operator with
#   `unpin`, on the error path too (a `finally`, or `materialize`, which
#   unpins every frame it was given when one count fails). Never
#   `release_pins()` from library code: it would evict every OTHER live
#   pin in the session.
# * A pin or stamped artifact that ESCAPES into a returned frame is
#   released by the LRU window or by `release_pins()` at a harness
#   boundary.
# * Artifacts carry their build parameters: `stamp` writes them as a
#   literal column (survives a parquet round trip) and records them on
#   the frame object; `read_stamp` returns a reused artifact's single
#   stamp (raising on a mixed one) for the caller's parameter check.
#   `record` / `recorded` keep the in-session half only (minhash bases,
#   whose plans must not change).
# * `overlap` is the one driver-side pool for independent actions, and
#   `memo` the one weak per-frame cache of measured statistics.
_PINNED: list = []
# 8, not 4 (r15): the composed index-lifecycle queries (build → update
# → probe in one plan) legitimately hold 5 live pins at once — three
# minhash bases plus the two bucket artifacts; a window of 4 evicted a
# pin that was still feeding the final action, silently recomputing
# the Arrow banding pass it existed to avoid.
_MAX_PINNED = 8
_MEMO = weakref.WeakKeyDictionary()


def pin(df):
    """persist(MEMORY_AND_DISK) + register for LRU eviction/release."""
    from pyspark.storagelevel import StorageLevel

    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINNED.append(pinned)
    while len(_PINNED) > _MAX_PINNED:
        try:
            _PINNED.pop(0).unpersist(blocking=False)
        except Exception:  # session already stopped — nothing to release
            pass
    return pinned


def release_pins() -> None:
    """Unpersist every registered pin (e.g. at the end of a query batch)."""
    while _PINNED:
        try:
            _PINNED.pop().unpersist(blocking=False)
        except Exception:
            pass


def unpin(df) -> None:
    """Unpersist ONE pinned frame and drop it from the registry."""
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass
    try:
        _PINNED.remove(df)
    except ValueError:
        pass


def overlap(*thunks) -> list:
    """Run independent driver actions concurrently on one pool and
    return their results in argument order — the second job's tasks
    back-fill the executor slots the first job's tail leaves idle. A
    single thunk runs inline. The pool waits for every thunk before an
    error propagates, so callers clean up after all jobs settled."""
    if len(thunks) < 2:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=min(4, len(thunks))) as ex:
        futures = [ex.submit(t) for t in thunks]
        return [f.result() for f in futures]


def materialize(*frames) -> list:
    """Fill the caches of pinned ``frames`` with overlapped count()s and
    return the frames. If any count fails, every frame is unpinned
    before the error re-raises — the caller never receives them, so
    nothing else would release them."""
    try:
        overlap(*[f.count for f in frames])
    except BaseException:
        for f in frames:
            unpin(f)
        raise
    return list(frames)


def record(df, key: str, value):
    """Record in-session provenance ``value`` under ``key`` on this
    exact frame object. Any transformation, union or parquet round
    trip yields a new object without it."""
    setattr(df, f"_pds{key}_stamp", value)
    return df


def recorded(df, key: str):
    """The provenance `record` left on ``df`` under ``key``, or None."""
    return getattr(df, f"_pds{key}_stamp", None)


def stamp(df, col: str, value: str, persist: bool = True):
    """Stamp an artifact with its build parameters: add them as the
    literal column ``col``, pin the frame (unless ``persist=False``) and
    `record` the value, so `read_stamp` on this frame skips its scan."""
    out = df.withColumn(col, F.lit(value))
    return record(pin(out) if persist else out, col, value)


def read_stamp(df, col: str, label: str):
    """The single value of stamp column ``col`` (None when the column
    is absent or the frame empty). A frame carrying `stamp`'s record is
    single-stamped by construction and answers from it; any other frame
    gets a distinct-limit-2 scan, because a frame unioned from two
    artifact generations is exactly what the stamp exists to catch and
    a first()-sample passes whenever the sampled row matches."""
    if col not in df.columns:
        return None
    live = recorded(df, col)
    if live is not None:
        return live
    got = df.select(col).distinct().limit(2).collect()
    if len(got) > 1:
        raise ValueError(
            f"{label} frame carries MULTIPLE {col!r} stamps "
            f"({got[0][0]!r}, {got[1][0]!r}, …) — it mixes rows from "
            "different builds, and probing or updating it returns "
            "silently wrong results. Rebuild, or use one generation at "
            "a time.")
    return got[0][0] if got else None


def memo(df, key, compute):
    """``compute()`` once per (frame object, key): a weak per-frame
    cache for statistics measured by an action (row counts, dup
    rates). Entries vanish with the frame. Never invalidated — a
    long-lived frame over files that grow keeps its first value, so
    only memoize statistics whose staleness costs time, not
    correctness."""
    try:
        slot = _MEMO.setdefault(df, {})
    except TypeError:  # not weak-referenceable — nothing to cache on
        return compute()
    if key not in slot:
        slot[key] = compute()
    return slot[key]


def pairs(arr, make) -> Column:
    """Every i<j pair of array column ``arr`` as one array of
    ``make(x, y)``, in index order — the within-bucket pair expansion
    of the LSH/blocking operators, one JVM nested transform. Pass a
    MATERIALIZED column: wrapping it in a let-binding once pushed the
    downstream Generate onto an interpreted path (6.0 s → 0.4 s at
    sf0.1 once removed)."""
    a = to_col(arr)
    return F.flatten(F.transform(
        a,
        lambda x, i: F.transform(
            F.slice(a, i + 2, F.greatest(F.size(a) - i - 1, F.lit(0))),
            lambda y: make(x, y),
        )))


def release_checkpoint(df) -> None:
    """Drop a localCheckpoint's materialized storage NOW.

    ``DataFrame.unpersist()`` is a silent no-op on a checkpointed frame
    — it only consults the CacheManager, while localCheckpoint storage
    lives on the underlying RDD (measured r12: an iterative loop's
    superseded per-round checkpoints survived df.unpersist and
    accumulated until a JVM GC let the ContextCleaner reap them). The
    frame is UNUSABLE afterwards (lineage is truncated, storage gone)
    — call only on frames that are provably never referenced again."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # plan shape moved — leave it to the ContextCleaner
