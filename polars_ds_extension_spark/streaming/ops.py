"""Structured-Streaming operators (SURVEY §2.12).

Streams are just unbounded DataFrames here: every transformation is
built from the same Column expressions as the batch operators, so a
fitted pipeline / quality filter / dedup key applies to a readStream
frame unchanged. These helpers add the streaming-specific parts —
watermarks, windows, and state:

  * windowed aggregation: watermark + tumbling/sliding window → the
    standard late-data-tolerant rollup; state is bounded by the
    watermark horizon;
  * streaming dedup: dropDuplicatesWithinWatermark on the exact-dedup
    hash — state holds one 8-byte key per doc within the horizon, the
    streaming twin of operators/dedup.exact_dedup;
  * sessionization: F.session_window (gap-based);
  * running stats: applyInPandasWithState keeping O(1) sufficient
    statistics (count/mean/M2 via Welford merge) per key — the template
    for custom stateful operators.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stream_windowed_agg(
    df: DataFrame, ts_col: str, window: str,
    aggs: dict[str, Column],
    by: Sequence[str] | None = None,
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling (or sliding) window aggregation."""
    keys = [F.col(k) for k in (by or [])]
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    out = (
        df.withWatermark(ts_col, watermark)
        .groupBy(win.alias("window"), *keys)
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )
    return out


def stream_dedup(df: DataFrame, cols: Sequence[str], ts_col: str,
                 watermark: str = "10 minutes") -> DataFrame:
    """Exact dedup on a stream: first arrival of each cols-hash within
    the watermark horizon wins; state is one 8-byte key per distinct
    value and is purged as the watermark advances."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    return (
        df.withColumn("__h", h)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def stream_sessionize(
    df: DataFrame, ts_col: str, gap: str,
    by: Sequence[str],
    aggs: dict[str, Column] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based session windows per key."""
    aggs = aggs or {"n_events": F.count(F.lit(1))}
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"),
                 *[F.col(k) for k in by])
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )


def stream_running_stats(df: DataFrame, key: str, value: str,
                         ts_col: str, watermark: str = "10 minutes") -> DataFrame:
    """Custom stateful operator template: per-key running count/mean/std
    via applyInPandasWithState, merging each micro-batch's partial
    moments into O(1) state (Chan/Welford parallel merge).

    Output (per key per batch): key, n, mean, std.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key} string, n long, mean double, std double"
    state_schema = "n long, mean double, m2 double"

    def _update(k, pdf_iter, state: GroupState):
        if state.exists:
            n, mean, m2 = state.get
        else:
            n, mean, m2 = 0, 0.0, 0.0
        for pdf in pdf_iter:
            v = pdf[value].astype("float64")
            bn = int(v.size)
            if bn == 0:
                continue
            bmean = float(v.mean())
            bm2 = float(((v - bmean) ** 2).sum())
            delta = bmean - mean
            tot = n + bn
            m2 = m2 + bm2 + delta * delta * n * bn / tot
            mean = mean + delta * bn / tot
            n = tot
        state.update((n, mean, m2))
        std = (m2 / (n - 1)) ** 0.5 if n > 1 else float("nan")
        yield pd.DataFrame({key: [k[0]], "n": [n], "mean": [mean], "std": [std]})

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            _update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_interval_join(
    left: DataFrame, right: DataFrame,
    key: str, ts_left: str, ts_right: str,
    lower: str = "INTERVAL 1 HOUR", upper: str = "INTERVAL 0 SECONDS",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: left rows pair with right rows of the
    same ``key`` whose timestamp lies in
    ``[ts_left - lower, ts_left + upper]`` — the click-to-purchase /
    impression-to-conversion attribution join.

    Both sides carry watermarks and the join condition carries BOTH
    time bounds, which is what lets Spark prove each side's state is
    evictable (unbounded stream-stream joins otherwise buffer forever
    — the planner rejects them without the bounds). State per side ≈
    watermark-horizon rows for live keys, independent of stream length.

    Right columns come back prefixed ``r_`` to keep the joined schema
    collision-free.
    """
    l = left.withWatermark(ts_left, watermark)
    r0 = right.select(
        F.col(key).alias(f"r_{key}"), F.col(ts_right).alias(f"r_{ts_right}"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns
          if c not in (key, ts_right)])
    r = r0.withWatermark(f"r_{ts_right}", watermark)
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col(f"r_{ts_right}")
           >= F.expr(f"{ts_left} - {lower}"))
        & (F.col(f"r_{ts_right}")
           <= F.expr(f"{ts_left} + {upper}"))
    )
    return l.join(r, cond, "inner").drop(f"r_{key}")


def stream_latest_state(
    df: DataFrame, keys: Sequence[str], order_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame:
    """Streaming CDC upsert view (the streaming twin of operators/
    cdc.latest_by_key): the per-key LATEST payload, maintained
    incrementally as the stream runs — a materialized "current state"
    table.

    State is exactly one row per key (max_by keeps only the winner),
    so memory is bounded by key cardinality, not stream length — no
    watermark needed; run in 'complete' or 'update' output mode. The
    whole payload rides as ONE struct through a single max_by, so the
    winning row is atomic (mixing fields from different rows on ties is
    the same bug class the as-of join fixed); pass a unique tiebreaker
    last in ``order_cols`` to make the winner deterministic.
    """
    ordc = F.struct(*[F.col(c) for c in order_cols])
    pay = F.struct(*[F.col(c) for c in payload_cols])
    out = (df.groupBy(*[F.col(k) for k in keys])
           .agg(F.max_by(pay, ordc).alias("__p")))
    return out.select(
        *[F.col(k) for k in keys],
        *[F.col("__p").getField(c).alias(c) for c in payload_cols])


def stream_near_dup_flags(
    stream: DataFrame, ref: DataFrame,
    id_col: str, text_col: str,
    threshold: float = 0.6,
    shingle_k: int = 12, n_hashes: int = 96, bands: int = 32,
    broadcast_ref: bool = True,
) -> DataFrame:
    """Streaming near-dup decontamination against a STATIC reference
    corpus: emit each incoming document whose exact char-k-shingle
    Jaccard against ANY reference doc reaches ``threshold`` — the
    filter-new-crawl-against-existing-corpus pass, run incrementally
    instead of re-pairing the whole lake per batch.

    Same recall contract as operators/dedup.near_dup_pairs (shared
    shingle/banding parameters): MinHash banding only GENERATES
    candidates, membership is decided purely by exact Jaccard — so the
    emitted set is engine-independent and SQL-oracle-checkable.

    Plan (all streaming-legal): stream docs shingle + band scan-side
    (the same Arrow kernel as batch, `dedup.shingle_minhash`), two
    STREAM-STATIC hash joins — candidates on (band, band_hash) against
    the pre-banded reference (only ref ids travel), then shingle fetch by
    ref id for the exact verify — and a streaming dropDuplicates on
    the doc id so each contaminated doc emits once. State = the
    contaminated id set (8-byte keys), bounded by the stream's
    contaminated cardinality, not its length; the static side is
    re-planned per micro-batch like any stream-static join.
    Output stream: (id_col,) of contaminated docs, append mode.
    """
    from .._utils import pin, spread
    from ..operators.dedup import jaccard_distinct, shingle_minhash

    def _prep(df: DataFrame, idc: str, shc: str, bc: str) -> DataFrame:
        m = shingle_minhash(text_col, shingle_k, n_hashes, bands)
        return df.select(F.col(id_col).alias(idc), m.alias("__m")).select(
            idc, F.col("__m.sh").alias(shc), F.col("__m.bands").alias(bc))

    # PIN the prepped reference: stream-static joins re-execute the
    # static subtree EVERY micro-batch, and this plan reads it from two
    # join sites — unpinned, the reference would re-shingle and re-band
    # per batch per site (measured 15s -> ~4s at sf0.1). The pin is the
    # build-the-index-once contract of any streaming filter.
    r = pin(_prep(spread(ref), "__rid", "__rsh", "__rb"))
    ref_bands = r.select(
        "__rid", F.posexplode("__rb").alias("band", "bh"))
    ref_sh = r.select("__rid", "__rsh")
    if broadcast_ref:
        # BROADCAST both static sides (default): the stream rows carry
        # their shingle arrays band-exploded (~bands × |shingles| longs
        # per doc), and a shuffled join would exchange that fat side —
        # measured 3× the whole query. Broadcast keeps the stream side
        # map-side in every micro-batch; set broadcast_ref=False for a
        # reference corpus too big to broadcast (the band table is
        # 16 bytes × bands × |ref|, the shingle table ~8·|shingles| ×
        # |ref| — broadcastable well past 10M reference docs).
        ref_bands = F.broadcast(ref_bands)
        ref_sh = F.broadcast(ref_sh)

    # a file-source micro-batch arrives with as few partitions as its
    # file splits (often ONE) — repartition up front so the signature
    # UDF, the joins, and the verify all run wide instead of
    # single-threaded per batch (measured 3× the whole query)
    n_par = stream.sparkSession.sparkContext.defaultParallelism
    s = _prep(stream.repartition(n_par), "__sid", "__ssh", "__sb")
    # NB: band-collision duplicates of a (stream doc, ref doc) pair are
    # NOT deduped here — that would be a second stateful operator; the
    # exact-verify filter and the final id dedup make them harmless
    # (bounded by the band count per pair)
    cand = (s.select("__sid", "__ssh",
                     F.posexplode("__sb").alias("band", "bh"))
            .join(ref_bands, ["band", "bh"])
            .select("__sid", "__ssh", "__rid"))
    hits = (cand.join(ref_sh, "__rid")
            .where(jaccard_distinct(F.col("__ssh"), F.col("__rsh"))
                   >= F.lit(threshold)))
    return (hits.select(F.col("__sid").alias(id_col))
            .dropDuplicates([id_col]))
