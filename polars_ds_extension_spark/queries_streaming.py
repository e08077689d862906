"""Structured-Streaming catalog queries (SURVEY §2.12).

Each query drives a REAL stream to completion inside the call —
parquet `readStream` → streaming operator → availableNow trigger →
memory sink — and returns the materialized result as a batch DataFrame,
so the driver's oracle harness hashes actual Structured-Streaming
output against ANSI SQL. On a static source a complete-mode watermarked
tumbling window equals the batch GROUP BY time-bucket, which is exactly
the invariant the oracle pins down.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from . import streaming as STR
from .queries import _r, query
from .sources import load_table, parquet_schema


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a streaming DataFrame with the same ts
    normalization as sources.load_table (nanos → timestamp)."""
    # nanos timestamps read as long under this conf, as in load_table
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = parquet_schema(spark, os.path.join(sf_dir, "events.parquet"))
    # the file-stream source wants a directory: stream the sf dir with a
    # glob pinning it to the events file
    s = (spark.readStream.schema(raw)
         .option("pathGlobFilter", "events.parquet")
         .parquet(sf_dir))
    if isinstance(s.schema["ts"].dataType, LongType):
        # exact integer division — see sources.load_table
        s = s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(s.schema["ts"].dataType, TimestampNTZType):
        # µs-precision testdata surfaces as TIMESTAMP_NTZ, which
        # withWatermark rejects. The generated wall clock is UTC;
        # to_utc_timestamp(ntz, 'UTC') pins that interpretation into a
        # proper TIMESTAMP independent of the session timezone, so the
        # epoch values in outputs match the oracle's naive epoch().
        s = s.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
    return s


def _run_to_table(spark: SparkSession, out: DataFrame, mode: str) -> DataFrame:
    # State-store parallelism binds to spark.sql.shuffle.partitions at
    # query START. These catalog streams keep ~10³ keys of state, where
    # 32 state partitions are pure per-micro-batch overhead (measured
    # 7.8s → 2.5s at sf0.1 with 8). Scoped to the stream run and
    # restored after; cluster deployments size it via
    # SPARK_GRAFT_STREAM_SHUFFLE (state shards scale with key count,
    # not input rows).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n_state = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8")
    name = f"pds_stream_{uuid.uuid4().hex[:12]}"
    spark.conf.set("spark.sql.shuffle.partitions", n_state)
    try:
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode(mode).trigger(availableNow=True).start())
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


@query("stream_windowed_agg", """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM events
GROUP BY 1, 2
""")
def stream_windowed_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup per event_type executed as a genuine
    Structured-Streaming job (streaming/ops.stream_windowed_agg:
    watermark + F.window state, bounded by the watermark horizon at
    scale). Complete mode emits every window, so the result equals the
    batch/SQL time-bucket aggregation on the same static input."""
    s = _events_stream(spark, sf_dir)
    out = STR.stream_windowed_agg(
        s, "ts", "1 hour",
        {"n": F.count(F.lit(1)), "sum_value": F.sum("value")},
        by=["event_type"], watermark="1 minute",
    )
    got = _run_to_table(spark, out, "complete")
    return got.select(
        F.col("window.start").cast("long").alias("ws"),
        "event_type",
        "n",
        _r(F.col("sum_value")).alias("sum_value"),
    )


@query("stream_dedup", """
SELECT CAST(COUNT(*) AS BIGINT) AS n_unique
FROM (SELECT DISTINCT user_id, event_type FROM events)
""")
def stream_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup on (user_id, event_type): first arrival in
    the watermark horizon wins (dropDuplicatesWithinWatermark keeps one
    8-byte key per distinct value in state). WHICH row survives depends
    on arrival order, so the oracle checks the engine-independent part:
    the surviving count equals SQL DISTINCT. The horizon covers the
    whole static input, mirroring an unbounded-horizon batch dedup."""
    s = _events_stream(spark, sf_dir)
    out = STR.stream_dedup(s, ["user_id", "event_type"], "ts",
                           watermark="100 days")
    got = _run_to_table(spark, out, "append")
    return got.agg(F.count(F.lit(1)).cast("long").alias("n_unique"))


@query("stream_sessionize", """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
), s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
  FROM o
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
""")
def stream_sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute gap) per user as a real
    stream (streaming/ops.stream_sessionize → F.session_window state).
    Session membership is engine-independent: Spark's merged session
    intervals group events exactly like the SQL gaps-and-islands
    LAG/cumsum construction, so (user, session_start, count) hashes
    equal. Complete mode emits the final merged sessions."""
    s = _events_stream(spark, sf_dir)
    out = STR.stream_sessionize(
        s, "ts", "30 minutes", by=["user_id"],
        aggs={"n_events": F.count(F.lit(1))}, watermark="1 minute",
    )
    got = _run_to_table(spark, out, "complete")
    return got.select(
        "user_id",
        F.unix_micros(F.col("session.start")).alias("session_start_us"),
        "n_events",
    )


@query("stream_running_stats", """
SELECT user_id,
       COUNT(value) AS n,
       ROUND(AVG(value), 4) AS mean,
       ROUND(STDDEV_SAMP(value), 4) AS std
FROM events GROUP BY user_id
""")
def stream_running_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState with
    O(1) Welford/Chan state per key) driven over the whole events
    stream; the final per-key state equals the batch moments, which the
    SQL oracle pins (STDDEV_SAMP == sqrt(M2/(n-1)); moments rounded to
    4dp — the Welford merge and naive AVG differ by ~1e-12, enough to
    cross a 6dp rounding boundary once in a few thousand keys). If availableNow
    splits into several micro-batches the sink holds one snapshot per
    batch — the max-n row per key is the final state."""
    s = _events_stream(spark, sf_dir).withColumn(
        "user_id", F.col("user_id").cast("string"))
    out = STR.stream_running_stats(s, "user_id", "value", "ts",
                                   watermark="100 days")
    got = _run_to_table(spark, out, "update")
    fin = got.groupBy("user_id").agg(
        F.max(F.struct("n", "mean", "std")).alias("s"))
    return fin.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("s.n").alias("n"),
        _r(F.col("s.mean"), 4).alias("mean"),
        _r(F.col("s.std"), 4).alias("std"),
    )


from .operators import text as _T

_SW_SQL = "'" + "','".join(_T._STOPWORDS) + "'"


@query("stream_curation_gate", rf"""
WITH t AS (
  SELECT doc_id, lang, text, len(text) AS n,
         string_split_regex(trim(text), '\s+') AS sp
  FROM documents
), m AS (
  SELECT doc_id, lang, n,
    len(list_filter(sp, x -> lower(x) IN ({_SW_SQL})))::DOUBLE / len(sp) AS swr,
    list_aggregate(list_transform(sp, x -> len(x)), 'sum')::DOUBLE / len(sp) AS mtl,
    (n - len(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE / n AS pr
  FROM t
), q AS (
  SELECT doc_id, lang, ROUND((
    (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 WHEN n >= 30 THEN 0.5 ELSE 0.0 END)
    + (CASE WHEN swr >= 0.1 AND swr <= 0.7 THEN 1.0 ELSE 0.0 END)
    + (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.0 END)
    + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)
  ) / 4.0, 6) AS quality FROM m
)
SELECT doc_id, lang, quality FROM q WHERE quality >= 0.75
""")
def stream_curation_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation quality gate running on a STREAM: documents arrive
    via readStream, the Gopher-style quality_score (operators/text.py —
    pure JVM Column exprs, stateless, watermark-free) filters them
    scan-side, and survivors land in the sink. Append mode, availableNow
    over the static corpus — so streaming output must equal the batch
    SQL, which is exactly what the oracle pins. At scale this IS the
    streaming-ingest shape: stateless exprs keep per-micro-batch cost
    linear with zero state store."""
    gated = _docs_stream(spark, sf_dir).select(
        "doc_id", "lang",
        _r(_T.quality_score("text")).alias("quality"),
    ).where(F.col("quality") >= 0.75)
    return _run_to_table(spark, gated, "append")


@query("stream_interval_join", """
WITH c AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT c.user_id, c.value AS cv, p.value AS pv
  FROM c JOIN p ON c.user_id = p.user_id
   AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
)
SELECT user_id, COUNT(*) AS n_pairs, ROUND(SUM(cv + pv), 4) AS sum_vals
FROM j GROUP BY user_id
""")
def stream_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming/ops.stream_interval_join):
    clicks and purchases arrive as two REAL streams; each click pairs
    with the same user's purchases from the preceding hour. Both sides
    are watermarked and the condition carries both time bounds, so
    Spark can prove per-side state eviction — the planner rejects an
    unbounded stream-stream join outright. The joined rows land in the
    sink; the per-user rollup on the materialized result is batch. The
    oracle is the equivalent batch interval join."""
    s = _events_stream(spark, sf_dir)
    clicks = s.where(F.col("event_type") == "click") \
        .select("user_id", "ts", "value")
    purch = s.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    joined = STR.stream_interval_join(
        clicks, purch, key="user_id", ts_left="ts", ts_right="ts",
        lower="INTERVAL 1 HOUR", upper="INTERVAL 0 SECONDS",
        watermark="4 hours")
    sunk = _run_to_table(spark, joined, "append")
    return sunk.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        _r(F.sum(F.col("value") + F.col("r_value")), 4).alias("sum_vals"))


@query("stream_upsert", """
WITH b AS (
  SELECT user_id, event_type, event_id, value, epoch_us(ts) AS t
  FROM events
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY t DESC, event_id DESC) AS rn
  FROM b
)
SELECT user_id, event_type, event_id AS last_event_id,
       ROUND(value, 6) AS value
FROM r WHERE rn = 1
""")
def stream_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert (streaming/ops.stream_latest_state): the
    events stream maintains a one-row-per-(user, event_type) current-
    state table via a single atomic max_by — state bounded by key
    cardinality, no watermark, complete output mode. Driven as a REAL
    stream (readStream → availableNow → memory sink); the oracle is the
    batch ROW_NUMBER picture, which the final micro-batch must equal
    exactly (streaming-batch equivalence of the compaction)."""
    from .streaming import ops as SO

    ev = _events_stream(spark, sf_dir)
    st = ev.select("user_id", "event_type", "event_id", "value", "ts")
    out = SO.stream_latest_state(
        st, ["user_id", "event_type"], ["ts", "event_id"],
        ["event_id", "value"])
    res = _run_to_table(spark, out, "complete")
    return res.select(
        "user_id", "event_type",
        F.col("event_id").alias("last_event_id"),
        F.round("value", 6).alias("value"))



@query("stream_topk", """
WITH w AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS ws,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY ws
                               ORDER BY n DESC, event_type) AS rank
  FROM w
)
SELECT ws, event_type, n, rank FROM r WHERE rank <= 3
""")
def stream_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed heavy hitters on a stream: the watermarked daily
    count per event_type runs as a REAL Structured-Streaming job (the
    only stateful part — state bounded by the watermark horizon), and
    the top-3-per-window rank runs batch-side on the sink table — the
    standard split, because a second aggregation over a streaming agg
    is not expressible inside one streaming query. Oracle: the batch
    count+ROW_NUMBER picture."""
    from .streaming import ops as SO

    ev = _events_stream(spark, sf_dir)
    agg = SO.stream_windowed_agg(
        ev, "ts", "1 day", {"n": F.count(F.lit(1))}, by=["event_type"],
        watermark="1 hour")
    # complete mode: append would omit windows not yet past the
    # watermark when the availableNow stream drains (the final day)
    sink = _run_to_table(spark, agg, "complete")
    from pyspark.sql.window import Window

    w = Window.partitionBy("ws").orderBy(F.col("n").desc(),
                                         F.col("event_type").asc())
    base = sink.select(
        F.col("window.start").cast("long").alias("ws"), "event_type", "n")
    return (base.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3))


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a streaming DataFrame."""
    schema = parquet_schema(spark, os.path.join(sf_dir, "documents.parquet"))
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))


@query("stream_decontaminate", r"""
WITH s AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN text || ' zz dup marker'
         ELSE array_to_string(list_transform(range(1, 21),
                i -> 'u' || doc_id || 'x' || i), ' ') END AS text
  FROM documents
), shl_s AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(text) - 11, 1) + 1), i -> substr(text, i, 12))) AS sh
  FROM s
), shl_r AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(text) - 11, 1) + 1), i -> substr(text, i, 12))) AS sh
  FROM documents
), g_s AS (SELECT doc_id, unnest(sh) AS g FROM shl_s),
g_r AS (SELECT doc_id, unnest(sh) AS g FROM shl_r),
shared AS (
  SELECT a.doc_id AS sid, b.doc_id AS rid, COUNT(*) AS c
  FROM g_s a JOIN g_r b ON a.g = b.g
  GROUP BY 1, 2
), hits AS (
  SELECT DISTINCT sid
  FROM shared
  JOIN (SELECT doc_id, len(sh) AS n FROM shl_s) ls ON ls.doc_id = sid
  JOIN (SELECT doc_id, len(sh) AS n FROM shl_r) lr ON lr.doc_id = rid
  WHERE c::DOUBLE / (ls.n + lr.n - c) >= 0.6
)
SELECT COUNT(*)::BIGINT AS n_contaminated,
       SUM((sid % 2 = 0)::INT)::BIGINT AS n_even,
       SUM((sid % 2 = 1)::INT)::BIGINT AS n_odd
FROM hits
""")
def stream_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup decontamination (streaming/ops.
    stream_near_dup_flags) driven as a REAL stream: the incoming docs
    are the reference corpus MUTATED per parity — even ids become
    near-dups of their source (marker suffix), odd ids become unique
    synthetic text — and the stream is filtered against the static
    reference's minhash band index (two stream-static joins + exact
    Jaccard verify + one streaming dedup). The oracle computes the
    contaminated set as ALL-PAIRS exact shingle Jaccard >= 0.6 in SQL —
    identical construction to `near_dup_minhash`'s recall-1 oracle, so
    banding recall and the streaming execution are both hash-checked."""
    from .streaming import ops as SO

    ref = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s = _docs_stream(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.col("text"), F.lit(" zz dup marker")))
        .otherwise(F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.lit(20)),
            lambda i: F.concat(F.lit("u"), F.col("doc_id").cast("string"),
                               F.lit("x"), i.cast("string")))))
        .alias("text"))
    flags = SO.stream_near_dup_flags(s, ref, "doc_id", "text",
                                     threshold=0.6)
    sink = _run_to_table(spark, flags, "append")
    return sink.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contaminated"),
        F.sum((F.col("doc_id") % 2 == 0).cast("int")).cast("bigint")
        .alias("n_even"),
        F.sum((F.col("doc_id") % 2 == 1).cast("int")).cast("bigint")
        .alias("n_odd"))
