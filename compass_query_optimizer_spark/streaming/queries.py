"""Structured Streaming queries in the correctness gate.

The reference has ingest-only streaming (SURVEY.md §2.9); the Spark engine
goes further with real stream queries: event-time tumbling-window rollups
with a watermark. ``stream_window_rollup`` runs the events table through
readStream → withWatermark → window() → writeStream (availableNow, complete
mode into a memory sink) and returns the settled result — the oracle is the
equivalent batch GROUP BY date_trunc, so the gate proves stream/batch
consistency (the Dataflow-model property Structured Streaming guarantees).

Every entry drains through ``_drain_to_memory`` or ``_drain_arrivals`` and
leaves the session as it found it: no conf of its own, no temp view, no
staging directory. Stateful operators therefore partition their state
stores by the caller's ``spark.sql.shuffle.partitions`` — 32 under the
engine's ``ENGINE_CONF``, which ``get_spark`` and ``configure`` apply.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from compass_query_optimizer_spark.catalog import (
    SCHEMAS,
    _ensure_read_conf,
    load_tables,
    table_path,
)
from compass_query_optimizer_spark.registry import query


def _drain(q, timeout: int = 300) -> None:
    """Block until an availableNow query settles; fail LOUDLY on timeout.

    ``awaitTermination(t)`` returns False when the clock, not the drain,
    ended the wait — proceeding then would read a partially-settled sink
    and return silently wrong rows. Every streaming entry routes its
    drain through here so a timeout is an exception, never bad data.
    """
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not settle within {timeout}s "
            f"(query {q.name or q.id})"
        )


def _drain_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Drain the stream ``df`` (availableNow) into a memory sink and return
    its settled rows.

    The memory sink registers a temp view under the query name; the view
    is dropped once the returned frame is built (the frame keeps the sink
    itself, so it still collects), so no entry leaves a view — and the
    sink it pins — in the session.
    """
    spark = df.sparkSession
    sink = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        _drain(q)
        return spark.table(sink)
    finally:
        spark.catalog.dropTempView(sink)


def _drain_arrivals(
    arrivals: list[DataFrame], build: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Deliver ``arrivals`` one batch at a time to a file stream and drain
    ``build(stream)`` after each into a parquet sink against ONE
    checkpoint, so streaming state carries from one arrival to the next.

    Returns the sink's rows, materialized before the scratch directory
    (arrivals, sink, checkpoint) is removed.
    """
    spark = arrivals[0].sparkSession
    root = tempfile.mkdtemp(prefix="arrivals_")
    src_dir = os.path.join(root, "arrivals")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src_dir)
    try:
        for i, batch in enumerate(arrivals):
            # the file stream source lists FLAT files under the path — a
            # Spark directory-write would be invisible to it, so write to a
            # scratch dir and move the single part file in as a plain file
            scratch = os.path.join(root, f"scratch{i}")
            batch.coalesce(1).write.parquet(scratch)
            part = next(
                f for f in os.listdir(scratch)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            shutil.move(
                os.path.join(scratch, part),
                os.path.join(src_dir, f"batch{i}.parquet"),
            )
            stream = spark.readStream.schema(batch.schema).parquet(src_dir)
            q = (
                build(stream)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _drain(q)
        return spark.read.parquet(out_dir).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _table_stream(
    spark: SparkSession, sf_dir: str, name: str, schema: T.StructType | None = None
) -> DataFrame:
    """readStream over one testdata table, under its catalog schema unless
    ``schema`` overrides it. The table is a single parquet FILE and the
    file stream source wants a directory or glob, so it is addressed as a
    glob under ``sf_dir``."""
    _ensure_read_conf(spark)
    return spark.readStream.schema(schema or SCHEMAS[name]).parquet(
        table_path(sf_dir, f"*{name}")
    )


_ORACLE = """
SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS ws,
       event_type,
       COUNT(*) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY ws, event_type
"""

def _events_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet with the `ts` column normalised to a
    plain TIMESTAMP regardless of the file's physical timestamp unit.

    The testdata generator has shipped `ts` both as TIMESTAMP(NANOS)
    (which Spark can only read as long via nanosAsLong) and as
    TIMESTAMP(MICROS) (a native timestamp). A file stream source needs an
    explicit schema, so probe the parquet footer (pyarrow) and declare the
    matching type — the same defensive posture as the batch loader
    (catalog.load_table), which converts only when the scanned type is
    LongType.
    """
    import pyarrow.parquet as pq

    unit = None
    ts_field = pq.read_schema(table_path(sf_dir, "events")).field("ts")
    if ts_field.type.id == 18:  # pyarrow TIMESTAMP type id
        unit = ts_field.type.unit  # 's' | 'ms' | 'us' | 'ns'
    nanos_as_long = unit == "ns" or unit is None
    ts_type = T.LongType() if nanos_as_long else T.TimestampType()
    schema = T.StructType(
        [
            T.StructField("ts", ts_type) if f.name == "ts" else f
            for f in SCHEMAS["events"].fields
        ]
    )
    src = _table_stream(spark, sf_dir, "events", schema)
    if nanos_as_long:
        # plain TIMESTAMP (not NTZ): EventTimeWatermark requires it, and
        # the session is pinned to UTC so the instant is unchanged.
        # integer `div`: float division of nanos drifts by ±1 µs
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return src


@query(
    "stream_window_rollup",
    _ORACLE,
    doc="Structured Streaming event-time rollup: readStream over events, "
    "1h watermark, tumbling 1h window, availableNow drain to a memory "
    "sink; oracle is the equivalent batch GROUP BY (stream/batch "
    "consistency)",
    tags=("streaming",),
)
def stream_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_source(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("ws"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )
    return _drain_to_memory(agg, "complete").orderBy("ws", "event_type")


_STATEFUL_ORACLE = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@query(
    "stream_stateful_user_totals",
    _STATEFUL_ORACLE,
    doc="custom stateful streaming operator: per-user running totals via "
    "applyInPandasWithState (arbitrary state, Arrow batches); drained "
    "with availableNow so the emitted state equals the batch GROUP BY",
    tags=("streaming", "stateful", "pandas-udf"),
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _events_stream_source(spark, sf_dir)

    def update_totals(key, pdfs, state: GroupState):
        cnt, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((cnt, tot))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "sum_value": [round(tot, 2)],
            }
        )

    out = src.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="cnt long, tot double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # single-batch drain: the last update per user IS the total; dedup by
    # keeping the max n_events per user to stay correct under multi-batch
    # replays too
    latest = _drain_to_memory(out, "update").groupBy("user_id").agg(
        F.max(F.struct("n_events", "sum_value")).alias("s")
    )
    return latest.select(
        "user_id", F.col("s.n_events").alias("n_events"), F.col("s.sum_value").alias("sum_value")
    ).orderBy("user_id")


_ENRICH_ORACLE = """
SELECT n.n_name AS nation,
       COUNT(*) AS n_events,
       ROUND(SUM(e.value), 2) AS sum_value
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY 1
ORDER BY 1
"""


@query(
    "stream_enrich_join",
    _ENRICH_ORACLE,
    doc="stream-static enrichment join: the event stream joined to the "
    "static nation dimension (user_id % 25 = n_nationkey) with the dim "
    "broadcast — the standard lookup-enrichment shape for streaming "
    "ingest — then a windowless grouped rollup drained with availableNow. "
    "The static side is re-read per micro-batch by Structured Streaming, "
    "so dim updates between batches are picked up; batch-consistent with "
    "the equivalent batch join GROUP BY",
    tags=("streaming", "join"),
)
def stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_source(spark, sf_dir)
    nation = load_tables(spark, sf_dir, register=False)["nation"]
    enriched = src.join(
        F.broadcast(nation),
        src["user_id"] % 25 == nation["n_nationkey"],
    )
    agg = enriched.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return _drain_to_memory(agg, "complete").orderBy("nation")


_STREAM_DEDUP_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_unique_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "stream_dedup_events",
    _STREAM_DEDUP_ORACLE,
    doc="streaming dedup-on-ingest: dropDuplicates on (event_type, user_id) "
    "over the event stream (append mode, availableNow drain), then a batch "
    "rollup of survivors — equals the batch COUNT(DISTINCT). Global "
    "dropDuplicates keeps its key state forever; the production variant "
    "for unbounded streams is dropDuplicatesWithinWatermark (state evicted "
    "past the delay — exercised in tests/test_streaming_units.py), the "
    "right trade when duplicates only arrive near-in-time, e.g. retries",
    tags=("streaming", "dedup"),
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_source(spark, sf_dir)
    deduped = src.select("event_type", "user_id").dropDuplicates(
        ["event_type", "user_id"]
    )
    return (
        _drain_to_memory(deduped, "append")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
        .orderBy("event_type")
    )


_STREAM_JOIN_ORACLE = """
SELECT p.user_id, COUNT(*) AS n_pairs
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
GROUP BY 1
ORDER BY 1
"""


@query(
    "stream_stream_join",
    _STREAM_JOIN_ORACLE,
    doc="stream-stream interval join: the purchase stream joined to the "
    "click stream on user_id with clicks in the 10 minutes before each "
    "purchase. Both sides carry watermarks and the join condition bounds "
    "event-time distance, so Spark evicts buffered state past the "
    "watermark — the requirement for unbounded stream-stream joins. "
    "Batch-consistent with the equivalent interval join (the streaming "
    "twin of temporal_range_join's semantics)",
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        _events_stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _events_stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    pairs = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND "
            "c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts < p_ts"
        ),
    )
    return (
        _drain_to_memory(pairs, "append")
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
)
SELECT user_id,
       CAST(SUM(brk) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM o GROUP BY 1 ORDER BY 1
"""


@query(
    "stream_session_window",
    _SESSION_ORACLE,
    doc="streaming session windows: session_window(ts, 30 min) per user — "
    "Spark merges events closer than the gap into one session and the "
    "state store tracks open sessions per key. Drained in complete mode "
    "under availableNow (update mode is unsupported for session-window "
    "aggregations), so the sink holds every final session; the oracle "
    "rebuilds sessions with the lag/cumulative-break window idiom. "
    "Session count and event count per user must match batch exactly",
    tags=("streaming", "session"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_source(spark, sf_dir)
    sessions = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        _drain_to_memory(sessions, "complete")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_approx_distinct",
    # HLL register layouts differ per engine (q11's rationale), and exact
    # COUNT(DISTINCT) is unsupported inside a streaming aggregation — so
    # the stream carries the HLL sketch and the gate checks the streamed
    # approx against a BATCH exact count per window under the 3·rsd bound
    """
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS ws,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_rsd
    FROM events GROUP BY 1 ORDER BY ws
    """,
    doc="streaming windowed APPROX_COUNT_DISTINCT: per-hour distinct users "
    "via the HLL++ sketch (the ONLY distinct aggregate Structured "
    "Streaming supports — exact distinct needs unbounded per-window "
    "state, the sketch is constant-size and mergeable across triggers), "
    "1h watermark, availableNow drain; acceptance = |approx − exact| ≤ "
    "3·rsd·exact + 3 per window against the batch exact count (q11's "
    "exact-plus-bound gate per-window; the +3 absolute slack covers HLL "
    "register quantization at the ~10-user window cardinalities, where "
    "the multiplicative bound alone is < 1)",
    tags=("streaming", "approx"),
)
def stream_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    rsd = 0.02
    src = _events_stream_source(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd).alias("approx_users"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("ws"), "approx_users")
    )
    settled = _drain_to_memory(agg, "complete")
    exact = (
        load_tables(spark, sf_dir, register=False)["events"]
        .groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("ws")
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        settled.join(exact, "ws")
        .select(
            "ws",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 3 * rsd * F.col("exact_users") + 3
            ).alias("within_rsd"),
        )
        .orderBy("ws")
    )


@query(
    "stream_sliding_count",
    # each event falls into exactly TWO 2h-wide hourly-sliding windows:
    # the one starting at its truncated hour and the one an hour earlier —
    # the batch twin materializes both memberships with a UNION ALL
    """
    SELECT ws, COUNT(*) AS cnt FROM (
      SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS ws FROM events
      UNION ALL
      SELECT CAST(DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR AS TIMESTAMP) FROM events
    ) GROUP BY ws ORDER BY ws
    """,
    doc="streaming SLIDING-window rollup (2h width, 1h slide): overlapping "
    "windows are the state shape tumbling rollups don't exercise — each "
    "event updates two window states, the watermark still bounds total "
    "state to width/slide live windows per key. Oracle is the batch "
    "UNION-ALL expansion of the two memberships (stream/batch "
    "consistency)",
    tags=("streaming",),
)
def stream_sliding_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _events_stream_source(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("ws"), "cnt")
    )
    return _drain_to_memory(agg, "complete").orderBy("ws")


# ---------------------------------------------------------------------------
# Watermark late-data semantics, PROVEN: the one genuinely streaming-only
# behavior no batch query exhibits is the watermark DROPPING late rows.
# This entry stages the events table as two arrival batches against one
# checkpoint — drain 1 sees the first two days minus every third event;
# drain 2 delivers those held-back early rows LATE (plus all later rows).
# Spark's append-mode windowed aggregation must (a) finalize each window
# exactly once, (b) drop the late rows whose window closed before they
# arrived, and (c) fold in late rows whose window was still open. The
# DuckDB oracle reproduces the exact drop rule from the two watermark
# scalars, so the gate pins the semantics, not just row counts.
# ---------------------------------------------------------------------------

LATE_HOLDBACK_MOD = 3  # every third early event arrives in batch 2 (late)
LATE_SPLIT_DAYS = 2  # batch 1 = first N days of the stream


@query(
    "stream_late_data_drop",
    f"""
    WITH b AS (
      SELECT *,
             ts < (SELECT MIN(CAST(ts AS DATE)) FROM events)
                   + INTERVAL {LATE_SPLIT_DAYS} DAYS AS early
      FROM events
    ),
    wm AS (
      SELECT (SELECT MAX(ts) FROM b
              WHERE early AND event_id % {LATE_HOLDBACK_MOD} != 0)
               - INTERVAL 1 HOUR AS wm1,
             (SELECT MAX(ts) FROM b) - INTERVAL 1 HOUR AS wm2
    ),
    kept AS (
      -- batch-1 rows always count; held-back rows survive only if their
      -- hour window was still open when they (late) arrived
      SELECT date_trunc('hour', ts) AS ws, event_type
      FROM b, wm
      WHERE (early AND event_id % {LATE_HOLDBACK_MOD} != 0)
         OR (NOT early)
         OR (date_trunc('hour', ts) + INTERVAL 1 HOUR > wm.wm1)
    )
    SELECT CAST(ws AS TIMESTAMP) AS ws, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM kept, wm
    -- append mode emits only windows the final watermark has closed
    WHERE ws + INTERVAL 1 HOUR <= wm.wm2
    GROUP BY ws, event_type
    ORDER BY ws, event_type
    """,
    doc="watermark late-data proof: the events table arrives as two "
    "batches against ONE checkpoint (two availableNow drains) — every "
    f"third event of the first {LATE_SPLIT_DAYS} days is held back and "
    "delivered late in batch 2. Append-mode hourly counts must drop "
    "late rows whose window the watermark already closed, keep late "
    "rows for still-open windows, fold batch-2's later days in "
    "normally, and emit every window exactly once. The oracle derives "
    "the same drop rule from the two watermark scalars (max event time "
    "per drain − 1h), so both engines agree on WHICH rows died, not "
    "just how many survived",
    tags=("streaming", "watermark", "late-data"),
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit TimestampType (LTZ): the session pins
    # spark.sql.timestampType=TIMESTAMP_NTZ, under which the string cast
    # 'timestamp' parses to NTZ — and EventTimeWatermark rejects NTZ.
    # The session timezone is UTC, so the instant is unchanged.
    ev = load_tables(spark, sf_dir, register=False)["events"].select(
        "event_id", F.col("ts").cast(T.TimestampType()).alias("ts"), "event_type"
    )
    split = ev.agg(
        F.date_add(F.min(F.col("ts").cast("date")), LATE_SPLIT_DAYS).alias("d")
    ).collect()[0]["d"]
    early = F.col("ts") < F.lit(split).cast("timestamp")
    held = early & (F.col("event_id") % LATE_HOLDBACK_MOD == 0)

    def hourly_counts(src: DataFrame) -> DataFrame:
        return (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("ws_raw"), "event_type", "cnt")
        )

    # batch 1: on-time prefix (first days minus the held-back third);
    # batch 2: the held-back early rows arrive LATE + all later days
    out = _drain_arrivals(
        [ev.filter(early & ~held), ev.filter(held | ~early)], hourly_counts
    )
    return out.select(
        F.col("ws_raw").cast("timestamp_ntz").alias("ws"), "event_type", "cnt"
    ).orderBy("ws", "event_type")


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join: the inner interval join above plus
# null-extension for purchases that never saw a qualifying click. Outer
# results cannot emit eagerly — Spark holds an unmatched left row in state
# until the GLOBAL watermark (the MINIMUM across both input streams of
# max-event-time − delay) passes its eviction point, then emits it
# null-extended exactly once. Purchases younger than the final global
# watermark are WITHHELD at stream end (they might still match a future
# click); the oracle reproduces that exact rule from the two max-ts
# scalars, so the gate pins WHICH rows are withheld, not just counts.
# Two availableNow drains against one checkpoint prove the join state
# survives restart, like stream_late_data_drop.
# ---------------------------------------------------------------------------
_SS_LEFT_ORACLE = """
WITH p AS (SELECT user_id AS u, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id AS u, ts FROM events WHERE event_type = 'click'),
wm AS (
  SELECT LEAST(
      (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
      (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
    ) - INTERVAL 1 HOUR AS g
),
lj AS (
  SELECT p.u, p.ts, c.ts AS cts FROM p LEFT JOIN c
    ON p.u = c.u AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
),
emitted AS (
  SELECT u, cts FROM lj, wm WHERE cts IS NOT NULL OR ts < wm.g
)
SELECT u AS user_id,
       CAST(COUNT(cts) AS BIGINT) AS n_matched,
       CAST(COUNT(*) FILTER (cts IS NULL) AS BIGINT) AS n_unmatched
FROM emitted GROUP BY u ORDER BY u
"""


@query(
    "stream_stream_left_join",
    _SS_LEFT_ORACLE,
    doc="stream-stream LEFT OUTER interval join: matched purchase-click "
    "pairs emit immediately; unmatched purchases emit null-extended "
    "only after the GLOBAL watermark (min across both streams of "
    "max-event-time − 1h) evicts their state, and purchases younger "
    "than the final watermark stay withheld — the oracle derives the "
    "same emission rule from the two max-ts scalars, pinning the "
    "semantics. Runs as two availableNow drains against one checkpoint, "
    "so buffered join state provably survives restart",
    tags=("streaming", "join", "outer", "watermark"),
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, register=False)["events"].select(
        "event_id",
        "user_id",
        F.col("ts").cast(T.TimestampType()).alias("ts"),
        "event_type",
    )
    split = ev.agg(
        F.date_add(F.min(F.col("ts").cast("date")), 2).alias("d")
    ).collect()[0]["d"]
    early = F.col("ts") < F.lit(split).cast("timestamp")

    def left_join(src: DataFrame) -> DataFrame:
        p = (
            src.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "1 hour")
        )
        c = (
            src.filter(F.col("event_type") == "click")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
            .withWatermark("c_ts", "1 hour")
        )
        return p.join(
            c,
            F.expr(
                "p_user = c_user AND "
                "c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts < p_ts"
            ),
            "leftOuter",
        )

    out = _drain_arrivals([ev.filter(early), ev.filter(~early)], left_join)
    return (
        out.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("c_user").alias("n_matched"),
            F.sum(F.when(F.col("c_user").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming NEAR-dup dedup on ingest: the MinHash band index maintained as
# STREAMING STATE. Everything per-document is stateless scan-side work
# (shingles → K minhashes → banded keys, all higher-order array functions
# on one row — no explode+groupBy, so it runs inside an append stream);
# the only stateful operator is min(doc_id) per (band, band_key), whose
# standing state IS the persistable near-dup index dedup_incremental_minhash
# maintains batch-side. After the availableNow drain, arriving documents
# are flagged against the settled index: a document is a near-dup if any
# of its band buckets was first claimed by a lower doc_id. The oracle is
# the batch MinHash pipeline (shared Carter-Wegman constants), proving
# stream/batch consistency for the near-dup semantics, not just for
# rollups.
# ---------------------------------------------------------------------------


def _row_minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) computed WITHOUT explode+groupBy — pure
    per-row array expressions, legal inside an append-mode stream.

    Batch twin: operators/dedup.py minhash_bands (which prefers the
    explode+groupBy form for map-side combining on corpus-wide scans).
    Shared _MH_PARAMS constants keep all three implementations (batch,
    row-wise, DuckDB oracle) bit-identical."""
    from compass_query_optimizer_spark.functions.hashing import (
        spark_cw_hash,
        spark_portable_hash,
    )
    from compass_query_optimizer_spark.operators.dedup import (
        _MH_PARAMS,
        MINHASH_R,
        SHINGLE_W,
    )

    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    shingles = F.when(
        F.size(toks) >= SHINGLE_W,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (SHINGLE_W - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE_W)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.transform(
        F.array_distinct(shingles), lambda s: spark_portable_hash(s)
    )
    minhs = [
        F.array_min(F.transform(grams, lambda g: spark_cw_hash(g, a, b)))
        for (a, b) in _MH_PARAMS
    ]
    n_bands = len(_MH_PARAMS) // MINHASH_R
    bands = F.array(
        *[
            F.struct(
                F.lit(band).cast("int").alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        minhs[band * MINHASH_R + r].cast("string")
                        for r in range(MINHASH_R)
                    ],
                ).alias("band_key"),
            )
            for band in range(n_bands)
        ]
    )
    return (
        docs.filter(F.size(F.array_distinct(shingles)) >= 1)
        .select("doc_id", F.explode(bands).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    )


def _stream_minhash_oracle() -> str:
    from compass_query_optimizer_spark.operators.dedup import (
        _MH_PARAMS,
        _duck_minhash_bands,
    )

    params = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_PARAMS)
    )
    return f"""
    WITH params(i, a, b) AS (VALUES {params}),
    {_duck_minhash_bands("documents", "")},
    idx AS (
      SELECT band, band_key, MIN(doc_id) AS min_doc
      FROM bands GROUP BY band, band_key
    )
    SELECT b.doc_id, CAST(MIN(i.min_doc) AS BIGINT) AS first_seen,
           (MIN(i.min_doc) < b.doc_id) AS is_dup
    FROM bands b JOIN idx i USING (band, band_key)
    GROUP BY b.doc_id ORDER BY b.doc_id
    """


@query(
    "stream_minhash_dedup",
    None,  # generated below (needs the bands CTE builder)
    doc="streaming NEAR-dup dedup: per-row MinHash banding (stateless "
    "array expressions — no explode+groupBy, so it runs inside the "
    "append stream), then ONE stateful streaming aggregate min(doc_id) "
    "per (band, band_key) whose standing state is the persistable "
    "near-dup index; after the availableNow drain, documents flag as "
    "near-dups when any of their buckets was first claimed by a lower "
    "id. The oracle is the batch MinHash pipeline with the shared "
    "Carter-Wegman constants — stream/batch consistency proven for "
    "near-dup semantics. State scales as the distinct band-key count "
    "(hash-partitioned across executors), never corpus-quadratic",
    tags=("streaming", "dedup", "minhash"),
)
def stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from compass_query_optimizer_spark.operators.dedup import minhash_bands

    src = _table_stream(spark, sf_dir, "documents")
    idx = _row_minhash_bands(src).groupBy("band", "band_key").agg(
        F.min("doc_id").alias("min_doc")
    )
    settled = _drain_to_memory(idx, "complete")
    bands = minhash_bands(load_tables(spark, sf_dir, register=False)["documents"])
    return (
        bands.join(settled, ["band", "band_key"])
        .groupBy("doc_id")
        .agg(F.min("min_doc").alias("first_seen"))
        .select(
            "doc_id",
            F.col("first_seen").cast("long"),
            (F.col("first_seen") < F.col("doc_id")).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


from compass_query_optimizer_spark import registry as _registry  # noqa: E402

_registry._REGISTRY["stream_minhash_dedup"].oracle = _stream_minhash_oracle
