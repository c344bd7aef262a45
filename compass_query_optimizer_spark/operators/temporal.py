"""Temporal relational operators: as-of join and bounded range join.

Event-stream analytics the reference's SQL surface cannot express directly
(closest analog: the reference evaluates plain inequality joins as loop
joins — mapd-core/QueryEngine/RelAlgExecutor.cpp loop-join fallback — which
is O(n*m) and driver-bound at scale). Here both are re-expressed as
shuffle-bounded Spark plans:

- **as-of join**: "attach the most recent right-side row at-or-before each
  left row's timestamp, per key". Implemented with the union + keyed-window
  carry-forward trick: tag both sides, union, and run
  `last(value, ignorenulls) OVER (PARTITION BY key ORDER BY ts, side)`.
  ONE shuffle on the join key, no range explosion, no per-key quadratic
  blowup — the canonical distributed as-of shape (same plan Flink/Kafka
  temporal joins lower to). The DuckDB oracle uses its native ASOF JOIN,
  i.e. an independent implementation of the same semantics.

- **range join**: "for each left row, aggregate right rows with ts in a
  bounded window [left.ts - W, left.ts)". A naive equi-join on the key
  alone is quadratic per hot key; instead both sides are bucketed by
  `floor(epoch / W)` and the left side probes buckets {b-1, b} (a window of
  length W spans at most two buckets), so the equi-join key is
  (key, bucket) and candidates per task are bounded by bucket population,
  not key population. Exact bounds are re-checked on the joined pairs.

Both registered queries run over the `events` table and are oracle-checked
against DuckDB (ASOF JOIN / explicit interval join respectively).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from compass_query_optimizer_spark.catalog import load_tables
from compass_query_optimizer_spark.registry import query


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Left as-of join (pandas.merge_asof semantics): for every left row,
    carry the `value_cols` of the nearest right row with equal `on` keys —
    the most recent `right_ts <= left_ts` (direction="backward", default)
    or the earliest `right_ts >= left_ts` (direction="forward"); None when
    no such row exists. With `tolerance_seconds`, a match further than the
    tolerance from `left_ts` is nulled out.

    The right side must be unique per (on, right_ts) — pre-aggregate with
    `max_by` if it is not; otherwise which duplicate wins is undefined in
    every as-of implementation (DuckDB's included).

    Plan shape: one shuffle on `on`; window is keyed (never a global
    SinglePartition sort), so the operator scales with key cardinality.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    on = list(on)
    value_cols = list(value_cols)
    left_cols = [c for c in left.columns if c not in on and c != left_ts]
    rts_type = right.schema[right_ts].dataType

    # side=0 sorts before side=1 at equal ts → the match is inclusive of
    # equal timestamps in both directions. "__rts" carries the matched
    # right timestamp for the tolerance gate.
    r = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(right_ts).alias("__r___rts"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in left_cols],
    )
    l = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(rts_type).alias("__r___rts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
        *[F.col(c).alias(f"__l_{c}") for c in left_cols],
    )
    ts_order = F.col("__ts") if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_order, F.col("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = r.unionByName(l).select(
        *on,
        "__ts",
        "__side",
        *[F.col(f"__l_{c}") for c in left_cols],
        *[
            F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"__asof_{c}")
            for c in ["__rts", *value_cols]
        ],
    )
    if tolerance_seconds is None:
        valid = F.lit(True)
    else:
        tol = F.expr(f"INTERVAL {tolerance_seconds} SECONDS")
        if direction == "backward":
            valid = F.col("__asof___rts") >= F.col("__ts") - tol
        else:
            valid = F.col("__asof___rts") <= F.col("__ts") + tol
    return carried.filter(F.col("__side") == 1).select(
        *on,
        F.col("__ts").alias(left_ts),
        *[F.col(f"__l_{c}").alias(c) for c in left_cols],
        *[
            F.when(valid, F.col(f"__asof_{c}")).alias(f"asof_{c}")
            for c in value_cols
        ],
    )


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
    count_alias: str = "n_in_range",
    row_key: str | None = None,
) -> DataFrame:
    """For each left row, count right rows with equal `on` keys and
    `right_ts` in [left_ts - window_seconds, left_ts). Bucketed so the join
    key is (on, time-bucket): a window of length W spans at most the left
    row's bucket and the one before it, so each left row probes exactly two
    buckets and candidate volume is bounded by bucket population.

    `row_key` names a unique left column used to re-group the two probe
    copies of each row (falls back to monotonically_increasing_id).
    """
    on = list(on)
    if row_key is None:
        left = left.withColumn("__row", F.monotonically_increasing_id())
        row_key = "__row"
    # integer-second truncation: right_ts >= left_ts - W implies
    # floor(r_sec) >= floor(l_sec) - W, so two probe buckets suffice.
    # (NTZ → LTZ → long: session TZ is pinned UTC, so the epoch is
    # deterministic; NTZ has no direct long cast in Spark 4)
    lb = F.floor(F.col(left_ts).cast("timestamp_ltz").cast("long") / window_seconds)
    rb = F.floor(F.col(right_ts).cast("timestamp_ltz").cast("long") / window_seconds)
    l = left.withColumn("__bucket", F.explode(F.array(lb - 1, lb)))
    r = right.select(
        *[F.col(c).alias(f"__r_{c}") for c in on],
        F.col(right_ts).alias("__r_ts"),
        rb.alias("__r_bucket"),
    )
    cond = [l[c] == r[f"__r_{c}"] for c in on] + [
        l["__bucket"] == r["__r_bucket"],
        r["__r_ts"] >= l[left_ts] - F.expr(f"INTERVAL {window_seconds} SECONDS"),
        r["__r_ts"] < l[left_ts],
    ]
    # each right match lands under exactly ONE of a row's two probe
    # buckets, so grouping the copies back by row_key counts each match
    # once (count ignores the unmatched copy's null __r_ts)
    return (
        l.join(r, cond, "left")
        .groupBy(row_key, *[l[c] for c in on], l[left_ts])
        .agg(F.count("__r_ts").alias(count_alias))
        .drop("__row")
    )


@query(
    "temporal_asof_join",
    """
    WITH clicks AS (
      SELECT user_id, ts, max_by(value, event_id) AS value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           round(p.value, 4) AS purchase_value,
           round(c.value, 4) AS asof_value,
           c.ts AS asof_ts
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
    doc="as-of join: each purchase picks the user's most recent click "
    "at-or-before it; union + keyed-window carry, one shuffle on user_id. "
    "Oracle is DuckDB's native ASOF JOIN (independent implementation).",
    tags=("temporal",),
)
def temporal_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(
        purchases,
        clicks.select("user_id", "ts", "click_value", F.col("ts").alias("click_ts")),
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["click_value", "click_ts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 4).alias("purchase_value"),
        F.round("asof_click_value", 4).alias("asof_value"),
        F.col("asof_click_ts").alias("asof_ts"),
    ).orderBy("event_id")


@query(
    "temporal_asof_forward",
    """
    WITH clicks AS (
      SELECT user_id, ts, max_by(value, event_id) AS value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purchases AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           round(c.value, 4) AS next_value,
           c.ts AS next_ts
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    ORDER BY p.event_id
    """,
    doc="forward as-of join: each purchase picks the user's EARLIEST click "
    "at-or-after it (direction='forward'); same keyed-window plan with the "
    "sort order flipped. Oracle is DuckDB's native ASOF with the "
    "inequality reversed — an independent implementation",
    tags=("temporal",),
)
def temporal_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases,
        clicks.select("user_id", "ts", "click_value", F.col("ts").alias("click_ts")),
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["click_value", "click_ts"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.round("asof_click_value", 4).alias("next_value"),
        F.col("asof_click_ts").alias("next_ts"),
    ).orderBy("event_id")


@query(
    "temporal_range_join",
    """
    SELECT p.event_id, p.user_id,
           count(c.event_id) AS n_recent_clicks
    FROM events p LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY 1, 2
    ORDER BY 1
    """,
    doc="bounded range join: clicks by the same user in the 10 minutes "
    "before each purchase; bucketed (key, floor(ts/W)) equi-join — "
    "candidates bounded per bucket, never per key",
    tags=("temporal",),
)
def temporal_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    counted = range_join_count(
        purchases.select("event_id", "user_id", "ts"),
        clicks.select("user_id", "ts"),
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        window_seconds=600,
        count_alias="n_recent_clicks",
        row_key="event_id",
    )
    return counted.select("event_id", "user_id", "n_recent_clicks").orderBy("event_id")


@query(
    "events_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY 1
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_full_funnel
    """,
    doc="ordered event funnel (view → click after first view → purchase "
    "after first qualifying click), greedy first-occurrence semantics. "
    "Three user_id-keyed aggregate/join rounds — each stage's state is "
    "one timestamp per user, so the shuffles carry user cardinality, "
    "never event cardinality",
    tags=("temporal",),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_view_click"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_full_funnel"))))
    )


@query(
    "events_variant_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="semi-structured via Spark 4's native VARIANT type: parse_json "
    "once into a binary variant, then typed variant_get extraction — the "
    "shredded-access path that beats per-path string re-parsing when many "
    "fields are read from the same JSON at 100 TB (get_json_object "
    "re-parses the string per path; variant parses once). Same answers "
    "as the string-path oracle",
    tags=("temporal", "json", "variant"),
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    v = F.parse_json(F.col("props"))
    return (
        events.select("event_type", v.alias("pv"))
        .groupBy("event_type")
        .agg(
            F.sum(F.variant_get(F.col("pv"), "$.k", "long")).alias("sum_k"),
            F.min(F.variant_get(F.col("pv"), "$.k", "int")).alias("min_k"),
        )
        .orderBy("event_type")
    )


@query(
    "events_retention",
    """
    WITH active AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      FROM events
    )
    SELECT a.wk,
           COUNT(*) AS n_active,
           COUNT(CASE WHEN p.user_id IS NOT NULL THEN 1 END) AS n_retained
    FROM active a LEFT JOIN active p
      ON p.user_id = a.user_id AND p.wk = a.wk - INTERVAL 7 DAY
    GROUP BY a.wk
    ORDER BY a.wk
    """,
    doc="week-over-week retention: users active in week w who were also "
    "active in w-1. The event stream reduces to DISTINCT (user, week) "
    "before the self-join — at 100 TB the join input is user-week "
    "cardinality, not event cardinality, and (user, week) uniqueness "
    "makes the left join at-most-one-match",
    tags=("temporal", "analytics"),
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    active = events.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("timestamp_ntz").alias("wk"),
    ).distinct()
    prev = active.select(
        F.col("user_id").alias("p_user"), F.col("wk").alias("p_wk")
    )
    j = active.join(
        prev,
        (active["user_id"] == prev["p_user"])
        & (prev["p_wk"] == active["wk"] - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    return (
        j.groupBy("wk")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count("p_user").alias("n_retained"),
        )
        .orderBy("wk")
    )


@query(
    "events_json_extract",
    """
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="semi-structured projection: JSON property extraction stays in "
    "codegen (get_json_object), one aggregate shuffle on event_type",
    tags=("temporal", "json"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "events_anomaly",
    """
    WITH stats AS (
      SELECT user_id, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma,
             COUNT(*) AS n
      FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           ANY_VALUE(ROUND(s.mu, 4)) AS mu,
           COUNT(CASE WHEN ABS(e.value - s.mu) > 2.5 * s.sigma THEN 1 END)
             AS n_anomalies
    FROM events e JOIN stats s USING (user_id)
    WHERE s.n >= 3
    GROUP BY e.user_id
    ORDER BY e.user_id
    """,
    doc="per-key anomaly flagging: events beyond 2.5 sigma of the user's "
    "own value distribution. Two passes — a combiner-friendly "
    "mean/stddev aggregate (tiny result, broadcast back) then one scan "
    "with the threshold test in codegen; the standard shape for outlier "
    "screening over 100 TB of telemetry",
    tags=("temporal", "analytics"),
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    stats = events.groupBy("user_id").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        events.join(F.broadcast(stats.filter(F.col("n") >= 3)), "user_id")
        .groupBy("user_id")
        .agg(
            F.any_value(F.round("mu", 4)).alias("mu"),
            F.count(
                F.when(F.abs(F.col("value") - F.col("mu")) > 2.5 * F.col("sigma"), 1)
            ).alias("n_anomalies"),
        )
        .orderBy("user_id")
    )


@query(
    "events_windowed_topk",
    """
    SELECT hr, event_type, n, rn FROM (
      SELECT hr, event_type, n,
             ROW_NUMBER() OVER (
               PARTITION BY hr ORDER BY n DESC, event_type
             ) AS rn
      FROM (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
      )
    ) WHERE rn <= 2
    ORDER BY hr, rn
    """,
    doc="top-k per time window (hourly top-2 event types): pre-aggregate "
    "to (window, type) counts BEFORE ranking, so the window function "
    "ranks at most |event types| rows per hour — the ranking input is "
    "window-cardinality, never event-cardinality, and the rank window is "
    "keyed by hour (no global sort)",
    tags=("temporal", "analytics"),
)
def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_tables(spark, sf_dir)["events"]
    counts = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hr"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("hr").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .orderBy("hr", "rn")
    )


@query(
    "events_sessionize",
    """
    WITH gapped AS (
      SELECT user_id, ts, event_id,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                       ts) AS gap_sec
      FROM events
    ),
    marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN gap_sec IS NULL OR gap_sec > 1800 THEN 1 ELSE 0 END
               AS is_new
      FROM gapped
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM marked
    ),
    per_session AS (
      SELECT user_id, session_idx,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             date_diff('second', MIN(ts), MAX(ts)) AS dur_sec
      FROM sess GROUP BY user_id, session_idx
    )
    SELECT n_events,
           COUNT(*) AS n_sessions,
           ROUND(AVG(dur_sec), 2) AS avg_duration_sec
    FROM per_session
    GROUP BY n_events
    ORDER BY n_events
    """,
    doc="batch sessionization (30-minute inactivity gap): per-user ordered "
    "gap detection via lag, session ids via a running sum of session-start "
    "flags, then per-session stats rolled into a session-length histogram. "
    "The batch twin of stream_session_window. Every window is keyed by "
    "user_id — the plan has no global (SinglePartition) window, so at "
    "100 TB the sort/scan parallelism is user-hash parallelism; the "
    "histogram output is bounded by the longest session length",
    tags=("temporal", "sessionize"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # epoch-second floor on both engines: cast→long truncates, DuckDB's
    # date_diff('second') counts second boundaries — identical for the
    # positive epochs in the fixture
    sec = F.col("ts").cast("timestamp_ltz").cast("long")
    gapped = events.select(
        "user_id", "ts", "event_id", sec.alias("sec")
    ).withColumn("gap_sec", F.col("sec") - F.lag("sec").over(w))
    marked = gapped.withColumn(
        "is_new",
        F.when(F.col("gap_sec").isNull() | (F.col("gap_sec") > 1800), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("sec") - F.min("sec")).alias("dur_sec"),
    )
    return (
        per_session.groupBy("n_events")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(F.avg("dur_sec"), 2).alias("avg_duration_sec"),
        )
        .orderBy("n_events")
    )


@query(
    "events_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 /
                 SUM(COUNT(*)) OVER (PARTITION BY event_type), 4)
             AS p_transition
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY from_type, next_type
    ORDER BY from_type, to_type
    """,
    doc="first-order Markov transition matrix over per-user event "
    "sequences: lead() pairs each event with its successor, counts roll "
    "into (from, to) cells with row-normalized probabilities. The "
    "sequence window is user-keyed (no SinglePartition), the matrix is "
    "event-type² cells regardless of corpus size, and the normalizing "
    "window runs over those few cells, not over events",
    tags=("temporal", "analytics"),
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    norm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(norm), 4).alias("p_transition"),
    ).orderBy("from_type", "to_type")


@query(
    "events_cohort_matrix",
    """
    WITH first_seen AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_wk
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      FROM events
    )
    SELECT f.cohort_wk,
           CAST(date_diff('day', f.cohort_wk, a.wk) / 7 AS INTEGER)
             AS weeks_since,
           COUNT(*) AS n_active
    FROM active a JOIN first_seen f USING (user_id)
    GROUP BY f.cohort_wk, weeks_since
    ORDER BY f.cohort_wk, weeks_since
    """,
    doc="cohort retention matrix: users grouped by first-seen week, "
    "activity counted per (cohort, weeks-since-signup) cell — the "
    "generalization of week-over-week retention every growth dashboard "
    "draws. Events reduce to DISTINCT (user, week) and one MIN per user "
    "before the join, so the join input is user-week cardinality; the "
    "matrix itself is weeks² cells",
    tags=("temporal", "analytics"),
)
def events_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("timestamp_ntz").alias("cohort_wk")
    )
    active = events.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("timestamp_ntz").alias("wk"),
    ).distinct()
    weeks_since = (
        F.datediff(F.col("wk").cast("date"), F.col("cohort_wk").cast("date"))
        / 7
    ).cast("int")
    return (
        active.join(first_seen, "user_id")
        .groupBy("cohort_wk", weeks_since.alias("weeks_since"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_wk", "weeks_since")
    )


@query(
    "events_ohlc",
    """
    WITH keyed AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             value,
             (CAST(date_diff('second', TIMESTAMP '1970-01-01', ts) AS BIGINT)
               - 1577836800) * 1000000000 + event_id AS ord
      FROM events
    )
    SELECT event_type, hr,
           ROUND(arg_min(value, ord), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(arg_max(value, ord), 4) AS close,
           COUNT(*) AS n_events
    FROM keyed
    GROUP BY event_type, hr
    ORDER BY event_type, hr
    """,
    doc="OHLC time-series downsampling: per (series, hour) bucket the "
    "first/last/min/max of value — the standard lossy compaction for "
    "dashboards and feature windows. first/last are argmin/argmax over a "
    "deterministic integer order key (epoch-seconds scaled + event_id "
    "tiebreak — identical in both engines), so results are stable under "
    "any partitioning. One combiner-friendly keyed aggregate; no window, "
    "no sort of raw events",
    tags=("temporal", "analytics", "downsample"),
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    # rebased epoch (2020-01-01) keeps seconds * 1e9 + event_id inside
    # int64 for the next ~2 centuries; event_id < 1e9 is the tiebreak range
    ord_key = (
        (F.col("ts").cast("timestamp_ltz").cast("long") - F.lit(1_577_836_800))
        * F.lit(1_000_000_000)
        + F.col("event_id")
    )
    keyed = events.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hr"),
        "value",
        ord_key.alias("ord"),
    )
    return (
        keyed.groupBy("event_type", "hr")
        .agg(
            F.round(F.min_by("value", "ord"), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", "ord"), 4).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type", "hr")
    )


@query(
    "events_gap_fill",
    """
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             AVG(value) AS v
      FROM events GROUP BY event_type, hr
    ),
    span AS (
      SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1 FROM hourly
      GROUP BY event_type
    ),
    grid AS (
      SELECT event_type,
             UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
      FROM span
    ),
    joined AS (
      SELECT g.event_type, g.hr, h.v
      FROM grid g LEFT JOIN hourly h USING (event_type, hr)
    )
    SELECT event_type, hr,
           ROUND(LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS avg_value,
           (v IS NULL) AS filled
    FROM joined
    ORDER BY event_type, hr
    """,
    doc="time-series gap filling: per-series hourly grid over the observed "
    "span, missing buckets forward-filled from the last observation — the "
    "standard densification step before resampling/feature windows "
    "(Postgres/Timescale time_bucket_gapfill + locf shape). The grid "
    "explode is bounded by each series' own span, the carry window is "
    "series-keyed (no SinglePartition), and raw events reduce to "
    "(series, hour) aggregates before any join",
    tags=("temporal", "analytics", "gapfill"),
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir)["events"]
    hourly = events.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hr"),
    ).agg(F.avg("value").alias("v"))
    return gap_fill(hourly, series_col="event_type", ts_col="hr", value_col="v")


def gap_fill(
    buckets: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    step: str = "INTERVAL 1 HOUR",
) -> DataFrame:
    """Densify a (series, bucket_ts, value) frame onto each series' own
    time grid, forward-filling missing buckets from the last observation.

    Returns (series, ts, avg_value ROUND 4, filled). The grid never starts
    before a series' first observation, so the carry always has a value;
    the carry window is series-keyed."""
    span = buckets.groupBy(series_col).agg(
        F.min(ts_col).alias("h0"), F.max(ts_col).alias("h1")
    )
    grid = span.select(
        series_col,
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr(step))
        ).alias(ts_col),
    )
    joined = grid.join(buckets, [series_col, ts_col], "left")
    carry = Window.partitionBy(series_col).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        series_col,
        ts_col,
        F.round(
            F.last(value_col, ignorenulls=True).over(carry), 4
        ).alias("avg_value"),
        F.col(value_col).isNull().alias("filled"),
    ).orderBy(series_col, ts_col)


@query(
    "events_burst_detection",
    """
    WITH hourly AS (
      SELECT event_type, CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, AVG(CAST(n AS DOUBLE)) AS mu,
             STDDEV_SAMP(CAST(n AS DOUBLE)) AS sd
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(CASE WHEN CAST(h.n AS DOUBLE) > s.mu + 2.5 * s.sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS burst_hours,
           CAST(MAX(h.n) AS BIGINT) AS peak
    FROM hourly h JOIN stats s USING (event_type)
    GROUP BY h.event_type ORDER BY h.event_type
    """,
    doc="per-type burst detection over the time axis (events_anomaly's "
    "sigma test turned sideways): hourly counts per event type, each "
    "type's own mean/stddev broadcast back, hours above 2.5σ flagged — "
    "the traffic-spike tripwire. Events reduce to (type, hour) cells "
    "before any stat; output bounded by event-type count",
    tags=("events", "anomaly"),
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.avg(F.col("n").cast("double")).alias("mu"),
        F.stddev_samp(F.col("n").cast("double")).alias("sd"),
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(
                F.when(
                    F.col("n").cast("double") > F.col("mu") + 2.5 * F.col("sd"), 1
                ).otherwise(0)
            ).alias("burst_hours"),
            F.max("n").alias("peak"),
        )
        .orderBy("event_type")
    )


PARETO_KS = (10, 100, 1000)


@query(
    "events_pareto_concentration",
    f"""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t, COUNT(*) AS n_users FROM per_user),
    ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk
      FROM per_user
    )
    SELECT k.k AS top_k,
           CAST(SUM(CASE WHEN r.rk <= k.k THEN r.n ELSE 0 END) AS BIGINT)
               AS top_events,
           ROUND(SUM(CASE WHEN r.rk <= k.k THEN r.n ELSE 0 END) * 1.0
                 / ANY_VALUE(t.t), 4) AS share
    FROM ranked r CROSS JOIN (SELECT unnest([{', '.join(map(str, PARETO_KS))}]) AS k) k
    CROSS JOIN tot t
    GROUP BY k.k ORDER BY k.k
    """,
    doc="Pareto concentration of activity: share of all events produced by "
    f"the top-{{{', '.join(map(str, PARETO_KS))}}} most active users — the "
    "number that decides whether a user-keyed shuffle needs salting (a "
    "top-10 share near 1.0 means hot keys). One user-keyed combiner "
    "aggregate, then TakeOrdered(max k) — no global rank window, so user "
    "cardinality never funnels through one task (the oracle's ROW_NUMBER "
    "is equivalent because ranks beyond max(k) contribute zero)",
    tags=("events", "skew"),
)
def events_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = per_user.agg(F.sum("n").cast("long").alias("t"))
    # the global rank window runs over the TakeOrdered-bounded top-max(k)
    # rows only (≤1000), never over user cardinality
    top = (
        per_user.orderBy(F.col("n").desc(), "user_id")
        .limit(max(PARETO_KS))
        .select(
            "n",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "user_id"))
            .alias("rk"),
        )
    )
    ks = F.explode(F.array(*[F.lit(k) for k in PARETO_KS])).alias("top_k")
    return (
        top.select(ks, "n", "rk")
        .filter(F.col("rk") <= F.col("top_k"))
        .groupBy("top_k")
        .agg(F.sum("n").cast("long").alias("top_events"))
        .crossJoin(F.broadcast(tot))
        .select(
            "top_k",
            "top_events",
            F.round(F.col("top_events") * 1.0 / F.col("t"), 4).alias("share"),
        )
        .orderBy("top_k")
    )


@query(
    "events_active_users",
    """
    WITH dau AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1
    ),
    wau AS (
      SELECT CAST(DATE_TRUNC('week', ts) AS DATE) AS w,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM events GROUP BY 1
    ),
    mau AS (
      SELECT CAST(DATE_TRUNC('month', ts) AS DATE) AS m,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY 1
    )
    SELECT 'dau' AS grain, CAST(COUNT(*) AS BIGINT) AS n_periods,
           CAST(MIN(dau) AS BIGINT) AS min_active,
           CAST(MAX(dau) AS BIGINT) AS max_active,
           CAST(SUM(dau) AS BIGINT) AS sum_active
    FROM dau
    UNION ALL
    SELECT 'mau', CAST(COUNT(*) AS BIGINT), CAST(MIN(mau) AS BIGINT),
           CAST(MAX(mau) AS BIGINT), CAST(SUM(mau) AS BIGINT) FROM mau
    UNION ALL
    SELECT 'wau', CAST(COUNT(*) AS BIGINT), CAST(MIN(wau) AS BIGINT),
           CAST(MAX(wau) AS BIGINT), CAST(SUM(wau) AS BIGINT) FROM wau
    ORDER BY grain
    """,
    doc="DAU/WAU/MAU active-user rollups (the product-analytics staple; "
    "sum_active/n_periods is the average, and avg-DAU over avg-MAU is the "
    "stickiness ratio): events DISTINCT-reduce to (period, user) before "
    "any count, so each grain's shuffle carries user-period cardinality, "
    "never event cardinality — the events_retention discipline across "
    "three calendar grains in one pass",
    tags=("events", "analytics"),
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]

    def grain(unit: str, name: str) -> DataFrame:
        per = ev.groupBy(
            F.date_trunc(unit, F.col("ts")).cast("date").alias("p")
        ).agg(F.count_distinct("user_id").alias("active"))
        return per.agg(
            F.lit(name).alias("grain"),
            F.count(F.lit(1)).alias("n_periods"),
            F.min("active").alias("min_active"),
            F.max("active").alias("max_active"),
            F.sum("active").cast("long").alias("sum_active"),
        )

    return (
        grain("day", "dau")
        .unionByName(grain("week", "wau"))
        .unionByName(grain("month", "mau"))
        .orderBy("grain")
    )


# ---------------------------------------------------------------------------
# Conversion attribution: credit each purchase to the touch (click/view)
# that preceded it — last-touch (the touch immediately before) and
# first-touch (the user's earliest touch before it). The canonical
# marketing-analytics operator; at scale the danger is a per-conversion
# lookup join, so both models compute in ONE pass with carry-forward
# windows over (user, ts) — the as-of-join trick applied within a table.
# ---------------------------------------------------------------------------

ATTRIB_TOUCHES = ("click", "view")


@query(
    "events_attribution",
    f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type, value,
             LAST_VALUE(CASE WHEN event_type IN {ATTRIB_TOUCHES} THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch,
             FIRST_VALUE(CASE WHEN event_type IN {ATTRIB_TOUCHES} THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch
      FROM events
    ),
    conv AS (SELECT * FROM seq WHERE event_type = 'purchase')
    SELECT model, touch_type,
           CAST(COUNT(*) AS BIGINT) AS conversions,
           ROUND(SUM(value), 2) AS revenue
    FROM (
      SELECT 'last' AS model, COALESCE(last_touch, 'none') AS touch_type, value
      FROM conv
      UNION ALL
      SELECT 'first', COALESCE(first_touch, 'none'), value FROM conv
    )
    GROUP BY model, touch_type
    ORDER BY model, touch_type
    """,
    doc="first/last-touch conversion attribution: one (user)-keyed window "
    "pass carries each user's most recent and earliest preceding touch "
    "(click/view) forward to every purchase — no per-conversion lookup "
    "join, no self-join; purchases with no preceding touch credit "
    "'none'. The single shuffle is the window's (user_id) partition; "
    "output is models × touch types. Both engines use IGNORE NULLS "
    "carry-forward windows with identical (ts, event_id) ordering",
    tags=("events", "analytics", "attribution"),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin(*ATTRIB_TOUCHES), F.col("event_type")
    )
    seq = ev.select(
        "user_id",
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
    )
    conv = seq.filter(F.col("event_type") == "purchase")
    last = conv.select(
        F.lit("last").alias("model"),
        F.coalesce("last_touch", F.lit("none")).alias("touch_type"),
        "value",
    )
    first = conv.select(
        F.lit("first").alias("model"),
        F.coalesce("first_touch", F.lit("none")).alias("touch_type"),
        "value",
    )
    return (
        last.unionByName(first)
        .groupBy("model", "touch_type")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
        .orderBy("model", "touch_type")
    )


# ---------------------------------------------------------------------------
# Forecast baseline with an in-query backtest: hold out the stream's last
# day, forecast each (event_type, hour-of-day) count with the seasonal-
# naive mean over the training days, and report the MAE against the held-
# out actuals next to a global-mean strawman. The capacity-planning
# sanity loop every event platform runs — and the honest yardstick any
# fancier model must beat. Hours are compared where both sides observe
# traffic (inner join on present hours; gap-filling is events_gap_fill's
# job and composes in front).
# ---------------------------------------------------------------------------


@query(
    "events_forecast_baseline",
    """
    WITH hourly AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    last_day AS (SELECT MAX(d) AS ld FROM hourly),
    train AS (SELECT h.* FROM hourly h, last_day WHERE h.d < ld),
    test AS (SELECT h.* FROM hourly h, last_day WHERE h.d = ld),
    seasonal AS (
      SELECT event_type, hod, AVG(n) AS fc FROM train GROUP BY 1, 2
    ),
    globalm AS (SELECT event_type, AVG(n) AS gfc FROM train GROUP BY 1)
    SELECT t.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test_hours,
           ROUND(AVG(ABS(t.n - s.fc)), 4) AS mae_seasonal,
           ROUND(AVG(ABS(t.n - g.gfc)), 4) AS mae_global
    FROM test t
    JOIN seasonal s USING (event_type, hod)
    JOIN globalm g USING (event_type)
    GROUP BY t.event_type
    ORDER BY t.event_type
    """,
    doc="seasonal-naive forecast backtest: hold out the last day, predict "
    "each (event_type, hour-of-day) count with the training-day mean for "
    "that hour, and report MAE against actuals next to a global-mean "
    "strawman — the capacity-planning yardstick a fancier model must "
    "beat. Events reduce to (type, day, hour) cells before ANYTHING "
    "joins, so every shuffle carries hour-cell cardinality, never "
    "events; the two model tables are types×24 and types rows, "
    "broadcast",
    tags=("events", "analytics", "forecast"),
)
def events_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    last_day = hourly.agg(F.max("d").alias("ld"))
    train = hourly.crossJoin(F.broadcast(last_day)).filter(F.col("d") < F.col("ld"))
    test = hourly.crossJoin(F.broadcast(last_day)).filter(F.col("d") == F.col("ld"))
    seasonal = train.groupBy("event_type", "hod").agg(F.avg("n").alias("fc"))
    globalm = train.groupBy("event_type").agg(F.avg("n").alias("gfc"))
    return (
        test.join(F.broadcast(seasonal), ["event_type", "hod"])
        .join(F.broadcast(globalm), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test_hours"),
            F.round(F.avg(F.abs(F.col("n") - F.col("fc"))), 4).alias("mae_seasonal"),
            F.round(F.avg(F.abs(F.col("n") - F.col("gfc"))), 4).alias("mae_global"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# RFM segmentation: the classic recency/frequency/monetary quartile grid
# over purchase events — the customer-value partitioning a growth team runs
# weekly. Everything reduces to ONE per-user combiner aggregate before the
# three NTILE windows (150 users here; at 100 TB the per-user rollup is the
# only event-cardinality shuffle, and the quartile windows run over user
# cardinality — if even that is too hot, swap NTILE for approx_percentile
# cut points as text_quality_percentile does). Monetary quantizes to exact
# int64 cents BEFORE ranking so the quartile boundaries are bit-identical
# across engines — ordering by a float SUM would let one ULP of
# accumulation-order drift flip a user across a boundary.
# ---------------------------------------------------------------------------
@query(
    "events_rfm_segments",
    """
    WITH per_user AS (
      SELECT user_id,
             MAX(ts) AS last_ts,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    scored AS (
      SELECT CAST(NTILE(4) OVER (ORDER BY last_ts, user_id) AS INTEGER) AS r_score,
             CAST(NTILE(4) OVER (ORDER BY freq, user_id) AS INTEGER) AS f_score,
             CAST(NTILE(4) OVER (ORDER BY cents, user_id) AS INTEGER) AS m_score,
             cents
      FROM per_user
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(SUM(cents) / 100.0, 2) AS seg_value
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    doc="RFM segmentation: per-user recency/frequency/monetary rollup → "
    "NTILE(4) quartile scores on each axis → segment grid with user "
    "counts and value. Ties break on user_id so the quartile assignment "
    "is total-order deterministic; monetary ranks on exact integer "
    "cents, not a float sum",
    tags=("temporal", "segmentation"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    per_user = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    scored = per_user.select(
        F.ntile(4)
        .over(Window.orderBy("last_ts", "user_id"))
        .cast("int")
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy("freq", "user_id"))
        .cast("int")
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy("cents", "user_id"))
        .cast("int")
        .alias("m_score"),
        "cents",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum("cents") / 100.0, 2).alias("seg_value"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# BFS graph distances over a behavior graph — the third graph primitive
# next to min-label and alternating-star connected components: hop
# distance from a seed user over the co-purchase graph (users purchasing
# in the same hour are linked). Classic iterative frontier expansion: one
# keyed join + one min-aggregate + one anti-join per round, rows per
# round bounded by unvisited nodes (never path counts — a recursive
# UNION ALL would enumerate 36^8 paths on this graph). Hop-limited to
# BFS_MAX_HOPS on BOTH engines: at 100 TB you bound rounds anyway, and
# the cap makes the oracle's recursion terminate identically. Edge
# generation is an hour-bucketed self-join — pairs per bucket bounded by
# per-hour purchaser count (9 here; cap or sample hot buckets on a real
# corpus, as dedup's band joins do).
# ---------------------------------------------------------------------------
BFS_MAX_HOPS = 8


@query(
    "events_graph_distances",
    f"""
    WITH RECURSIVE p AS (
      SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS h
      FROM events WHERE event_type = 'purchase'
    ),
    e AS (
      SELECT a.u AS ua, b.u AS ub FROM p a JOIN p b ON a.h = b.h AND a.u <> b.u
    ),
    seed AS (SELECT MIN(ua) AS s FROM e),
    bfs(u, d) AS (
      SELECT s, 0 FROM seed
      UNION
      SELECT e.ub, bfs.d + 1 FROM e JOIN bfs ON e.ua = bfs.u
      WHERE bfs.d < {BFS_MAX_HOPS}
    )
    SELECT u AS user_id, CAST(MIN(d) AS INTEGER) AS dist
    FROM bfs GROUP BY u ORDER BY u
    """,
    doc="BFS hop distances from the minimum-id user over the hourly "
    "co-purchase graph, hop-limited to "
    f"{BFS_MAX_HOPS}: the Spark side runs iterative frontier expansion "
    "(join + min-agg + anti-join per round, rows bounded by unvisited "
    "nodes), the oracle a depth-capped recursive CTE — same distances. "
    "Completes the graph family next to the two connected-components "
    "algorithms",
    tags=("graph", "iterative", "temporal"),
)
def events_graph_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    seed = edges.agg(F.min("ua").alias("user_id")).select(
        "user_id", F.lit(0).cast("int").alias("dist")
    )
    dist = seed.localCheckpoint(eager=False)
    frontier = dist
    for k in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier["user_id"] == edges["ua"])
            .select(F.col("ub").alias("user_id"))
            .distinct()
            .withColumn("dist", F.lit(k).cast("int"))
        )
        new = nxt.join(dist.select("user_id"), "user_id", "left_anti")
        new = new.localCheckpoint(eager=False)
        if new.isEmpty():
            break
        dist = dist.unionByName(new).localCheckpoint(eager=False)
        frontier = new
    return dist.orderBy("user_id")


# ---------------------------------------------------------------------------
# Triangle counting and PageRank over the hourly co-purchase graph — the
# two graph analytics a data-curation team runs on top of the connectivity
# primitives (components, BFS) already in the repo: triangles measure
# local clustering (bot rings and scraped mirrors show up as dense
# triangles), PageRank ranks nodes by link centrality (seed selection for
# crawl frontier / influence-weighted sampling).
#
# Triangle counting uses the Schank–Wagner degree orientation: every edge
# points from its lower-(degree, id) endpoint to the higher one, so each
# triangle is discovered exactly once at its minimum-rank corner and the
# wedge join is bounded by Σ out-deg² = O(m^1.5) instead of the Σ deg²
# a naive id-orientation allows on a skewed graph (the classic hub blowup:
# one 10^6-degree hub contributes 10^12 id-oriented wedges but at most m
# degree-oriented ones). The oracle orients by id — orientation changes
# WHICH corner finds a triangle, never the triangle set, so the per-user
# participation counts are identical while each engine keeps its own
# plan shape.
#
# PageRank runs in exact fixed-point integer arithmetic: total mass
# S = 10^12 is distributed S//N per node, each iteration routes
# r_v // deg_v along every edge and applies the damping update
# r' = (15·S)//(100·N) + (85·Σcontrib)//100 — every operation is an int64
# sum or floor division, so iteration results are bit-identical in both
# engines regardless of aggregation order (float PageRank cannot make
# that promise). Three unrolled iterations on both sides; the co-purchase
# graph is symmetric so no node is dangling by construction.
# ---------------------------------------------------------------------------

_PR_MASS = 10**12
_PR_ITERS = 3


def _copurchase_cte() -> str:
    return """
    p AS (
      SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS h
      FROM events WHERE event_type = 'purchase'
    ),
    e AS (
      SELECT DISTINCT a.u AS ua, b.u AS ub
      FROM p a JOIN p b ON a.h = b.h AND a.u <> b.u
    )"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct co-purchase edges (ua <> ub), checkpointed so the
    iterative consumers reuse one materialization."""
    ev = load_tables(spark, sf_dir)["events"]
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.date_trunc("hour", "ts").alias("h"))
        .distinct()
    )
    a = p.select(F.col("user_id").alias("ua"), "h")
    b = p.select(F.col("user_id").alias("ub"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("ua") != F.col("ub"))
        .select("ua", "ub")
        .distinct()
        .localCheckpoint(eager=False)
    )


@query(
    "events_triangle_count",
    f"""
    WITH {_copurchase_cte()},
    und AS (SELECT ua, ub FROM e WHERE ua < ub),
    tri AS (
      SELECT e1.ua AS a, e1.ub AS b, e2.ub AS c
      FROM und e1
      JOIN und e2 ON e1.ua = e2.ua AND e1.ub < e2.ub
      JOIN und e3 ON e3.ua = e1.ub AND e3.ub = e2.ub
    ),
    corners AS (
      SELECT a AS user_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY user_id ORDER BY user_id
    """,
    doc="per-user triangle participation in the hourly co-purchase graph. "
    "Spark orients every edge low-(degree,id) → high-(degree,id) "
    "(Schank–Wagner), bounding the wedge join at O(m^1.5) on any degree "
    "distribution — the hub-proof plan a 100 TB behavior graph needs; "
    "the oracle orients by id (same triangle set, different discovery "
    "corner). Three keyed shuffles: degree count, wedge equi-join on "
    "the center, closing-edge equi-join",
    tags=("graph", "temporal"),
)
def events_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.filter(F.col("ua") < F.col("ub"))
    # degree over the undirected edge set: each edge contributes to both ends
    deg = (
        und.select(F.col("ua").alias("u"))
        .unionByName(und.select(F.col("ub").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("u").alias("ua"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("ub"), F.col("deg").alias("deg_b"))
    ranked = und.join(da, "ua").join(db, "ub")
    # orient: src = lower (deg, id) endpoint
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("ua") < F.col("ub"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("ua")).otherwise(F.col("ub")).alias("src"),
        F.when(a_first, F.col("ub")).otherwise(F.col("ua")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
            "deg_dst"
        ),
    ).localCheckpoint(eager=False)
    o1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"),
        F.col("deg_dst").alias("deg_b2"),
    )
    o2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"),
        F.col("deg_dst").alias("deg_c2"),
    )
    # each unordered wedge once: b below c in the same (deg, id) order
    wedges = o1.join(o2, "a").filter(
        (F.col("deg_b2") < F.col("deg_c2"))
        | ((F.col("deg_b2") == F.col("deg_c2")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    corners = (
        tri.select(F.col("a").alias("user_id"))
        .unionByName(tri.select(F.col("b").alias("user_id")))
        .unionByName(tri.select(F.col("c").alias("user_id")))
    )
    return (
        corners.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("user_id")
    )


def _pagerank_oracle() -> str:
    base = f"(15 * {_PR_MASS}) // (100 * n_nodes)"
    sql = f"""
    WITH {_copurchase_cte()},
    nodes AS (SELECT DISTINCT ua AS u FROM e),
    n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    deg AS (SELECT ua AS u, COUNT(*) AS deg FROM e GROUP BY ua),
    r0 AS (SELECT u, {_PR_MASS} // n_nodes AS r FROM nodes, n)"""
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
    r{i} AS (
      SELECT e.ub AS u,
             {base} + (85 * SUM({prev}.r // deg.deg)) // 100 AS r
      FROM e
      JOIN {prev} ON e.ua = {prev}.u
      JOIN deg ON e.ua = deg.u
      CROSS JOIN n
      GROUP BY e.ub, n_nodes
    )"""
        prev = f"r{i}"
    sql += f"""
    SELECT u AS user_id, CAST(r AS BIGINT) AS rank_int
    FROM {prev} ORDER BY user_id
    """
    return sql


@query(
    "events_pagerank",
    _pagerank_oracle(),
    doc=f"PageRank over the co-purchase graph in exact fixed-point integer "
    f"arithmetic: mass S=1e12 seeds S//N per node, each of {_PR_ITERS} "
    "iterations routes r_v // deg_v along edges and damps with "
    "r' = (15S)//(100N) + (85·Σ)//100 — int64 sums and floor divisions "
    "only, so both engines agree bit-for-bit at every iteration (float "
    "PageRank diverges across aggregation orders). Per iteration: ONE "
    "edge-keyed equi-join + ONE destination-keyed sum — the textbook "
    "distributed PageRank shape; edges checkpoint once and replay "
    "through all iterations. The graph is symmetric so no dangling-mass "
    "term is needed",
    tags=("graph", "iterative", "temporal"),
)
def events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("ua").alias("u")).distinct()
    n_nodes = nodes.count()
    deg = edges.groupBy("ua").agg(F.count(F.lit(1)).alias("deg"))
    rank = nodes.select(
        "u", F.lit(_PR_MASS // n_nodes).cast("long").alias("r")
    )
    base = (15 * _PR_MASS) // (100 * n_nodes)
    # The iteration count is FIXED, so the whole 3-iteration DAG stays
    # lazy and executes as ONE job over the checkpointed edge RDD —
    # round 11 paid a localCheckpoint(eager) driver round-trip per
    # iteration (plus one for the seed) that measured as ~1 s of
    # build-time wall at sf0.1 with 0.075 s of execution (round-12
    # probe). Lineage depth is bounded at _PR_ITERS joins, so no
    # checkpoint is needed for plan size either. Per iteration the
    # node-sized rank⋈deg join runs FIRST and the edge set is touched
    # once (r div deg is constant per source node — identical values,
    # one edges-sized join per iteration instead of two).
    for _ in range(_PR_ITERS):
        rd = (
            rank.select(F.col("u").alias("ua"), "r")
            .join(deg, "ua")
            .select("ua", F.expr("r div deg").alias("c"))
        )
        contrib = edges.join(rd, "ua").select(F.col("ub").alias("u"), "c")
        rank = contrib.groupBy("u").agg(
            (F.lit(base) + F.expr("(85 * sum(c)) div 100"))
            .cast("long")
            .alias("r")
        )
    return rank.select(F.col("u").alias("user_id"), F.col("r").alias("rank_int")).orderBy(
        "user_id"
    )


# ---------------------------------------------------------------------------
# Experiment analysis: two-proportion z-test between hash-assigned
# variants — the readout an events pipeline runs for every A/B test.
# Variant assignment is the deterministic bucket hash real experiment
# frameworks use (user_id % 2 here; any stable hash slots into the same
# plan); the metric is user-level conversion (≥14 purchases — around the
# fixture median, so neither arm saturates; ≥1 converts EVERY user on
# this corpus and the pooled variance collapses to zero — that degenerate
# case is guarded to a NULL z on both engines, the readout a real
# framework emits). Everything reduces to FOUR integers (n_A, x_A, n_B,
# x_B) from
# one user-keyed combiner aggregate, so the z statistic's float math runs
# on identical exact inputs in both engines and needs only an output
# rounding. z = (p_A−p_B)/√(p̄(1−p̄)(1/n_A+1/n_B)), |z| > 1.96 ⇒
# significant at α = 0.05 (two-sided).
# ---------------------------------------------------------------------------


@query(
    "events_ab_test",
    """
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       >= 14 THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS x_a,
             CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS x_b
      FROM per_user
    )
    SELECT n_a, x_a, n_b, x_b,
           ROUND(x_a * 1.0 / n_a, 6) AS rate_a,
           ROUND(x_b * 1.0 / n_b, 6) AS rate_b,
           ROUND(CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN NULL
                 ELSE (x_a * 1.0 / n_a - x_b * 1.0 / n_b)
                 / sqrt(((x_a + x_b) * 1.0 / (n_a + n_b))
                        * (1 - (x_a + x_b) * 1.0 / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)) END, 4) AS z,
           COALESCE(ABS(CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN NULL
                 ELSE (x_a * 1.0 / n_a - x_b * 1.0 / n_b)
                 / sqrt(((x_a + x_b) * 1.0 / (n_a + n_b))
                        * (1 - (x_a + x_b) * 1.0 / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)) END) > 1.96,
                 FALSE) AS significant
    FROM arms
    """,
    doc="A/B-test readout: deterministic bucket assignment (user_id % 2), "
    "user-level conversion (≥14 purchases, near the fixture median), "
    "two-proportion z-test with the pooled variance, degenerate arms "
    "(0%/100% pooled) guarded to NULL z. ONE user-keyed combiner "
    "aggregate reduces any event volume to four integers; the z "
    "statistic computes from those exact ints identically in both "
    "engines. |z| > 1.96 flags significance at two-sided α=0.05",
    tags=("temporal", "experiment", "stats"),
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("conv")
    ).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "conv",
    )
    arms = per_user.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == "A", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == "B", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x_b"),
    )
    pa = F.col("x_a") * 1.0 / F.col("n_a")
    pb = F.col("x_b") * 1.0 / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    # degenerate arms (0% or 100% pooled conversion) have zero pooled
    # variance: z is undefined — NULL, not a DIVIDE_BY_ZERO (ANSI mode)
    degenerate = (F.col("x_a") + F.col("x_b") == 0) | (
        F.col("x_a") + F.col("x_b") == F.col("n_a") + F.col("n_b")
    )
    z = F.when(
        ~degenerate,
        (pa - pb)
        / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
    )
    return arms.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(z, 4).alias("z"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Funnel latency: events_funnel counts WHO converts; this measures HOW
# FAST — per converting user, the first-view → first-qualifying-purchase
# delay, summarized as exact PERCENTILE_DISC quantiles. Discrete
# percentiles over exact integer microseconds keep both engines
# bit-identical (PERCENTILE_CONT interpolates in float and DISC does
# not); the reduction is the funnel's own (one MIN per user per stage),
# so the quantile input is user-cardinality, never event-cardinality.
# ---------------------------------------------------------------------------


@query(
    "events_funnel_latency",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    d AS (
      SELECT p.user_id,
             CAST(date_diff('microsecond', v.t1, p.t2) AS BIGINT) AS us
      FROM p JOIN v ON v.user_id = p.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY us) AS BIGINT)
               AS p50_us,
           CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY us) AS BIGINT)
               AS p90_us,
           CAST(MAX(us) AS BIGINT) AS max_us
    FROM d
    """,
    doc="funnel conversion latency: first view → first subsequent "
    "purchase per user, exact integer microseconds, PERCENTILE_DISC "
    "p50/p90 (discrete, so no float interpolation can diverge between "
    "engines). Same user-keyed MIN reduction as events_funnel — the "
    "quantile input is user-cardinality; at extreme user counts swap "
    "PERCENTILE_DISC for approx_percentile without touching the "
    "reduction",
    tags=("temporal", "funnel", "percentile"),
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    from pyspark.sql import types as T

    # explicit LTZ type: the session pins timestampType=TIMESTAMP_NTZ and
    # unix_micros rejects NTZ; session timezone is UTC so the instant is
    # unchanged (the q44_session_window note)
    d = p.join(v, "user_id").select(
        (F.unix_micros(F.col("t2").cast(T.TimestampType()))
         - F.unix_micros(F.col("t1").cast(T.TimestampType()))).alias("us")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY us)")
        .cast("long")
        .alias("p50_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY us)")
        .cast("long")
        .alias("p90_us"),
        F.max("us").cast("long").alias("max_us"),
    )
