"""Event-time window semantics over ``events``, batch-checkable (M4).

The tumbling, sliding and session rows are the ``streaming/windows.py``
builders applied to the static ``events`` table (the optimizer drops
their watermark on a batch frame), so the DuckDB oracle checks the code
the streams run: tumbling/sliding via ``window()``, sessionization via
``session_window()`` (oracled with a gaps-and-islands rewrite). The
``streaming_*`` guard rows run the lattice families through real
availableNow streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import artifacts
from ..registry import register
from ..session import load_table, parquet_rows, read_parquet
from ..streaming import lattice
from ..streaming.windows import (
    EVENTS_SCHEMA,
    sessionized_stream,
    sliding_counts_stream,
    tumbling_counts_stream,
)
from .relational import dsum


def _await_or_fail(q, timeout: int = 300) -> None:
    """An availableNow maintenance run must FINISH before anything reuses
    its checkpoint: starting a second query against the same checkpoint
    while the first is still active fails (or worse, races the
    foreachBatch state writes) with an error far from the cause. So check
    ``awaitTermination``'s boolean — on timeout, stop the straggler and
    raise HERE, naming the real problem."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(
            f"streaming maintenance query did not finish within {timeout}s"
        )


# Temp roots created by the streaming maintenance kernels below. Each
# kernel copies its input table into a throwaway source dir and writes
# state/checkpoint dirs next to it — hundreds of MB per invocation at
# sf0.1 — and the returned DataFrame reads LAZILY from those dirs, so
# the kernel itself cannot delete them. Callers that fully consume the
# result call cleanup_stream_temp_roots() (or artifacts.cleanup())
# afterwards; roots stranded by crashed runs go in artifacts.sweep_stale.
_STREAM_TEMP_ROOTS: list[str] = []


def _stream_temp_root() -> str:
    base = artifacts.scratch_dir("stream")
    _STREAM_TEMP_ROOTS.append(base)
    return base


def _data_sized_width(spark: SparkSession, src: str):
    """scoped_shuffle_width sized to a copied stream source's row count —
    the shared preamble of every streaming guard below.

    Every micro-batch pays per-partition state-store/shuffle overhead
    (the rollup chain runs TWO engine state stores), so the session
    default width makes the guards' tiny batches overhead-bound:
    measured 17-24 s at width 32 vs ~9 s data-sized for the rollup
    chain at sf0.1. The checkpoint pins the width at the first batch,
    so each guard runs its WHOLE protocol (both availableNow runs +
    compaction) inside one scope and restarts stay consistent by
    construction."""
    from ..session import scoped_shuffle_width

    # aqe_off=False: the streaming guard rows measured the width-1
    # AQE-off variant as noise-level at best (r15 A/B), and these rows
    # are gate-guarded — keep the engine's adaptive plans for them
    return scoped_shuffle_width(spark, parquet_rows(spark, src), aqe_off=False)


def cleanup_stream_temp_roots() -> None:
    """Remove every temp source/state/checkpoint root created by the
    streaming kernels in this process. Only call AFTER the returned
    DataFrames have been fully consumed — they read lazily from these
    dirs, and a re-evaluation after cleanup would see an empty source."""
    import shutil

    while _STREAM_TEMP_ROOTS:
        shutil.rmtree(_STREAM_TEMP_ROOTS.pop(), ignore_errors=True)


def _lattice_guard(
    spark: SparkSession,
    family: lattice.LatticeFamily,
    frame: DataFrame,
    key_col: str,
) -> DataFrame:
    """The two-run restart protocol every lattice guard row certifies:
    ~3/4 of ``frame`` lands over several files and one availableNow run
    folds it into several bounded partials (maxFilesPerTrigger=2); the
    late quarter lands after that stream stopped and a second run on the
    SAME checkpoint absorbs only the new files; the partials are then
    compacted under the family's lattice-class protocol and the state is
    read back (reading is merging)."""
    import os

    base = _stream_temp_root()
    src = os.path.join(base, "in")
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    key = F.col(key_col) % 4
    frame.filter(key != 0).coalesce(4).write.mode("append").parquet(src)
    with _data_sized_width(spark, src):
        _await_or_fail(lattice.start_maintenance_stream(
            spark, family, src, state, ckpt, max_files_per_trigger=2
        ))
        frame.filter(key == 0).coalesce(2).write.mode("append").parquet(src)
        _await_or_fail(lattice.start_maintenance_stream(
            spark, family, src, state, ckpt, max_files_per_trigger=2
        ))
        lattice.compact_state(spark, family, state)
    return lattice.read_state(spark, family, state)


@register(
    "events_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
    doc="Tumbling 1h event-time windows (window() in streaming; identical grouping here).",
)
def q_events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts_stream(load_table(spark, "events", sf_dir))


@register(
    "events_sliding_2h_1h",
    oracle="""
    WITH assigned AS (
      SELECT date_trunc('hour', ts) AS window_start, * FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, * FROM events
    )
    SELECT window_start, window_start + INTERVAL 2 HOUR AS window_end,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM assigned GROUP BY 1, 2
    """,
    doc="Sliding windows (2h length, 1h slide): each event lands in 2 windows.",
)
def q_events_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts_stream(load_table(spark, "events", sf_dir))


@register(
    "events_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    islands AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM islands GROUP BY user_id, sess
    """,
    doc="Session windows (30 min gap) per user — session_window() in Spark, "
    "gaps-and-islands in the oracle.",
)
def q_events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionized_stream(load_table(spark, "events", sf_dir))


@register(
    "events_dedup_latest",
    oracle="""
    SELECT user_id, event_type, ts AS latest_ts, value AS latest_value FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="Keep-latest dedup per (user, event_type) — streaming dropDuplicates analogue.",
)
def q_events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("latest_ts"),
            F.col("value").alias("latest_value"),
        )
    )


@register(
    "events_gap_fill_hourly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS hi
      FROM events
    ),
    grid AS (
      SELECT t.event_type, CAST(g.h AS TIMESTAMP) AS h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM span),
                                                (SELECT hi FROM span),
                                                INTERVAL 1 HOUR)) AS h) g
    )
    SELECT grid.event_type, grid.h AS hour, COALESCE(hourly.n, 0) AS n_events
    FROM grid LEFT JOIN hourly ON grid.event_type = hourly.event_type AND grid.h = hourly.h
    """,
    doc="Time-series gap filling: dense (event_type x hour) grid via "
    "sequence+explode, left-joined to observed hourly counts, zeros for "
    "silent hours. The grid is generated, never scanned — at 100 TB the "
    "grid side is dims x hours (tiny) and broadcasts; the fact side "
    "aggregates BEFORE the join so the left join sees one row per cell.",
)
def q_events_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    span = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h")
    )
    # both grid sides are dimension-sized; the broadcast hint pins the plan
    # (BroadcastNestedLoopJoin) rather than leaving it to AQE at scale
    grid = e.select("event_type").distinct().crossJoin(F.broadcast(hours))
    return (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.col("h").alias("hour"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH first_e AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
      FROM events
    )
    SELECT f.cohort AS cohort_week,
           CAST(datediff('day', f.cohort, a.w) / 7 AS INTEGER) AS week_offset,
           COUNT(*) AS n_users
    FROM first_e f JOIN act a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    doc="Cohort retention: users bucketed by first-activity week, counted in "
    "each later active week. Two aggregations on the same user_id "
    "partitioning (first-touch, distinct activity) then a join that "
    "reuses it — no extra shuffle between stages at scale when the "
    "events table is bucketed by user_id.",
)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    first_e = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    act = e.select("user_id", F.date_trunc("week", "ts").alias("w")).distinct()
    return (
        first_e.join(act, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            (F.datediff("w", "cohort") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "event_funnel",
    oracle="""
    WITH m AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
           COUNT(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup THEN 1 END) AS n_viewed,
           COUNT(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup AND t_click > t_view THEN 1 END) AS n_clicked,
           COUNT(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup AND t_click > t_view AND t_purchase > t_click THEN 1 END) AS n_purchased
    FROM m
    """,
    doc="Ordered funnel (signup -> view -> click -> purchase by first "
    "occurrence): one conditional-MIN pivot per user, then stage "
    "predicates over the four timestamps — a single shuffle on user_id, "
    "no per-stage self-joins.",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)

    def t_first(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    m = e.groupBy("user_id").agg(
        t_first("signup").alias("t_signup"),
        t_first("view").alias("t_view"),
        t_first("click").alias("t_click"),
        t_first("purchase").alias("t_purchase"),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_view") > F.col("t_signup"))
    s3 = s2 & (F.col("t_click") > F.col("t_view"))
    s4 = s3 & (F.col("t_purchase") > F.col("t_click"))
    return m.agg(
        F.count(F.when(s1, 1)).alias("n_signup"),
        F.count(F.when(s2, 1)).alias("n_viewed"),
        F.count(F.when(s3, 1)).alias("n_clicked"),
        F.count(F.when(s4, 1)).alias("n_purchased"),
    )


@register(
    "user_rfm_segments",
    # Segment predicates compare the DECIMAL spend (exact, associative) —
    # never the surfaced double — so the same user lands in the same
    # segment under any partial-agg order on any engine.
    oracle="""
    WITH agg AS (
      SELECT user_id,
             MAX(ts) AS last_seen,
             COUNT(*) AS n_events,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS spend_dec
      FROM events GROUP BY user_id
    )
    SELECT user_id, last_seen, n_events, n_purchases,
           CAST(CAST(spend_dec AS VARCHAR) AS DOUBLE) AS spend,
           CASE WHEN n_purchases >= 5 AND spend_dec >= 200 THEN 'vip'
                WHEN n_purchases >= 2 THEN 'active'
                WHEN n_purchases >= 1 THEN 'occasional'
                ELSE 'prospect' END AS segment
    FROM agg
    """,
    doc="RFM user segmentation over the event stream: recency (last event "
    "ts), frequency (events + purchases), monetary (decimal-exact purchase "
    "spend), and a deterministic threshold segment — single groupBy with "
    "map-side partial aggregation; segments compare on the exact DECIMAL, "
    "not the surfaced double, so assignment is engine- and "
    "partitioning-stable. Fixed thresholds, not quantiles: an ntile here "
    "would force a global sort at 100 TB.",
)
def q_user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dec

    e = load_table(spark, "events", sf_dir)
    is_p = F.col("event_type") == "purchase"
    spend_dec = F.sum(F.when(is_p, dec("value")).otherwise(dec(F.lit(0.0))))
    agg = e.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count("*").alias("n_events"),
        F.count(F.when(is_p, 1)).alias("n_purchases"),
        spend_dec.alias("spend_dec"),
    )
    return agg.select(
        "user_id",
        "last_seen",
        "n_events",
        "n_purchases",
        F.col("spend_dec").cast("double").alias("spend"),
        F.when(
            (F.col("n_purchases") >= 5) & (F.col("spend_dec") >= 200), "vip"
        )
        .when(F.col("n_purchases") >= 2, "active")
        .when(F.col("n_purchases") >= 1, "occasional")
        .otherwise("prospect")
        .alias("segment"),
    )


@register(
    "rollup_reuse_hierarchy",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_start, event_type,
             COUNT(*) AS n_events,
             SUM(CAST(value AS DECIMAL(18,4))) AS v
      FROM events GROUP BY 1, 2
    ),
    daily AS (
      SELECT date_trunc('day', bucket_start) AS bucket_start, event_type,
             CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(v) AS v
      FROM hourly GROUP BY 1, 2
    ),
    monthly AS (
      SELECT date_trunc('month', bucket_start) AS bucket_start, event_type,
             CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(v) AS v
      FROM daily GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, bucket_start, event_type, n_events,
           CAST(CAST(v AS VARCHAR) AS DOUBLE) AS total_value FROM hourly
    UNION ALL
    SELECT 'day', bucket_start, event_type, n_events,
           CAST(CAST(v AS VARCHAR) AS DOUBLE) FROM daily
    UNION ALL
    SELECT 'month', bucket_start, event_type, n_events,
           CAST(CAST(v AS VARCHAR) AS DOUBLE) FROM monthly
    """,
    doc="Hypertable-style continuous-aggregate hierarchy: the hourly "
    "rollup is computed ONCE from raw events, then day and month levels "
    "are derived from the next-finer level's partials (decimal sums "
    "re-aggregate exactly), never by rescanning the fact table — the "
    "TimescaleDB/Druid rollup-reuse pattern. At 100 TB the hour level "
    "is the only scan of the raw data; each coarser level reads rows "
    "numbering |buckets x types|. All three grains surface in one "
    "frame keyed by `grain`.",
)
def q_rollup_reuse_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dec

    e = load_table(spark, "events", sf_dir)
    hourly = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), F.sum(dec("value")).alias("v"))
        # Catalyst does not CSE a shared subplan across union branches —
        # without a barrier each grain would rescan the fact table.
        # Materializing the hourly aggregate (the "continuous aggregate"
        # itself, |hour-buckets x types| rows) keeps events to ONE scan;
        # tests/test_plans.py pins the single-scan shape.
        .localCheckpoint(eager=True)
    )
    # daily/monthly re-aggregate the hourly PARTIALS (sum of decimal sums
    # is exact and associative) — the raw table is scanned exactly once.
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "bucket_start").alias("bucket_start"),
            "event_type",
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("v").alias("v"))
    )
    monthly = (
        daily.groupBy(
            F.date_trunc("month", "bucket_start").alias("bucket_start"),
            "event_type",
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("v").alias("v"))
    )

    def surface(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket_start",
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("v").cast("double").alias("total_value"),
        )

    return (
        surface(hourly, "hour")
        .unionByName(surface(daily, "day"))
        .unionByName(surface(monthly, "month"))
    )


@register(
    "event_rate_anomalies",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_start,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY n, bucket_start) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM hourly
    ),
    med AS (  -- med2 = 2 * median hourly rate (exact integer)
      SELECT event_type,
             SUM(CASE WHEN rn = (cnt + 1) // 2 THEN n ELSE 0 END)
             + SUM(CASE WHEN rn = (cnt + 2) // 2 THEN n ELSE 0 END) AS med2
      FROM ranked GROUP BY 1
    ),
    dev AS (
      SELECT h.event_type, h.bucket_start, h.n,
             abs(2 * h.n - m.med2) AS dev2, m.med2
      FROM hourly h JOIN med m USING (event_type)
    ),
    dev_ranked AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev2, bucket_start) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM dev
    ),
    mad AS (  -- mad4 = 4 * MAD (exact integer)
      SELECT event_type,
             SUM(CASE WHEN rn = (cnt + 1) // 2 THEN dev2 ELSE 0 END)
             + SUM(CASE WHEN rn = (cnt + 2) // 2 THEN dev2 ELSE 0 END) AS mad4
      FROM dev_ranked GROUP BY 1
    )
    SELECT d.event_type, d.bucket_start,
           CAST(d.n AS BIGINT) AS n_events,
           CAST(CAST(d.med2 AS BIGINT) AS DOUBLE) / 2 AS median_rate,
           round(CASE WHEN m.mad4 = 0 THEN 0.0
                      ELSE CAST(2 * d.dev2 AS DOUBLE) / CAST(m.mad4 AS DOUBLE)
                 END, 6) AS mad_score
    FROM dev d JOIN mad m USING (event_type)
    WHERE 2 * d.dev2 > 3 * m.mad4
    """,
    doc="Traffic-spike/dip detection: per event type, hours whose event "
    "count deviates from that type's median hourly rate by more than "
    "3x the MAD. Rates are integer counts, medians use the exact "
    "middle-pair-sum trick (2*median and 4*MAD stay integers), and the "
    "gate 2*dev2 > 3*mad4 is integer-exact — engine-identical row "
    "membership by construction. The hourly rollup is the only pass "
    "over the fact table; everything after runs on |types x hours| "
    "rows. The operational-monitoring twin of order_value_outliers_mad.",
)
def q_event_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, "events", sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_start")
    ).agg(F.count("*").alias("n"))
    w_rank = Window.partitionBy("event_type").orderBy("n", "bucket_start")
    w_all = Window.partitionBy("event_type")
    ranked = hourly.select(
        "*",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("cnt"),
    )
    mid_lo = F.expr("(cnt + 1) div 2")
    mid_hi = F.expr("(cnt + 2) div 2")
    med = ranked.groupBy("event_type").agg(
        (
            F.sum(F.when(F.col("rn") == mid_lo, F.col("n")).otherwise(0))
            + F.sum(F.when(F.col("rn") == mid_hi, F.col("n")).otherwise(0))
        ).alias("med2")
    )
    dev = hourly.join(F.broadcast(med), "event_type").select(
        "event_type",
        "bucket_start",
        "n",
        F.abs(F.lit(2) * F.col("n") - F.col("med2")).alias("dev2"),
        "med2",
    )
    w_drank = Window.partitionBy("event_type").orderBy("dev2", "bucket_start")
    dev_ranked = dev.select(
        "*",
        F.row_number().over(w_drank).alias("rn"),
        F.count("*").over(w_all).alias("cnt"),
    )
    mad = dev_ranked.groupBy("event_type").agg(
        (
            F.sum(F.when(F.col("rn") == mid_lo, F.col("dev2")).otherwise(0))
            + F.sum(F.when(F.col("rn") == mid_hi, F.col("dev2")).otherwise(0))
        ).alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.lit(2) * F.col("dev2") > F.lit(3) * F.col("mad4"))
        .select(
            "event_type",
            "bucket_start",
            F.col("n").cast("long").alias("n_events"),
            (F.col("med2").cast("double") / 2).alias("median_rate"),
            F.round(
                F.when(F.col("mad4") == 0, F.lit(0.0)).otherwise(
                    (F.lit(2) * F.col("dev2")).cast("double")
                    / F.col("mad4").cast("double")
                ),
                6,
            ).alias("mad_score"),
        )
    )


@register(
    "events_gap_fill_locf",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               AS total_value
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS hi
      FROM events
    ),
    grid AS (
      SELECT t.event_type, CAST(g.h AS TIMESTAMP) AS h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM span),
                                                (SELECT hi FROM span),
                                                INTERVAL 1 HOUR)) AS h) g
    ),
    joined AS (
      SELECT grid.event_type, grid.h, hourly.n, hourly.total_value
      FROM grid LEFT JOIN hourly
        ON grid.event_type = hourly.event_type AND grid.h = hourly.h
    )
    SELECT event_type, h AS hour,
           COALESCE(n, 0) AS n_events,
           last_value(total_value IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY h
                   ROWS UNBOUNDED PRECEDING) AS filled_value,
           n IS NULL AS is_filled
    FROM joined
    """,
    doc="Time-series gap filling with last-observation-carried-forward "
    "(the TimescaleDB locf() analogue): the dense (event_type x hour) "
    "grid left-joins observed hourly totals, silent hours keep count 0 "
    "but CARRY the last observed total_value forward "
    "(last_value IGNORE NULLS over an hour-ordered window per type — "
    "leading gaps before the first observation stay NULL). The window "
    "partitions by event_type over the tiny aggregate grid — no global "
    "sort; the carried value is an exact copy, so cross-engine parity "
    "is structural.",
)
def q_events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, "events", sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
    span = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h")
    )
    grid = e.select("event_type").distinct().crossJoin(F.broadcast(hours))
    joined = grid.join(hourly, ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        F.col("h").alias("hour"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.last("total_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("n").isNull().alias("is_filled"),
    )


@register(
    "funnel_windowed_7d",
    oracle="""
    WITH u0 AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
      FROM events GROUP BY user_id
    ),
    u1 AS (
      SELECT u0.user_id, u0.t0, MIN(e.ts) AS t1
      FROM u0 LEFT JOIN events e
        ON e.user_id = u0.user_id AND e.event_type = 'click'
       AND e.ts >= u0.t0 AND e.ts <= u0.t0 + INTERVAL 7 DAY
      GROUP BY u0.user_id, u0.t0
    ),
    u2 AS (
      SELECT u1.user_id, u1.t0, u1.t1, MIN(e.ts) AS t2
      FROM u1 LEFT JOIN events e
        ON e.user_id = u1.user_id AND e.event_type = 'purchase'
       AND e.ts >= u1.t1 AND e.ts <= u1.t1 + INTERVAL 7 DAY
      GROUP BY u1.user_id, u1.t0, u1.t1
    )
    SELECT CAST(COUNT(t0) AS BIGINT) AS n_signup,
           CAST(COUNT(t1) AS BIGINT) AS n_click_7d,
           CAST(COUNT(t2) AS BIGINT) AS n_purchase_7d,
           round(COUNT(t1) / CAST(COUNT(t0) AS DOUBLE), 6) AS rate_click,
           round(COUNT(t2) / CAST(COUNT(t1) AS DOUBLE), 6) AS rate_purchase,
           round(COUNT(t2) / CAST(COUNT(t0) AS DOUBLE), 6) AS rate_overall
    FROM u2
    """,
    doc="Time-windowed conversion funnel: first signup → first click "
    "within 7 days of it → first purchase within 7 days of that click, "
    "per user, surfaced as stage counts and conversion rates. Each "
    "stage is one user-keyed equi-join with a residual time-range "
    "predicate plus a MIN aggregate — the bounded form of funnel "
    "analysis (event_funnel is the unwindowed ordering variant). "
    "Counts are integers; rates are single exact divisions.",
)
def q_funnel_windowed_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    u0 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("uid_c"), F.col("ts").alias("ts_c")
    )
    u1 = (
        u0.join(
            clicks,
            (F.col("uid_c") == F.col("user_id"))
            & (F.col("ts_c") >= F.col("t0"))
            & (F.col("ts_c") <= F.col("t0") + F.expr("INTERVAL 7 DAY")),
            "left",
        )
        .groupBy("user_id", "t0")
        .agg(F.min("ts_c").alias("t1"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid_p"), F.col("ts").alias("ts_p")
    )
    u2 = (
        u1.join(
            purchases,
            (F.col("uid_p") == F.col("user_id"))
            & (F.col("ts_p") >= F.col("t1"))
            & (F.col("ts_p") <= F.col("t1") + F.expr("INTERVAL 7 DAY")),
            "left",
        )
        .groupBy("user_id", "t0", "t1")
        .agg(F.min("ts_p").alias("t2"))
    )
    return u2.agg(
        F.count("t0").cast("long").alias("n_signup"),
        F.count("t1").cast("long").alias("n_click_7d"),
        F.count("t2").cast("long").alias("n_purchase_7d"),
        F.round(F.count("t1") / F.count("t0").cast("double"), 6).alias("rate_click"),
        F.round(F.count("t2") / F.count("t1").cast("double"), 6).alias("rate_purchase"),
        F.round(F.count("t2") / F.count("t0").cast("double"), 6).alias("rate_overall"),
    )


@register(
    "streaming_rollup_day_grain",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="The streaming continuous-aggregate CHAIN, driver-gated at value "
    "level: events are fed through the ACTUAL watermark-finalized "
    "hourly stream (dedup -> tumbling 1h window, append-once sink), the "
    "day grain derives incrementally from the finalized hourly partials "
    "inside foreachBatch (manifest-committed, append-once per closed "
    "day), and far-future sentinel events drive the watermark past "
    "every real bucket so all days close. The oracle is the plain batch "
    "day aggregation — equality proves the stream's dedup, window "
    "finalization, closure rule, and decimal re-aggregation compose to "
    "the batch semantics. Runs a real Structured Streaming query as two "
    "availableNow triggers against one checkpoint (a real restart "
    "boundary, so driver certification also exercises checkpoint "
    "recovery): the restarted run takes both sentinels in one "
    "micro-batch and the engine's no-data flush batch (pinned on for "
    "the protocol's scope) finalizes sentinel #1's own hour — the "
    "watermark computed at the sentinel batch's end covers both, so "
    "the flush emits every real hour plus #1's, which is all the "
    "derived day frontier needs.",
)
def q_streaming_rollup_day_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.rollup_maintenance import (
        read_grain,
        start_rollup_maintenance_stream,
    )

    base = _stream_temp_root()
    src = os.path.join(base, "in")
    rollup = os.path.join(base, "hour")
    derived = os.path.join(base, "dm")
    ckpt = os.path.join(base, "ckpt")
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ev.coalesce(4).write.mode("append").parquet(src)

    def run(max_files_per_trigger: int) -> None:
        q = start_rollup_maintenance_stream(
            spark, src, rollup, ckpt, EVENTS_SCHEMA,
            max_files_per_trigger=max_files_per_trigger, derived_dir=derived,
        )
        _await_or_fail(q)

    # The trimmed two-sentinel protocol DEPENDS on the engine's no-data
    # flush micro-batch to emit sentinel #1's hour (the global watermark
    # lags one batch). That flush is on by default but deployment-
    # configurable — pin it for the protocol's scope so the assumption
    # is enforced, not inherited.
    ndmb_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_ndmb = spark.conf.get(ndmb_key, "true")
    spark.conf.set(ndmb_key, "true")
    try:
        with _data_sized_width(spark, src):
            run(100)
            max_ts = read_parquet(spark, src).agg(F.max("ts")).collect()[0][0]
            # sentinel #1 closes every real hour/day; #2 finalizes #1's
            # own hour so the derived frontier passes every real bucket.
            # Both land in ONE restarted micro-batch (r12 trim, was one
            # batch EACH under maxFilesPerTrigger=1): the watermark
            # computed at that batch's end covers both sentinels, and the
            # engine's no-data flush batch (pinned on above) then emits
            # every hour below it — including #1's own hour, which is all
            # the derived day frontier needs. Parity-verified identical
            # output; saves one full two-state-store micro-batch cycle
            # (~1s) per certification. Built on spark.range(1), NOT
            # createDataFrame: the local-collection plan costs ~5s per
            # 1-row write in this session shape (measured), the range
            # projection 0.4s.
            for hours in (960, 1920):
                spark.range(1).select(
                    F.lit(10**9).cast("bigint").alias("event_id"),
                    (F.lit(max_ts) + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
                    F.lit(0).cast("bigint").alias("user_id"),
                    F.lit("sentinel").alias("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit("{}").alias("props"),
                ).coalesce(1).write.mode("append").parquet(src)
            run(100)
    finally:
        spark.conf.set(ndmb_key, prev_ndmb)
    return read_grain(spark, rollup, derived, "day").filter(
        F.col("event_type") != "sentinel"
    )


def _surv_stream_oracle() -> str:
    """Compose the batch survivorship oracle verbatim — the stream must
    converge to EXACTLY the batch answer. Importing the provider module
    here (not relying on registry load order) keeps this module
    standalone-importable (the retrieval.py lesson)."""
    from ..registry import REGISTRY
    from . import advanced  # noqa: F401  (registers golden_record_survivorship)

    return REGISTRY["golden_record_survivorship"].oracle


@register(
    "streaming_survivorship_state",
    oracle=_surv_stream_oracle(),
    doc="The streaming argmax lattice, driver-gated at value level: "
    "events are fed through the ACTUAL survivorship maintenance stream "
    "(streaming/survivorship_maintenance.py — foreachBatch writes one "
    "bounded per-user partial per batch) in two availableNow runs "
    "against ONE checkpoint (the second run resumes the stream over "
    "late-arriving files, certifying checkpoint recovery), the state is "
    "then compacted (the fold written back as one partition) and read. "
    "The oracle is the registered BATCH golden_record_survivorship SQL "
    "verbatim, so equality proves the argmax-by-okey merge lattice — "
    "across batch partials, a restart boundary, AND the compaction "
    "fold — composes to exactly the one-shot batch aggregation "
    "(idempotent join-semilattice for the argmax/max legs; the "
    "n_events SUM leg is exact here because file-source + checkpoint "
    "delivers each batch once). Second streaming family certified by "
    "the driver alongside the sum-lattice rollup chain.",
)
def q_streaming_survivorship_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.survivorship_maintenance import SURVIVORSHIP

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    return (
        _lattice_guard(spark, SURVIVORSHIP, ev, "event_id")
        .select(
            "user_id",
            F.col("golden_k").cast("long").alias("golden_k"),
            F.col("golden_event_id").cast("long").alias("golden_event_id"),
            "golden_type",
            F.col("n_events").cast("long").alias("n_events"),
            "last_ts",
        )
        .orderBy("user_id")
    )


def _cms_stream_oracle() -> str:
    """The batch CMS build SQL over the whole documents table — the
    streaming sum-lattice state must converge to EXACTLY the one-shot
    sketch. Imported from the provider module (not the registry) so the
    fragments stay single-sourced and this module stays
    standalone-importable (the retrieval.py lesson)."""
    from .cms import _TOKEN_STREAM_SQL, _sketch_sql, WIDTH

    return f"""
    WITH stream AS ({_TOKEN_STREAM_SQL})
    SELECT CAST(row_j AS INT) AS row_j,
           CAST(cell AS BIGINT) AS cell,
           CAST(cnt AS BIGINT) AS cnt
    FROM ({_sketch_sql(WIDTH)})
    ORDER BY row_j, cell
    """


@register(
    "streaming_cms_state",
    oracle=_cms_stream_oracle(),
    doc="The streaming Count-Min maintenance chain, driver-gated at "
    "value level: documents are fed through the ACTUAL CMS maintenance "
    "stream (streaming/sketch_maintenance.py — foreachBatch writes one "
    "bounded depth*width partial per batch) in two availableNow runs "
    "against ONE checkpoint (the second run resumes over late-arriving "
    "files, certifying checkpoint recovery), the partials are folded "
    "through the manifest-committed compaction (write-then-rename: an "
    "uncommitted generation is invisible, so the non-idempotent SUM "
    "lattice stays crash-safe), and the state is read back. The oracle "
    "is the one-shot batch cms_sketch SQL over the same corpus, so "
    "equality proves per-batch partials + a restart boundary + the "
    "compaction fold compose to exactly the batch sketch — the "
    "cell-wise-additive twin of the KMV lattice's idempotent-merge "
    "certification.",
)
def q_streaming_cms_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch_maintenance import CMS

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text", "source")
    return (
        _lattice_guard(spark, CMS, d, "doc_id")
        .select(
            F.col("row_j").cast("int").alias("row_j"),
            F.col("cell").cast("long").alias("cell"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        .orderBy("row_j", "cell")
    )


def _logbin_stream_oracle() -> str:
    """Batch log-binned histogram SQL over orders' total price in cents
    — shares the shift/bkey/width arithmetic with the registered
    logbin_quantile_sketch oracle (same constants, same integer bins)."""
    from .sketches import QSKETCH_SUBBITS

    return f"""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    keyed AS (
      SELECT c, GREATEST(length(to_base(c, 2)) - 1 - {QSKETCH_SUBBITS}, 0) AS shift
      FROM c
    )
    SELECT CAST(shift AS INT) AS shift,
           c // CAST(power(2, shift) AS BIGINT) AS bkey,
           CAST(power(2, shift) AS BIGINT) AS width,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           (c // CAST(power(2, shift) AS BIGINT))
             * CAST(power(2, shift) AS BIGINT) AS lower
    FROM keyed GROUP BY shift, c // CAST(power(2, shift) AS BIGINT)
    ORDER BY lower
    """


@register(
    "streaming_logbin_state",
    oracle=_logbin_stream_oracle(),
    doc="The streaming quantile-histogram maintenance chain, "
    "driver-gated at value level: orders are fed through the ACTUAL "
    "log-bin maintenance stream (streaming/sketch_maintenance.py — the "
    "second instance of the SUM-lattice batch-partition protocol, "
    "sharing read/compact/crash-safety code with the CMS stream) in "
    "two availableNow runs against ONE checkpoint (restart "
    "certification), compacted through the manifest commit, and read "
    "back with the lower bound rebuilt. The oracle is the one-shot "
    "batch histogram SQL (the build stage of logbin_quantile_sketch, "
    "same integer bin arithmetic), so equality proves the streaming "
    "partial/restart/compaction chain converges to exactly the batch "
    "histogram a quantile read-off would consume.",
)
def q_streaming_logbin_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch_maintenance import LOGBIN

    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    return (
        _lattice_guard(spark, LOGBIN, o, "o_orderkey")
        .select(
            F.col("shift").cast("int").alias("shift"),
            F.col("bkey").cast("long").alias("bkey"),
            F.col("width").cast("long").alias("width"),
            F.col("cnt").cast("long").alias("cnt"),
            F.col("lower").cast("long").alias("lower"),
        )
        .orderBy("lower")
    )


def _psamp_stream_oracle() -> str:
    """Compose the batch priority_sample_topk oracle verbatim — the
    stream must converge to EXACTLY the batch sample (top-K-by-priority
    is order-insensitive and priorities are pure functions of the row).
    Import the provider module explicitly (the retrieval.py lesson)."""
    from ..registry import REGISTRY
    from . import selection  # noqa: F401  (registers priority_sample_topk)

    return REGISTRY["priority_sample_topk"].oracle


@register(
    "streaming_priority_sample_state",
    oracle=_psamp_stream_oracle(),
    doc="The streaming weighted-sample lattice, driver-gated at value "
    "level: documents are fed through the ACTUAL priority-sample "
    "maintenance stream (streaming/sample_maintenance.py — foreachBatch "
    "writes one bounded top-(K+1)-by-priority partial per batch, "
    "TakeOrderedAndProject inside the batch) in two availableNow runs "
    "against ONE checkpoint (the second run resumes over late-arriving "
    "files, certifying checkpoint recovery), the partials are folded by "
    "the manifest-free idempotent compaction (k-extreme lattices share "
    "the KMV guarantee: priorities are pure functions of the row, so "
    "re-absorbed partials collapse in the doc_id dedup), and the state "
    "is read back and priced (rank, tau, unbiased mass estimates). The "
    "oracle is the one-shot batch priority_sample_topk SQL over the "
    "same corpus — equality proves per-batch bounded partials + a "
    "restart boundary + the idempotent fold compose to exactly the "
    "batch sample, i.e. the 100 TB sample is MAINTAINED incrementally "
    "(K+1 rows of state per batch), never recomputed.",
)
def q_streaming_priority_sample_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selection import price_sample
    from ..streaming.sample_maintenance import SAMPLE

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    # price the folded K+1-row sample with the SAME shared pricing block
    # the batch kernel uses
    return price_sample(_lattice_guard(spark, SAMPLE, d, "doc_id")).select(
        "doc_id", "source", "w", "pri", "rk", "tau", "est_mass"
    ).orderBy("rk")


def _kmv_stream_oracle() -> str:
    """The batch k-min set per source over the WHOLE corpus — the
    stream's folded state must equal it element-for-element. Imported
    from the provider module so the hash fragment stays single-sourced
    (the retrieval.py lesson)."""
    from .sketches import _SOURCE_HASHES_SQL, K

    return f"""
    WITH pairs AS ({_SOURCE_HASHES_SQL})
    SELECT source, CAST(rk AS INTEGER) AS rk, CAST(h AS BIGINT) AS h
    FROM (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rk
      FROM pairs
    ) WHERE rk <= {K}
    """


@register(
    "streaming_kmv_state",
    oracle=_kmv_stream_oracle(),
    doc="The streaming G-set lattice, driver-gated at value level — the "
    "sixth and most forgiving member of the certified lattice family "
    "(sum: rollup/CMS/logbin; argmax: survivorship; k-extreme: "
    "priority sample; k-min G-set: this). Documents are fed through "
    "the ACTUAL KMV maintenance stream (streaming/sketch_maintenance "
    "— foreachBatch writes one bounded k-min partial per batch) in "
    "two availableNow runs against ONE checkpoint (restart "
    "certification), the state is compacted and read, and each "
    "source's folded k-min list is exploded to (source, rk, h) rows. "
    "The oracle is the batch k smallest DISTINCT token hashes per "
    "source over the whole corpus — element-for-element equality "
    "proves the k-min merge is a true idempotent lattice join across "
    "batch partials, a restart boundary, AND compaction: re-delivered "
    "duplicates are absorbed by the set semantics with no anti-join "
    "anywhere (the CRDT property the module header names).",
)
def q_streaming_kmv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch_maintenance import KMV

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text", "source")
    return (
        _lattice_guard(spark, KMV, d, "doc_id")
        .select("source", F.posexplode("kmin").alias("pos", "h"))
        .select(
            "source",
            (F.col("pos") + 1).cast("int").alias("rk"),
            F.col("h").cast("long").alias("h"),
        )
        .orderBy("source", "rk")
    )


def _hll_stream_oracle() -> str:
    """The batch register file per source over the WHOLE corpus — the
    stream's folded state must equal it register-for-register. Imported
    from the provider module so the hash/rho fragments stay
    single-sourced (the retrieval.py lesson)."""
    from .sketches import _SOURCE_HASHES_SQL, _hll_regs_sql

    return f"""
    WITH regs AS ({_hll_regs_sql(_SOURCE_HASHES_SQL, "source")})
    SELECT source, CAST(reg AS BIGINT) AS reg, CAST(mrho AS BIGINT) AS mrho
    FROM regs ORDER BY source, reg
    """


@register(
    "streaming_hll_state",
    oracle=_hll_stream_oracle(),
    doc="The streaming max-merge lattice, driver-gated at value level — "
    "the seventh certified lattice family (sum: rollup/CMS/logbin; "
    "argmax: survivorship; k-extreme: priority sample; k-min G-set: "
    "KMV; per-register max: this). Documents are fed through the "
    "ACTUAL HLL maintenance stream (streaming/sketch_maintenance — "
    "foreachBatch writes one <= sources x 256-row register partial per "
    "batch) in two availableNow runs against ONE checkpoint (restart "
    "certification), the state is compacted and read, and the folded "
    "register file is emitted as (source, reg, mrho) rows. The oracle "
    "is the batch register build over the whole corpus — register-for-"
    "register equality proves max-merge is a true idempotent lattice "
    "join across batch partials, a restart boundary, AND compaction "
    "(re-delivered duplicates are absorbed by max with no anti-join), "
    "i.e. the cardinality state a 100 TB deployment would checkpoint "
    "is maintained in O(sources x 256) rows per batch, never "
    "recomputed from the stream.",
)
def q_streaming_hll_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch_maintenance import HLL

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text", "source")
    return (
        _lattice_guard(spark, HLL, d, "doc_id")
        .select(
            "source",
            F.col("reg").cast("long").alias("reg"),
            F.col("mrho").cast("long").alias("mrho"),
        )
        .orderBy("source", "reg")
    )


def _bloom_stream_oracle() -> str:
    """The packed saved-set bitmap over the WHOLE orders corpus — the
    stream's folded state must equal it word-for-word. Imported from the
    provider module so the hash/packing fragments stay single-sourced."""
    from ..sources.synthetic import SAVED_LIST_SQL
    from .selection import bloom_words_sql

    urls = f"SELECT DISTINCT url FROM ({SAVED_LIST_SQL})"
    return f"""
    SELECT word, bits FROM ({bloom_words_sql(urls)}) ORDER BY word
    """


@register(
    "streaming_bloom_state",
    oracle=_bloom_stream_oracle(),
    doc="The streaming bitwise-OR lattice, driver-gated at value level — "
    "the eighth certified lattice family (sum: rollup/CMS/logbin; "
    "argmax: survivorship; k-extreme: priority sample; k-min G-set: "
    "KMV; per-register max: HLL; packed-word OR: this). Orders are fed "
    "through the ACTUAL Bloom maintenance stream "
    "(streaming/sketch_maintenance — foreachBatch writes one "
    "<= ceil(m/62)-row packed-bitmap partial per batch from the "
    "batch's saved-list urls) in two availableNow runs against ONE "
    "checkpoint (restart certification), the state is compacted and "
    "read, and the folded bitmap is emitted as (word, bits) rows. The "
    "oracle is the batch bitmap build over the whole corpus — "
    "word-for-word equality proves OR-merge is a true idempotent "
    "lattice join across batch partials, a restart boundary, AND "
    "compaction (re-delivered duplicates are absorbed by OR with no "
    "anti-join), i.e. the saved-set membership filter a 100 TB ingest "
    "keeps live for resume_bloom_prefilter's probe side is maintained "
    "in O(m/62) rows per batch, never rebuilt from the checkpoint "
    "table.",
)
def q_streaming_bloom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sketch_maintenance import BLOOM

    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    return (
        _lattice_guard(spark, BLOOM, o, "o_orderkey")
        .select(
            F.col("word").cast("long").alias("word"),
            F.col("bits").cast("long").alias("bits"),
        )
        .orderBy("word")
    )


# --- watermark lateness sweep -------------------------------------------------

# Deterministic arrival model for the batch events table: the fixture's
# event_id order IS event-time order (zero jitter), so a lateness study
# needs a synthesized network delay — hash-assigned per event (Knuth
# multiplicative, mod 600 s), the same public-fixture idiom as
# sources/synthetic.py's url synthesis. Both engines compute it from
# the same BIGINT arithmetic, so the sweep is value-checked end to end.
_WM_DELAY_MOD = 600  # max synthetic network delay, seconds
_WM_MULT = 2_654_435_761
_WM_P = 2_147_483_647
_WM_SWEEP = [0, 60, 120, 300, 600]  # candidate withWatermark() thresholds, s


def _wm_lateness_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS eps,
             CAST(floor(epoch(ts)) AS BIGINT)
               + (event_id * {_WM_MULT}) % {_WM_P} % {_WM_DELAY_MOD} AS arr
      FROM events
    ),
    wm AS (
      SELECT event_id, eps,
             max(eps) OVER (ORDER BY arr, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS wm_eps
      FROM e
    ),
    lat AS (SELECT eps, wm_eps - eps AS late_s, eps // 3600 AS win FROM wm),
    sweep AS (SELECT unnest(ARRAY{_WM_SWEEP}) AS allowed_lateness_s)
    SELECT s.allowed_lateness_s,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_s > s.allowed_lateness_s THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           round(CAST(SUM(CASE WHEN late_s > s.allowed_lateness_s THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dropped_frac,
           CAST(COUNT(DISTINCT CASE WHEN late_s > s.allowed_lateness_s THEN win END) AS BIGINT)
             AS n_windows_losing,
           MAX(CASE WHEN late_s > s.allowed_lateness_s THEN late_s END)
             AS max_dropped_late_s
    FROM lat, sweep s
    GROUP BY 1 ORDER BY 1
    """


@register(
    "watermark_lateness_sweep",
    oracle=_wm_lateness_oracle(),
    doc="Watermark threshold tuner (the fourth parameter-sweep report, "
    "after minhash_band_sweep / ivf_probe_sweep / nsw_probe_sweep): for "
    "each candidate withWatermark() delay, how many events Structured "
    "Streaming would DROP, what fraction, how many hourly event-time "
    "windows lose data, and the worst dropped lateness — the table a "
    "team reads before pinning allowed lateness on a production stream "
    "(streaming/windows.py consumes the chosen value). Lateness is "
    "computed against the exact streaming semantics: watermark at "
    "arrival = max event time seen so far; an event is dropped iff its "
    "lateness exceeds the threshold. SCALE SHAPE: the running max is "
    "NOT a single-partition global window — arrivals are chunked by "
    "hour, each chunk computes its inclusive cumulative max in "
    "parallel, and the exclusive cross-chunk prefix is folded on the "
    "bounded chunk table (one row per hour) and broadcast back: the "
    "classic two-phase distributed prefix scan, so the plan holds at "
    "any event volume. The DuckDB oracle runs the naive global window "
    "— value equality proves the two-phase decomposition exact.",
)
def q_watermark_lateness_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, "events", sf_dir).select(
        "event_id", F.unix_timestamp("ts").alias("eps")
    )
    e = e.withColumn(
        "arr", F.col("eps") + (F.col("event_id") * _WM_MULT) % _WM_P % _WM_DELAY_MOD
    ).withColumn("chunk", F.expr("arr div 3600"))

    # phase 1: parallel within-chunk inclusive running max of event time
    w_in = (
        Window.partitionBy("chunk")
        .orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    e = e.withColumn("cum_in", F.max("eps").over(w_in))

    # phase 2: exclusive prefix max over the bounded chunk table (one row
    # per arrival hour — window over a broadcastable frame, not the data)
    chunk_max = e.groupBy("chunk").agg(F.max("eps").alias("cmax"))
    w_pre = (
        Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = chunk_max.select(
        "chunk", F.max("cmax").over(w_pre).alias("prefix_excl")
    )
    lat = (
        e.join(F.broadcast(prefix), "chunk")
        .select(
            "eps",
            (
                F.greatest(F.col("cum_in"), F.coalesce("prefix_excl", F.col("cum_in")))
                - F.col("eps")
            ).alias("late_s"),
            F.expr("eps div 3600").alias("win"),
        )
    )
    sweep = F.explode(F.array(*[F.lit(w) for w in _WM_SWEEP])).alias(
        "allowed_lateness_s"
    )
    dropped = F.col("late_s") > F.col("allowed_lateness_s")
    return (
        lat.select("*", sweep)
        .groupBy("allowed_lateness_s")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.when(dropped, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
            F.round(
                F.sum(F.when(dropped, 1).otherwise(0)).cast("double") / F.count("*"), 6
            ).alias("dropped_frac"),
            F.countDistinct(F.when(dropped, F.col("win")))
            .cast("bigint")
            .alias("n_windows_losing"),
            F.max(F.when(dropped, F.col("late_s"))).alias("max_dropped_late_s"),
        )
        .orderBy("allowed_lateness_s")
    )


# --- the ninth lattice family: streaming per-source ingest profile -----------


@register(
    "streaming_profile_state",
    oracle="""
    SELECT source,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(MIN(length(text)) AS BIGINT) AS min_chars,
           CAST(MAX(length(text)) AS BIGINT) AS max_chars
    FROM documents GROUP BY source ORDER BY source
    """,
    doc="The streaming MIN/MAX-extrema lattice, driver-gated at value "
    "level — the NINTH certified lattice family, and the proof that "
    "streaming/lattice.py's protocol extraction holds: the family is a "
    "single declaration (the PROFILE constant in "
    "streaming/profile_maintenance.py) — a one-row-per-source batch "
    "partial and a min/max fold — inheriting "
    "replay repair, reading-is-merging, restart, and sweep compaction "
    "from the shared module. Documents are fed through the ACTUAL "
    "maintenance stream in two availableNow runs against ONE "
    "checkpoint, the state is compacted and read, and the folded "
    "profile is emitted as per-source doc-id/length extrema. The "
    "oracle is the batch profile over the whole corpus — equality "
    "proves min/max-merge is a true idempotent lattice join across "
    "batch partials, a restart boundary, AND compaction. At 100 TB "
    "this is the live catalog-statistics profile an ingest keeps so "
    "'what id range / document sizes has source X shipped?' never "
    "scans the lake.",
)
def q_streaming_profile_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.profile_maintenance import PROFILE

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text", "source")
    return _lattice_guard(spark, PROFILE, d, "doc_id").orderBy("source")


# --- the tenth lattice family: streaming top-k heavy hitters ------------------


@register(
    "streaming_topk_state",
    # Exact token counts: at fixture scale every micro-batch's
    # vocabulary fits the K_CAND=64 counter budget, so each MG
    # reduction's c* is 0, the summed error is 0, and the folded
    # summary IS the exact count table — cnt_min = cnt_max = true
    # count. The truncating path (c* > 0) is pinned by the
    # planted-skew unit test, which asserts the MG bound per item.
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    counts AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks WHERE length(word) > 0 GROUP BY word
    )
    SELECT word, cnt AS cnt_min, cnt AS cnt_max, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY cnt DESC, word) AS rk
          FROM counts)
    WHERE rk <= 10 ORDER BY rk
    """,
    doc="The streaming top-k heavy-hitter lattice (Misra-Gries /"
    "SpaceSaving under the mergeable-summaries merge — counters sum, "
    "reduction errors add), driver-gated at value level — the TENTH "
    "lattice family (streaming/topk_maintenance.py): each micro-batch "
    "writes a bounded MG summary (<= 64 counter rows + one error "
    "marker), folds are manifest-committed like the other SUM families "
    "(CMS/logbin), and the surfaced state carries per-item bounds "
    "cnt_min <= true <= cnt_max. Documents flow through the ACTUAL "
    "maintenance stream in two availableNow runs against ONE "
    "checkpoint, the state is compacted and read; the oracle is the "
    "exact top-10 token-count SQL — equality proves the partial + "
    "restart + manifest-compaction chain composes to exact counting "
    "whenever vocabularies fit the budget (and the planted-skew unit "
    "test certifies the bound when they don't). At 100 TB: state is "
    "O(batches x 65 rows), never vocabulary-sized.",
)
def q_streaming_topk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.topk_maintenance import TOPK

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text", "source")
    return _lattice_guard(spark, TOPK, d, "doc_id").orderBy("rk")


# --- the eleventh lattice family: streaming LSH bucket-index maintenance ------


def _lshindex_stream_oracle() -> str:
    from ..operators.similarity import _MT_BUCKET_SQL, N_TABLES
    from ..streaming.lshindex_maintenance import STREAM_PLANES

    return f"""
    WITH pl AS (SELECT {STREAM_PLANES} AS p)
    SELECT e.vec_id, CAST(t.t AS INTEGER) AS t, {_MT_BUCKET_SQL} AS bucket
    FROM embeddings e
    CROSS JOIN (SELECT unnest(range(0, {N_TABLES})) AS t) t
    CROSS JOIN pl
    ORDER BY e.vec_id, t.t
    """


@register(
    "streaming_lsh_index_state",
    oracle=_lshindex_stream_oracle(),
    doc="Streaming maintenance of the multi-table LSH bucket index — "
    "the ELEVENTH lattice family (streaming/lshindex_maintenance.py), "
    "closing the incremental-ANN loop for a continuously ingesting "
    "lake: each micro-batch of newly landed vectors writes its own "
    "bucket rows (8 per vector, a map-only projection — exactly what "
    "knn_lsh_incremental's delta shard holds), the merge is a DISTINCT "
    "union (idempotent G-set: producer re-delivery is absorbed, "
    "compaction is the sweep protocol), and the folded state IS the "
    "persisted index the probes read — row-for-row equal to the batch "
    "bucket_index at the pinned plane count (re-planing = rebuild, "
    "scheduled out-of-band). Vectors flow through the ACTUAL "
    "maintenance stream in two availableNow runs against ONE "
    "checkpoint, the state is compacted and read; the oracle is the "
    "deterministic-hyperplane bucket SQL every LSH key shares. Append "
    "maintenance cost: O(|batch| x 8) rows, never a corpus rescan.",
)
def q_streaming_lsh_index_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.lshindex_maintenance import LSHINDEX

    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding", "label")
    return _lattice_guard(spark, LSHINDEX, e, "vec_id").orderBy("vec_id", "t")
