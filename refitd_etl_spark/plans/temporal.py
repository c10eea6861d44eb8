"""Temporal / event-stream queries over the `events` table.

Batch equivalents of the Structured Streaming stage (SURVEY §2.9): the
reference *specifies* freshness decay + event-driven refresh queues
(docs/Inventory Ingestion & Freshness Pipeline) but implements none —
these are the new-capability operators, written so the same logic runs
under `readStream` (see refitd_etl_spark.streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import table
from .base import dec_sum, query

TS_FMT = "yyyy-MM-dd HH:mm:ss"
SESSION_GAP_MIN = 30
REF_NOW = "2024-02-01 00:00:00"  # fixed reference instant for decay


@query(
    "hourly_event_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    survey_ops="streaming,A7",
    bench=True,
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts/sums per event type.

    The streaming twin adds `withWatermark("ts", "1 hour")` and runs the
    identical aggregation incrementally (streaming/freshness.py).
    """
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        F.expr(f"date_format(date_trunc('hour', ts), '{TS_FMT}') AS window_start"),
        "event_type",
    ).agg(F.expr("count(*) AS n_events"), F.expr(f"{dec_sum('value')} AS total_value"))


@query(
    "user_sessionization",
    oracle=f"""
    WITH deltas AS (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id,
               -- floor(epoch()) matches Spark's integer-second unix_timestamp
               CASE WHEN prev_ts IS NULL
                         OR (epoch_us(ts) // 1000000) - (epoch_us(prev_ts) // 1000000) > {SESSION_GAP_MIN} * 60
                    THEN 1 ELSE 0 END AS new_session
        FROM deltas
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS DOUBLE) / SUM(new_session) AS avg_events_per_session
    FROM flagged
    GROUP BY user_id
    """,
    survey_ops="streaming,W1",
)
def user_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user.

    Batch twin of a `session_window` streaming aggregation. One shuffle
    on user_id serves both the lag window and the final rollup.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > SESSION_GAP_MIN * 60),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        (F.count("*").cast("double") / F.sum("new_session")).alias("avg_events_per_session"),
    )


@query(
    "freshness_decay",
    oracle=f"""
    WITH latest AS (
        SELECT user_id, MAX(ts) AS last_seen, COUNT(*) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           strftime(last_seen, '%Y-%m-%d %H:%M:%S') AS last_seen_at,
           1.0 / (1.0 + (floor(epoch(TIMESTAMP '{REF_NOW}')) - (epoch_us(last_seen) // 1000000)) / 86400.0) AS confidence,
           CASE WHEN 1.0 / (1.0 + (floor(epoch(TIMESTAMP '{REF_NOW}')) - (epoch_us(last_seen) // 1000000)) / 86400.0) < 0.05
                THEN 'refresh' ELSE 'fresh' END AS refresh_state
    FROM latest
    """,
    survey_ops="streaming,§2.9",
)
def freshness_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence decay + refresh-queue classification.

    Implements the freshness spec's confidence-decay model (reference
    docs/Inventory Ingestion & Freshness Pipeline:110-231) as a batch
    scalar: rational decay 1/(1 + age_days) against a pinned reference
    instant, thresholded into a refresh queue. (Rational, not exp():
    libm transcendentals differ across engines; division does not.)
    """
    e = table(spark, sf_dir, "events")
    latest = e.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"), F.count("*").alias("n_events")
    )
    age_days = (
        F.unix_timestamp(F.lit(REF_NOW).cast("timestamp")) - F.unix_timestamp("last_seen")
    ) / 86400.0
    conf = F.lit(1.0) / (F.lit(1.0) + age_days)
    return latest.select(
        "user_id",
        "n_events",
        F.date_format("last_seen", TS_FMT).alias("last_seen_at"),
        conf.alias("confidence"),
        F.when(conf < 0.05, F.lit("refresh")).otherwise(F.lit("fresh")).alias("refresh_state"),
    )


@query(
    "refresh_queue_priorities",
    oracle=f"""
    WITH latest AS (
        SELECT user_id, MAX(ts) AS last_seen, COUNT(*) AS n_events
        FROM events GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, n_events,
               n_events * (1.0 - 1.0 / (1.0 + (floor(epoch(TIMESTAMP '{REF_NOW}'))
                                               - (epoch_us(last_seen) // 1000000)) / 86400.0)) AS refresh_priority
        FROM latest
    )
    SELECT user_id, n_events, refresh_priority
    FROM scored
    ORDER BY refresh_priority DESC, user_id
    LIMIT 10
    """,
    survey_ops="streaming,§2.9,W2",
)
def refresh_queue_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh-queue ranking: priority = activity × staleness, top-10.

    Implements the freshness spec's 'selective refresh queue' (reference
    docs/Inventory Ingestion & Freshness Pipeline:178-208): frequently
    seen entities whose snapshot has decayed most get refreshed first.
    """
    e = table(spark, sf_dir, "events")
    latest = e.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"), F.count("*").alias("n_events")
    )
    age_days = (
        F.unix_timestamp(F.lit(REF_NOW).cast("timestamp")) - F.unix_timestamp("last_seen")
    ) / 86400.0
    staleness = F.lit(1.0) - F.lit(1.0) / (F.lit(1.0) + age_days)
    return (
        latest.select(
            "user_id",
            "n_events",
            (F.col("n_events") * staleness).alias("refresh_priority"),
        )
        .orderBy(F.col("refresh_priority").desc(), F.col("user_id"))
        .limit(10)
    )


@query(
    "props_json_rollup",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE)
               / COUNT(*) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    survey_ops="A5,JSONB",
)
def props_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column: JSON-path extraction + rollup — the
    engine-side shape of the reference's JSONB queries (GIN-indexed
    tags_final predicates become parsed-column expressions; SURVEY §4.1
    partition-pruning note)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        (F.sum(k).cast("double") / F.count("*")).alias("avg_k"),
    )


@query(
    "asof_click_before_purchase",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'click' THEN event_id END AS click_id,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    filled AS (
        SELECT user_id, ts, event_id, event_type,
               last_value(click_id IGNORE NULLS) OVER w AS last_click_id,
               last_value(click_ts IGNORE NULLS) OVER w AS last_click_ts
        FROM tagged
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id AS purchase_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_at,
           last_click_id,
           strftime(last_click_ts, '%Y-%m-%d %H:%M:%S') AS last_click_at,
           CAST(CASE WHEN last_click_ts IS NOT NULL
                THEN (epoch_us(ts) // 1000000) - (epoch_us(last_click_ts) // 1000000) END AS BIGINT) AS gap_seconds
    FROM filled WHERE event_type = 'purchase'
    """,
    survey_ops="asof-join,streaming",
)
def asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase, the most recent click at-or-before
    it (per user) — the classic temporal-join operator Spark lacks as a
    primitive, expressed as union + last_value(ignorenulls) over an
    ordered window. One shuffle on user_id; no range cross-join blowup
    (at scale: partition by user/time-bucket, same window inside).
    """
    e = table(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    tagged = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn(
        "last_click_id", F.last("click_id", ignorenulls=True).over(w)
    ).withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
    gap = F.when(
        F.col("last_click_ts").isNotNull(),
        F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts"),
    )
    return filled.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.date_format("ts", TS_FMT).alias("purchase_at"),
        "last_click_id",
        F.date_format("last_click_ts", TS_FMT).alias("last_click_at"),
        gap.cast("bigint").alias("gap_seconds"),
    )


@query(
    "range_join_bursts",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, ts,
               CAST(floor((epoch_us(ts) // 1000000) / 60) AS BIGINT) AS minute_bucket
        FROM events WHERE event_type = 'error'
    ),
    pairs AS (
        SELECT DISTINCT a.event_id AS event_a, b.event_id AS event_b,
               (epoch_us(b.ts) // 1000000) - (epoch_us(a.ts) // 1000000) AS gap_seconds
        FROM e a JOIN e b
          ON b.minute_bucket BETWEEN a.minute_bucket AND a.minute_bucket + 1
         AND a.event_id < b.event_id
         AND (epoch_us(b.ts) // 1000000) - (epoch_us(a.ts) // 1000000) BETWEEN 0 AND 60
    )
    SELECT event_a, event_b, CAST(gap_seconds AS BIGINT) AS gap_seconds FROM pairs
    """,
    survey_ops="range-join,streaming",
)
def range_join_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: error-event pairs within 60s of each other (burst
    detection), bucketed to avoid the cross-join blowup: each event
    joins only its minute bucket and the next one, then the exact
    predicate filters. At scale bucket width tunes join fan-out; this
    is the band-join pattern applied to time.
    """
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.floor(F.unix_timestamp("ts") / 60).cast("bigint").alias("minute_bucket"),
        )
    )
    a = e.select(F.col("event_id").alias("event_a"), F.col("ts").alias("ts_a"), "minute_bucket")
    b = e.select(
        F.col("event_id").alias("event_b"),
        F.col("ts").alias("ts_b"),
        F.explode(
            F.array(F.col("minute_bucket"), F.col("minute_bucket") - 1)
        ).alias("minute_bucket"),
    )
    gap = F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a")
    return (
        a.join(b, "minute_bucket")
        .filter((F.col("event_a") < F.col("event_b")) & gap.between(0, 60))
        .select("event_a", "event_b", gap.cast("bigint").alias("gap_seconds"))
        .distinct()
    )


@query(
    "daily_revenue_moving",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DECIMAL(38,2)) AS revenue
        FROM orders GROUP BY 1, 2
    )
    SELECT priority, day, CAST(revenue AS DOUBLE) AS revenue,
           CAST(SUM(revenue) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS moving_avg_7d
    FROM daily
    WINDOW w AS (PARTITION BY priority ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    survey_ops="W-frame,streaming",
)
def daily_revenue_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority daily revenue with a trailing 7-day moving average —
    the framed-window aggregate the reference lacks entirely (§2.6: no
    rank/lag/frame specs). Determinism: the frame sum runs over exact
    decimals (associative, order-free), with ONE double division at the
    end — never a windowed avg over doubles, whose fold order differs
    between engines. Keyed by priority so the window parallelizes; day
    is unique within a partition, so frame contents are unambiguous.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("decimal(38,2)").alias("revenue")
    )
    w = Window.partitionBy("priority").orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "priority",
        "day",
        F.col("revenue").cast("double").alias("revenue"),
        (F.sum("revenue").over(w).cast("double") / F.count("*").over(w)).alias("moving_avg_7d"),
    )


@query(
    "rollup_cascade",
    oracle="""
    WITH by_hour AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DECIMAL(38,2)) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT strftime(date_trunc('day', h), '%Y-%m-%d') AS day, event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS total_value,
           CAST(COUNT(*) AS BIGINT) AS active_hours
    FROM by_hour GROUP BY 1, 2
    """,
    survey_ops="rollup,A7,streaming",
)
def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup cascade: daily aggregates computed FROM
    the hourly rollup (not the raw events) — exact decimal partials
    re-aggregate losslessly, which is what makes continuous-aggregate
    maintenance valid at scale (compute fine once, derive coarse).
    """
    e = table(spark, sf_dir, "events")
    by_hour = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(28,2)")).cast("decimal(38,2)").alias("v"),
    )
    return by_hour.groupBy(
        F.date_format(F.date_trunc("day", "h"), "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("v").cast("double").alias("total_value"),
        F.count("*").cast("bigint").alias("active_hours"),
    )


def funnel_stages(e: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The funnel's per-user stage plans (view → click → purchase), each
    `groupBy(user_id).min(ts)` gated on the previous stage's timestamp.

    Takes the events DataFrame directly so callers control the physical
    layout: every shuffle in these stages is on `user_id`, so reading a
    table bucketed by user_id (bucket count = shuffle partitions)
    eliminates ALL exchanges — asserted in
    tests/test_bucketing.py and measured in SCALE.md.
    """
    win_s = 86400
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.unix_timestamp("ts") - F.unix_timestamp("t1") <= win_s)
        )
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.unix_timestamp("ts") - F.unix_timestamp("t2") <= win_s)
        )
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    return v, c, p


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t1
          AND (epoch_us(e.ts) // 1000000) - (epoch_us(v.t1) // 1000000) <= 86400
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
          AND (epoch_us(e.ts) // 1000000) - (epoch_us(c.t2) // 1000000) <= 86400
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click_after,
           (SELECT COUNT(*) FROM p) AS n_purchase_after,
           CASE WHEN (SELECT COUNT(*) FROM v) > 0 THEN
               CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
                   / (SELECT COUNT(*) FROM v) END AS view_to_click,
           CASE WHEN (SELECT COUNT(*) FROM c) > 0 THEN
               CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
                   / (SELECT COUNT(*) FROM c) END AS click_to_purchase
    """,
    survey_ops="funnel,streaming",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: a user advances a stage
    only with an event strictly after their previous stage's first
    event and within 24 h of it. Three filter+agg rounds, every shuffle
    on user_id — the stage joins are co-partitioned, so stages 2 and 3
    reuse the stage-1 exchange rather than re-shuffling (at 100 TB:
    bucket events by user_id and no funnel stage shuffles at all).
    Timestamps compare at microsecond precision in both engines (nanos
    truncate identically); window arithmetic at integer seconds.
    """
    v, c, p = funnel_stages(table(spark, sf_dir, "events"))
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click_after"))
    np_ = p.agg(F.count("*").alias("n_purchase_after"))
    return (
        nv.crossJoin(nc).crossJoin(np_)
        .select(
            "n_view", "n_click_after", "n_purchase_after",
            # Guard empty stages: Spark's non-ANSI x/0 yields NULL but
            # DuckDB yields inf/NaN — an explicit CASE pins both to NULL.
            F.when(
                F.col("n_view") > 0,
                F.col("n_click_after").cast("double") / F.col("n_view"),
            ).alias("view_to_click"),
            F.when(
                F.col("n_click_after") > 0,
                F.col("n_purchase_after").cast("double") / F.col("n_click_after"),
            ).alias("click_to_purchase"),
        )
    )


@query(
    "cohort_retention",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS signup_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT s.user_id,
               strftime(date_trunc('week', s.signup_ts), '%Y-%m-%d') AS cohort_week,
               CAST(floor(((epoch_us(e.ts) // 1000000) - (epoch_us(s.signup_ts) // 1000000)) / 604800.0) AS BIGINT) AS week_n
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.ts >= s.signup_ts
    ),
    sizes AS (
        SELECT strftime(date_trunc('week', signup_ts), '%Y-%m-%d') AS cohort_week,
               COUNT(*) AS cohort_size
        FROM s GROUP BY 1
    )
    SELECT a.cohort_week, a.week_n, COUNT(*) AS n_active,
           sizes.cohort_size,
           CAST(COUNT(*) AS DOUBLE) / sizes.cohort_size AS retention
    FROM act a JOIN sizes USING (cohort_week)
    GROUP BY a.cohort_week, a.week_n, sizes.cohort_size
    """,
    survey_ops="cohort,streaming",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by ISO signup week, then
    the share of each cohort active N weeks later (any event counts).
    The whole matrix is two aggregations over one user_id shuffle plus
    a broadcast-sized cohort join; week arithmetic is integer-second
    (floor(unix)/604800), exact in both engines. At 100 TB the DISTINCT
    (user, cohort, week) pre-aggregation is what bounds the matrix —
    it collapses raw events before the cohort rollup.
    """
    e = table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("signup_ts"))
    )
    cohort = F.date_format(F.date_trunc("week", "signup_ts"), "yyyy-MM-dd")
    act = (
        e.join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .select(
            "user_id",
            cohort.alias("cohort_week"),
            F.floor(
                (F.unix_timestamp("ts") - F.unix_timestamp("signup_ts")) / 604800.0
            ).cast("bigint").alias("week_n"),
        )
        .distinct()
    )
    sizes = s.groupBy(cohort.alias("cohort_week")).agg(F.count("*").alias("cohort_size"))
    return (
        act.groupBy("cohort_week", "week_n")
        .agg(F.count("*").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week", "week_n", "n_active", "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias("retention"),
        )
    )


@query(
    "weekly_revenue_growth",
    oracle="""
    WITH weekly AS (
        SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DECIMAL(38,2)) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT week,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(lag(revenue) OVER w AS DOUBLE) AS prev_revenue,
           CASE WHEN lag(revenue) OVER w IS NOT NULL
                THEN (CAST(revenue AS DOUBLE) - CAST(lag(revenue) OVER w AS DOUBLE))
                     / CAST(lag(revenue) OVER w AS DOUBLE) END AS wow_growth
    FROM weekly
    WINDOW w AS (ORDER BY week)
    """,
    survey_ops="lag-lead,streaming",
)
def weekly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth: lag() over the weekly decimal
    rollup, growth as one subtraction + one division on exact-decimal-
    derived doubles. The window runs over ~52 rows per year of data
    (the rollup collapses first) — at 100 TB the aggregate shuffles,
    the growth window never does; its single-partition key is DECLARED
    (`one_partition`, r6) so the plan says so instead of warning.
    """
    from ..functions.windows import one_partition

    o = table(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias("week")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("decimal(38,2)").alias("revenue"))
    w = Window.partitionBy(one_partition("week")).orderBy("week")
    prev = F.lag("revenue").over(w)
    rev_d = F.col("revenue").cast("double")
    prev_d = prev.cast("double")
    return weekly.select(
        "week",
        rev_d.alias("revenue"),
        prev_d.alias("prev_revenue"),
        F.when(prev.isNotNull(), (rev_d - prev_d) / prev_d).alias("wow_growth"),
    )


# fail-loud awaitTermination barrier shared by every streaming gate
from ..streaming.freshness import await_gate as _await_gate  # noqa: E402
from ..streaming.freshness import scaled_state_partitions as _scaled_parts  # noqa: E402


@query(
    "streaming_hourly_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    survey_ops="streaming,A7",
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly rollup executed as a Structured Streaming query
    (availableNow file stream → watermarked tumbling windows → memory
    sink) and hash-checked against the SAME SQL oracle as its batch
    twin `hourly_event_rollup` — the stream==batch equivalence is
    gated, not just unit-tested. In production the source is a queue
    and the trigger continuous; the plan is identical.
    """
    import uuid

    from ..streaming.freshness import hourly_rollup_stream, stream_events

    name = "stream_gate_" + uuid.uuid4().hex[:8]
    with _scaled_parts(spark, sf_dir):
        q = (
            hourly_rollup_stream(stream_events(spark, sf_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_gate(q)
    return spark.table(name)


@query(
    "streaming_event_dedup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    survey_ops="streaming,U1,dedup",
)
def streaming_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery collapsed by streaming dedup: the event
    stream is deliberately delivered TWICE (two file sources over the
    same data, unioned — the re-delivery a queue performs on retry) and
    `dropDuplicatesWithinWatermark` on event_id must collapse it back
    to exactly one copy. The gate hashes the hourly rollup of the
    deduped stream against the single-copy SQL oracle — if dedup under-
    or over-drops, counts diverge. State is per-event_id only within
    the watermark horizon, so it is bounded on an infinite stream.
    """
    import uuid

    from ..streaming.freshness import dedup_stream, stream_events

    doubled = stream_events(spark, sf_dir).unionByName(
        stream_events(spark, sf_dir)
    )
    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    with _scaled_parts(spark, sf_dir):
        q = (
            dedup_stream(doubled)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_gate(q)
    deduped = spark.table(name)
    return deduped.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), TS_FMT).alias("window_start"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))


@query(
    "props_variant_rollup",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_k_missing,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE)
               / COUNT(*) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    survey_ops="A5,JSONB",
)
def props_variant_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The props rollup on Spark 4's VARIANT type: `parse_json` once
    into the binary variant encoding, then every extraction
    (`try_variant_get`) reads the parsed value — the plan parses each
    JSON string exactly once however many paths are pulled, where the
    `get_json_object` twin (`props_json_rollup`) re-parses per path.
    At 100 TB the variant column is what you'd materialize at ingest
    (shredded storage), making path reads columnar. The oracle only
    validates values — DuckDB sees plain JSON.
    """
    e = table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_k_missing"),
        F.sum("k").cast("bigint").alias("sum_k"),
        (F.sum("k").cast("double") / F.count("*")).alias("avg_k"),
    )


@query(
    "user_state_intervals",
    oracle="""
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(
               strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                        '%Y-%m-%d %H:%M:%S'),
               '9999-12-31 00:00:00') AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
               AS is_current
    FROM events
    """,
    survey_ops="W5,temporal,scd2",
)
def user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style validity intervals: each user event becomes a
    [valid_from, valid_to) state row, closed by the next event's
    timestamp (lead over (ts, event_id) — total order, deterministic)
    and left open with a sentinel high date on the latest. This is the
    snapshot-table build that turns an event log into point-in-time
    joinable history (the batch shape behind `latest_event_per_user`,
    which is just the is_current slice).

    Plan: ONE window shuffle on user_id — the same key every other
    user-keyed plan uses, so a bucketed-by-user layout (see
    tests/test_bucketing.py) makes interval builds shuffle-free.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    nxt = F.lead("ts").over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", TS_FMT).alias("valid_from"),
        F.coalesce(F.date_format(nxt, TS_FMT), F.lit("9999-12-31 00:00:00")).alias(
            "valid_to"
        ),
        nxt.isNull().alias("is_current"),
    )


@query(
    "streaming_hopping_rollup",
    oracle="""
    WITH contrib AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, value
        FROM events
        UNION ALL
        SELECT strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S'),
               event_type, value
        FROM events
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM contrib
    GROUP BY window_start, event_type
    """,
    survey_ops="streaming,A7",
)
def streaming_hopping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup executed as a Structured Streaming query:
    2-hour windows hopping hourly, each event counted in both windows
    it overlaps. The oracle materializes the overlap as a two-way
    UNION ALL of hour-aligned contributions — slide-aligned window
    starts are a pure function of ts, so the streamed state and the
    batch SQL agree exactly. Epoch-aligned slides mean at 100 TB this
    is still one shuffle keyed on (window, type); state per open
    window is bounded by the watermark.
    """
    import uuid

    from ..streaming.freshness import hopping_rollup_stream, stream_events

    name = "stream_hop_" + uuid.uuid4().hex[:8]
    with _scaled_parts(spark, sf_dir):
        q = (
            hopping_rollup_stream(stream_events(spark, sf_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_gate(q)
    return spark.table(name)


def _sentinel_events(spark: SparkSession, sf_dir: str, gap_hours: int) -> DataFrame:
    """One far-future '_sentinel' event (user_id/event_id = -1, ts =
    max real ts + gap_hours) — rides in a final split file so every
    watermark passes every real window and append-mode aggregations
    flush completely before the stream ends (the same trick the
    left-outer interval gate uses for expiry-driven null emission)."""
    from ..sources.registry import table

    e = table(spark, sf_dir, "events")
    return (
        e.limit(1)
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("_sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        .crossJoin(
            e.agg(
                (
                    F.max(F.col("ts").cast("timestamp"))
                    + F.expr(f"interval {gap_hours} hours")
                ).alias("_far")
            )
        )
        .select(
            "event_id", F.col("_far").alias("ts"), "user_id", "event_type", "value", "props"
        )
    )


def _rollup_multibatch_table(
    spark: SparkSession,
    sf_dir: str,
    split_dir: str,
    stream_fn,
    sentinel_gap_hours: int,
    min_batches: int = 4,
) -> DataFrame:
    """Shared runner for the append-mode multibatch rollup gates: split
    events into 3 time-contiguous files + a sentinel file, stream with
    maxFilesPerTrigger=1 so the watermark advances per batch, and
    return the memory-sink table (sentinel windows filtered). Raises if
    the run collapsed below `min_batches` non-empty micro-batches."""
    import uuid

    from ..streaming.multibatch import (
        split_events_by_time,
        stream_split_events,
        write_part_file,
    )

    split_events_by_time(spark, sf_dir, split_dir, n_parts=3)
    write_part_file(
        _sentinel_events(spark, sf_dir, sentinel_gap_hours), split_dir, "sentinel", seq=10.0
    )
    # IMPORTANT: the sentinel must be filtered BATCH-side, from the
    # memory table. An in-stream filter on event_type (a grouping
    # column) is pushed below the aggregate and into the file scan by
    # Catalyst, so the sentinel row would never reach the watermark
    # node and the flush it exists for would not happen. Append mode
    # never emits the sentinel's own window anyway (the watermark
    # stops sentinel_gap short of it) — the batch filter is belt and
    # braces.
    rolled = stream_fn(stream_split_events(spark, split_dir))
    name = "stream_mb_" + uuid.uuid4().hex[:8]
    with _scaled_parts(spark, sf_dir):
        q = (
            rolled.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_gate(q)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    if n_batches < min_batches:
        raise RuntimeError(
            f"multibatch rollup gate ran {n_batches} non-empty micro-batches; "
            f"expected >= {min_batches} (3 splits + sentinel)"
        )
    # eqNullSafe: a plain != would also drop rows whose event_type is
    # NULL (NULL != '_sentinel' is NULL → filtered), silently diverging
    # from the DuckDB oracle, which keeps the NULL group.
    return spark.table(name).filter(~F.col("event_type").eqNullSafe("_sentinel"))


@query(
    "streaming_hourly_rollup_multibatch",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    survey_ops="streaming,A7",
)
def streaming_hourly_rollup_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly rollup across ≥4 REAL micro-batches in APPEND mode
    (r7, VERDICT r6 item 6): unlike the single-batch `complete`-mode
    twin, each window is emitted exactly once — WHEN the advancing
    watermark finalizes it — so cross-batch accumulation, watermark-
    driven window finalization, and state eviction are all on the
    gated path (the sentinel's final batch pushes the watermark past
    every real window; the availableNow no-data flush drains the
    rest). Hash-equal to the identical batch SQL oracle or the gate
    reds. Eviction metrics (numRowsRemoved > 0) are pinned in
    tests/test_streaming_multibatch.py.
    """
    import shutil
    import tempfile

    from ..streaming.freshness import hourly_rollup_stream

    split_dir = tempfile.mkdtemp(prefix="hr_split_")
    try:
        # 2h watermark: sentinel at +4h puts the final watermark at
        # max_ts+2h > every real 1h-window end (trunc(max)+1h)
        return _rollup_multibatch_table(
            spark, sf_dir, split_dir, hourly_rollup_stream, sentinel_gap_hours=4
        )
    finally:
        shutil.rmtree(split_dir, ignore_errors=True)


@query(
    "streaming_hopping_rollup_multibatch",
    oracle="""
    WITH contrib AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, value
        FROM events
        UNION ALL
        SELECT strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S'),
               event_type, value
        FROM events
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM contrib
    GROUP BY window_start, event_type
    """,
    survey_ops="streaming,A7",
)
def streaming_hopping_rollup_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h windows across real micro-batches in APPEND mode
    (r7): every event sits in TWO open windows, so per-batch state
    carries twice the open-window count and the watermark finalizes
    overlapping windows in slide order — the multi-batch behavior the
    single-batch `complete` twin never exercised. Same two-way
    UNION-ALL batch oracle; sentinel at +6h (3h watermark + 2h window
    + margin) flushes the tail windows."""
    import shutil
    import tempfile

    from ..streaming.freshness import hopping_rollup_stream

    split_dir = tempfile.mkdtemp(prefix="hop_split_")
    try:
        return _rollup_multibatch_table(
            spark, sf_dir, split_dir, hopping_rollup_stream, sentinel_gap_hours=6
        )
    finally:
        shutil.rmtree(split_dir, ignore_errors=True)


@query(
    "streaming_event_dedup_multibatch",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    survey_ops="streaming,U1,dedup",
)
def streaming_event_dedup_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with CROSS-BATCH re-delivery (r7): the first
    split file's rows are re-delivered as an extra file sequenced
    between parts 1 and 2 — the one-batch-later retry a real queue
    performs — so `dropDuplicatesWithinWatermark` must collapse
    duplicates against STATE FROM AN EARLIER MICRO-BATCH, not just
    within one trigger (the single-batch twin's union delivers both
    copies together). Re-delivered rows land either on dedup state
    (event-time within the watermark) or on the late-drop path
    (older than the advanced watermark) — by the within-watermark
    contract both leave exactly one copy, so the rollup hash-equals
    the single-copy batch oracle either way, and
    tests/test_streaming_multibatch.py pins that both paths actually
    fired (numRowsDroppedByWatermark + dedup state eviction)."""
    import shutil
    import tempfile
    import uuid

    from ..streaming.freshness import dedup_stream
    from ..streaming.multibatch import (
        split_events_by_time,
        stream_split_events,
        write_part_file,
    )

    split_dir = tempfile.mkdtemp(prefix="ddmb_split_")
    try:
        paths = split_events_by_time(spark, sf_dir, split_dir, n_parts=3)
        # re-deliver part0 one batch after part1 (mtime seq 1.5)
        write_part_file(
            spark.read.parquet(paths[0]), split_dir, "redelivery0", seq=1.5
        )
        name = "stream_ddmb_" + uuid.uuid4().hex[:8]
        with _scaled_parts(spark, sf_dir):
            q = (
                dedup_stream(stream_split_events(spark, split_dir))
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_gate(q)
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        if n_batches < 4:
            raise RuntimeError(
                f"dedup multibatch gate ran {n_batches} non-empty micro-batches; "
                "expected >= 4 (3 splits + redelivery)"
            )
        deduped = spark.table(name)
        return deduped.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), TS_FMT).alias("window_start"),
            "event_type",
        ).agg(F.count("*").alias("n_events"))
    finally:
        shutil.rmtree(split_dir, ignore_errors=True)


@query(
    "streaming_stateful_tracker_multibatch",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen_at
    FROM events
    GROUP BY user_id
    """,
    survey_ops="streaming,X-custom-state,A6",
)
def streaming_stateful_tracker_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator (`applyInPandasWithState` — the
    escape hatch for semantics built-in aggregations can't express)
    across ≥3 real micro-batches (r7): per-user running count +
    last-seen, update-mode re-emission per batch. Until now this
    surface ran single-batch only (even its pytest), so the state
    GroupState carry-over — read state written by an EARLIER batch,
    add to it, write back — was never executed. Here each user's final
    emission must carry the SUM across all three batches: the gate
    takes each user's max-n_events emission (cumulative counts are
    monotone) and hash-checks it against the batch COUNT/MAX oracle —
    counts only add up if cross-batch state actually accumulated.

    State is one row per user (bounded by key cardinality), engine-
    checkpointed — the 100 TB shape for decaying counters/conditional
    resets that `transformWithState` generalizes."""
    import shutil
    import tempfile
    import uuid

    from ..streaming.freshness import stateful_user_tracker
    from ..streaming.multibatch import split_events_by_time, stream_split_events

    split_dir = tempfile.mkdtemp(prefix="sst_split_")
    try:
        split_events_by_time(spark, sf_dir, split_dir, n_parts=3)
        name = "stream_sst_" + uuid.uuid4().hex[:8]
        with _scaled_parts(spark, sf_dir):
            q = (
                stateful_user_tracker(stream_split_events(spark, split_dir))
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            _await_gate(q)
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        if n_batches < 3:
            raise RuntimeError(
                f"stateful tracker gate ran {n_batches} non-empty micro-batches; "
                "expected >= 3 (one per split file)"
            )
        emissions = spark.table(name)
        return emissions.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.date_format(
                F.max_by("last_seen", "n_events"), TS_FMT
            ).alias("last_seen_at"),
        )
    finally:
        shutil.rmtree(split_dir, ignore_errors=True)


@query(
    "first_touch_attribution",
    oracle="""
    WITH first_click AS (
        SELECT user_id,
               MIN(ts) AS first_click_ts,
               MIN(event_id) FILTER (
                   WHERE ts = (SELECT MIN(c2.ts) FROM events c2
                               WHERE c2.user_id = events.user_id
                                 AND c2.event_type = 'click')
               ) AS first_click_id
        FROM events WHERE event_type = 'click'
        GROUP BY user_id
    )
    SELECT p.event_id AS purchase_id, p.user_id,
           f.first_click_id,
           strftime(f.first_click_ts, '%Y-%m-%d %H:%M:%S') AS first_click_at,
           CAST((epoch_us(p.ts) // 1000000) - (epoch_us(f.first_click_ts) // 1000000) AS BIGINT)
               AS seconds_since_first_click
    FROM events p
    JOIN first_click f ON p.user_id = f.user_id
    WHERE p.event_type = 'purchase' AND p.ts >= f.first_click_ts
    """,
    survey_ops="J4,W4,temporal",
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase joined to its user's
    FIRST-ever click (the acquisition touchpoint — the as-of join
    `asof_click_before_purchase` is the last-touch twin). The first
    click per user is min_by over (ts, event_id) — a single map-side-
    combinable aggregate, cheaper than a window sort — and the age is
    integer epoch subtraction, exact on both engines.

    Plan: one groupBy on user_id (the shared key — shuffle-free under
    the bucketed layout), then one equi-join of purchases against the
    per-user single-row table, which AQE broadcasts at test scale and
    hash-joins at 100 TB.
    """
    e = table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click")
    first = clicks.groupBy("user_id").agg(
        F.min("ts").alias("first_click_ts"),
        F.min_by("event_id", F.struct("ts", "event_id")).alias("first_click_id"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    return (
        p.join(first, "user_id")
        .where(F.col("p_ts") >= F.col("first_click_ts"))
        .select(
            "purchase_id",
            "user_id",
            "first_click_id",
            F.date_format("first_click_ts", TS_FMT).alias("first_click_at"),
            (
                F.unix_timestamp("p_ts") - F.unix_timestamp("first_click_ts")
            ).cast("bigint").alias("seconds_since_first_click"),
        )
    )


@query(
    "event_gap_detection",
    oracle="""
    WITH bounds AS (
        SELECT event_type,
               date_trunc('hour', MIN(ts)) AS h_min,
               date_trunc('hour', MAX(ts)) AS h_max
        FROM events GROUP BY event_type
    ),
    spine AS (
        SELECT event_type, unnest(generate_series(h_min, h_max, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    actual AS (
        SELECT DISTINCT event_type, date_trunc('hour', ts) AS h FROM events
    )
    SELECT s.event_type,
           COUNT(*) AS n_expected_hours,
           CAST(SUM(CASE WHEN a.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_hours,
           COALESCE(MIN(CASE WHEN a.h IS NULL
                             THEN strftime(s.h, '%Y-%m-%d %H:%M:%S') END), '')
               AS first_gap
    FROM spine s LEFT JOIN actual a
      ON s.event_type = a.event_type AND s.h = a.h
    GROUP BY s.event_type
    """,
    survey_ops="temporal,quality,S6",
)
def event_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness check: per event type, the expected hour spine
    (min..max observed hour, `sequence`-generated) anti-checked against
    the hours that actually contain data — expected/missing hour counts
    and the first gap. The monitoring query every ingestion pipeline
    runs to catch silent upstream stalls.

    Plan: the spine comes from a per-type 2-row aggregate exploded
    map-side (tiny), the actual-hours set is one distinct on
    (type, hour) — both orders smaller than the raw events; the left
    join is broadcast at any realistic type cardinality.
    """
    e = table(spark, sf_dir, "events")
    bounds = e.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("h_min"),
        F.date_trunc("hour", F.max("ts")).alias("h_max"),
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("h_min", "h_max", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    actual = e.select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).distinct().withColumn("present", F.lit(1))
    joined = spine.join(actual, ["event_type", "h"], "left")
    missing = F.when(F.col("present").isNull(), 1).otherwise(0)
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_expected_hours"),
        F.sum(missing).alias("n_missing_hours"),
        F.coalesce(
            F.min(
                F.when(
                    F.col("present").isNull(), F.date_format("h", TS_FMT)
                )
            ),
            F.lit(""),
        ).alias("first_gap"),
    )


@query(
    "dau_wau_stickiness",
    oracle="""
    WITH daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
               COUNT(DISTINCT user_id) AS dau
        FROM events GROUP BY 1, 2
    ),
    weekly AS (
        SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
               COUNT(DISTINCT user_id) AS wau
        FROM events GROUP BY 1
    )
    SELECT d.day, d.week, d.dau, w.wau,
           CAST(d.dau AS DOUBLE) / w.wau AS stickiness
    FROM daily d JOIN weekly w ON d.week = w.week
    """,
    survey_ops="A7,temporal",
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness: daily distinct actives over the containing
    ISO week's distinct actives — the engagement ratio product
    dashboards track. Integer distinct counts and one final division.

    Plan: two distinct aggregations over the same scan (day grain and
    week grain), joined on week — the weekly side is
    weeks-cardinality, so it broadcasts. At 100 TB the exact distincts
    become the HLL sketches `sketch_profile` demonstrates, merged per
    grain instead of recounted.
    """
    e = table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    week = F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias("week")
    daily = e.groupBy(day, week).agg(F.countDistinct("user_id").alias("dau"))
    weekly = e.groupBy(week).agg(F.countDistinct("user_id").alias("wau"))
    return daily.join(weekly, "week").select(
        "day",
        "week",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


@query(
    "streaming_session_windows",
    oracle="""
    WITH deltas AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts, event_id,
               -- EXACT microsecond delta (r6, found by the sf0.1
               -- full-oracle pass): session_window compares full-
               -- precision event times, but this oracle truncated
               -- EACH timestamp to seconds first, so a 1799.5s gap
               -- straddling second boundaries (floor diff = 1800)
               -- opened a session the operator correctly merged —
               -- first materialized at sf0.1's event density
               CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM deltas
    ),
    sess AS (
        -- cumulate over the SAME total order as the lag window —
        -- (ts, event_id) — or same-ts boundary events can flip session
        -- membership nondeterministically
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, session_id
    """,
    survey_ops="streaming,temporal,W5",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows computed by Structured Streaming's
    built-in `session_window` stateful operator (sessions extend while
    events arrive within 30 min; window end = last event + gap,
    exclusive, so a delta of exactly the gap starts a new session —
    hence the oracle's >= boundary). Hash-gating this against the
    lag-window islands SQL proves the streaming state machine and the
    batch derivation agree event-for-event.
    """
    import uuid

    from ..streaming.freshness import session_rollup_stream, stream_events

    name = "stream_sess_" + uuid.uuid4().hex[:8]
    with _scaled_parts(spark, sf_dir):
        q = (
            session_rollup_stream(stream_events(spark, sf_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_gate(q)
    return spark.table(name)


ROLLING_RANGE_S = 3 * 3600


@query(
    "rolling_3h_event_counts",
    oracle=f"""
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS at,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY (epoch_us(ts) // 1000000)
               RANGE BETWEEN {ROLLING_RANGE_S} PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_3h
    FROM events
    """,
    survey_ops="W2,temporal,range-frame",
)
def rolling_3h_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: for every event, how many of the same user's
    events fall in the trailing 3 hours — a *value*-bounded frame
    (RANGE over epoch seconds), unlike the ROWS frames the moving
    averages use. The burst/velocity signal rate-limiters and anomaly
    rules read.

    Plan: one window shuffle on user_id (the shared bucketed key);
    second-granularity epoch ordering makes the frame identical in
    both engines regardless of how ties sit inside a second.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-ROLLING_RANGE_S, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.date_format("ts", TS_FMT).alias("at"),
        F.count("*").over(w).cast("bigint").alias("n_3h"),
    )


DEBOUNCE_S = 60


@query(
    "event_debounce",
    oracle=f"""
    WITH bucketed AS (
        SELECT user_id, event_type, event_id,
               (epoch_us(ts) // 1000000) // {DEBOUNCE_S} AS bucket,
               row_number() OVER (
                   PARTITION BY user_id, event_type, (epoch_us(ts) // 1000000) // {DEBOUNCE_S}
                   ORDER BY ts, event_id
               ) AS rn
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced
    FROM bucketed
    GROUP BY event_type
    """,
    survey_ops="temporal,dedup,W5",
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debouncing: within each (user, event_type, 60s bucket) only the
    first event survives — the double-click / retry-storm cleaner that
    runs before behavioral analytics (exact dedup removes identical
    ids; debounce removes *distinct* events that are semantically one
    action). Bucket-aligned rather than gap-based so the decision is a
    pure row function plus one keyed window — no session state.

    Plan: one window shuffle on (user, type, bucket); the report
    rollup is map-side combined. All integers.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    bucket = F.expr(f"floor(unix_timestamp(ts)) div {DEBOUNCE_S}")
    w = Window.partitionBy("user_id", "event_type", "bucket").orderBy("ts", "event_id")
    b = e.select(
        "user_id", "event_type", "event_id", "ts", bucket.alias("bucket")
    ).withColumn("rn", F.row_number().over(w))
    return b.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_debounced"),
    )


@query(
    "point_in_time_join",
    oracle="""
    WITH feats AS (
        SELECT user_id, event_id AS feat_event_id, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS n_events_so_far
        FROM events
    ),
    labels AS (
        SELECT user_id, event_id AS label_event_id, ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT l.user_id, l.label_event_id,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS label_ts,
           f.feat_event_id,
           CAST(f.n_events_so_far AS BIGINT) AS n_events_so_far
    FROM labels l JOIN feats f
      ON l.user_id = f.user_id
     AND f.valid_from <= l.ts
     AND (f.valid_to IS NULL OR l.ts < f.valid_to)
    """,
    survey_ops="temporal,J-pit,scd2",
)
def point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join — the leakage-free feature attribution
    every training-data pipeline needs: each label event (purchases
    here) joins the feature snapshot whose validity interval contains
    the label timestamp, never a later one. Feature snapshots are the
    SCD2 intervals of `user_state_intervals` carrying a running event
    count.

    Plan shape: the join is EQUI on user_id with the interval bounds as
    residual range predicates — a hash/sort-merge join keyed on user,
    NOT a nested loop (asserted in tests). At 100 TB both sides
    bucket/sort by user_id, making this the zero-extra-shuffle pattern
    feature stores materialize; zero-width intervals from same-ts ties
    match nothing, pinned identically in both engines via the
    (ts, event_id) total order.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    feats = e.select(
        "user_id",
        F.col("event_id").alias("feat_event_id"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).alias("n_events_so_far"),
    )
    labels = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("label_event_id"), "ts"
    )
    joined = labels.join(
        feats,
        (labels.user_id == feats.user_id)
        & (feats.valid_from <= labels.ts)
        & (feats.valid_to.isNull() | (labels.ts < feats.valid_to)),
    )
    return joined.select(
        labels.user_id,
        "label_event_id",
        F.date_format(labels.ts, TS_FMT).alias("label_ts"),
        "feat_event_id",
        F.col("n_events_so_far").cast("bigint").alias("n_events_so_far"),
    )


@query(
    "streaming_dim_enrichment",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    survey_ops="streaming,J3,A1",
)
def streaming_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (round 4): the event stream joins a
    STATIC dimension (customer → market segment) inside the streaming
    query, then rolls up per (segment, event_type) — the classic
    'enrich the firehose with reference data' topology. The batch SQL
    oracle hash-gates stream==batch equivalence, same policy as the
    other streaming gates.

    NO forced broadcast hint (VERDICT r4): `customer` grows with SF —
    150k×SF rows — so a pinned `F.broadcast` would OOM executors at
    100×, the identical anti-pattern round 4 removed from the batch
    plans. Per micro-batch Spark re-plans the static side with
    AQE/size statistics: small dim → broadcast, big dim → shuffle join,
    both correct for stream-static joins. The dim can still be swapped
    under the running query. At 100 TB the stream partitions by
    arrival; the rollup shuffle is map-side combined. The batch twin of
    the join (`_dim_enrichment_agg(streaming=False)`) is what the
    growing-dim degradation test plan-inspects — same expressions,
    executable plan.
    """
    import uuid

    agg = _dim_enrichment_agg(spark, sf_dir, streaming=True)
    name = "stream_dim_gate_" + uuid.uuid4().hex[:8]
    with _scaled_parts(spark, sf_dir):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_gate(q)
    return spark.table(name)


def _dim_enrichment_agg(
    spark: SparkSession, sf_dir: str, streaming: bool
) -> DataFrame:
    """The enrichment join+rollup, source-agnostic: the streaming gate
    feeds it the file stream, the plan-shape test the batch scan — one
    set of expressions, so the inspected batch plan IS the per-batch
    plan the stream executes."""
    from ..streaming.freshness import stream_events

    src = (
        stream_events(spark, sf_dir)
        if streaming
        else table(spark, sf_dir, "events")
    )
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return src.join(dim, "user_id").groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.expr(dec_sum("value")).alias("total_value"),
    )


# the batch-equivalent SQL both interval-join gates share: purchases ⋈
# same-user clicks in the preceding 30 minutes, rolled up per user
_INTERVAL_JOIN_ORACLE = """
    SELECT p.user_id,
           COUNT(*) AS n_pairs,
           CAST(MIN(p.event_id) AS BIGINT) AS first_purchase_event,
           strftime(MAX(c.ts), '%Y-%m-%d %H:%M:%S') AS last_click_at
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts < p.ts
    GROUP BY p.user_id
    """


def _interval_join_pairs(src: DataFrame, how: str = "inner") -> DataFrame:
    """The watermarked stream-stream interval join the gates run:
    purchases and clicks split from one source, both sides watermarked
    1 hour, time-range-bounded state. `how='left_outer'` keeps
    unmatched purchases — their null-extended rows emit only when the
    purchase's state EXPIRES past the watermark (the semantics the
    multibatch left gate exists to prove)."""
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("p_event"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        F.expr(
            "user_id = c_user AND c_ts >= p_ts - interval 30 minutes"
            " AND c_ts < p_ts"
        ),
        how,
    )


def _interval_join_rollup(spark: SparkSession, sink_table: str) -> DataFrame:
    return spark.table(sink_table).groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.min("p_event").cast("bigint").alias("first_purchase_event"),
        F.date_format(F.max("c_ts"), TS_FMT).alias("last_click_at"),
    )


@query(
    "streaming_interval_join",
    oracle=_INTERVAL_JOIN_ORACLE,
    survey_ops="streaming,J-interval,A1",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (r5 — the one streaming join family
    §2.9 still lacked; stream-static was round 4): purchases join the
    clicks of the SAME user in the preceding 30 minutes, both sides
    watermarked so the state store can discard clicks older than the
    watermark minus the interval. The batch SQL oracle hash-gates
    stream==batch equivalence on the aggregated result, the same
    policy as every other streaming gate.

    Semantics & scale: Structured Streaming keeps both inputs in keyed
    state and emits matches in APPEND mode as watermarks advance; the
    time-range predicate is what BOUNDS that state (without it, state
    grows forever — the classic stream-stream join pitfall). With
    availableNow all rows arrive in one micro-batch, so no matches are
    watermark-dropped and the join is exactly the batch interval join
    (`asof_click_before_purchase` is the batch LAST-click-only
    cousin). The rollup runs as a batch query over the sink table —
    in production it is either a downstream job or a second
    watermarked aggregation.

    The state-EVICTION path this single-batch run cannot reach is
    exercised by `streaming_interval_join_multibatch` below (r6).
    """
    import uuid

    from ..streaming.freshness import stream_events

    joined = _interval_join_pairs(stream_events(spark, sf_dir))
    name = "stream_ij_gate_" + uuid.uuid4().hex[:8]
    with _scaled_parts(spark, sf_dir):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_gate(q)
    return _interval_join_rollup(spark, name)


@query(
    "streaming_interval_join_multibatch",
    oracle=_INTERVAL_JOIN_ORACLE,
    survey_ops="streaming,J-interval,A1",
)
def streaming_interval_join_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME stream-stream interval join run across ≥3 REAL
    micro-batches (r6, VERDICT r5 item 2): events are split into
    time-contiguous single-file parquets and streamed with
    `maxFilesPerTrigger=1`, so the event-time watermark ADVANCES
    between batches and the state store actually evicts — clicks older
    than the state watermark leave the join state while later batches
    still find every in-interval partner (time-contiguous splits
    guarantee a 1-hour watermark can never drop an on-time row, see
    streaming/multibatch.py). Gated against the IDENTICAL batch oracle
    as the single-batch gate: multi-batch execution with eviction must
    hash-equal the batch interval join.

    Fail-loud: raises if the run collapsed into fewer than 3
    micro-batches (e.g. maxFilesPerTrigger silently ignored) — a
    single-batch pass hashing green here would be the exact blind spot
    this query exists to close. The eviction metrics themselves
    (numRowsRemoved > 0) are pinned in tests/test_streaming_multibatch.py.
    """
    import tempfile
    import uuid

    from ..streaming.multibatch import split_events_by_time, stream_split_events

    split_dir = tempfile.mkdtemp(prefix="ij_split_")
    try:
        split_events_by_time(spark, sf_dir, split_dir, n_parts=3)
        joined = _interval_join_pairs(stream_split_events(spark, split_dir))
        name = "stream_ijmb_gate_" + uuid.uuid4().hex[:8]
        with _scaled_parts(spark, sf_dir):
            q = (
                joined.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_gate(q)
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        if n_batches < 3:
            raise RuntimeError(
                f"multibatch gate ran {n_batches} non-empty micro-batches; "
                "expected >= 3 (one per split file) — maxFilesPerTrigger not honored?"
            )
    finally:
        # the memory sink holds the joined rows; the split files are
        # dead once the stream terminated — don't leak them per run
        import shutil

        shutil.rmtree(split_dir, ignore_errors=True)
    return _interval_join_rollup(spark, name)


@query(
    "streaming_left_interval_join_multibatch",
    oracle="""
    SELECT p.user_id,
           CAST(COUNT(DISTINCT p.event_id) AS BIGINT) AS n_purchases,
           CAST(COUNT(c.ts) AS BIGINT) AS n_matched,
           CAST(MIN(p.event_id) AS BIGINT) AS first_purchase_event,
           strftime(MAX(c.ts), '%Y-%m-%d %H:%M:%S') AS last_click_at
    FROM (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id, ts FROM events
               WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts < p.ts
    GROUP BY p.user_id
    """,
    survey_ops="streaming,J-interval,outer-join,A1",
)
def streaming_left_interval_join_multibatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join across real micro-batches
    (r6) — the outer-join semantics §2.9 could never exercise before
    multibatch: an unmatched purchase's null-extended row is emitted
    ONLY when the watermark passes its state-expiry point, so in the
    single-batch regime every unmatched row would simply be missing
    from the sink and a batch-oracle gate could not pass. Here a pair
    of far-future SENTINEL rows (user_id < 0, max real ts + 3 h, one
    per side so BOTH stream watermarks advance) rides in a final split
    file: after its batch the no-data flush batch drains every expired
    purchase as (purchase, NULL), and the gated rollup — sentinels
    filtered post-join — must hash-equal DuckDB's batch LEFT JOIN,
    including users whose purchases matched no click at all
    (last_click_at NULL).

    This completes the interval-join family: inner single-batch (r5),
    inner multi-batch with eviction, and outer multi-batch with
    expiry-driven null emission — all three against batch SQL oracles.
    """
    import shutil
    import tempfile

    split_dir = tempfile.mkdtemp(prefix="lij_split_")
    try:
        # the memory sink holds the joined rows once the stream has
        # terminated; the split files are then dead — don't leak them
        return _left_interval_join_run(spark, sf_dir, split_dir)
    finally:
        shutil.rmtree(split_dir, ignore_errors=True)


def _left_interval_join_run(
    spark: SparkSession, sf_dir: str, split_dir: str
) -> DataFrame:
    import uuid

    from ..streaming.multibatch import (
        split_events_by_time,
        stream_split_events,
        write_part_file,
    )
    from ..sources.registry import table

    split_events_by_time(spark, sf_dir, split_dir, n_parts=3)
    e = table(spark, sf_dir, "events")
    sentinels = e.limit(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("purchase").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    ).crossJoin(
        e.agg((F.max(F.col("ts").cast("timestamp")) + F.expr("interval 3 hours")).alias("_far"))
    ).select(
        "event_id", F.col("_far").alias("ts"), "user_id", "event_type", "value", "props"
    )
    sentinels = sentinels.unionByName(
        sentinels.select(
            F.lit(-2).cast("long").alias("event_id"),
            "ts",
            F.lit(-2).cast("long").alias("user_id"),
            F.lit("click").alias("event_type"),
            "value",
            "props",
        )
    )
    write_part_file(sentinels, split_dir, "sentinel", seq=10.0)

    joined = _interval_join_pairs(
        stream_split_events(spark, split_dir), how="left_outer"
    )
    name = "stream_lij_gate_" + uuid.uuid4().hex[:8]
    with _scaled_parts(spark, sf_dir):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_gate(q)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    if n_batches < 4:
        raise RuntimeError(
            f"left-outer multibatch gate ran {n_batches} non-empty micro-batches; "
            "expected >= 4 (3 splits + sentinel)"
        )
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.countDistinct("p_event").alias("n_purchases"),
            F.count("c_ts").alias("n_matched"),
            F.min("p_event").cast("bigint").alias("first_purchase_event"),
            F.date_format(F.max("c_ts"), TS_FMT).alias("last_click_at"),
        )
    )


@query(
    "weekly_distinct_sketch_union",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('week', date_trunc('day', ts)) AS week,
               date_trunc('day', ts) AS day
        FROM events GROUP BY 1, 2
    ),
    exact AS (
        SELECT date_trunc('week', date_trunc('day', ts)) AS week,
               COUNT(DISTINCT user_id) AS exact_users
        FROM events GROUP BY 1
    )
    SELECT strftime(e.week, '%Y-%m-%d') AS week,
           CAST((SELECT COUNT(*) FROM daily d WHERE d.week = e.week) AS BIGINT)
               AS n_days_merged,
           CAST(e.exact_users AS BIGINT) AS exact_users,
           TRUE AS union_within_5pct
    FROM exact e
    """,
    survey_ops="A6,sketch,mergeable,incremental,streaming",
)
def weekly_distinct_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch rollup (r6): per-DAY HLL sketches of active
    users, UNIONED per week — `hll_sketch_agg` → `hll_union_agg` →
    `hll_sketch_estimate` (Apache DataSketches, Spark 3.5+) — with the
    weekly estimate gated ≤5% (3σ at the default lgConfigK=12,
    rsd≈1.6%) of the exact weekly distinct.

    This is the INCREMENTAL distinct pattern a 100 TB pipeline runs:
    daily jobs persist one fixed-size sketch per day (never the user
    sets); any window's distinct count is then a pure sketch MERGE over
    stored state — no rescan of history — and merge is associative/
    commutative, so backfills and out-of-order days converge to the
    same state. `segment_distinct_users_sketch` gates per-GROUP HLL
    accuracy; this gates the UNION path (estimate-after-merge vs exact
    over the merged span), which is the property incremental rollups
    actually rely on. Reference analog: the tracker's daily stats
    recomputed from full scans (src/tracking/tracker.py:192-226).

    Plan: one scan → per-(week, day) sketch partials (map-side
    combined, fixed-size state) → per-week union of ≤7 sketches; the
    exact side is a separate (week, user) distinct aggregate joined on
    the handful of week rows. Bounded output at any SF.
    """
    e = table(spark, sf_dir, "events").select(
        F.date_trunc("week", F.date_trunc("day", F.col("ts"))).alias("week"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
    )
    daily = e.groupBy("week", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly = daily.groupBy("week").agg(
        F.count("*").alias("n_days_merged"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    exact = e.groupBy("week").agg(F.countDistinct("user_id").alias("exact_users"))
    return exact.join(weekly, "week").select(
        F.date_format("week", "yyyy-MM-dd").alias("week"),
        "n_days_merged",
        "exact_users",
        (
            F.abs(F.col("_est").cast("double") - F.col("exact_users").cast("double"))
            / F.col("exact_users").cast("double")
            <= 0.05
        ).alias("union_within_5pct"),
    )
