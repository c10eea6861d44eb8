"""Relational core — scans, filters, joins, aggregations, top-k.

Re-expresses the reference's client-side dict/loop analytics
(SURVEY §2.1 S6, §2.4 J1-J9, §2.5 A1-A13, §2.6 W1-W6, §2.7 U1-U3) as
declarative Spark plans on the driver's TPC-H-ish proxy tables.

Scale notes (100 TB stance):
- Dimension lookups (nation/region) broadcast — no shuffle on the fact
  side. Catalyst picks this from size, `F.broadcast` pins it.
- Aggregations are partial (map-side combine) by construction — plain
  `groupBy().agg()` on built-in functions.
- Top-k global uses `orderBy().limit(k)` which Spark executes as
  TakeOrderedAndProject (per-partition heap + driver merge of k rows),
  not a full sort.
- Per-group top-1 uses a window `row_number` — a single hash shuffle on
  the group key; at scale prefer this over self-join-max patterns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import table
from .base import dec_sum, query

TS_FMT = "yyyy-MM-dd HH:mm:ss"


# ---------------------------------------------------------------------------
# Flagship: pricing summary (TPC-H Q1 analog; SURVEY A6/A7 class)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    -- decimal→double via VARCHAR (r6, found by the sf0.1 full-oracle
    -- pass): DuckDB's direct DECIMAL→DOUBLE cast double-rounds when
    -- the unscaled value exceeds 2^53 (int128→double, then ÷10^scale)
    -- — sum_charge's 18-digit unscaled sum at sf0.1 came out one ulp
    -- low vs Java/Python's correctly-rounded conversion. The string
    -- round-trip is correctly rounded at any magnitude.
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ops="A6,A7,S6",
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped pricing rollup — the engine's flagship scan+agg.

    Reference parity: category/price summaries computed client-side in
    `file_loader.generate_summary` (file_loader.py:232-270) and the
    `category_summary` SQL view (docs/supabase_schema.sql:138-147).
    """
    li = table(spark, sf_dir, "lineitem").filter(
        "l_shipdate <= CAST('1998-09-02 00:00:00' AS TIMESTAMP)"
    )
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"{disc_price} * (l_tax + 1)"
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        *map(
            F.expr,
            (
                f"{dec_sum('l_quantity')} AS sum_qty",
                f"{dec_sum('l_extendedprice')} AS sum_base_price",
                f"{dec_sum(disc_price, scale=6)} AS sum_disc_price",
                f"{dec_sum(charge, scale=8)} AS sum_charge",
                f"{dec_sum('l_quantity')} / count(*) AS avg_qty",
                f"{dec_sum('l_extendedprice')} / count(*) AS avg_price",
                "count(*) AS count_order",
            ),
        )
    )


@query(
    "category_summary",
    oracle="""
    SELECT o_orderpriority AS category,
           COUNT(*) AS product_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_scraped,
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_scraped
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey_ops="A7,A1,A2",
    bench=True,
)
def category_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category count/avg-price/min-max-scraped_at.

    Reference parity: `category_summary` view
    (docs/supabase_schema.sql:138-147); tracker stats
    (src/tracking/tracker.py:192-226).
    """
    o = table(spark, sf_dir, "orders")
    return o.groupBy(F.expr("o_orderpriority AS category")).agg(
        *map(
            F.expr,
            (
                "count(*) AS product_count",
                f"{dec_sum('o_totalprice')} / count(*) AS avg_price",
                f"date_format(min(o_orderdate), '{TS_FMT}') AS first_scraped",
                f"date_format(max(o_orderdate), '{TS_FMT}') AS last_scraped",
            ),
        )
    )


@query(
    "scan_filter_topn",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    survey_ops="S6,P25,W1,W2,W6",
)
def scan_filter_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered scan + deterministic top-N.

    Reference parity: `get_products` filtered scan + limit
    (src/loaders/supabase_loader.py:332-353), sort by id (curate.py:172).
    Filter and column pruning push into the parquet scan; the sort+limit
    runs as TakeOrderedAndProject (no global sort).
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "anti_join_untracked",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    survey_ops="J1",
)
def anti_join_untracked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: rows not present in the tracking set.

    Reference parity: incremental-scrape skip of already-tracked ids
    (src/pipeline.py:153-193; tracker.get_scraped_ids:107-126) — the
    `set` membership loop becomes a distributed left_anti join.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_name", "c_mktsegment")


@query(
    "semi_join_tracked",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    survey_ops="J9",
)
def semi_join_tracked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join existence check.

    Reference parity: `tracker.is_scraped` SELECT-1 existence probe
    (src/tracking/tracker.py:90-105) and skip-existing category check
    (main.py:1322-1333).
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.join(o, "c_custkey", "left_semi").select("c_custkey", "c_name")


@query(
    "lookup_join_rollup",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    survey_ops="J3,J6,P6,P18",
)
def lookup_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast lookup-table join + rollup.

    Reference parity: category→display / category→refitd-slot mapping
    dict lookups (src/transformers/product_transformer.py:88-92;
    src/loaders/refitd_category_mapping.py:13-56) — tiny mapping tables
    broadcast to every executor, no shuffle of the fact table.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count("*").alias("n_customers"),
            F.expr(dec_sum("c_acctbal")).alias("total_acctbal"),
        )
    )


@query(
    "rep_variant_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey AS rep_orderkey, o_totalprice AS rep_totalprice
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
    survey_ops="J4,W4",
)
def rep_variant_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative row per group (max-by with total tie-break).

    Reference parity: variant group representative = member with max
    image count (src/pipeline.py:383-388,429-434). One hash shuffle on
    the group key; ties broken by key so the result is bit-stable.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("rep_orderkey"),
            F.col("o_totalprice").alias("rep_totalprice"),
        )
    )


@query(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM (
        SELECT user_id, event_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    survey_ops="W5,W1",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest row per key.

    Reference parity: most-recent curation_history record per product
    (curate.py:7386-7399) — order desc + limit 1 per key as a window.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.date_format("ts", TS_FMT).alias("last_ts"),
        )
    )


@query(
    "status_ratio_summary",
    oracle="""
    SELECT COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) * 100 / COUNT(*) AS pct_open,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) * 100 / COUNT(*) AS pct_finished
    FROM orders
    """,
    survey_ops="A9,A8",
)
def status_ratio_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counts + ratios in one pass.

    Reference parity: `refitd_tagging_summary` view's COUNT FILTER per
    curation status + ratio columns (docs/supabase_schema.sql:431-442)
    and the dashboard percent-complete (curate.py:7413-7535).
    """
    o = table(spark, sf_dir, "orders")
    n_open = F.count(F.when(F.col("o_orderstatus") == "O", 1))
    n_fin = F.count(F.when(F.col("o_orderstatus") == "F", 1))
    n_pend = F.count(F.when(F.col("o_orderstatus") == "P", 1))
    return o.agg(
        F.count("*").alias("n_total"),
        n_open.alias("n_open"),
        n_fin.alias("n_finished"),
        n_pend.alias("n_pending"),
        (n_open.cast("double") * 100 / F.count("*")).alias("pct_open"),
        (n_fin.cast("double") * 100 / F.count("*")).alias("pct_finished"),
    )


@query(
    "global_stats",
    oracle="""
    SELECT COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_price
    FROM orders
    """,
    survey_ops="A6,A2,A3",
)
def global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global table statistics.

    Reference parity: `product_stats` view (docs/supabase_schema.sql:127-135)
    and DB stats loop (src/loaders/supabase_loader.py:402-425).
    """
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        (F.expr(dec_sum("o_totalprice")) / F.count("*")).alias("avg_price"),
    )


@query(
    "value_histogram",
    oracle="""
    SELECT CAST(LEAST(FLOOR(value / 50), 6) AS BIGINT) AS bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    survey_ops="A5",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed histogram.

    Reference parity: confidence histogram 1-5 over curation records
    (curate.py:7559-7710, buckets 7629-7640).
    """
    e = table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 50), F.lit(6)).cast("bigint")
    return e.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_events"),
        F.expr(dec_sum("value")).alias("total_value"),
    )


@query(
    "priority_ordinal_distribution",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(substr(o_orderpriority, 1, 1) AS INT) AS ordinal,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey_ops="A11",
)
def priority_ordinal_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution with ordinal sort key.

    Reference parity: `refitd_formality_distribution` view's CASE
    ordinal (docs/supabase_schema.sql:464-478).
    """
    o = table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(F.count("*").alias("n")).withColumn(
        "ordinal", F.substring("priority", 1, 1).cast("int")
    ).select("priority", "ordinal", "n")


@query(
    "multi_order_customers",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 1
    """,
    survey_ops="A5",
)
def multi_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys with more than one row (products corrected multiple times).

    Reference parity: curate.py:7662-7668.
    """
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(F.count("*").alias("n_orders")).filter(F.col("n_orders") > 1)


@query(
    "priority_churn",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders
               WHERE year(o_orderdate) = 1995),
         b AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders
               WHERE year(o_orderdate) = 1996)
    SELECT o_custkey, o_orderpriority, 'added' AS change_type
    FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
    UNION ALL
    SELECT o_custkey, o_orderpriority, 'removed' AS change_type
    FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    """,
    survey_ops="U2,U3,D1",
)
def priority_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-difference diff between two snapshots (added/removed).

    Reference parity: `compute_tag_changes` added/removed set algebra
    (src/utils/tag_comparison.py:53-157) lifted from per-row Python
    sets to distributed EXCEPT on (key, value) pairs.
    """
    o = table(spark, sf_dir, "orders")
    # one aggregation instead of 2×distinct + 2×anti-join (6 exchanges →
    # 1): group each (custkey, priority) once, flag presence per period,
    # and keep asymmetric rows.
    yr = F.year("o_orderdate")
    flagged = (
        o.filter(yr.isin(1995, 1996))
        .groupBy("o_custkey", "o_orderpriority")
        .agg(
            F.max(F.when(yr == 1995, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(yr == 1996, 1).otherwise(0)).alias("in_b"),
        )
    )
    return flagged.filter(F.col("in_a") != F.col("in_b")).select(
        "o_custkey",
        "o_orderpriority",
        F.when(F.col("in_b") == 1, F.lit("added")).otherwise(F.lit("removed")).alias("change_type"),
    )


@query(
    "customer_revenue_topk",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus <> 'P'
    GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    survey_ops="J6,A6,W2",
    bench=True,
)
def customer_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact-dim join → top-20 customers by revenue, computed at
    ORDER grain first: lineitem pre-aggregates to one exact-decimal
    revenue row per orderkey (map-side combined, ~4:1), joins orders on
    the SAME key (the exchange is reused, not repeated), then rolls up
    per customer where ``count(*)`` IS the distinct-order count — no
    ``countDistinct``, so Spark never plans the expand + extra
    (custkey, orderkey)-keyed exchange that a distinct aggregate
    costs. Decimal sums re-associate exactly (per-order decimal(28,6)
    sums summed again), so the value is bit-identical to the single
    groupBy formulation. Final top-k is a TakeOrderedAndProject.

    No forced broadcast on `customer`: it grows with scale factor
    (~15M rows / >1 GB at 100×), past where a broadcast hint OOMs the
    executors. AQE picks BroadcastHashJoin while the table is under
    threshold and SortMergeJoin beyond it — both plan shapes are
    allowed by the plan test.
    """
    li = table(spark, sf_dir, "lineitem").selectExpr("l_orderkey", "l_extendedprice", "l_discount")
    o = table(spark, sf_dir, "orders").filter("o_orderstatus <> 'P'").selectExpr(
        "o_orderkey", "o_custkey"
    )
    c = table(spark, sf_dir, "customer").selectExpr("c_custkey", "c_name", "c_mktsegment")
    per_order = li.groupBy("l_orderkey").agg(
        F.expr("sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS _order_rev")
    )
    return (
        per_order.join(o, F.expr("l_orderkey = o_orderkey"))
        .join(c, F.expr("o_custkey = c_custkey"))
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.expr("count(*) AS n_orders"),
            F.expr("CAST(sum(_order_rev) AS DOUBLE) AS revenue"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "price_text_parse",
    oracle="""
    SELECT id, raw_price,
           CAST(CAST(nullif(replace(regexp_extract(raw_price, '([0-9.,]+)', 1), ',', ''), '')
                AS DECIMAL(10,2)) AS DOUBLE) AS parsed
    FROM (VALUES
      (1, '$1,299.50 USD'), (2, 'price: 49.9'), (3, 'FREE'), (4, '  89 dollars'),
      (5, NULL), (6, '1.234,   then more')
    ) AS t(id, raw_price)
    """,
    survey_ops="P11",
)
def price_text_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: first numeric run in messy price text → decimal
    (zara_extractor.py:950-1015)."""
    from ..functions.text import parse_price_text

    df = spark.createDataFrame(
        [(1, "$1,299.50 USD"), (2, "price: 49.9"), (3, "FREE"), (4, "  89 dollars"),
         (5, None), (6, "1.234,   then more")],
        "id int, raw_price string",
    )
    return df.select("id", "raw_price", parse_price_text(F.col("raw_price")).cast("double").alias("parsed"))


@query(
    "brand_type_vocabulary",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_parts,
           array_to_string(list(DISTINCT p_type ORDER BY p_type), '|') AS type_vocab
    FROM part
    GROUP BY p_brand
    """,
    survey_ops="A12",
)
def brand_type_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: per-group sorted distinct value list (the
    custom_vocabulary_summary array_agg(tag ORDER BY tag) view shape,
    docs/supabase_schema.sql:376-383). Joined to a string for the
    cross-engine hash."""
    p = table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.concat_ws("|", F.sort_array(F.collect_set("p_type"))).alias("type_vocab"),
    )


@query(
    "region_nation_rollup",
    oracle="""
    SELECT CASE WHEN GROUPING(r_name) = 1 THEN '(all)' ELSE r_name END AS r_name,
           CASE WHEN GROUPING(n_name) = 1 THEN '(all)' ELSE n_name END AS n_name,
           CAST(GROUPING(r_name) AS INT) AS g_region,
           CAST(GROUPING(n_name) AS INT) AS g_nation,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
    survey_ops="A7,grouping-sets",
)
def region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level ROLLUP (region → nation → grand total) in one pass.

    The reference computes each aggregation level with a separate scan +
    client-side dict (SURVEY §2.5 header: no grouping sets anywhere);
    `rollup()` produces all levels from a single shuffle with map-side
    partial aggregation. Dims broadcast; acctbal summed exactly as
    decimal then emitted as DOUBLE, and NULL rollup cells are relabeled
    '(all)' off the grouping flags, so neither engine's NULL/decimal
    value representation can reach the hash (plans/base.py contract).
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name", "n_regionkey"
    )
    r = table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    )
    joined = c.join(F.broadcast(n), "c_nationkey").join(F.broadcast(r), "n_regionkey")
    agg = joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.count("*").alias("n_customers"),
        F.expr(dec_sum("c_acctbal", scale=2, precision=28)).alias("total_acctbal"),
    )
    return agg.select(
        F.when(F.col("g_region") == 1, F.lit("(all)")).otherwise(F.col("r_name")).alias("r_name"),
        F.when(F.col("g_nation") == 1, F.lit("(all)")).otherwise(F.col("n_name")).alias("n_name"),
        "g_region",
        "g_nation",
        "n_customers",
        "total_acctbal",
    )


@query(
    "segment_top_orders",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rnk
    FROM (
        SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
               row_number() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rnk <= 3
    """,
    survey_ops="W2,W4,J6",
)
def segment_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment: customer join (strategy left to
    AQE — customer grows with SF, so no forced broadcast) + one window
    shuffle on the group key, deterministic tie-breaks."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.join(c, "o_custkey")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rnk")
    )


@query(
    "priority_status_cube",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)' ELSE o_orderpriority END
               AS o_orderpriority,
           CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END
               AS o_orderstatus,
           CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT) AS g_id,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
    survey_ops="A9,grouping-sets",
)
def priority_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (priority, status): all four aggregation levels
    from one shuffle — completes the grouping-sets family next to
    `region_nation_rollup`. grouping_id disambiguates NULL-as-rollup
    from NULL-as-data; rolled-up cells are relabeled '(all)' off the
    grouping_id bits and the exact decimal sum is emitted as DOUBLE
    (plans/base.py contract), keeping NULL/decimal representation out
    of the cross-engine hash.
    """
    o = table(spark, sf_dir, "orders")
    agg = o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().alias("g_id"),
        F.count("*").alias("n_orders"),
        F.expr(dec_sum("o_totalprice", scale=2, precision=28)).alias("total_price"),
    )
    # grouping_id bit 1 (value 2) = priority rolled up; bit 0 (value 1) = status.
    return agg.select(
        F.when(F.col("g_id").bitwiseAND(2) != 0, F.lit("(all)"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        F.when(F.col("g_id").bitwiseAND(1) != 0, F.lit("(all)"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "g_id",
        "n_orders",
        "total_price",
    )


@query(
    "cheapest_supplier_per_part",
    oracle="""
    WITH priced AS (
        SELECT l_partkey, l_suppkey,
               l_extendedprice / l_quantity AS unit_price,
               row_number() OVER (PARTITION BY l_partkey
                                  ORDER BY l_extendedprice / l_quantity, l_suppkey,
                                           l_orderkey, l_linenumber) AS rn
        FROM lineitem
    )
    SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, pr.unit_price AS best_unit_price
    FROM priced pr
    JOIN part p ON pr.l_partkey = p.p_partkey
    JOIN supplier s ON pr.l_suppkey = s.s_suppkey
    WHERE pr.rn = 1
    """,
    survey_ops="J6,W4,decorrelation",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped 'supplier with the minimum price per part' — the
    correlated-subquery pattern decorrelated into a single window pass:
    one shuffle on partkey replaces a per-part subquery, then joins
    attach the dimensions. unit_price is one IEEE division per
    row and MIN/ordering never re-associates it, so doubles stay exact;
    ties pin on (price, suppkey, orderkey, linenumber).

    part/supplier both grow with SF (200k/10k rows per unit), so the
    dim joins carry no forced broadcast hint — AQE broadcasts while
    they fit and falls back to shuffle joins beyond threshold. The
    window output is already one row per part, so the join keys are
    unique on both sides either way.
    """
    l = table(spark, sf_dir, "lineitem")
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("unit_price"), F.col("l_suppkey"), F.col("l_orderkey"), F.col("l_linenumber")
    )
    priced = (
        l.select("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", unit.alias("unit_price"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        priced.join(p, priced.l_partkey == p.p_partkey)
        .join(s, priced.l_suppkey == s.s_suppkey)
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", F.col("unit_price").alias("best_unit_price"))
    )


@query(
    "salted_segment_rollup",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
    survey_ops="J3,skew",
)
def salted_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient fact→dim join through `functions.skew.salted_join`:
    the fact side is deterministically salted into 8 sub-keys and the
    dim side replicated per salt, so one hot customer key spreads over
    8 tasks instead of stalling a single reducer.

    The oracle is the plain equi-join — salting is semantics-preserving
    by construction, and this query gates that property. At 100 TB this
    is the fallback for skew AQE can't split (a single key larger than
    one executor's memory); aggregation stays map-side partial.
    """
    from ..functions.skew import salted_join

    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, "o_custkey", salt_factor=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.expr(dec_sum("o_totalprice")).alias("total_price"),
    )


@query(
    "sketch_profile",
    oracle="""
    WITH n AS (
        SELECT COUNT(*) AS n_rows, COUNT(DISTINCT o_custkey) AS exact_custkeys
        FROM orders
    ),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cum
        FROM (SELECT o_totalprice AS v, COUNT(*) AS c FROM orders GROUP BY o_totalprice)
    )
    SELECT n.n_rows,
           n.exact_custkeys,
           MIN(CASE WHEN cum.cum >= (n.n_rows - 1) // 2 + 1 THEN cum.v END) AS exact_p50,
           MIN(CASE WHEN cum.cum >= ((n.n_rows - 1) * 9) // 10 + 1 THEN cum.v END) AS exact_p90,
           TRUE AS hll_within_2pct,
           TRUE AS p50_within_2pct,
           TRUE AS p90_within_2pct
    FROM cum, n
    GROUP BY n.n_rows, n.exact_custkeys
    """,
    survey_ops="A6,sketch",
)
def sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based profiling, fully hash-gated: the exact columns
    (row count, exact distinct custkeys, exact discrete percentiles)
    are DuckDB-recomputable, and the sketch estimates — HLL++
    approx_count_distinct and approx_percentile, whose internal state
    is engine-private by design — enter the gate as pinned ≤2%
    relative-error booleans the oracle asserts TRUE. (Round-3's
    rows-only version was the one ungated CORRECTNESS row; this
    closes it without pretending the sketch bytes are portable.
    Tighter numeric bounds stay in tests/test_search_and_plans.py.)

    Percentile definition is explicit rather than engine-native so both
    engines run identical integer arithmetic: the value at 1-based rank
    floor(p*(n-1))+1 in ascending order — computed off a groupBy of
    DISTINCT price values (a cumulative-count window over distinct
    values, orders of magnitude smaller than the fact table), never a
    global sort of the raw rows. At 100 TB the sketches are the point:
    mergeable fixed-size state instead of a distinct shuffle — but the
    exact side here stays one groupBy + one small window, so the gate
    itself scales too.

    Diagnosability (ADVICE r4): the raw sketch estimates behind the
    booleans are exposed by the UN-gated companion
    `sketch_profile_diagnostics(spark, sf_dir)` — same internals, one
    row with estimates next to exacts, for debugging a future red.
    """
    agg = _sketch_profile_stats(spark, sf_dir)
    rel = lambda a, b: F.abs(a - b) / F.abs(b)  # noqa: E731
    return agg.select(
        "n_rows",
        "exact_custkeys",
        "exact_p50",
        "exact_p90",
        (rel(F.col("_acd").cast("double"), F.col("exact_custkeys").cast("double")) <= 0.02).alias("hll_within_2pct"),
        (rel(F.col("_ap50"), F.col("exact_p50")) <= 0.02).alias("p50_within_2pct"),
        (rel(F.col("_ap90"), F.col("exact_p90")) <= 0.02).alias("p90_within_2pct"),
    )


def sketch_profile_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UN-gated diagnostics twin of `sketch_profile` (ADVICE r4): raw
    HLL++/KLL estimates alongside the exact values — not registered,
    not hashed, run this when a ≤2% boolean flips red."""
    agg = _sketch_profile_stats(spark, sf_dir)
    return agg.select(
        "n_rows",
        "exact_custkeys",
        F.col("_acd").alias("approx_custkeys"),
        "exact_p50",
        F.col("_ap50").alias("approx_p50"),
        "exact_p90",
        F.col("_ap90").alias("approx_p90"),
    )


def _sketch_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared internals of sketch_profile and its diagnostics twin:
    one row carrying exact count/distinct/percentiles next to the
    HLL++/KLL estimates."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    # countDistinct stays OUT of the sketch aggregation: a distinct
    # aggregate makes Spark's partial-agg key (gid, o_custkey), which
    # would allocate a ~16KB HLL register file + two KLL buffers PER
    # DISTINCT CUSTKEY instead of per partition — measured 25s vs 1s
    # at sf0.1. Two single-row aggregates over the same scan, then a
    # 1×1 broadcast cross join.
    sketches = o.agg(
        F.count("*").alias("n_rows"),
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("_acd"),
        F.expr("CAST(approx_percentile(o_totalprice, 0.5, 10000) AS DOUBLE)").alias("_ap50"),
        F.expr("CAST(approx_percentile(o_totalprice, 0.9, 10000) AS DOUBLE)").alias("_ap90"),
    )
    from ..functions.windows import one_partition

    exact_cd = o.agg(F.countDistinct("o_custkey").alias("exact_custkeys"))
    stats = sketches.crossJoin(F.broadcast(exact_cd))
    # the cumulative window over the per-VALUE histogram is the exact
    # ground-truth tier the sketch is gated against: deliberately one
    # partition (post-aggregation value histogram, orders of magnitude
    # smaller than orders; a 100 TB deployment verifies on a sample).
    # Key DECLARED (r6) so the plan states the intent instead of
    # warning — see functions/windows.py
    cum = (
        o.groupBy(F.col("o_totalprice").alias("v"))
        .agg(F.count("*").alias("c"))
        .withColumn(
            "cum", F.sum("c").over(Window.partitionBy(one_partition("v")).orderBy("v"))
        )
    )
    joined = cum.crossJoin(F.broadcast(stats))
    r50 = F.expr("(n_rows - 1) div 2 + 1")
    r90 = F.expr("((n_rows - 1) * 9) div 10 + 1")
    return joined.agg(
        F.max("n_rows").alias("n_rows"),
        F.max("exact_custkeys").alias("exact_custkeys"),
        F.max("_acd").alias("_acd"),
        F.max("_ap50").alias("_ap50"),
        F.max("_ap90").alias("_ap90"),
        F.min(F.when(F.col("cum") >= r50, F.col("v"))).alias("exact_p50"),
        F.min(F.when(F.col("cum") >= r90, F.col("v"))).alias("exact_p90"),
    )


N_DECILES = 10


@query(
    "customer_revenue_deciles",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    tiled AS (
        SELECT o_custkey, revenue,
               ntile({N_DECILES}) OVER (ORDER BY revenue DESC, o_custkey) AS decile
        FROM rev
    )
    SELECT decile,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(revenue AS DECIMAL(28,2))) AS DOUBLE) AS total_revenue,
           MIN(revenue) AS min_revenue,
           MAX(revenue) AS max_revenue
    FROM tiled
    GROUP BY decile
    """,
    survey_ops="A6,W1,W2",
)
def customer_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue deciles via ntile: per-customer exact-decimal
    revenue, a global 10-way tiling ordered by (revenue DESC, custkey)
    — total order, so tile boundaries are deterministic — then per-tile
    counts and bounds. Per-customer revenue is an exact decimal sum
    cast once to double, so MIN/MAX/re-sum stay bit-identical.

    Scale note: the ntile window sorts the per-CUSTOMER aggregate (3-4
    orders smaller than orders), not the fact table — a single-partition
    sort over post-aggregation rows, the same trade `token_budget_
    allocation` documents. Above ~1e9 customers you'd switch to
    approx_percentile boundaries + a range join.
    """
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.expr(dec_sum("o_totalprice")).alias("revenue"))
    tiled = rev.withColumn(
        "decile",
        F.ntile(N_DECILES).over(Window.orderBy(F.desc("revenue"), "o_custkey")),
    )
    return tiled.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.expr(dec_sum("revenue")).alias("total_revenue"),
        F.min("revenue").alias("min_revenue"),
        F.max("revenue").alias("max_revenue"),
    )


@query(
    "order_status_melt",
    oracle="""
    WITH wide AS (
        SELECT o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_finished,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_partial
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, n_orders FROM (
        SELECT o_orderpriority, 'n_open' AS status, n_open AS n_orders FROM wide
        UNION ALL
        SELECT o_orderpriority, 'n_finished', n_finished FROM wide
        UNION ALL
        SELECT o_orderpriority, 'n_partial', n_partial FROM wide
    )
    """,
    survey_ops="A9,reshape",
)
def order_status_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (unpivot/melt): the per-priority status counts
    pivot (`curation_status_pivot`'s relational shape) melted back to
    (priority, status, n) rows via `DataFrame.unpivot` — the inverse
    reshape a reporting layer needs both directions of. Unpivot is a
    per-row generator (no shuffle beyond the source aggregate);
    integer counts only.
    """
    o = table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_partial"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["n_open", "n_finished", "n_partial"],
        "status",
        "n_orders",
    )


MAD_CUTOFF = 3.0


@query(
    "order_price_mad_outliers",
    oracle=f"""
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ),
    med AS (
        SELECT o_orderpriority, MAX(n) AS n,
               MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                        THEN o_totalprice END) AS med_price
        FROM ranked GROUP BY o_orderpriority
    ),
    dev AS (
        SELECT o.o_orderpriority, o.o_orderkey,
               abs(o.o_totalprice - m.med_price) AS d
        FROM orders o JOIN med m USING (o_orderpriority)
    ),
    dev_ranked AS (
        SELECT o_orderpriority, d,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY d, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM dev
    ),
    mad AS (
        SELECT o_orderpriority,
               MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN d END) AS mad_price
        FROM dev_ranked GROUP BY o_orderpriority
    )
    SELECT m.o_orderpriority,
           CAST(m.n AS BIGINT) AS n_orders,
           m.med_price,
           a.mad_price,
           CAST(SUM(CASE WHEN v.d > {MAD_CUTOFF} * a.mad_price THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
    FROM med m
    JOIN mad a USING (o_orderpriority)
    JOIN dev v USING (o_orderpriority)
    GROUP BY m.o_orderpriority, m.n, m.med_price, a.mad_price
    """,
    survey_ops="A5,percentile,robust-stats",
)
def order_price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate per priority: exact discrete median of
    o_totalprice, median absolute deviation around it (both
    rank-selected actual data points — no interpolation), and the count
    of rows beyond 3 MADs. The robust twin of a stddev gate: immune to
    the very outliers it hunts. abs/compare/one multiply are exact
    IEEE; medians are selected values, so the whole result hash-gates.

    Plan: two rank windows partitioned by priority (same shuffle key
    reused), two small per-group tables joined back (auto-broadcast).
    At scale the second pass streams against broadcast medians; skewed
    strata switch to histogram-based selection as in
    quality_percentile_gate.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    w_rank = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w_n = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    med = ranked.groupBy("o_orderpriority").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.ceil(0.5 * F.col("n")), F.col("o_totalprice"))
        ).alias("med_price"),
    )
    dev = o.join(med.select("o_orderpriority", "med_price"), "o_orderpriority").select(
        "o_orderpriority",
        "o_orderkey",
        F.abs(F.col("o_totalprice") - F.col("med_price")).alias("d"),
    )
    w_drank = Window.partitionBy("o_orderpriority").orderBy("d", "o_orderkey")
    dev_ranked = dev.select(
        "o_orderpriority",
        "d",
        F.row_number().over(w_drank).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    mad = dev_ranked.groupBy("o_orderpriority").agg(
        F.max(F.when(F.col("rn") == F.ceil(0.5 * F.col("n")), F.col("d"))).alias(
            "mad_price"
        )
    )
    return (
        med.join(mad, "o_orderpriority")
        .join(dev, "o_orderpriority")
        .groupBy("o_orderpriority", "n", "med_price", "mad_price")
        .agg(
            F.sum(
                F.when(F.col("d") > MAD_CUTOFF * F.col("mad_price"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers")
        )
        .select(
            "o_orderpriority",
            F.col("n").cast("bigint").alias("n_orders"),
            "med_price",
            "mad_price",
            "n_outliers",
        )
    )


N_DEPTH_BUCKETS = 8


@query(
    "value_equidepth_histogram",
    oracle=f"""
    WITH tiled AS (
        SELECT event_type, value,
               ntile({N_DEPTH_BUCKETS}) OVER (PARTITION BY event_type
                                              ORDER BY value, event_id) AS bucket
        FROM events
    )
    SELECT event_type, bucket,
           COUNT(*) AS n_events,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM tiled
    GROUP BY event_type, bucket
    """,
    survey_ops="A5,percentile,stats",
)
def value_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram per event type: 8 equal-count buckets with
    their value bounds — the optimizer-statistics/skew-diagnosis twin
    of the equi-width `value_histogram`. Bucket boundaries are actual
    data points (ntile over the total order (value, event_id)), so the
    result hashes exactly.

    Plan: one window shuffle on event_type; each stratum sorts in
    parallel. A GLOBAL equi-depth at 100 TB would instead sample for
    approximate boundaries and range-join (the
    customer_revenue_deciles note) — per-stratum tiling avoids the
    single-partition sort entirely.
    """
    e = table(spark, sf_dir, "events")
    tiled = e.select(
        "event_type",
        "value",
        F.ntile(N_DEPTH_BUCKETS)
        .over(Window.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("bucket"),
    )
    return tiled.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@query(
    "priority_status_grouping_sets",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
                ELSE o_orderpriority END AS o_orderpriority,
           CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
                ELSE o_orderstatus END AS o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
    survey_ops="A7,grouping-sets",
)
def priority_status_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the two one-dimensional margins plus the
    grand total, WITHOUT the cross cells a full CUBE would add (the
    report shape dashboards actually want: per-priority totals,
    per-status totals, overall). One shuffle produces all three
    groupings with map-side partial aggregation; NULL set cells are
    relabeled off the grouping flags exactly as in the rollup/cube
    queries, so no engine NULL representation reaches the hash.
    """
    o = table(spark, sf_dir, "orders")
    agg = o.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"], []],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.count("*").alias("n_orders"),
        F.expr(dec_sum("o_totalprice", scale=2, precision=28)).alias("total_price"),
    )
    return agg.select(
        F.when(F.col("g_priority") == 1, F.lit("(all)"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        F.when(F.col("g_status") == 1, F.lit("(all)"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "g_priority",
        "g_status",
        "n_orders",
        "total_price",
    )


@query(
    "order_fulfillment_latency",
    oracle="""
    WITH per_order AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               CAST((epoch_us(MAX(l.l_shipdate)) // 1000000) - (epoch_us(o.o_orderdate) // 1000000)
                    AS BIGINT) // 86400 AS latency_days
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    ),
    ranked AS (
        SELECT o_orderpriority, latency_days,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY latency_days, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM per_order
    )
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(MIN(latency_days) AS BIGINT) AS min_days,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                         THEN latency_days END) AS BIGINT) AS median_days,
           CAST(MAX(latency_days) AS BIGINT) AS max_days
    FROM ranked GROUP BY o_orderpriority
    """,
    survey_ops="J6,A7,percentile",
)
def order_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment latency: days from order date to the LAST line-item
    shipment, summarized per priority with an exact rank-selected
    median — the SLA report derived from the fact-fact join. Latency is
    pure integer epoch arithmetic (floor-div by 86400), so every column
    hashes exactly.

    Plan: the orders↔lineitem shuffle on orderkey is the same exchange
    `customer_revenue_topk` uses; the per-order max rides it as a
    partial aggregate, and the median window then shuffles only
    order-grain rows (10× smaller) by priority.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    per_order = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                (
                    F.unix_timestamp("last_ship") - F.unix_timestamp("o_orderdate")
                ).cast("bigint")
                / F.lit(86400)
            ).cast("bigint").alias("latency_days"),
        )
    )
    w_rank = Window.partitionBy("o_orderpriority").orderBy("latency_days", "o_orderkey")
    w_n = Window.partitionBy("o_orderpriority")
    ranked = per_order.select(
        "o_orderpriority",
        "latency_days",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.min("latency_days").cast("bigint").alias("min_days"),
        F.max(
            F.when(F.col("rn") == F.ceil(0.5 * F.col("n")), F.col("latency_days"))
        ).cast("bigint").alias("median_days"),
        F.max("latency_days").cast("bigint").alias("max_days"),
    )


@query(
    "supplier_concentration_hhi",
    oracle="""
    WITH rev AS (
        SELECT n.n_name, l.l_suppkey,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6)))
                    AS DOUBLE) AS r
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name, l.l_suppkey
    ),
    g AS (
        SELECT n_name,
               COUNT(*) AS n_suppliers,
               CAST(SUM(CAST(r AS DECIMAL(28,6))) AS DOUBLE) AS total_revenue,
               list(r ORDER BY l_suppkey) AS rs
        FROM rev GROUP BY n_name
    )
    SELECT n_name, n_suppliers, total_revenue,
           list_reduce(
               list_transform(rs, x -> (x / total_revenue) * (x / total_revenue)),
               (a, b) -> a + b) AS hhi
    FROM g
    """,
    survey_ops="A7,J6,stats",
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per nation: the Herfindahl-Hirschman
    index of revenue shares. Determinism: per-supplier revenue is an
    exact decimal sum whose double conversion is EXACT (micro-unit
    magnitudes fit the 53-bit mantissa), and the share-squared sum is
    an order-pinned left fold in suppkey order — the same pinned-fold
    contract the vector operators use — so both engines execute the
    identical IEEE op sequence. (A plain SUM over float shares would
    be order-dependent; a wider exact-decimal Σr² overflows the
    convert-to-double guarantee instead.)

    Plan: the fact join shuffles once on suppkey; nation (25 rows,
    fixed) broadcasts, supplier (grows with SF) is left to AQE; the
    per-nation fold touches suppliers-per-nation elements (bounded by
    dimension cardinality, not fact volume).
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), "n_name"
    )
    rev = (
        li.join(s, "l_suppkey")
        .join(F.broadcast(n), "s_nationkey")
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum(F.col("rev").cast("decimal(28,6)")).cast("double").alias("r"))
    )
    g = rev.groupBy("n_name").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.col("r").cast("decimal(28,6)")).cast("double").alias("total_revenue"),
        F.array_sort(F.collect_list(F.struct("l_suppkey", "r"))).alias("rs"),
    )
    share_sq = F.transform(
        F.col("rs"),
        lambda x: (x["r"] / F.col("total_revenue")) * (x["r"] / F.col("total_revenue")),
    )
    return g.select(
        "n_name",
        "n_suppliers",
        "total_revenue",
        F.aggregate(share_sq, F.lit(0.0), lambda acc, v: acc + v).alias("hhi"),
    )


VELOCITY_TOP_PER_CLASS = 3


@query(
    "part_velocity_share",
    oracle=f"""
    WITH qty AS (
        SELECT p.p_size, l.l_partkey,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS part_qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_size, l.l_partkey
    ),
    shared AS (
        SELECT p_size, l_partkey, part_qty,
               CAST(SUM(CAST(part_qty AS DECIMAL(28,2))) OVER (PARTITION BY p_size)
                    AS DOUBLE) AS class_qty,
               row_number() OVER (PARTITION BY p_size
                                  ORDER BY part_qty DESC, l_partkey) AS rnk
        FROM qty
    )
    SELECT p_size, l_partkey AS p_partkey, CAST(rnk AS INT) AS rnk,
           part_qty, class_qty,
           part_qty / class_qty AS qty_share
    FROM shared
    WHERE rnk <= {VELOCITY_TOP_PER_CLASS}
    """,
    survey_ops="W2,W4,A7",
)
def part_velocity_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part velocity: the 3 fastest-moving parts per size class with
    their share of the class's shipped quantity — top-k-per-group and
    ratio-to-parent in ONE window pass over the part-grain aggregate.
    Quantities are exact decimal sums whose double conversion is exact
    (2-decimal magnitudes sit inside the 53-bit mantissa), and the
    share is one IEEE division.

    Plan: fact join shuffles on partkey (part grows with SF — join
    strategy left to AQE, which broadcasts while it fits); both window
    functions share the single p_size partitioning (one exchange); the
    rank filter prunes to 3 rows per class before any further stage.
    """
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_size"
    )
    qty = (
        li.join(p, "l_partkey")
        .groupBy("p_size", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,2)")).cast("double").alias("part_qty"))
    )
    w_class = Window.partitionBy("p_size")
    shared = qty.select(
        "p_size",
        "l_partkey",
        "part_qty",
        F.sum(F.col("part_qty").cast("decimal(28,2)"))
        .over(w_class)
        .cast("double")
        .alias("class_qty"),
        F.row_number()
        .over(w_class.orderBy(F.desc("part_qty"), "l_partkey"))
        .alias("rnk"),
    )
    return (
        shared.where(F.col("rnk") <= VELOCITY_TOP_PER_CLASS)
        .select(
            "p_size",
            F.col("l_partkey").alias("p_partkey"),
            F.col("rnk").cast("int").alias("rnk"),
            "part_qty",
            "class_qty",
            (F.col("part_qty") / F.col("class_qty")).alias("qty_share"),
        )
    )


@query(
    "nation_trade_flows",
    oracle="""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    WHERE ns.n_name <> nc.n_name
    GROUP BY ns.n_name, nc.n_name
    """,
    survey_ops="J6,A7",
)
def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-nation trade volume (TPC-H Q7's shape): revenue flowing
    from each supplier nation to each distinct customer nation, off the
    full lineitem⋈orders⋈customer⋈supplier join. Decimal-exact volume.

    Plan: ONE fact-fact shuffle (lineitem⋈orders on orderkey);
    customer joins on the already-shuffled orders side; supplier (an
    SF-growing dim) is left to AQE's strategy choice, while the two
    nation copies (25 rows, fixed) broadcast. The final rollup's key
    space is
    nations² — tiny — so the aggregate is map-side combined into
    almost nothing before the last exchange.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), F.col("s_nationkey")
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nc = n.select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    )
    ns = n.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, "l_suppkey")
        .join(F.broadcast(nc), "c_nationkey")
        .join(F.broadcast(ns), "s_nationkey")
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum(F.col("rev").cast("decimal(28,6)")).cast("double").alias("volume"),
        )
    )


@query(
    "customer_cohort_setops",
    oracle="""
    WITH h1 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
    ),
    h2 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    )
    SELECT 'retained' AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2)
    UNION ALL
    SELECT 'churned', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT o_custkey FROM h1 EXCEPT SELECT o_custkey FROM h2)
    UNION ALL
    SELECT 'acquired', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT o_custkey FROM h2 EXCEPT SELECT o_custkey FROM h1)
    """,
    survey_ops="U2,U3,setops",
)
def customer_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set operators on customer key sets: INTERSECT =
    customers ordering in both eras (retained), EXCEPT each way =
    churned / acquired — the set-algebra view of cohort movement
    (`priority_churn` is the row-diff view). Spark lowers
    intersect/exceptAll to semi-/anti-joins on the distinct key sets,
    so each branch is one hash join over post-distinct keys.
    """
    o = table(spark, sf_dir, "orders")
    cut = F.lit("1995-01-01 00:00:00").cast("timestamp")
    h1 = o.where(F.col("o_orderdate") < cut).select("o_custkey").distinct()
    h2 = o.where(F.col("o_orderdate") >= cut).select("o_custkey").distinct()

    def count_as(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("cohort"),
            F.count("*").cast("bigint").alias("n_customers"),
        )

    return (
        count_as(h1.intersect(h2), "retained")
        .unionByName(count_as(h1.exceptAll(h2), "churned"))
        .unionByName(count_as(h2.exceptAll(h1), "acquired"))
    )


@query(
    "priority_price_rank_families",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER w AS rn,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey)
    )
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(rn AS BIGINT) AS rn, CAST(rnk AS BIGINT) AS rnk,
           CAST(drnk AS BIGINT) AS drnk
    FROM r WHERE rn <= 5
    """,
    survey_ops="W2,W4",
)
def priority_price_rank_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three rank families side by side (row_number / rank /
    dense_rank) over one shared window, top-5 per priority — the
    reporting idiom that needs tie behavior to be explicit. One window
    shuffle; the total-order tie-break keeps row_number deterministic,
    and rank/dense_rank expose where ties actually fall.
    """
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    o = table(spark, sf_dir, "orders")
    r = o.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
    )
    return r.where(F.col("rn") <= 5)


@query(
    "customer_order_delta_fulljoin",
    oracle="""
    WITH h1 AS (
        SELECT o_custkey, COUNT(*) AS n1 FROM orders
        WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00' GROUP BY o_custkey
    ),
    h2 AS (
        SELECT o_custkey, COUNT(*) AS n2 FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' GROUP BY o_custkey
    )
    SELECT COALESCE(h1.o_custkey, h2.o_custkey) AS o_custkey,
           CAST(COALESCE(n1, 0) AS BIGINT) AS n1,
           CAST(COALESCE(n2, 0) AS BIGINT) AS n2,
           CASE WHEN h1.o_custkey IS NULL THEN 'added'
                WHEN h2.o_custkey IS NULL THEN 'removed'
                WHEN n2 > n1 THEN 'grew'
                WHEN n2 < n1 THEN 'shrank'
                ELSE 'same' END AS delta
    FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
    """,
    survey_ops="J6,D1,setops",
)
def customer_order_delta_fulljoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via FULL OUTER JOIN: per-customer order
    counts in two eras, classified added / removed / grew / shrank /
    same off the null pattern — the value-level diff
    (`customer_cohort_setops` is the membership-only view, and the
    null-pattern classification is the same shape the curation diff
    engine applies to tag sets). One shuffle on custkey shared by both
    aggregates and the join.
    """
    o = table(spark, sf_dir, "orders")
    cut = F.lit("1995-01-01 00:00:00").cast("timestamp")
    h1 = (
        o.where(F.col("o_orderdate") < cut)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n1"))
        .select(F.col("o_custkey").alias("k1"), "n1")
    )
    h2 = (
        o.where(F.col("o_orderdate") >= cut)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n2"))
        .select(F.col("o_custkey").alias("k2"), "n2")
    )
    j = h1.join(h2, F.col("k1") == F.col("k2"), "full_outer")
    return j.select(
        F.coalesce(F.col("k1"), F.col("k2")).alias("o_custkey"),
        F.coalesce(F.col("n1"), F.lit(0)).cast("bigint").alias("n1"),
        F.coalesce(F.col("n2"), F.lit(0)).cast("bigint").alias("n2"),
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("n2") > F.col("n1"), "grew")
        .when(F.col("n2") < F.col("n1"), "shrank")
        .otherwise("same")
        .alias("delta"),
    )


def _revenue_decile_parts(spark: SparkSession, sf_dir: str):
    """Shared internals of revenue_decile_scalable and its un-gated
    diagnostics twin: per-customer revenue, the 9-value KLL boundary
    sketch (single broadcastable row), and per-decile counts — no
    sort, no window anywhere."""
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.expr(dec_sum("o_totalprice")).alias("revenue"))
    pcts = ", ".join(str(i / 10) for i in range(1, 10))
    bounds = rev.agg(
        F.expr(f"approx_percentile(revenue, array({pcts}), 10000)").alias("bounds")
    )
    assigned = rev.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        (
            F.lit(1)
            + F.size(F.filter(F.col("bounds"), lambda b: F.col("revenue") > b))
        ).alias("decile"),
    )
    per = assigned.groupBy("decile").agg(F.count("*").alias("c"))
    return rev, bounds, per


def revenue_decile_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UN-gated diagnostics twin of `revenue_decile_scalable` (ADVICE
    r4): one row per decile with the raw count plus the boundary array,
    so a gate red (e.g. duplicate approx_percentile boundaries emptying
    a decile at some SF) is diagnosable by running this — same
    internals via `_revenue_decile_parts`, not registered, not hashed.
    """
    _rev, bounds, per = _revenue_decile_parts(spark, sf_dir)
    return (
        per.crossJoin(F.broadcast(bounds))
        .select(
            "decile",
            F.col("c").alias("n_customers"),
            F.col("bounds").alias("boundaries"),
        )
        .orderBy("decile")
    )


@query(
    "revenue_decile_scalable",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(10 AS BIGINT) AS n_deciles,
           TRUE AS boundaries_monotonic,
           TRUE AS all_assigned,
           TRUE AS balanced
    FROM orders
    """,
    survey_ops="A6,W1,sketch,scale",
)
def revenue_decile_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ≥1e9-row decile path `customer_revenue_deciles`' docstring
    promises, implemented and gated: approx_percentile boundaries +
    broadcast range assignment instead of a global ntile sort.

    Plan shape: per-customer revenue (one shuffle, map-side combined) →
    a 9-value KLL boundary sketch (single row, mergeable fixed-size
    state) → broadcast the boundaries and assign each customer a decile
    by counting boundaries below its revenue (pure column expression,
    no sort, no window) → per-decile rollup. NOTHING in the plan sorts
    the full customer set; the only single-partition structure is the
    9-double boundary array.

    Gate design: boundary VALUES are sketch-state (engine-private), so
    the oracle pins invariants instead — exact customer total, exactly
    10 non-empty deciles, monotonic boundaries, every customer
    assigned, and per-decile counts within max(2, 2%·n/10 + n/10000)
    of n/10 (the KLL accuracy=10000 rank-error bound plus boundary-tie
    slack) — each as a boolean the oracle asserts TRUE.

    Diagnosability (ADVICE r4): the raw values behind the booleans
    cannot ride the gated row (they'd join the hash and the oracle
    cannot predict sketch state), so a future red is diagnosed with
    the UN-gated companion `revenue_decile_diagnostics(spark, sf_dir)`
    below — same internals, emits the actual boundary array and
    per-decile counts.
    """
    _rev, bounds, per = _revenue_decile_parts(spark, sf_dir)
    o = table(spark, sf_dir, "orders")
    summ = per.agg(
        F.count("*").alias("n_deciles"),
        F.sum("c").alias("n_customers"),
        F.max("c").alias("_mx"),
        F.min("c").alias("_mn"),
    ).crossJoin(F.broadcast(bounds))
    mono = F.expr(
        "forall(zip_with(slice(bounds, 1, 8), slice(bounds, 2, 8), (x, y) -> x <= y), b -> b)"
    )
    target = F.col("n_customers").cast("double") / 10.0
    tol = F.greatest(
        F.lit(2.0),
        target * 0.02 + F.col("n_customers").cast("double") / 10000.0,
    )
    exact_n = o.agg(F.countDistinct("o_custkey").alias("_exact_n"))
    return (
        summ.crossJoin(F.broadcast(exact_n))
        .select(
            F.col("_exact_n").alias("n_customers"),
            "n_deciles",
            mono.alias("boundaries_monotonic"),
            (F.col("n_customers") == F.col("_exact_n")).alias("all_assigned"),
            (
                (F.col("_mx").cast("double") - target <= tol)
                & (target - F.col("_mn").cast("double") <= tol)
            ).alias("balanced"),
        )
    )


@query(
    "incremental_view_maintenance",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey_ops="A6,A7,incremental,streaming",
)
def incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, gated against the full
    recompute: the orders table is split into a 'previously
    materialized' base (90%) and an arriving delta (10%); the
    per-priority aggregate view is maintained by merging the delta's
    PARTIAL aggregates into the stored view state (full-outer on the
    group key, counts added, decimal sums added EXACTLY before the one
    final cast) — and the oracle is simply the full aggregate over the
    whole table, so the gate proves merge(view(base), agg(delta)) ==
    view(base ∪ delta) bit-for-bit.

    This is the continuous-aggregate shape at 100 TB: the view updates
    by one aggregation over the delta plus one merge keyed on the
    (small) group space — the base table is never re-read. In
    production the merge runs inside foreachBatch as a Delta MERGE;
    the arithmetic shown here (exact decimal partials, cast once at
    read time) is what makes the incremental path indistinguishable
    from recompute.
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    delta = o.filter(F.col("o_orderkey") % 10 == 0)

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("_s"),
        )

    view = partials(base).select(
        "o_orderpriority", F.col("_n").alias("n0"), F.col("_s").alias("s0")
    )
    upd = partials(delta).select(
        "o_orderpriority", F.col("_n").alias("n1"), F.col("_s").alias("s1")
    )
    merged = view.join(upd, "o_orderpriority", "full_outer")
    zero = F.lit(0).cast("decimal(28,2)")
    return merged.select(
        "o_orderpriority",
        (F.coalesce(F.col("n0"), F.lit(0)) + F.coalesce(F.col("n1"), F.lit(0))).alias("n_orders"),
        (F.coalesce(F.col("s0"), zero) + F.coalesce(F.col("s1"), zero))
        .cast("double")
        .alias("total_price"),
    )


def segment_distinct_users_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UN-gated diagnostics twin of `segment_distinct_users_sketch`
    (ADVICE r5, same pattern as `_sketch_profile_stats` /
    `revenue_decile_diagnostics`): the raw per-segment HLL estimate and
    relative error beside the exact count, so a future gate red is
    diagnosable from the artifact without touching the gated plan."""
    exact, approx = _segment_distinct_parts(spark, sf_dir)
    return exact.join(approx, "c_mktsegment").select(
        "c_mktsegment",
        "n_events",
        "exact_users",
        F.col("_acd").alias("hll_estimate"),
        (
            F.abs(F.col("_acd").cast("double") - F.col("exact_users").cast("double"))
            / F.col("exact_users").cast("double")
        ).alias("rel_err"),
    )


def _segment_distinct_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared internals of the gated sketch query and its diagnostics
    twin: exact and HLL aggregations in SEPARATE passes (see the gated
    docstring for why), joined on the 5-row segment key by callers."""
    e = table(spark, sf_dir, "events").select("user_id")
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = e.join(c, "user_id")
    exact = j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    approx = j.groupBy("c_mktsegment").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("_acd")
    )
    return exact, approx


@query(
    "segment_distinct_users_sketch",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_within_4pct
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey_ops="A6,sketch,J3,scale",
)
def segment_distinct_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED sketch audit (r5) — `sketch_profile`'s per-group sibling:
    distinct active users per market segment, exact beside HLL++, the
    estimate gated as a ≤2% relative-error boolean per group. This is
    the shape sketches exist for at 100 TB: per-group HLL registers are
    fixed-size MERGEABLE state (map-side combine ships 16KB per
    (partition, group), never the user set), while the exact
    count-distinct expands rows per distinct key — the gate proves the
    cheap path tracks the expensive one on every segment.

    Plan notes: the customer dim joins WITHOUT a broadcast hint (it
    grows with SF — AQE decides, per the round-4/5 rule). Exact and
    sketch aggregate in SEPARATE passes joined on segment: mixing
    countDistinct with approx_count_distinct in one agg makes the
    partial-agg key (gid, user_id) and allocates an HLL register file
    per distinct user (the 25× blowup documented at
    `_sketch_profile_stats`); 5-row join is free.

    Gate bound (ADVICE r5): rsd=0.01 is a standard DEVIATION, not a
    bound — with 5 segments and multiple SFs, gating each group at 2%
    (2σ) makes a ~2σ excursion on ANY group a false-alarm red. The
    gated boolean is 4% (4σ, P[any-of-5 exceeds] ≈ 3e-4); the raw
    per-group estimates live in the un-gated
    `segment_distinct_users_diagnostics` twin above.
    """
    exact, approx = _segment_distinct_parts(spark, sf_dir)
    return exact.join(approx, "c_mktsegment").select(
        "c_mktsegment",
        "n_events",
        "exact_users",
        (
            F.abs(F.col("_acd").cast("double") - F.col("exact_users").cast("double"))
            / F.col("exact_users").cast("double")
            <= 0.04
        ).alias("hll_within_4pct"),
    )
