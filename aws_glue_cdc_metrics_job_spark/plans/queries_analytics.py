"""Graded queries widening the standard-analytics surface beyond the
reference's own operator set (SURVEY.md §2 "Not present" rows): INTERSECT,
pivot/unpivot, lead + range frames, exact percentiles, ntile bucketing,
grouping sets, JSON extraction, and ordered string aggregation. Each is an
operator a reference user would expect from a general engine; each has a
DuckDB oracle.

Scale notes (SCALE.md posture): all queries are single-pass declarative
plans — pivot is a partial-aggregated groupBy with a fixed value list (no
distinct-scan for column discovery), percentiles run per-group (no global
sort), ntile's lone global window runs on an already-aggregated or bounded
input only, and JSON extraction is a codegen'd projection.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, rhu, sql_dsum, sql_rhu
from ..sources import read_table
from .catalog import query

# --- set op the reference lacks: INTERSECT (distinct semantics, like O1)


@query(
    "orders_intersect_custkeys",
    tags=("untimed",),
    oracle="""
SELECT o_custkey AS CUST_ID FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey AS CUST_ID FROM orders WHERE o_orderstatus = 'O'
""",
)
def q_orders_intersect(spark: SparkSession, sf_dir: str):
    """Customers with both a finished and an open order. Physically a
    key-only distinct + join — same single-shuffle shape as set_except."""
    o = read_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("CUST_ID"))
    op = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("CUST_ID"))
    return f.intersect(op)


# --- pivot (wide conditional aggregation with a FIXED value list: one pass,
# no pre-scan for distinct pivot values — the 100TB-safe form)

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@query(
    "orders_priority_pivot",
    tags=("untimed",),
    oracle="""
SELECT o_orderstatus AS STATUS,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
       COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
       COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
       COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
FROM orders GROUP BY 1
""",
)
def q_orders_priority_pivot(spark: SparkSession, sf_dir: str):
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderstatus").alias("STATUS"))
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _PRIORITIES)
    )


# --- unpivot / melt (wide metrics -> long (metric, value) rows)


@query(
    "pricing_unpivot",
    tags=("untimed",),
    oracle=f"""
WITH w AS (
  SELECT l_returnflag AS RETURN_FLAG,
         {sql_dsum("l_quantity", 2)} AS sum_qty,
         {sql_dsum("l_extendedprice", 2)} AS sum_base_price,
         {sql_dsum("l_discount", 2)} AS sum_discount
  FROM lineitem GROUP BY 1
)
SELECT RETURN_FLAG, 'sum_qty' AS METRIC, sum_qty AS VAL FROM w
UNION ALL SELECT RETURN_FLAG, 'sum_base_price', sum_base_price FROM w
UNION ALL SELECT RETURN_FLAG, 'sum_discount', sum_discount FROM w
""",
)
def q_pricing_unpivot(spark: SparkSession, sf_dir: str):
    """Aggregate-then-melt: unpivot runs on the tiny aggregated frame, so
    the long form never multiplies the fact-table row count."""
    li = read_table(spark, sf_dir, "lineitem")
    wide = li.groupBy(F.col("l_returnflag").alias("RETURN_FLAG")).agg(
        dsum(F.col("l_quantity"), 2).alias("sum_qty"),
        dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
        dsum(F.col("l_discount"), 2).alias("sum_discount"),
    )
    return wide.unpivot(
        ["RETURN_FLAG"], ["sum_qty", "sum_base_price", "sum_discount"], "METRIC", "VAL"
    )


# --- lead + event-time RANGE frame (trailing 7-day sum per user). Frames
# keyed on integer microsecond epochs so Spark and the oracle bound peers
# identically at full timestamp precision.


@query(
    "events_lead_trailing7d",
    tags=("untimed",),
    oracle=f"""
SELECT event_id AS EVENT_ID, user_id AS USER_ID, ts AS TS,
       date_diff('microsecond', ts,
                 LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS GAP_US,
       {sql_rhu(
           "SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)"
           " RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)", 6)} AS TRAILING_7D_VALUE
FROM events
""",
)
def q_events_lead_trailing7d(spark: SparkSession, sf_dir: str):
    """LEAD (forward analog of the reference's W3 lag) plus a true
    event-time RANGE frame — the sliding-window form C6's trailing compare
    generalizes to. State per user is bounded by the 7-day span."""
    ev = read_table(spark, sf_dir, "events")
    w_lead = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        F.col("event_id").alias("EVENT_ID"),
        F.col("user_id").alias("USER_ID"),
        F.col("ts").alias("TS"),
        (F.unix_micros(F.lead("ts").over(w_lead)) - F.unix_micros(F.col("ts"))).alias("GAP_US"),
        rhu(F.sum("value").over(w_range), 6).alias("TRAILING_7D_VALUE"),
    )


# --- exact interpolated percentiles (generalizes Q1's quantile machinery
# to a grouped aggregate; both engines use linear interpolation)


@query(
    "orders_price_percentiles",
    tags=("untimed",),
    oracle=f"""
SELECT o_orderstatus AS STATUS,
       {sql_rhu("quantile_cont(o_totalprice, 0.5)", 4)} AS MEDIAN_PRICE,
       {sql_rhu("quantile_cont(o_totalprice, 0.9)", 4)} AS P90_PRICE,
       COUNT(*) AS N_ORDERS
FROM orders GROUP BY 1
""",
)
def q_orders_price_percentiles(spark: SparkSession, sf_dir: str):
    """Exact percentile is a sort-based aggregate per group — fine at any
    group count; for 100TB single-group cases swap approx_percentile
    (mergeable sketch) at the call site."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("STATUS")).agg(
        rhu(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("MEDIAN_PRICE"),
        rhu(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("P90_PRICE"),
        F.count(F.lit(1)).alias("N_ORDERS"),
    )


def _poisson_case_sql() -> str:
    from ..operators.stats import poisson1_hex_thresholds

    whens = " ".join(
        f"WHEN u < '{t}' THEN {k}" for k, t in enumerate(poisson1_hex_thresholds())
    )
    return f"CASE {whens} ELSE 7 END"


@query(
    "events_value_bootstrap_ci",
    tags=("min2",),
    oracle=f"""
WITH reps AS (
  SELECT event_type, value,
         r.rep,
         SUBSTRING(MD5(CAST(event_id AS VARCHAR) || '|' || CAST(r.rep AS VARCHAR) || '|bs1'),
                   1, 8) AS u
  FROM events, (SELECT unnest(range(0, 100)) AS rep) r
),
w AS (SELECT event_type, value, rep, {_poisson_case_sql()} AS w FROM reps),
means AS (
  SELECT event_type, rep,
         {sql_rhu(sql_dsum('value * w', 2) + " / SUM(w)", 6)} AS m
  FROM w GROUP BY 1, 2 HAVING SUM(w) > 0
),
ci AS (
  SELECT event_type,
         {sql_rhu("quantile_cont(m, 0.025)", 6)} AS CI_LO,
         {sql_rhu("quantile_cont(m, 0.975)", 6)} AS CI_HI
  FROM means GROUP BY 1
),
pt AS (
  SELECT event_type, COUNT(*) AS N_ROWS,
         {sql_rhu(sql_dsum('value', 2) + " / COUNT(*)", 6)} AS MEAN
  FROM events GROUP BY 1
)
SELECT pt.event_type AS EVENT_TYPE, pt.N_ROWS, pt.MEAN, ci.CI_LO, ci.CI_HI
FROM pt JOIN ci USING (event_type)
""",
)
def q_events_value_bootstrap_ci(spark: SparkSession, sf_dir: str):
    """Per-type mean value with a 95% Poisson-bootstrap CI
    (operators/stats.bootstrap_mean_ci, b=100): resampling as a per-row
    deterministic weight, replicate means as exact decimal sums, interval
    from interpolated percentiles of the 100 means -- bit-reproducible
    across engines because the Poisson draws share md5+threshold
    literals."""
    from ..operators.stats import bootstrap_mean_ci

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", F.col("event_type").alias("EVENT_TYPE"), "value"
    )
    return bootstrap_mean_ci(
        ev, "value", ["event_id"], group_cols=["EVENT_TYPE"], b=100, seed="bs1"
    )


@query(
    "events_value_winsorized",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         {sql_rhu("quantile_cont(value, 0.05)", 6)} AS LO_BOUND,
         {sql_rhu("quantile_cont(value, 0.95)", 6)} AS HI_BOUND
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type AS EVENT_TYPE,
       LEAST(GREATEST(e.value, b.LO_BOUND), b.HI_BOUND) AS VALUE_W,
       b.LO_BOUND, b.HI_BOUND
FROM events e JOIN b USING (event_type)
""",
)
def q_events_value_winsorized(spark: SparkSession, sf_dir: str):
    """Per-type percentile winsorization (functions/quantile.winsorize):
    clip value to its group's [p05, p95] -- the heavy-tail guard before
    averaging. One percentile agg broadcast back + a scan-stage clamp;
    approx_percentile is the in-code 100 TB swap (exact=False)."""
    from ..functions.quantile import winsorize

    ev = read_table(spark, sf_dir, "events")
    out = winsorize(ev, "value", lower=0.05, upper=0.95, group_cols=["event_type"])
    return out.select(
        "event_id",
        F.col("event_type").alias("EVENT_TYPE"),
        F.col("value_W").alias("VALUE_W"),
        "LO_BOUND",
        "HI_BOUND",
    )


# --- ntile bucketing (rank-based quartiles; deterministic via full-order
# tiebreak). The purchase-event frame grows with the data, so the tiles
# come from operators/ranking.ntile_exact (distributed rank), not a
# SinglePartition NTILE window; functions/quantile.py stays the
# value-based (qcut-parity) alternative.


@query(
    "events_value_ntile",
    tags=("skew",),
    oracle="""
WITH b AS (
  SELECT value, NTILE(4) OVER (ORDER BY value, event_id) AS BUCKET
  FROM events WHERE event_type = 'purchase'
)
SELECT BUCKET, COUNT(*) AS N, MIN(value) AS MIN_VALUE, MAX(value) AS MAX_VALUE
FROM b GROUP BY 1
""",
)
def q_events_value_ntile(spark: SparkSession, sf_dir: str):
    from ..operators.ranking import ntile_exact

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    tiled = ntile_exact(
        ev.select("value", "event_id"), 4, key="value", tiebreaks=["event_id"],
        tile_col="BUCKET",
    )
    return (
        tiled.groupBy("BUCKET")
        .agg(
            F.count(F.lit(1)).alias("N"),
            F.min("value").alias("MIN_VALUE"),
            F.max("value").alias("MAX_VALUE"),
        )
    )


# --- GROUPING SETS with grouping flags (finer control than rollup/cube;
# SQL surface — Spark's DataFrame API exposes only rollup/cube)


@query(
    "orders_grouping_sets",
    tags=("untimed",),
    oracle="""
SELECT o_orderstatus AS STATUS, o_orderpriority AS PRIORITY,
       GROUPING(o_orderstatus) AS G_STATUS, GROUPING(o_orderpriority) AS G_PRIORITY,
       COUNT(*) AS N
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def q_orders_grouping_sets(spark: SparkSession, sf_dir: str):
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus AS STATUS, o_orderpriority AS PRIORITY,
               CAST(grouping(o_orderstatus) AS BIGINT) AS G_STATUS,
               CAST(grouping(o_orderpriority) AS BIGINT) AS G_PRIORITY,
               COUNT(*) AS N
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --- JSON extraction (events.props is a JSON document column)


@query(
    "events_json_props",
    tags=("untimed",),
    oracle="""
SELECT event_type AS EVENT_TYPE,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS SUM_K,
       COUNT(json_extract_string(props, '$.k')) AS N_WITH_K
FROM events GROUP BY 1
""",
)
def q_events_json_props(spark: SparkSession, sf_dir: str):
    """get_json_object is a codegen'd projection — JSON parse cost is
    per-row CPU in the scan stage, no extra shuffle."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.groupBy(F.col("event_type").alias("EVENT_TYPE")).agg(
        F.sum(k).alias("SUM_K"), F.count(k).alias("N_WITH_K")
    )


# --- ordered distinct string aggregation (portable form of collect_set:
# sort imposed explicitly so the array/string is engine-independent)


@query(
    "users_event_type_profile",
    tags=("untimed",),
    oracle="""
SELECT user_id AS USER_ID,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS EVENT_TYPES,
       COUNT(DISTINCT event_type) AS N_TYPES
FROM events GROUP BY 1
""",
)
def q_users_event_type_profile(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("user_id").alias("USER_ID")).agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("EVENT_TYPES"),
        F.countDistinct("event_type").alias("N_TYPES"),
    )


@query(
    "events_funnel",
    tags=("skew",),
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t
    AND epoch_us(e.ts) <= epoch_us(s1.t) + 604800000000
  GROUP BY 1
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t
    AND epoch_us(e.ts) <= epoch_us(s2.t) + 604800000000
  GROUP BY 1
)
SELECT CAST(1 AS BIGINT) AS STAGE, 'view' AS EVENT_TYPE, CAST(COUNT(*) AS BIGINT) AS N_USERS FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), 'click', CAST(COUNT(*) AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS BIGINT), 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
""",
)
def q_events_funnel(spark: SparkSession, sf_dir: str):
    """Ordered funnel conversion (view -> click -> purchase, each step
    within 7 days of the previous): stage-wise filtered aggregations
    joined on the shared user key -- the product-analytics funnel without
    per-user sequence materialization."""
    from ..operators.temporal import funnel_counts

    ev = read_table(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"], within_seconds=7 * 24 * 3600)


@query(
    "events_retention_cohorts",
    tags=("skew",),
    oracle="""
WITH anchors AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS COHORT_WEEK
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events
)
SELECT COHORT_WEEK,
       CAST((w - COHORT_WEEK) // 7 AS BIGINT) AS WEEK_OFFSET,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS N_USERS
FROM activity JOIN anchors USING (user_id)
WHERE w >= COHORT_WEEK
GROUP BY 1, 2
""",
)
def q_events_retention_cohorts(spark: SparkSession, sf_dir: str):
    """Weekly cohort retention matrix (signup-week cohorts x activity-week
    offsets): two user-key aggregations and one equi-join; output bounded
    by weeks^2 regardless of corpus size. Monday-aligned week truncation
    in both engines makes offsets exact multiples of 7 days."""
    from ..operators.temporal import retention_cohorts

    ev = read_table(spark, sf_dir, "events")
    return retention_cohorts(ev, anchor_type="signup")


@query(
    "events_variant_props",
    tags=("untimed",),
    oracle="""
SELECT event_type AS EVENT_TYPE,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS MIN_K,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS MAX_K,
       CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                     THEN 1 ELSE 0 END) AS BIGINT) AS N_HIGH
FROM events GROUP BY 1
""",
)
def q_events_variant_props(spark: SparkSession, sf_dir: str):
    """Spark 4 VARIANT path for semi-structured props: parse_json once into
    the binary variant encoding, then typed variant_get extractions -- the
    shredded-access form that beats per-extraction string re-parsing when a
    query touches multiple fields (here the parse is shared by all three
    aggregates; with N get_json_object calls the JSON would be re-parsed N
    times per row). Plan stays a scan-stage projection + one aggregation."""
    ev = read_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return ev.select(F.col("event_type"), k.alias("__k")).groupBy(
        F.col("event_type").alias("EVENT_TYPE")
    ).agg(
        F.min("__k").alias("MIN_K"),
        F.max("__k").alias("MAX_K"),
        F.sum(F.when(F.col("__k") >= 50, 1).otherwise(0)).cast("long").alias("N_HIGH"),
    )


# --- classic multi-join analytics (TPC-H Q3/Q5 shapes): the join-ordering
# and broadcast-chain workload every warehouse user runs. Catalyst orders
# the joins and broadcasts every dimension side (region/nation/customer
# fit; orders x lineitem is the one real shuffle pair); revenue sums use
# the decimal convention so the oracle hashes match at any partitioning.


@query(
    "orders_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey AS ORDER_ID,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS REVENUE,
       o.o_orderdate AS ORDER_DATE,
       o.o_orderpriority AS PRIORITY
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY REVENUE DESC, ORDER_ID
LIMIT 10
""",
)
def q_orders_shipping_priority(spark: SparkSession, sf_dir: str):
    """Unshipped high-value orders for one market segment (TPC-H Q3
    shape): 3-way join with both filters pushed to the scans, revenue
    agg, global top-10 as TakeOrderedAndProject (no full sort). The
    segment-filtered customer side broadcasts."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("l_orderkey").alias("ORDER_ID"),
            F.col("o_orderdate").alias("ORDER_DATE"),
            F.col("o_orderpriority").alias("PRIORITY"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("REVENUE"))
        .orderBy(F.col("REVENUE").desc(), "ORDER_ID")
        .limit(10)
    )


@query(
    "region_nation_volume",
    oracle=f"""
SELECT n.n_name AS NATION,
       CAST(COUNT(*) AS BIGINT) AS N_LINES,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS REVENUE
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def q_region_nation_volume(spark: SparkSession, sf_dir: str):
    """Per-nation order volume for one region over two years (TPC-H Q5
    shape): a 5-way join where region -> nation -> customer collapse into
    broadcast hash joins feeding the one genuine orders x lineitem
    shuffle; the region filter prunes before anything widens."""
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "n_name")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(dims), o["o_custkey"] == dims["c_custkey"])
        .groupBy(F.col("n_name").alias("NATION"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("N_LINES"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("REVENUE"),
        )
    )


@query(
    "events_value_trend",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         {sql_dsum("value", 2)} AS y
  FROM events GROUP BY 1, 2
),
q AS (
  SELECT event_type,
         CAST(floor(date_diff('day', DATE '2024-01-01', d) * 1000000 + 0.5) AS DECIMAL(19,0)) AS xq,
         CAST(floor(y * 1000000 + 0.5) AS DECIMAL(19,0)) AS yq
  FROM daily
),
a AS (
  SELECT event_type, COUNT(*) AS np,
         SUM(xq) AS sx, SUM(yq) AS sy,
         SUM(xq * yq) AS sxy, SUM(xq * xq) AS sxx, SUM(yq * yq) AS syy
  FROM q GROUP BY 1
),
d AS (
  SELECT event_type, np,
         CAST(np AS DOUBLE) AS n,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
         CAST(syy AS DOUBLE) AS syyd
  FROM a
)
SELECT event_type AS EVENT_TYPE,
       CAST(np AS BIGINT) AS N_POINTS,
       CASE WHEN np >= 2 AND (n * sxxd - sxd * sxd) > 0
            THEN {sql_rhu("(n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd)", 6)} END AS SLOPE,
       CASE WHEN np >= 2 AND (n * sxxd - sxd * sxd) > 0
            THEN {sql_rhu("((syd - ((n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd)) * sxd) / n) / 1000000", 6)} END AS INTERCEPT,
       CASE WHEN np >= 2 AND (n * sxxd - sxd * sxd) > 0 AND (n * syyd - syd * syd) > 0
            THEN {sql_rhu("((n * sxyd - sxd * syd) * (n * sxyd - sxd * syd)) / ((n * sxxd - sxd * sxd) * (n * syyd - syd * syd))", 6)} END AS R2
FROM d
""",
)
def q_events_value_trend(spark: SparkSession, sf_dir: str):
    """Per-event-type OLS trend of daily total value against the day
    index (stats.grouped_trend): the metric-drift detector. Sufficient
    statistics are exact lattice integers, so the fitted slopes are
    bit-identical across engines and cluster sizes -- unlike the builtin
    regr_slope's shuffle-order double accumulation."""
    from ..operators.stats import grouped_trend

    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.col("event_type").alias("EVENT_TYPE"),
            F.date_trunc("day", F.col("ts")).cast("date").alias("__d"),
        )
        .agg(dsum("value", 2).alias("__y"))
        .withColumn("__x", F.datediff(F.col("__d"), F.lit("2024-01-01").cast("date")))
    )
    return grouped_trend(daily, "__x", "__y", ["EVENT_TYPE"])


# --- sessionization, cohorts, concentration, deep-join analytics.
# Integer/decimal lattices throughout (micros, cents, ppm) per the repo's
# cross-engine parity convention -- no rounded-double output columns.


@query(
    "events_sessionize_stats",
    tags=("skew",),
    oracle="""
WITH e AS (
  SELECT user_id, ts, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                   > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
s AS (
  SELECT user_id, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM e
),
per AS (
  SELECT user_id, sess, COUNT(*) AS n_ev, MAX(us) - MIN(us) AS dur_us
  FROM s GROUP BY 1, 2
)
SELECT user_id AS USER_ID,
       CAST(COUNT(*) AS BIGINT) AS N_SESSIONS,
       CAST(SUM(n_ev) AS BIGINT) AS N_EVENTS,
       CAST(MAX(n_ev) AS BIGINT) AS MAX_SESSION_EVENTS,
       CAST(SUM(dur_us) // 1000000 AS BIGINT) AS ACTIVE_SECONDS
FROM per GROUP BY 1
""",
)
def q_events_sessionize_stats(spark: SparkSession, sf_dir: str):
    """Gap-based sessionization (30-min timeout) reduced to per-user
    session stats: the lag-vs-threshold new-session flag and its running
    sum assign session ids in ONE per-user window pass (no self-join), two
    keyed aggregations roll up -- the standard scalable shape (user-keyed
    shuffle, skew bounded by the busiest user). Durations are exact
    integer microseconds, floor-divided to seconds."""
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts")
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    new_s = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1_800_000_000),
        1,
    ).otherwise(0)
    sess = (
        ev.withColumn("__new", new_s)
        .withColumn(
            "__sess",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "__sess")
        .agg(F.count(F.lit(1)).alias("__n"), (F.max(us) - F.min(us)).alias("__dur"))
    )
    return sess.groupBy(F.col("user_id").alias("USER_ID")).agg(
        F.count(F.lit(1)).alias("N_SESSIONS"),
        F.sum("__n").cast("long").alias("N_EVENTS"),
        F.max("__n").cast("long").alias("MAX_SESSION_EVENTS"),
        F.expr("sum(__dur) div 1000000").cast("long").alias("ACTIVE_SECONDS"),
    )


@query(
    "events_activity_cohorts",
    tags=("skew",),
    oracle="""
WITH f AS (
  SELECT user_id, CAST(MIN(date_trunc('week', ts)) AS DATE) AS cohort FROM events GROUP BY 1
),
a AS (
  SELECT DISTINCT e.user_id, f.cohort,
         date_diff('day', f.cohort, CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS offs
  FROM events e JOIN f ON e.user_id = f.user_id
)
SELECT cohort AS COHORT_WEEK, CAST(offs AS INT) AS WEEK_OFFSET,
       CAST(COUNT(*) AS BIGINT) AS N_USERS
FROM a GROUP BY 1, 2
""",
)
def q_events_activity_cohorts(spark: SparkSession, sf_dir: str):
    """Weekly cohort retention: users bucketed by first-activity week,
    counted once per (cohort, week-offset) they return in -- the
    triangular retention matrix in long form. One keyed aggregation for
    cohorts, one broadcast-joinable map-back (cohort frame is
    users-sized but two columns), one distinct + count. date_trunc week
    is Monday-start in both engines; the offset is exact integer-day
    arithmetic."""
    ev = read_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    first = ev.groupBy("user_id").agg(F.min(week).alias("COHORT_WEEK"))
    active = (
        ev.select("user_id", week.alias("__w"))
        .join(first, "user_id")
        .select(
            "user_id",
            "COHORT_WEEK",
            (F.datediff(F.col("__w"), F.col("COHORT_WEEK")) / 7)
            .cast("int")
            .alias("WEEK_OFFSET"),
        )
        .distinct()
    )
    return active.groupBy("COHORT_WEEK", "WEEK_OFFSET").agg(
        F.count(F.lit(1)).alias("N_USERS")
    )


@query(
    "orders_pareto_deciles",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
d AS (
  SELECT o_custkey, cents,
         ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS DECILE
  FROM rev
),
g AS (
  SELECT DECILE, CAST(COUNT(*) AS BIGINT) AS N_CUSTOMERS,
         CAST(SUM(cents) AS BIGINT) AS REV_CENTS
  FROM d GROUP BY 1
)
SELECT CAST(DECILE AS INT) AS DECILE, N_CUSTOMERS, REV_CENTS,
       CAST((REV_CENTS * 1000000) // SUM(REV_CENTS) OVER () AS BIGINT) AS SHARE_PPM
FROM g
""",
)
def q_orders_pareto_deciles(spark: SparkSession, sf_dir: str):
    """Revenue concentration (Pareto) report: customers ranked into
    deciles by lifetime spend, each decile's exact cent total and ppm
    share of all revenue. The per-customer frame grows with the data, so
    the decile assignment uses ranking.ntile_exact (range-bucketed
    distributed rank, bit-identical to the NTILE window) instead of a
    SinglePartition global window; the share divides exact BIGINT cents.
    The top decile's SHARE_PPM is the 80/20 health number warehouses
    watch."""
    from ..functions.numeric import money
    from ..operators.ranking import ntile_exact

    o = read_table(spark, sf_dir, "orders")
    # stay in the decimal domain end to end: dsum's double image * 100
    # truncates a last-ulp .9999 under the long cast
    rev = o.groupBy("o_custkey").agg(
        (F.sum(money("o_totalprice", 2)) * 100).cast("long").alias("cents")
    )
    d = ntile_exact(
        rev, 10, key="cents", tiebreaks=["o_custkey"], desc=True, tile_col="DECILE"
    )
    g = d.groupBy("DECILE").agg(
        F.count(F.lit(1)).alias("N_CUSTOMERS"),
        F.sum("cents").cast("long").alias("REV_CENTS"),
    )
    return g.select(
        F.col("DECILE").cast("int").alias("DECILE"),
        "N_CUSTOMERS",
        "REV_CENTS",
        F.expr("(REV_CENTS * 1000000) div sum(REV_CENTS) over ()")
        .cast("long")
        .alias("SHARE_PPM"),
    )


@query(
    "customer_returns_report",
    oracle=f"""
SELECT c.c_custkey AS CUST_ID, c.c_name AS CUST_NAME,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS LOST_REV_CENTS,
       CAST(COUNT(*) AS BIGINT) AS N_RETURNED_ITEMS
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2
ORDER BY LOST_REV_CENTS DESC, CUST_ID
LIMIT 20
""",
)
def q_customer_returns_report(spark: SparkSession, sf_dir: str):
    """TPC-H Q10-shaped returned-item report: customers ranked by exact
    lost revenue on returned lineitems. The returnflag filter pushes to
    the lineitem scan; customer is the broadcast side; the top-20
    compiles to TakeOrderedAndProject (per-partition top-k, no global
    sort)."""
    from ..functions.numeric import money

    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_custkey").alias("CUST_ID"), F.col("c_name").alias("CUST_NAME"))
        .agg(
            F.sum(F.floor(net * 100 + 0.5)).cast("long").alias("LOST_REV_CENTS"),
            F.count(F.lit(1)).alias("N_RETURNED_ITEMS"),
        )
        .orderBy(F.col("LOST_REV_CENTS").desc(), "CUST_ID")
        .limit(20)
    )


@query(
    "nation_trade_volume",
    oracle=f"""
SELECT sn.n_name AS SUPP_NATION, cn.n_name AS CUST_NATION,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS SHIP_YEAR,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS VOLUME_CENTS
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
GROUP BY 1, 2, 3
""",
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str):
    """TPC-H Q7-shaped trade-volume cube: exact yearly revenue between
    every supplier nation and customer nation -- the 5-way star join.
    Every dimension side (customer->nation, supplier->nation) broadcasts;
    lineitem->orders is the only fact-fact shuffle (the pair the bucketed
    recipe in test_sources removes at 100 TB). One aggregation, grouped
    on three low-cardinality columns."""
    from ..functions.numeric import money

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("__cnk"), F.col("n_name").alias("CUST_NATION"))),
            F.col("c_nationkey") == F.col("__cnk"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("__snk"), F.col("n_name").alias("SUPP_NATION"))),
            F.col("s_nationkey") == F.col("__snk"),
        )
        .groupBy(
            "SUPP_NATION",
            "CUST_NATION",
            F.year("l_shipdate").cast("int").alias("SHIP_YEAR"),
        )
        .agg(F.sum(F.floor(net * 100 + 0.5)).cast("long").alias("VOLUME_CENTS"))
    )


@query(
    "events_inactivity_gaps",
    tags=("skew",),
    oracle="""
WITH g AS (
  SELECT user_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS GAP_START,
         ts AS GAP_END,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS us
  FROM events
)
SELECT user_id AS USER_ID, GAP_START, GAP_END,
       CAST(us // 1000000 AS BIGINT) AS GAP_SECONDS
FROM g WHERE us IS NOT NULL
ORDER BY us DESC, user_id, GAP_END LIMIT 50
""",
)
def q_events_inactivity_gaps(spark: SparkSession, sf_dir: str):
    """Top-50 longest per-user inactivity gaps (churn-risk surfacing): one
    per-user window pass computes consecutive-event deltas in exact
    integer microseconds; the global top-k is TakeOrderedAndProject over
    the gap rows (per-partition heads only, no full sort)."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts"))
    g = ev.select(
        F.col("user_id").alias("USER_ID"),
        F.lag("ts").over(w).alias("GAP_START"),
        F.col("ts").alias("GAP_END"),
        (us - F.lag(us).over(w)).alias("__us"),
    ).filter(F.col("__us").isNotNull())
    return (
        g.orderBy(F.col("__us").desc(), "USER_ID", "GAP_END")
        .limit(50)
        .select(
            "USER_ID",
            "GAP_START",
            "GAP_END",
            F.expr("__us div 1000000").cast("long").alias("GAP_SECONDS"),
        )
    )


@query(
    "lineitem_discount_bands",
    oracle="""
SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS INT) AS DISC_PCT,
       CAST(FLOOR((l_quantity - 1) / 10) AS INT) AS QTY_BAND,
       CAST(COUNT(*) AS BIGINT) AS N_ITEMS,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS REV_CENTS
FROM lineitem GROUP BY 1, 2
""",
)
def q_lineitem_discount_bands(spark: SparkSession, sf_dir: str):
    """2-D banded histogram of revenue by discount percent x quantity
    band -- the binned-aggregation pattern for pricing curves. Bands are
    computed with the identical IEEE double expression in both engines
    (floor(x*100+0.5)), so bucket edges are bit-stable; revenue is exact
    cents. Pure scan-stage projection + one low-cardinality hash agg."""
    from ..functions.numeric import money

    li = read_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy(
        F.floor(F.col("l_discount") * 100 + 0.5).cast("int").alias("DISC_PCT"),
        F.floor((F.col("l_quantity") - 1) / 10).cast("int").alias("QTY_BAND"),
    ).agg(
        F.count(F.lit(1)).alias("N_ITEMS"),
        F.sum(F.floor(net * 100 + 0.5)).cast("long").alias("REV_CENTS"),
    )


# --- TPC-H Q17 shape: decorrelated scalar subquery (per-group avg threshold)


@query(
    "parts_small_qty_revenue",
    oracle=f"""
WITH t AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#4'
),
a AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_q
  FROM t GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS N_SMALL,
       {sql_rhu(f"COALESCE({sql_dsum('l_extendedprice')}, 0.0) / 7.0", 2)} AS AVG_YEARLY
FROM t JOIN a USING (l_partkey)
WHERE l_quantity < 0.2 * avg_q
""",
)
def q_parts_small_qty_revenue(spark: SparkSession, sf_dir: str):
    """TPC-H Q17 shape -- yearly revenue lost to small-quantity orders of
    one brand: the correlated scalar subquery (per-part average quantity)
    decorrelated into a grouped aggregate joined back to the fact rows.
    The brand filter pushes into BOTH the part scan and (through the
    join) the lineitem side before any aggregation; the per-part
    threshold table is brand-bounded, so Catalyst broadcasts it and the
    fact stream is scanned once. Decimal average (exact sum / count) so
    the threshold comparison is engine-identical."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    t = (
        li.join(
            F.broadcast(p.filter(F.col("p_brand") == "Brand#4").select("p_partkey")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    a = t.groupBy("l_partkey").agg(
        (dsum("l_quantity") / F.count(F.lit(1))).alias("__avg_q")
    )
    return (
        t.join(F.broadcast(a), "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("__avg_q"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("N_SMALL"),
            rhu(F.coalesce(dsum("l_extendedprice"), F.lit(0.0)) / 7.0, 2).alias("AVG_YEARLY"),
        )
    )


# --- TPC-H Q18 shape: large-basket customers (HAVING over a fact rollup)


@query(
    "orders_bulk_quantity",
    oracle="""
WITH bq AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS TOTAL_QTY
  FROM lineitem GROUP BY 1
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250.0
)
SELECT c.c_custkey AS C_CUSTKEY, o.o_orderkey AS O_ORDERKEY,
       o.o_orderdate AS O_ORDERDATE, o.o_totalprice AS O_TOTALPRICE,
       bq.TOTAL_QTY
FROM bq
JOIN orders o ON o.o_orderkey = bq.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def q_orders_bulk_quantity(spark: SparkSession, sf_dir: str):
    """TPC-H Q18 shape -- orders whose total line quantity exceeds a bulk
    threshold, enriched with their customer: the HAVING prunes the fact
    rollup to a tiny key set BEFORE any join, so the orders/customer
    joins run against ~1% of orders (AQE sees the post-filter size and
    broadcasts). Exact decimal quantity sums make the threshold cut
    engine-identical."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    bq = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("TOTAL_QTY"))
        .filter(F.col("TOTAL_QTY") > 250.0)
    )
    return (
        bq.join(o, bq["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_custkey").alias("C_CUSTKEY"),
            F.col("o_orderkey").alias("O_ORDERKEY"),
            F.col("o_orderdate").alias("O_ORDERDATE"),
            F.col("o_totalprice").alias("O_TOTALPRICE"),
            "TOTAL_QTY",
        )
    )


# no oracle: xxhash64 draws exist only Spark-side
@query("events_value_bootstrap_ci_fast", tags=("min2",))
def q_events_value_bootstrap_ci_fast(spark: SparkSession, sf_dir: str):
    """The 100TB-default bootstrap path: identical replicate/percentile
    machinery to events_value_bootstrap_ci but one JVM xxhash64 per
    (row, replicate) instead of md5 + substring (stats.bootstrap_mean_ci
    portable=False). A different deterministic draw stream, so the
    interval differs within bootstrap noise; the md5 twin is the
    oracle-verified anchor and tests/test_stats.py pins MEAN equality
    and interval sanity between the two paths."""
    from ..operators.stats import bootstrap_mean_ci

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", F.col("event_type").alias("EVENT_TYPE"), "value"
    )
    return bootstrap_mean_ci(
        ev, "value", ["event_id"], group_cols=["EVENT_TYPE"], b=100, seed="bs1",
        portable=False,
    )


# --- exact discrete percentiles at corpus scale (PERCENTILE_DISC via the
# distributed rank: no single-reducer sort, no interpolation arithmetic --
# the answer is a row's own value, so it hashes identically cross-engine)


@query(
    "events_value_rank_percentiles",
    tags=("skew",),
    oracle="""
WITH p AS (SELECT value FROM events WHERE event_type = 'purchase'),
n AS (SELECT COUNT(*) AS n FROM p)
SELECT 2500 AS Q_BP, n.n AS N, (SELECT quantile_disc(value, 0.25) FROM p) AS VALUE FROM n
UNION ALL
SELECT 5000, n.n, (SELECT quantile_disc(value, 0.50) FROM p) FROM n
UNION ALL
SELECT 9000, n.n, (SELECT quantile_disc(value, 0.90) FROM p) FROM n
UNION ALL
SELECT 9900, n.n, (SELECT quantile_disc(value, 0.99) FROM p) FROM n
""",
)
def q_events_value_rank_percentiles(spark: SparkSession, sf_dir: str):
    """Exact P25/P50/P90/P99 of purchase values by global-rank selection
    (operators/ranking.rank_percentiles): range-bucketed distributed
    row_number, then a literal RANK IN (...) filter -- the quantile is
    the value at rank ceil(q*N), PERCENTILE_DISC semantics, with no
    SinglePartition exchange and no join in the plan. The grouped /
    interpolated alternative stays orders_price_percentiles."""
    from ..operators.ranking import rank_percentiles

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return rank_percentiles(
        ev.select("value", "event_id"), key="value", tiebreaks=["event_id"],
        qs_bp=[2500, 5000, 9000, 9900],
    )


@query(
    "events_value_exact_percentiles",
    oracle="""
WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
n AS (SELECT COUNT(*) AS cnt FROM v),
o AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS r FROM v),
p AS (SELECT UNNEST([2500, 5000, 9500, 9900]) AS q_bp),
t AS (
  SELECT p.q_bp, (p.q_bp / 10000.0) * (n.cnt - 1) AS pos,
         CAST(FLOOR((p.q_bp / 10000.0) * (n.cnt - 1)) AS BIGINT) AS lo,
         CAST(CEIL((p.q_bp / 10000.0) * (n.cnt - 1)) AS BIGINT) AS hi
  FROM p, n
)
SELECT CAST(t.q_bp AS INT) AS Q_BP,
       CASE WHEN t.hi = t.lo THEN vlo.value
            ELSE (t.hi - t.pos) * vlo.value + (t.pos - t.lo) * vhi.value
       END AS VALUE
FROM t JOIN o vlo ON vlo.r = t.lo + 1 JOIN o vhi ON vhi.r = t.hi + 1
""",
)
def q_events_value_exact_percentiles(spark: SparkSession, sf_dir: str):
    """Exact INTERPOLATED P25/P50/P95/P99 of event values computed with
    the distributed-ranking quantile machinery
    (functions/quantile.ranked_quantile_cuts): no
    single-reducer percentile buffer anywhere -- three bounded-collect
    jobs locate the two neighbor order statistics per cut and the driver
    interpolates with percentile()'s own IEEE formula. The oracle
    REPLAYS that formula term-for-term over DuckDB's row_number order
    statistics ((hi - pos)*v_lo + (pos - lo)*v_hi on doubles), so the
    returned VALUE hashes bit-identically cross-engine -- the direct pin
    of the machinery that mart_customer_clv_segment's cuts ride. The
    discrete (PERCENTILE_DISC) sibling is events_value_rank_percentiles."""
    from ..functions.quantile import ranked_quantile_cuts

    ev = read_table(spark, sf_dir, "events")
    bps = [2500, 5000, 9500, 9900]
    cuts = ranked_quantile_cuts(ev.select("value"), "value", [b / 10000 for b in bps])
    return spark.createDataFrame(
        list(zip(bps, cuts)), "Q_BP int, VALUE double"
    )


@query(
    "lineitem_qty_tied_percentiles",
    tags=("min2",),
    oracle="""
WITH v AS (SELECT CAST(l_quantity AS DOUBLE) AS value FROM lineitem WHERE l_quantity IS NOT NULL),
n AS (SELECT COUNT(*) AS cnt FROM v),
o AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS r FROM v),
p AS (SELECT UNNEST([2500, 5000, 9000, 9900]) AS q_bp),
t AS (
  SELECT p.q_bp, (p.q_bp / 10000.0) * (n.cnt - 1) AS pos,
         CAST(FLOOR((p.q_bp / 10000.0) * (n.cnt - 1)) AS BIGINT) AS lo,
         CAST(CEIL((p.q_bp / 10000.0) * (n.cnt - 1)) AS BIGINT) AS hi
  FROM p, n
)
SELECT CAST(t.q_bp AS INT) AS Q_BP,
       CASE WHEN t.hi = t.lo THEN vlo.value
            ELSE (t.hi - t.pos) * vlo.value + (t.pos - t.lo) * vhi.value
       END AS VALUE
FROM t JOIN o vlo ON vlo.r = t.lo + 1 JOIN o vhi ON vhi.r = t.hi + 1
""",
)
def q_lineitem_qty_tied_percentiles(spark: SparkSession, sf_dir: str):
    """Exact interpolated P25/P50/P90/P99 over a HEAVY-TIE column:
    l_quantity takes ~50 integer values, so every row shares its value
    with ~2% of the table and approxQuantile's split points collapse onto
    the tied values. The tie-isolating bucketing
    (functions/quantile._order_statistics) gives each
    collapsed boundary value its own single-valued bucket resolved from
    min==max -- window_cap=64 makes every tied bucket dominant at EVERY
    graded scale, so this query fails loudly if the dominant-bucket path
    ever regresses to windowing the whole input in one task. The oracle
    replays percentile()'s interpolation term-for-term over DuckDB order
    statistics (ties make v_lo deterministic despite arbitrary
    row_number assignment among equals)."""
    from ..functions.quantile import ranked_quantile_cuts

    li = read_table(spark, sf_dir, "lineitem")
    bps = [2500, 5000, 9000, 9900]
    cuts = ranked_quantile_cuts(
        li.select(F.col("l_quantity").cast("double").alias("q")),
        "q",
        [b / 10000 for b in bps],
        window_cap=64,
    )
    return spark.createDataFrame(list(zip(bps, cuts)), "Q_BP int, VALUE double")


# --- fixed-iteration PageRank on the integer picos lattice: the oracle
# unrolls the SAME iterations in SQL, so the trajectory must be exact.
_PR_SCALE = 10**12


def _pagerank_oracle(iterations: int = 3) -> str:
    cte = [
        "bi AS (SELECT DISTINCT l_orderkey AS B, l_partkey AS I FROM lineitem)",
        "e AS (SELECT DISTINCT a.I AS SRC, b.I AS DST FROM bi a "
        "JOIN bi b ON a.B = b.B AND a.I <> b.I)",
        "deg AS (SELECT SRC, CAST(COUNT(*) AS BIGINT) AS DEG FROM e GROUP BY SRC)",
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM deg)",
        f"r0 AS (SELECT d.SRC AS NODE, CAST({_PR_SCALE} // n.N AS BIGINT) AS R FROM deg d, n)",
    ]
    for t in range(iterations):
        cte.append(
            f"r{t + 1} AS (SELECT e.DST AS NODE, "
            f"CAST((SELECT CAST((15 * {_PR_SCALE}) // (100 * N) AS BIGINT) FROM n) "
            f"+ SUM(CAST((85 * r.R) // (100 * d.DEG) AS BIGINT)) AS BIGINT) AS R "
            f"FROM e JOIN r{t} r ON e.SRC = r.NODE JOIN deg d ON e.SRC = d.SRC "
            f"GROUP BY e.DST)"
        )
    last = f"r{iterations}"
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT {last}.NODE AS PART_ID, {last}.R AS RANK_PICOS, d.DEG AS N_NEIGHBORS
FROM {last} JOIN deg d ON {last}.NODE = d.SRC
ORDER BY RANK_PICOS DESC, PART_ID
LIMIT 50"""
    )


@query("parts_copurchase_pagerank", oracle=_pagerank_oracle(3))
def q_parts_copurchase_pagerank(spark: SparkSession, sf_dir: str):
    """Link analysis as a first-class iterative operator (operators/
    graph.py): parts form a symmetric co-purchase graph (edges built
    per-basket, quadratic only within each order's distinct parts), and
    three PageRank hops run as pure join+agg rounds on the exact integer
    picos lattice -- bit-identical at any partitioning and replayed
    verbatim by the unrolled-CTE DuckDB oracle, which makes an ITERATIVE
    algorithm value-hash gradeable. The only driver value is the scalar
    node count; lineage is cut per round (the connected-components
    pattern); top-50 with a deterministic (rank, id) tie-break is a
    TakeOrderedAndProject, not a global sort."""
    from ..operators.graph import copurchase_edges, pagerank

    li = read_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li, "l_orderkey", "l_partkey")
    pr = pagerank(edges, iterations=3, scale=_PR_SCALE, damping_pct=85, symmetric=True)
    return (
        pr.select(
            F.col("NODE").alias("PART_ID"),
            F.col("RANK_PICOS"),
            F.col("N_NEIGHBORS"),
        )
        .orderBy(F.col("RANK_PICOS").desc(), F.col("PART_ID"))
        .limit(50)
    )


@query(
    "parts_copurchase_triangles",
    oracle="""
WITH bi AS (SELECT DISTINCT l_orderkey AS BKT, l_partkey AS I FROM lineitem
            WHERE SUBSTRING(MD5(CAST(l_orderkey AS VARCHAR) || '|tri1'), 1, 8) < '40000000'),
und AS (SELECT DISTINCT LEAST(a.I, b.I) AS A, GREATEST(a.I, b.I) AS B
        FROM bi a JOIN bi b ON a.BKT = b.BKT AND a.I <> b.I),
deg AS (SELECT N, CAST(COUNT(*) AS BIGINT) AS DEG FROM
        (SELECT A AS N FROM und UNION ALL SELECT B FROM und) GROUP BY N),
ori AS (SELECT CASE WHEN (da.DEG, u.A) < (db.DEG, u.B) THEN u.A ELSE u.B END AS SRC,
               CASE WHEN (da.DEG, u.A) < (db.DEG, u.B) THEN u.B ELSE u.A END AS DST,
               CASE WHEN (da.DEG, u.A) < (db.DEG, u.B) THEN db.DEG ELSE da.DEG END AS DDEG
        FROM und u JOIN deg da ON u.A = da.N JOIN deg db ON u.B = db.N),
tri AS (SELECT e1.SRC AS U, e1.DST AS V, e2.DST AS W
        FROM ori e1 JOIN ori e2
          ON e1.SRC = e2.SRC AND (e1.DDEG, e1.DST) < (e2.DDEG, e2.DST)
        JOIN ori e3 ON e3.SRC = e1.DST AND e3.DST = e2.DST),
pn AS (SELECT N, CAST(COUNT(*) AS BIGINT) AS T FROM
       (SELECT U AS N FROM tri UNION ALL SELECT V FROM tri UNION ALL SELECT W FROM tri)
       GROUP BY N)
SELECT d.N AS PART_ID, d.DEG, CAST(COALESCE(pn.T, 0) AS BIGINT) AS N_TRIANGLES,
       CAST(CASE WHEN d.DEG >= 2
                 THEN (2000000 * COALESCE(pn.T, 0)) // (d.DEG * (d.DEG - 1))
                 ELSE 0 END AS BIGINT) AS CC_PPM
FROM deg d LEFT JOIN pn ON d.N = pn.N
ORDER BY N_TRIANGLES DESC, PART_ID
LIMIT 30
""",
)
def q_parts_copurchase_triangles(spark: SparkSession, sf_dir: str):
    """Exact triangle counting + clustering coefficient over the part
    co-purchase graph via DEGREE-ORDERED edge orientation (operators/
    graph.py triangle_counts): every undirected edge points from its
    lower-(degree, id) endpoint to the higher one, which caps oriented
    out-degree at O(sqrt(E)) and therefore bounds the wedge self-join's
    fan-out even under power-law hub skew -- the canonical
    hazard-of-scale for graph joins. Two equi-joins total (wedge + close),
    integer ppm clustering coefficients, and the oracle replays the
    identical orientation with SQL row-value comparisons, so the result
    is value-hash exact. Top-30 with a (count, id) tie-break is a
    TakeOrderedAndProject.

    The graded instance analyzes the deterministic 1/4 BASKET sample
    (sampling.hash_sample on l_orderkey, md5-replayable in the oracle):
    TPC-H's random baskets make an unnaturally DENSE co-purchase graph
    (every part neighbors ~100 others), and per-basket sampling thins
    edges 4x / wedge work ~16x while keeping whole baskets intact --
    the same sample-the-unit-not-the-row discipline as
    orders_consistent_sample_revenue. The full-graph operator is
    unchanged and covered by test_graph."""
    from ..operators.graph import copurchase_edges, triangle_counts
    from ..operators.sampling import hash_sample

    li = hash_sample(
        read_table(spark, sf_dir, "lineitem"), ["l_orderkey"], 0.25, seed="tri1"
    )
    edges = copurchase_edges(li, "l_orderkey", "l_partkey")
    tc = triangle_counts(edges)
    return (
        tc.select(
            F.col("NODE").alias("PART_ID"), F.col("DEG"),
            F.col("N_TRIANGLES"), F.col("CC_PPM"),
        )
        .orderBy(F.col("N_TRIANGLES").desc(), F.col("PART_ID"))
        .limit(30)
    )


def _ppr_oracle(iterations: int = 3, seeds: tuple[int, ...] = (1, 2, 3)) -> str:
    sl = ", ".join(str(s) for s in seeds)
    cte = [
        "bi AS (SELECT DISTINCT l_orderkey AS BKT, l_partkey AS I FROM lineitem "
        "WHERE SUBSTRING(MD5(CAST(l_orderkey AS VARCHAR) || '|tri1'), 1, 8) < '40000000')",
        "e AS (SELECT DISTINCT a.I AS SRC, b.I AS DST FROM bi a "
        "JOIN bi b ON a.BKT = b.BKT AND a.I <> b.I)",
        "deg AS (SELECT SRC, CAST(COUNT(*) AS BIGINT) AS DEG FROM e GROUP BY SRC)",
        f"k AS (SELECT CAST(COUNT(*) AS BIGINT) AS K FROM deg WHERE SRC IN ({sl}))",
        f"r0 AS (SELECT d.SRC AS NODE, CAST(CASE WHEN d.SRC IN ({sl}) "
        f"THEN {_PR_SCALE} // k.K ELSE 0 END AS BIGINT) AS R FROM deg d, k)",
    ]
    for t in range(iterations):
        cte.append(
            f"r{t + 1} AS (SELECT e.DST AS NODE, "
            f"CAST(CASE WHEN e.DST IN ({sl}) "
            f"THEN (SELECT CAST((15 * {_PR_SCALE}) // (100 * K) AS BIGINT) FROM k) "
            f"ELSE 0 END "
            f"+ SUM(CAST((85 * r.R) // (100 * d.DEG) AS BIGINT)) AS BIGINT) AS R "
            f"FROM e JOIN r{t} r ON e.SRC = r.NODE JOIN deg d ON e.SRC = d.SRC "
            f"GROUP BY e.DST)"
        )
    last = f"r{iterations}"
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT {last}.NODE AS PART_ID, {last}.R AS RANK_PICOS, d.DEG AS N_NEIGHBORS
FROM {last} JOIN deg d ON {last}.NODE = d.SRC
WHERE {last}.R > 0
ORDER BY RANK_PICOS DESC, PART_ID
LIMIT 30"""
    )


@query("parts_affinity_pagerank", oracle=_ppr_oracle(3))
def q_parts_affinity_pagerank(spark: SparkSession, sf_dir: str):
    """Personalized PageRank (random walk with restart): rank parts by
    co-purchase proximity to a seed set -- the related-items /
    people-also-bought primitive -- on the deterministic 1/4 basket
    sample and the exact integer picos lattice, so the full 3-hop
    trajectory is replayed verbatim by the unrolled-CTE oracle. Same
    join+agg hops and scalar-only driver state as the global pagerank;
    mass starts on and teleports back to the surviving seeds; zero-mass
    nodes (unreached within 3 hops) are excluded from the top-30."""
    from ..operators.graph import copurchase_edges, personalized_pagerank
    from ..operators.sampling import hash_sample

    li = hash_sample(
        read_table(spark, sf_dir, "lineitem"), ["l_orderkey"], 0.25, seed="tri1"
    )
    edges = copurchase_edges(li, "l_orderkey", "l_partkey")
    pr = personalized_pagerank(edges, seeds=[1, 2, 3], iterations=3, symmetric=True)
    return (
        pr.where(F.col("RANK_PICOS") > 0)
        .select(F.col("NODE").alias("PART_ID"), "RANK_PICOS", "N_NEIGHBORS")
        .orderBy(F.col("RANK_PICOS").desc(), F.col("PART_ID"))
        .limit(30)
    )


# --- general DIRECTED PageRank (dangling mass + teleport-only
# nodes) and the bucketed-edge layout twin.


def _pagerank_directed_oracle(iterations: int = 3) -> str:
    """Unrolled-CTE replay of the UNIVERSE recurrence (operators/graph.py
    pagerank, general path): per hop, in-edge contributions left-joined
    onto the full node set, plus uniform redistribution of the dangling
    nodes' mass -- every term CAST AS BIGINT so DuckDB's HUGEINT sums
    never leak into the floor divisions."""
    cte = [
        "e AS (SELECT DISTINCT l_partkey AS SRC, "
        "CAST(1000000000 + l_suppkey AS BIGINT) AS DST FROM lineitem)",
        "deg AS (SELECT SRC, CAST(COUNT(*) AS BIGINT) AS DEG FROM e GROUP BY SRC)",
        "nodes AS (SELECT SRC AS NODE FROM e UNION SELECT DST FROM e)",
        "nd AS (SELECT n.NODE, CAST(COALESCE(d.DEG, 0) AS BIGINT) AS DEG "
        "FROM nodes n LEFT JOIN deg d ON n.NODE = d.SRC)",
        "c AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM nd)",
        f"r0 AS (SELECT NODE, CAST({_PR_SCALE} // c.N AS BIGINT) AS R FROM nd, c)",
    ]
    for t in range(iterations):
        cte.append(
            f"s{t} AS (SELECT e.DST AS NODE, "
            f"CAST(SUM(CAST((85 * r.R) // (100 * d.DEG) AS BIGINT)) AS BIGINT) AS S "
            f"FROM e JOIN r{t} r ON e.SRC = r.NODE JOIN deg d ON e.SRC = d.SRC "
            f"GROUP BY e.DST)"
        )
        cte.append(
            f"d{t} AS (SELECT CAST(COALESCE(SUM(r.R), 0) AS BIGINT) AS DM "
            f"FROM r{t} r JOIN nd ON r.NODE = nd.NODE WHERE nd.DEG = 0)"
        )
        cte.append(
            f"r{t + 1} AS (SELECT nd.NODE, "
            f"CAST((SELECT CAST((15 * {_PR_SCALE}) // (100 * N) AS BIGINT) FROM c) "
            f"+ (SELECT CAST((85 * DM) // (100 * (SELECT N FROM c)) AS BIGINT) FROM d{t}) "
            f"+ COALESCE(s.S, 0) AS BIGINT) AS R "
            f"FROM nd LEFT JOIN s{t} s ON nd.NODE = s.NODE)"
        )
    last = f"r{iterations}"
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT {last}.NODE AS NODE_ID, {last}.R AS RANK_PICOS, nd.DEG AS OUT_DEGREE
FROM {last} JOIN nd ON {last}.NODE = nd.NODE
ORDER BY RANK_PICOS DESC, NODE_ID
LIMIT 50"""
    )


@query("supply_pagerank_directed", oracle=_pagerank_directed_oracle(3))
def q_supply_pagerank_directed(spark: SparkSession, sf_dir: str):
    """PageRank on a genuinely DIRECTED graph: parts point at the
    suppliers that ship them (edge part -> 1e9+supplier, bipartite by
    construction), so EVERY supplier node is a dangling sink and every
    part node is teleport-only -- the exact shape on which an in-edge-only
    recurrence silently drops nodes. The general path keeps the
    full universe alive each hop (left join + coalesce) and redistributes
    the dangling mass uniformly (Page et al. 1999 section 2.7), all on
    the integer picos lattice, replayed verbatim by the unrolled-CTE
    oracle. Suppliers accumulate rank in proportion to how many part
    sources feed them; parts hold exactly teleport + dangling share --
    both visibly nonzero in the top-50, which is the regression guard."""
    from ..operators.graph import pagerank

    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("SRC"),
        (F.lit(1000000000) + F.col("l_suppkey")).cast("long").alias("DST"),
    ).distinct()
    pr = pagerank(edges, iterations=3)
    return (
        pr.select(
            F.col("NODE").alias("NODE_ID"),
            F.col("RANK_PICOS"),
            F.col("N_NEIGHBORS").alias("OUT_DEGREE"),
        )
        .orderBy(F.col("RANK_PICOS").desc(), F.col("NODE_ID"))
        .limit(50)
    )


@query("parts_copurchase_pagerank_bucketed", oracle=_pagerank_oracle(3))
def q_parts_copurchase_pagerank_bucketed(spark: SparkSession, sf_dir: str):
    """Layout-only twin of parts_copurchase_pagerank (SAME oracle, same
    lattice trajectory): the degree-annotated co-purchase edges are
    persisted once, hash-bucketed + sorted on SRC, and each of the three
    hops sort-merge-joins the rank table against that bucketed scan with
    ZERO exchange above the edge side (plan-pinned in test_graph) -- only
    the node-sized rank frame moves per iteration. The graded instance
    honestly pays the bucketing write inside the query; a long-running
    deployment (the operator's real target) pays it once and every
    subsequent hop, restart, and re-run rides the layout for free: the
    iterative workload's per-hop edge reshuffle becomes an ingest-time
    cost."""
    import hashlib
    import os
    import tempfile

    from ..operators.graph import copurchase_edges, pagerank_bucketed

    li = read_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li, "l_orderkey", "l_partkey")
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    pr = pagerank_bucketed(
        edges,
        f"pr_edges_{h}",
        iterations=3,
        scale=_PR_SCALE,
        damping_pct=85,
        num_buckets=8,
        path=os.path.join(tempfile.gettempdir(), f"pr_edges_{h}"),
        symmetric=True,
    )
    return (
        pr.select(
            F.col("NODE").alias("PART_ID"),
            F.col("RANK_PICOS"),
            F.col("N_NEIGHBORS"),
        )
        .orderBy(F.col("RANK_PICOS").desc(), F.col("PART_ID"))
        .limit(50)
    )


def _lpa_oracle(iterations: int = 2) -> str:
    """Unrolled replay of deterministic synchronous label propagation
    (operators/graph.py label_propagation): per round, each node adopts
    its in-neighbors' most frequent label (count desc, label asc
    tie-break), keeping its own when it has no in-edges."""
    cte = [
        "bi AS (SELECT DISTINCT l_orderkey AS BKT, l_partkey AS I FROM lineitem "
        "WHERE SUBSTRING(MD5(CAST(l_orderkey AS VARCHAR) || '|tri1'), 1, 8) < '40000000')",
        "e AS (SELECT DISTINCT a.I AS SRC, b.I AS DST FROM bi a "
        "JOIN bi b ON a.BKT = b.BKT AND a.I <> b.I)",
        "nodes AS (SELECT SRC AS NODE FROM e UNION SELECT DST FROM e)",
        "l0 AS (SELECT NODE, NODE AS L FROM nodes)",
    ]
    for t in range(iterations):
        cte.append(
            f"c{t} AS (SELECT e.DST AS NODE, l.L, COUNT(*) AS n "
            f"FROM e JOIN l{t} l ON e.SRC = l.NODE GROUP BY 1, 2)"
        )
        cte.append(
            f"b{t} AS (SELECT NODE, L FROM c{t} "
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY NODE ORDER BY n DESC, L) = 1)"
        )
        cte.append(
            f"l{t + 1} AS (SELECT p.NODE, COALESCE(b.L, p.L) AS L "
            f"FROM l{t} p LEFT JOIN b{t} b ON p.NODE = b.NODE)"
        )
    last = f"l{iterations}"
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT L AS COMMUNITY, CAST(COUNT(*) AS BIGINT) AS N_MEMBERS,
       MIN(NODE) AS MIN_PART, MAX(NODE) AS MAX_PART
FROM {last}
GROUP BY L
ORDER BY N_MEMBERS DESC, COMMUNITY"""
    )


@query("parts_copurchase_communities", oracle=_lpa_oracle(2))
def q_parts_copurchase_communities(spark: SparkSession, sf_dir: str):
    """Community detection over the co-purchase graph via DETERMINISTIC
    synchronous label propagation (Raghavan et al. 2007, with the
    random-order asynchrony replaced by a (count desc, label asc)
    tie-break so the whole trajectory is a pure function of the edge set
    and replays verbatim in the unrolled-CTE oracle). Two rounds on the
    1/4 basket sample; the graded surface is the full community-size
    rollup -- every node's final label feeds the value hash, a stronger
    check than any top-k slice. Per round: one edge-sized join + one
    map-side-combined (node, label) count + a node-keyed top-1 window on
    that bounded frame; the same join+agg hop discipline as pagerank."""
    from ..operators.graph import copurchase_edges, label_propagation
    from ..operators.sampling import hash_sample

    li = hash_sample(
        read_table(spark, sf_dir, "lineitem"), ["l_orderkey"], 0.25, seed="tri1"
    )
    edges = copurchase_edges(li, "l_orderkey", "l_partkey")
    labels = label_propagation(edges, iterations=2)
    return (
        labels.groupBy(F.col("COMMUNITY"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("N_MEMBERS"),
            F.min("NODE").alias("MIN_PART"),
            F.max("NODE").alias("MAX_PART"),
        )
        .orderBy(F.col("N_MEMBERS").desc(), F.col("COMMUNITY"))
    )


@query(
    "events_audience_overlap",
    oracle="""
WITH tu AS (SELECT DISTINCT event_type AS T, user_id AS U FROM events),
sizes AS (SELECT T, CAST(COUNT(*) AS BIGINT) AS N FROM tu GROUP BY T),
inter AS (
  SELECT a.T AS TYPE_A, b.T AS TYPE_B, CAST(COUNT(*) AS BIGINT) AS N_BOTH
  FROM tu a JOIN tu b ON a.U = b.U AND a.T < b.T
  GROUP BY 1, 2
)
SELECT i.TYPE_A, i.TYPE_B, sa.N AS N_A, sb.N AS N_B, i.N_BOTH,
       CAST((1000000 * i.N_BOTH) // (sa.N + sb.N - i.N_BOTH) AS BIGINT) AS JACCARD_PPM
FROM inter i JOIN sizes sa ON i.TYPE_A = sa.T JOIN sizes sb ON i.TYPE_B = sb.T
ORDER BY TYPE_A, TYPE_B
""",
)
def q_events_audience_overlap(spark: SparkSession, sf_dir: str):
    """Pairwise audience overlap between event types: exact Jaccard (ppm,
    integer lattice) of the distinct-user sets of every type pair. The
    set-similarity-across-groups primitive (campaign/channel overlap,
    benchmark-contamination between dataset splits). Scale shape: one
    distinct projection keyed by user, one self-equi-join ON USER (fanout
    = per-user distinct-type count <= |types|, never a cross join), one
    bounded |types|^2 aggregation, and the |types|-row size table joins
    back broadcast-sized. Never materializes any user set."""
    ev = read_table(spark, sf_dir, "events")
    tu = ev.select(F.col("event_type").alias("T"), F.col("user_id").alias("U")).distinct()
    sizes = tu.groupBy("T").agg(F.count(F.lit(1)).cast("long").alias("N"))
    a = tu.select(F.col("T").alias("TYPE_A"), "U")
    b = tu.select(F.col("T").alias("TYPE_B"), "U")
    inter = (
        a.join(b, "U")
        .where(F.col("TYPE_A") < F.col("TYPE_B"))
        .groupBy("TYPE_A", "TYPE_B")
        .agg(F.count(F.lit(1)).cast("long").alias("N_BOTH"))
    )
    sa = sizes.select(F.col("T").alias("TYPE_A"), F.col("N").alias("N_A"))
    sb = sizes.select(F.col("T").alias("TYPE_B"), F.col("N").alias("N_B"))
    return (
        inter.join(F.broadcast(sa), "TYPE_A")
        .join(F.broadcast(sb), "TYPE_B")
        .select(
            "TYPE_A", "TYPE_B", "N_A", "N_B", "N_BOTH",
            F.expr("(1000000 * N_BOTH) div (N_A + N_B - N_BOTH)")
            .cast("long")
            .alias("JACCARD_PPM"),
        )
        .orderBy("TYPE_A", "TYPE_B")
    )


# --- HITS hubs & authorities on the integer nanos lattice, the
# eigenvector companion to PageRank -- the oracle unrolls both half-steps
# of every iteration (pool, then L1-renormalize by the 1-row global mass).
_HITS_SCALE = 10**9


def _hits_oracle(iterations: int = 2) -> str:
    s = _HITS_SCALE
    cte = [
        "e AS (SELECT DISTINCT l_partkey AS SRC, "
        "CAST(1000000000 + l_suppkey AS BIGINT) AS DST FROM lineitem)",
        "nodes AS (SELECT SRC AS NODE FROM e UNION SELECT DST FROM e)",
        "c AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM nodes)",
        f"h0 AS (SELECT NODE, CAST({s} // c.N AS BIGINT) AS H FROM nodes, c)",
    ]
    for t in range(iterations):
        cte.append(
            f"ap{t} AS (SELECT e.DST AS NODE, CAST(SUM(h.H) AS BIGINT) AS S "
            f"FROM e JOIN h{t} h ON e.SRC = h.NODE GROUP BY e.DST)"
        )
        cte.append(f"at{t} AS (SELECT CAST(SUM(S) AS BIGINT) AS T FROM ap{t})")
        cte.append(
            f"a{t + 1} AS (SELECT n.NODE, "
            f"CAST((COALESCE(p.S, 0) * {s}) // t.T AS BIGINT) AS A "
            f"FROM nodes n LEFT JOIN ap{t} p ON n.NODE = p.NODE, at{t} t)"
        )
        cte.append(
            f"hp{t} AS (SELECT e.SRC AS NODE, CAST(SUM(a.A) AS BIGINT) AS S "
            f"FROM e JOIN a{t + 1} a ON e.DST = a.NODE GROUP BY e.SRC)"
        )
        cte.append(f"ht{t} AS (SELECT CAST(SUM(S) AS BIGINT) AS T FROM hp{t})")
        cte.append(
            f"h{t + 1} AS (SELECT n.NODE, "
            f"CAST((COALESCE(p.S, 0) * {s}) // t.T AS BIGINT) AS H "
            f"FROM nodes n LEFT JOIN hp{t} p ON n.NODE = p.NODE, ht{t} t)"
        )
    cte.append(
        "ind AS (SELECT DST AS NODE, CAST(COUNT(*) AS BIGINT) AS IN_DEGREE "
        "FROM e GROUP BY DST)"
    )
    cte.append(
        "outd AS (SELECT SRC AS NODE, CAST(COUNT(*) AS BIGINT) AS OUT_DEGREE "
        "FROM e GROUP BY SRC)"
    )
    la, lh = f"a{iterations}", f"h{iterations}"
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT {la}.NODE AS NODE_ID, {la}.A AS AUTH_NANOS, {lh}.H AS HUB_NANOS,
       COALESCE(ind.IN_DEGREE, 0) AS IN_DEGREE,
       COALESCE(outd.OUT_DEGREE, 0) AS OUT_DEGREE
FROM {la} JOIN {lh} ON {la}.NODE = {lh}.NODE
LEFT JOIN ind ON {la}.NODE = ind.NODE
LEFT JOIN outd ON {la}.NODE = outd.NODE
ORDER BY AUTH_NANOS DESC, NODE_ID
LIMIT 50"""
    )


@query("supply_hits_scores", oracle=_hits_oracle(2))
def q_supply_hits_scores(spark: SparkSession, sf_dir: str):
    """HITS hubs & authorities (operators/graph.hits) on the directed
    part -> supplier supply graph: suppliers are pure authorities (rank =
    pooled hub mass of the parts that feed them), parts are pure hubs
    (rank = pooled authority of the suppliers they reach) -- the
    eigenvector companion to supply_pagerank_directed on the same edges.
    Both half-steps of each iteration renormalize to the 1e9-nanos
    lattice by a 1-row broadcast global sum, so the full trajectory
    floor-divides identically in any engine and the top-50 authorities
    value-hash exactly against the unrolled-CTE oracle."""
    from ..operators.graph import hits

    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("SRC"),
        (F.lit(1000000000) + F.col("l_suppkey")).cast("long").alias("DST"),
    ).distinct()
    out = hits(edges, iterations=2)
    return (
        out.select(
            F.col("NODE").alias("NODE_ID"),
            "AUTH_NANOS",
            "HUB_NANOS",
            "IN_DEGREE",
            "OUT_DEGREE",
        )
        .orderBy(F.col("AUTH_NANOS").desc(), F.col("NODE_ID"))
        .limit(50)
    )


@query("supply_hits_scores_bucketed", oracle=_hits_oracle(2))
def q_supply_hits_scores_bucketed(spark: SparkSession, sf_dir: str):
    """Dual-bucketed layout twin of supply_hits_scores (SAME oracle, same
    nanos trajectory): HITS joins edges on SRC in one half-step and DST
    in the other, so the distinct edge list is persisted TWICE -- once
    bucketed+sorted per join key -- and each half-step sort-merge-joins
    its co-located copy with ZERO exchange above the edge scan
    (plan-pinned in test_graph). 2x ingest storage buys an iterative
    eigenvector workload in which no edge byte ever re-shuffles -- the
    pagerank_bucketed recipe generalized to a two-key iteration."""
    import hashlib
    import os
    import tempfile

    from ..operators.graph import hits_bucketed

    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("SRC"),
        (F.lit(1000000000) + F.col("l_suppkey")).cast("long").alias("DST"),
    ).distinct()
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = hits_bucketed(
        edges,
        f"hits_edges_{h}",
        iterations=2,
        path=os.path.join(tempfile.gettempdir(), f"hits_edges_{h}"),
    )
    return (
        out.select(
            F.col("NODE").alias("NODE_ID"),
            "AUTH_NANOS",
            "HUB_NANOS",
            "IN_DEGREE",
            "OUT_DEGREE",
        )
        .orderBy(F.col("AUTH_NANOS").desc(), F.col("NODE_ID"))
        .limit(50)
    )


def _katz_oracle(iterations: int = 3, alpha_ppm: int = 1000) -> str:
    s = 10**9
    cte = [
        "e AS (SELECT DISTINCT l_partkey AS SRC, "
        "CAST(1000000000 + l_suppkey AS BIGINT) AS DST FROM lineitem)",
        "nodes AS (SELECT SRC AS NODE FROM e UNION SELECT DST FROM e)",
        "x0 AS (SELECT NODE, CAST(0 AS BIGINT) AS X FROM nodes)",
    ]
    for t in range(iterations):
        cte.append(
            f"c{t} AS (SELECT e.DST AS NODE, "
            f"CAST(SUM(({alpha_ppm} * ({s} + x.X)) // 1000000) AS BIGINT) AS S "
            f"FROM e JOIN x{t} x ON e.SRC = x.NODE GROUP BY e.DST)"
        )
        cte.append(
            f"x{t + 1} AS (SELECT n.NODE, CAST(COALESCE(c.S, 0) AS BIGINT) AS X "
            f"FROM nodes n LEFT JOIN c{t} c ON n.NODE = c.NODE)"
        )
    cte.append(
        "ind AS (SELECT DST AS NODE, CAST(COUNT(*) AS BIGINT) AS IN_DEGREE "
        "FROM e GROUP BY DST)"
    )
    last = f"x{iterations}"
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT {last}.NODE AS NODE_ID, {last}.X AS KATZ_NANOS,
       COALESCE(ind.IN_DEGREE, 0) AS IN_DEGREE
FROM {last} LEFT JOIN ind ON {last}.NODE = ind.NODE
ORDER BY KATZ_NANOS DESC, NODE_ID
LIMIT 50"""
    )


@query("supply_katz_centrality", oracle=_katz_oracle(3, 1000))
def q_supply_katz_centrality(spark: SparkSession, sf_dir: str):
    """Truncated Katz centrality (operators/graph.katz_centrality) on the
    directed part -> supplier supply graph: each supplier scores the
    alpha-damped count of supply paths reaching it (alpha = 1000 ppm,
    three hops, per-edge-per-hop floor division on the nanos lattice) --
    the influence walk that, unlike PageRank, does NOT split a part's
    mass across its suppliers, so a part feeding many suppliers boosts
    all of them. Overflow-guarded on the actual truncated accumulator:
    the operator replays the worst case (max_in_degree=682 at sf0.1,
    alpha=1000 ppm, 3 hops -> ~3e14 nanos, far inside BIGINT) and raises
    only on genuine BIGINT risk, so the query keeps working as in-degree
    grows with scale. The oracle unrolls the identical recurrence."""
    from ..operators.graph import katz_centrality

    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("SRC"),
        (F.lit(1000000000) + F.col("l_suppkey")).cast("long").alias("DST"),
    ).distinct()
    out = katz_centrality(edges, iterations=3, alpha_ppm=1000)
    return (
        out.select(F.col("NODE").alias("NODE_ID"), "KATZ_NANOS", "IN_DEGREE")
        .orderBy(F.col("KATZ_NANOS").desc(), F.col("NODE_ID"))
        .limit(50)
    )


@query("supply_katz_centrality_growing", tags=("min2",), oracle=_katz_oracle(3, 5000))
def q_supply_katz_centrality_growing(spark: SparkSession, sf_dir: str):
    """Katz on the same supply graph with alpha = 5000 ppm -- a GROWING
    truncated walk (alpha * max_in_degree > 1e6 from sf0.1 up), i.e.
    exactly the regime the old spectral-radius guard hard-failed even
    though the 3-hop result is finite, exact, and far inside BIGINT
    (worst-case replay ~4e13 nanos at sf0.1, ~4e16 at the 100x decade
    point). Graded with the same unrolled-recurrence oracle as
    supply_katz_centrality, so the fix is pinned cross-engine rather than
    only unit-tested."""
    from ..operators.graph import katz_centrality

    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("SRC"),
        (F.lit(1000000000) + F.col("l_suppkey")).cast("long").alias("DST"),
    ).distinct()
    out = katz_centrality(edges, iterations=3, alpha_ppm=5000)
    return (
        out.select(F.col("NODE").alias("NODE_ID"), "KATZ_NANOS", "IN_DEGREE")
        .orderBy(F.col("KATZ_NANOS").desc(), F.col("NODE_ID"))
        .limit(50)
    )


@query(
    "parts_link_prediction",
    oracle="""
WITH bi AS (SELECT DISTINCT l_orderkey AS BKT, l_partkey AS I FROM lineitem
            WHERE SUBSTRING(MD5(CAST(l_orderkey AS VARCHAR) || '|tri1'), 1, 8) < '40000000'),
und AS (SELECT DISTINCT LEAST(a.I, b.I) AS A, GREATEST(a.I, b.I) AS B
        FROM bi a JOIN bi b ON a.BKT = b.BKT AND a.I <> b.I),
nbr AS (SELECT A AS N, B AS M FROM und UNION ALL SELECT B, A FROM und),
deg AS (SELECT N, CAST(COUNT(*) AS BIGINT) AS DEG FROM nbr GROUP BY N),
mid AS (SELECT nbr.M, nbr.N FROM nbr JOIN deg ON nbr.M = deg.N WHERE deg.DEG <= 80),
common AS (
  SELECT w1.N AS NODE_A, w2.N AS NODE_B, CAST(COUNT(*) AS BIGINT) AS N_COMMON
  FROM mid w1 JOIN mid w2 ON w1.M = w2.M AND w1.N < w2.N
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
cand AS (
  SELECT c.* FROM common c ANTI JOIN und u
    ON c.NODE_A = u.A AND c.NODE_B = u.B
)
SELECT c.NODE_A, c.NODE_B, c.N_COMMON, da.DEG AS DEG_A, db.DEG AS DEG_B,
       CAST((1000000 * c.N_COMMON) // (da.DEG + db.DEG - c.N_COMMON) AS BIGINT)
         AS JACCARD_PPM
FROM cand c JOIN deg da ON c.NODE_A = da.N JOIN deg db ON c.NODE_B = db.N
ORDER BY JACCARD_PPM DESC, NODE_A, NODE_B
LIMIT 40
""",
)
def q_parts_link_prediction(spark: SparkSession, sf_dir: str):
    """Link prediction by exact neighborhood Jaccard (operators/graph.
    common_neighbor_link_prediction) on the deterministic 1/4-basket
    co-purchase sample: the top-40 part pairs that are NOT directly
    co-purchased but share >= 2 co-purchase neighbors, ranked by integer
    ppm Jaccard -- the people-also-bought candidate generator. Wedges are
    enumerated through middles capped at degree 80 (the oracle replays
    the same deterministic cap), bounding the self-join fan-out at cap^2
    per middle while degrees and denominators stay full-graph exact."""
    from ..operators.graph import common_neighbor_link_prediction, copurchase_edges
    from ..operators.sampling import hash_sample

    li = hash_sample(
        read_table(spark, sf_dir, "lineitem"), ["l_orderkey"], 0.25, seed="tri1"
    )
    edges = copurchase_edges(li, "l_orderkey", "l_partkey")
    out = common_neighbor_link_prediction(
        edges, max_middle_degree=80, min_common=2
    )
    return out.orderBy(
        F.col("JACCARD_PPM").desc(), F.col("NODE_A"), F.col("NODE_B")
    ).limit(40)


@query(
    "parts_bfs_reach",
    oracle="""
WITH RECURSIVE bi AS (SELECT DISTINCT l_orderkey AS BKT, l_partkey AS I FROM lineitem
            WHERE SUBSTRING(MD5(CAST(l_orderkey AS VARCHAR) || '|tri1'), 1, 8) < '40000000'),
e AS (SELECT DISTINCT a.I AS SRC, b.I AS DST FROM bi a
      JOIN bi b ON a.BKT = b.BKT AND a.I <> b.I),
r AS (
  SELECT CAST(s AS BIGINT) AS NODE, CAST(0 AS BIGINT) AS HOPS
  FROM (VALUES (1), (2), (3)) v(s)
  UNION
  SELECT e.DST, r.HOPS + 1 FROM r JOIN e ON e.SRC = r.NODE WHERE r.HOPS < 2
)
SELECT NODE AS PART_ID, CAST(MIN(HOPS) AS BIGINT) AS HOPS
FROM r GROUP BY NODE
""",
)
def q_parts_bfs_reach(spark: SparkSession, sf_dir: str):
    """Multi-source BFS reachability (operators/graph.bfs_hops): every
    part within 2 co-purchase hops of the seed set {1,2,3} on the
    deterministic 1/4-basket sample, with its minimum hop count -- the
    blast-radius primitive. Frontier-only joins (never the visited set),
    per-round anti-join dedup, early exit on an exhausted frontier; the
    oracle is a genuine depth-bounded recursive CTE whose UNION dedup
    bounds replay at nodes x hops rows."""
    from ..operators.graph import bfs_hops, copurchase_edges
    from ..operators.sampling import hash_sample

    li = hash_sample(
        read_table(spark, sf_dir, "lineitem"), ["l_orderkey"], 0.25, seed="tri1"
    )
    edges = copurchase_edges(li, "l_orderkey", "l_partkey")
    out = bfs_hops(edges, sources=[1, 2, 3], max_hops=2)
    return out.select(F.col("NODE").alias("PART_ID"), "HOPS")


@query(
    "events_gini_best_split",
    oracle="""
WITH base AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
b AS (SELECT MIN(vc) AS lo, MAX(vc) AS hi FROM base),
binned AS (
  SELECT CASE WHEN b.hi > b.lo THEN ((vc - b.lo) * 64) // (b.hi - b.lo + 1)
              ELSE 0 END AS bin,
         pos, b.lo, b.hi
  FROM base, b
),
g AS (SELECT bin, lo, hi, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS p
      FROM binned GROUP BY 1, 2, 3),
cum AS (
  SELECT bin, lo, hi,
         CAST(SUM(n) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
         CAST(SUM(p) OVER (ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl
  FROM g
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(p) AS BIGINT) AS pt FROM g)
SELECT CAST(bin AS BIGINT) AS SPLIT_BIN,
       CAST(lo + ((((bin + 1) * (hi - lo + 1)) - 1) // 64) AS BIGINT) AS THRESHOLD_LATTICE,
       nl AS N_LEFT, pl AS POS_LEFT,
       CAST(nt - nl AS BIGINT) AS N_RIGHT, CAST(pt - pl AS BIGINT) AS POS_RIGHT,
       CAST(
         (2 * ((pt * 1000000) // nt) * (1000000 - ((pt * 1000000) // nt))) // 1000000
         - ((nl * 1000000) // nt) * ((2 * ((pl * 1000000) // nl) * (1000000 - ((pl * 1000000) // nl))) // 1000000) // 1000000
         - (((nt - nl) * 1000000) // nt) * ((2 * (((pt - pl) * 1000000) // (nt - nl)) * (1000000 - (((pt - pl) * 1000000) // (nt - nl)))) // 1000000) // 1000000
       AS BIGINT) AS GAIN_PPM
FROM cum, tot
WHERE nl > 0 AND nl < nt
""",
)
def q_events_gini_best_split(spark: SparkSession, sf_dir: str):
    """Decision-stump split scoring (operators/stats.
    gini_split_candidates): every candidate threshold on the event value
    (64 equi-width bins on the exact centi lattice, bounds via a 1-row
    broadcast) scored by Gini gain against the is-purchase label. All
    gain arithmetic runs on ppm PROPORTIONS, so nothing overflows at any
    row count and every floor division replays verbatim in the oracle;
    the per-candidate frame is <= bins rows by construction, which is
    what licenses its tiny single-partition prefix-sum window."""
    from ..operators.stats import gini_split_candidates

    ev = read_table(spark, sf_dir, "events")
    return gini_split_candidates(
        ev, "value", F.col("event_type") == "purchase", bins=64, decimals=2
    )


def _wpr_oracle(iterations: int = 3) -> str:
    """Unrolled replay of the WEIGHTED universe recurrence (operators/
    graph.pagerank_weighted): contributions proportional to co-purchase
    counts, dangling term carried verbatim (zero on this symmetric
    graph, but replayed so the recurrence matches term-for-term)."""
    cte = [
        "bi AS (SELECT DISTINCT l_orderkey AS BKT, l_partkey AS I FROM lineitem "
        "WHERE SUBSTRING(MD5(CAST(l_orderkey AS VARCHAR) || '|tri1'), 1, 8) < '40000000')",
        "e AS (SELECT a.I AS SRC, b.I AS DST, CAST(COUNT(*) AS BIGINT) AS W "
        "FROM bi a JOIN bi b ON a.BKT = b.BKT AND a.I <> b.I GROUP BY 1, 2)",
        "st AS (SELECT SRC, CAST(SUM(W) AS BIGINT) AS S FROM e GROUP BY 1)",
        "nodes AS (SELECT SRC AS NODE FROM e UNION SELECT DST FROM e)",
        "nd AS (SELECT n.NODE, CAST(COALESCE(st.S, 0) AS BIGINT) AS S "
        "FROM nodes n LEFT JOIN st ON n.NODE = st.SRC)",
        "c AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM nd)",
        f"r0 AS (SELECT NODE, CAST({_PR_SCALE} // c.N AS BIGINT) AS R FROM nd, c)",
    ]
    for t in range(iterations):
        cte.append(
            f"s{t} AS (SELECT e.DST AS NODE, "
            f"CAST(SUM(CAST((85 * r.R * e.W) // (100 * st.S) AS BIGINT)) AS BIGINT) AS C "
            f"FROM e JOIN r{t} r ON e.SRC = r.NODE JOIN st ON e.SRC = st.SRC "
            f"GROUP BY e.DST)"
        )
        cte.append(
            f"d{t} AS (SELECT CAST(COALESCE(SUM(r.R), 0) AS BIGINT) AS DM "
            f"FROM r{t} r JOIN nd ON r.NODE = nd.NODE WHERE nd.S = 0)"
        )
        cte.append(
            f"r{t + 1} AS (SELECT nd.NODE, "
            f"CAST((SELECT CAST((15 * {_PR_SCALE}) // (100 * N) AS BIGINT) FROM c) "
            f"+ (SELECT CAST((85 * DM) // (100 * (SELECT N FROM c)) AS BIGINT) FROM d{t}) "
            f"+ COALESCE(s.C, 0) AS BIGINT) AS R "
            f"FROM nd LEFT JOIN s{t} s ON nd.NODE = s.NODE)"
        )
    last = f"r{iterations}"
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT {last}.NODE AS PART_ID, {last}.R AS RANK_PICOS, nd.S AS OUT_STRENGTH
FROM {last} JOIN nd ON {last}.NODE = nd.NODE
ORDER BY RANK_PICOS DESC, PART_ID
LIMIT 50"""
    )


@query("parts_copurchase_pagerank_weighted", oracle=_wpr_oracle(3))
def q_parts_copurchase_pagerank_weighted(spark: SparkSession, sf_dir: str):
    """WEIGHTED PageRank (operators/graph.pagerank_weighted) on the
    co-purchase graph where each edge carries its co-occurrence COUNT:
    a part splits its rank across neighbors in proportion to how often
    they are actually bought together, not uniformly -- the
    recommendation-strength form of the walk. Same integer picos lattice
    and per-hop cost as the unweighted operator (the weight is a column,
    not extra rows); the oracle unrolls the weighted universe recurrence
    term-for-term, dangling term included."""
    from ..operators.graph import pagerank_weighted
    from ..operators.sampling import hash_sample

    li = hash_sample(
        read_table(spark, sf_dir, "lineitem"), ["l_orderkey"], 0.25, seed="tri1"
    )
    bi = li.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("__i")
    ).distinct()
    edges = (
        bi.alias("a")
        .join(bi.alias("b"), "__b")
        .where(F.col("a.__i") != F.col("b.__i"))
        .groupBy(F.col("a.__i").alias("SRC"), F.col("b.__i").alias("DST"))
        .agg(F.count(F.lit(1)).cast("long").alias("WEIGHT"))
    )
    pr = pagerank_weighted(edges, iterations=3)
    return (
        pr.select(F.col("NODE").alias("PART_ID"), "RANK_PICOS", "OUT_STRENGTH")
        .orderBy(F.col("RANK_PICOS").desc(), F.col("PART_ID"))
        .limit(50)
    )


@query("parts_copurchase_pagerank_weighted_bucketed", oracle=_wpr_oracle(3))
def q_parts_copurchase_pagerank_weighted_bucketed(spark: SparkSession, sf_dir: str):
    """Layout-only twin of parts_copurchase_pagerank_weighted (SAME
    oracle, same lattice trajectory): the weight- and
    strength-annotated co-purchase edges are persisted once, hash-bucketed
    + sorted on SRC, and each of the three hops sort-merge-joins the rank
    table against that bucketed scan with ZERO exchange above the edge
    side (plan-pinned in test_graph) -- only the node-sized rank frame
    moves per iteration. The graded instance honestly pays the bucketing
    write inside the query; a long-running deployment pays it once."""
    import hashlib
    import os
    import tempfile

    from ..operators.graph import pagerank_weighted_bucketed
    from ..operators.sampling import hash_sample

    li = hash_sample(
        read_table(spark, sf_dir, "lineitem"), ["l_orderkey"], 0.25, seed="tri1"
    )
    bi = li.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("__i")
    ).distinct()
    edges = (
        bi.alias("a")
        .join(bi.alias("b"), "__b")
        .where(F.col("a.__i") != F.col("b.__i"))
        .groupBy(F.col("a.__i").alias("SRC"), F.col("b.__i").alias("DST"))
        .agg(F.count(F.lit(1)).cast("long").alias("WEIGHT"))
    )
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    pr = pagerank_weighted_bucketed(
        edges,
        f"wpr_edges_{h}",
        iterations=3,
        path=os.path.join(tempfile.gettempdir(), f"wpr_edges_{h}"),
    )
    return (
        pr.select(F.col("NODE").alias("PART_ID"), "RANK_PICOS", "OUT_STRENGTH")
        .orderBy(F.col("RANK_PICOS").desc(), F.col("PART_ID"))
        .limit(50)
    )


def _pr_curve_oracle(qs_bp: list[int]) -> str:
    cte = [
        "s AS (SELECT CAST(value AS DOUBLE) AS sc, "
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y "
        "FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL)",
        "tot AS (SELECT CAST(SUM(y) AS BIGINT) AS pos FROM s)",
    ]
    sel = []
    for q in sorted(qs_bp):
        cte.append(f"t{q} AS (SELECT quantile_disc(sc, {q / 10000!r}) AS thr FROM s)")
        cte.append(
            f"c{q} AS (SELECT CAST(SUM(CASE WHEN sc >= thr THEN 1 ELSE 0 END) AS BIGINT) AS pp, "
            f"CAST(SUM(CASE WHEN sc >= thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, "
            f"MAX(thr) AS thr FROM s, t{q})"
        )
        sel.append(
            f"SELECT CAST({q} AS INT) AS Q_BP, thr AS THRESHOLD, tp AS TP, "
            f"pp - tp AS FP, tot.pos - tp AS FN, "
            f"CASE WHEN pp > 0 THEN (tp * 1000000) // pp ELSE 0 END AS PRECISION_PPM, "
            f"CASE WHEN tot.pos > 0 THEN (tp * 1000000) // tot.pos ELSE 0 END AS RECALL_PPM "
            f"FROM c{q}, tot"
        )
    body = "\nUNION ALL\n".join(sel)
    return (
        "WITH " + ",\n".join(cte) + f"""
SELECT Q_BP, THRESHOLD, TP, FP, FN, PRECISION_PPM, RECALL_PPM,
       CASE WHEN PRECISION_PPM + RECALL_PPM > 0
            THEN (2 * PRECISION_PPM * RECALL_PPM) // (PRECISION_PPM + RECALL_PPM)
            ELSE 0 END AS F1_PPM
FROM ({body})"""
    )


@query("events_pr_curve", oracle=_pr_curve_oracle([1000, 2500, 5000, 7500, 9000]))
def q_events_pr_curve(spark: SparkSession, sf_dir: str):
    """Precision/recall threshold sweep (operators/stats.pr_curve)
    treating the event value as a classifier score for the
    is-purchase label -- the evaluation step a trained quality filter
    needs before gating a corpus. Thresholds are exact PERCENTILE_DISC
    data values from the distributed rank (no single-partition window),
    then ONE aggregation pass computes TP/FP/FN per threshold; all
    ratios are exact integer ppm, so the whole curve -- thresholds
    included -- replays verbatim in the oracle."""
    from ..operators.stats import pr_curve

    ev = read_table(spark, sf_dir, "events")
    return pr_curve(
        ev, "value", F.col("event_type") == "purchase",
        qs_bp=[1000, 2500, 5000, 7500, 9000],
    )


# --- nonparametric testing, survival, drift monitoring,
# multi-touch attribution, seasonal decomposition, lakehouse DELETE


@query(
    "events_mann_whitney",
    tags=("min2",),
    oracle="""
WITH lat AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
),
per AS (
  SELECT v, CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(1 - a) AS BIGINT) AS nb
  FROM lat GROUP BY v
),
pre AS (
  SELECT na, nb,
         CAST(COALESCE(SUM(nb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
  FROM per
),
agg AS (
  SELECT CAST(SUM(na) AS BIGINT) AS N_A, CAST(SUM(nb) AS BIGINT) AS N_B,
         CAST(SUM(2 * na * cb + na * nb) AS BIGINT) AS U_A_X2,
         CAST(SUM(CASE WHEN na > 0 AND nb > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS TIED_VALUES
  FROM pre
)
SELECT N_A, N_B, U_A_X2,
       CAST(2 * N_A * N_B - U_A_X2 AS BIGINT) AS U_B_X2,
       CAST((CAST(U_A_X2 AS HUGEINT) * 1000000)
            // (2 * CAST(N_A AS HUGEINT) * N_B) AS BIGINT) AS AUC_PPM,
       TIED_VALUES
FROM agg
""",
)
def q_events_mann_whitney(spark: SparkSession, sf_dir: str):
    """Mann-Whitney U / rank-sum A-B readout (operators/stats.
    mann_whitney_u): does the click population's value distribution
    stochastically dominate the purchase population's? Exact DOUBLED-U
    integers on the cent lattice (tie midranks stay integral), with the
    AUC / probability-of-superiority effect size in ppm via a
    DECIMAL(38,0) intermediate. No single-partition window: the
    strictly-below prefix runs bucketed with driver-side offsets (the
    sorted_rank pattern); the scan collapses to distinct lattice values
    first."""
    from ..operators.stats import mann_whitney_u

    ev = read_table(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", "event_type", "click", "purchase")


@query(
    "customers_survival_hazard",
    tags=("min2",),
    oracle="""
WITH per AS (
  SELECT o_custkey, MIN(o_orderdate) AS f, MAX(o_orderdate) AS l
  FROM orders GROUP BY 1
),
base AS (
  SELECT CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS BIGINT) AS t,
         CASE WHEN l < TIMESTAMP '2001-02-01' THEN 1 ELSE 0 END AS e
  FROM per
),
g AS (SELECT t, CAST(SUM(e) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1),
r AS (
  SELECT t, d, c,
         CAST(SUM(c) OVER () - COALESCE(SUM(c) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n
  FROM g
),
h AS (
  SELECT t, n, d, c, (d * 1000000) // n AS hz,
         CAST(SUM(CASE WHEN d > 0 THEN (d * 1000000) // n ELSE 0 END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM r
)
SELECT t AS T, n AS AT_RISK, d AS EVENTS, CAST(c - d AS BIGINT) AS CENSORED,
       CAST(hz AS BIGINT) AS HAZARD_PPM, cum AS CUM_HAZARD_PPM
FROM h WHERE d > 0 ORDER BY T
""",
)
def q_customers_survival_hazard(spark: SparkSession, sf_dir: str):
    """Customer-lifetime survival curve (operators/stats.nelson_aalen):
    duration = days between a customer's first and last order; the event
    ("churned") is observed when the last order predates the fixed
    literal horizon 2001-02-01, censored otherwise (still active when
    observation ended). Cumulative hazard is exact ppm integers -- each
    d_i/n_i term floors BEFORE the running sum -- and the whole curve
    rides one bounded distinct-durations frame after one per-customer
    aggregation."""
    from ..operators.stats import nelson_aalen

    o = read_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("__f"), F.max("o_orderdate").alias("__l")
    )
    base = per.select(
        F.datediff(F.col("__l").cast("date"), F.col("__f").cast("date"))
        .cast("bigint")
        .alias("dur"),
        (F.col("__l") < F.lit("2001-02-01").cast("timestamp")).cast("int").alias("obs"),
    )
    return nelson_aalen(base, "dur", "obs")


@query(
    "events_value_drift",
    tags=("min2",),
    oracle="""
WITH base AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS cur
  FROM events WHERE value IS NOT NULL
),
b AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM base),
binned AS (
  SELECT CASE WHEN b.hi > b.lo
              THEN ((base.v - b.lo) * 16) // (b.hi - b.lo + 1)
              ELSE 0 END AS BIN,
         cur
  FROM base, b
),
g AS (SELECT CAST(BIN AS BIGINT) AS BIN,
             CAST(SUM(1 - cur) AS BIGINT) AS N_REF,
             CAST(SUM(cur) AS BIGINT) AS N_CUR
      FROM binned GROUP BY 1),
p AS (
  SELECT BIN, N_REF, N_CUR,
         CAST((N_REF * 1000000) // (SUM(N_REF) OVER ()) AS BIGINT) AS P_PPM,
         CAST((N_CUR * 1000000) // (SUM(N_CUR) OVER ()) AS BIGINT) AS Q_PPM
  FROM g
),
d AS (SELECT BIN, N_REF, N_CUR, P_PPM, Q_PPM,
             CAST(Q_PPM - P_PPM AS BIGINT) AS DIFF_PPM FROM p)
SELECT BIN, N_REF, N_CUR, P_PPM, Q_PPM, DIFF_PPM,
       CAST(SUM(ABS(DIFF_PPM)) OVER () // 2 AS BIGINT) AS TVD_PPM,
       CAST(SUM((DIFF_PPM * DIFF_PPM)
                // (CASE WHEN P_PPM > 1 THEN P_PPM ELSE 1 END)) OVER ()
            AS BIGINT) AS CHI2_PPM
FROM d ORDER BY BIN
""",
)
def q_events_value_drift(spark: SparkSession, sf_dir: str):
    """Model-input drift report (operators/stats.distribution_drift):
    the event-value distribution of the back half of the month (current)
    against the front half (reference) across 16 shared equi-width
    lattice bins -- per-bin ppm proportions with signed deviation, plus
    total-variation distance and the chi-square-style quadratic total as
    exact-integer report constants (PSI's ln(p/q) carries the same
    decision signal but cannot ride an integer lattice). One
    map-combined groupBy collapses the scan; everything after runs on
    <= 16 rows."""
    from ..operators.stats import distribution_drift

    ev = read_table(spark, sf_dir, "events")
    return distribution_drift(
        ev, "value", F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), bins=16
    )


@query(
    "events_attribution_ushape",
    tags=("min2",),
    oracle="""
WITH ev AS (
  SELECT user_id AS u, ts, event_type AS ty, value
  FROM events WHERE event_type IN ('click', 'view', 'purchase')
),
numbered AS (
  SELECT u, ts, ty, value,
         CAST(COALESCE(SUM(CASE WHEN ty = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY u ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS j
  FROM ev
),
convs AS (
  SELECT u, j, CAST(FLOOR(COALESCE(value, 0) * 100 + 0.5) AS BIGINT) AS cents
  FROM numbered WHERE ty = 'purchase'
),
touches AS (
  SELECT u, j, ts, ty,
         ROW_NUMBER() OVER (PARTITION BY u, j ORDER BY ts) AS pos,
         COUNT(*) OVER (PARTITION BY u, j) AS n
  FROM numbered WHERE ty <> 'purchase'
),
credited AS (
  SELECT t.u, t.j, t.ty, t.pos, t.n, c.cents,
         CASE WHEN t.n = 1 THEN 1000000
              WHEN t.n = 2 THEN 500000
              WHEN t.pos = 1 THEN 400000
              ELSE 200000 // (t.n - 2) END AS w
  FROM touches t JOIN convs c ON t.u = c.u AND t.j = c.j
),
fl AS (SELECT *, (cents * w) // 1000000 AS flc FROM credited),
fin AS (
  SELECT u, j, ty,
         CASE WHEN pos < n THEN flc
              ELSE cents - COALESCE(SUM(CASE WHEN pos < n THEN flc END)
                OVER (PARTITION BY u, j), 0) END AS credit
  FROM fl
),
by_ch AS (
  SELECT ty AS CHANNEL, CAST(COUNT(*) AS BIGINT) AS N_TOUCHES,
         CAST(COUNT(DISTINCT (u, j)) AS BIGINT) AS N_CONVERSIONS,
         CAST(SUM(credit) AS BIGINT) AS CREDIT_CENTS
  FROM fin GROUP BY 1
),
direct AS (
  SELECT 'direct' AS CHANNEL, CAST(0 AS BIGINT) AS N_TOUCHES,
         CAST(COUNT(*) AS BIGINT) AS N_CONVERSIONS,
         CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS CREDIT_CENTS
  FROM convs c
  WHERE NOT EXISTS (SELECT 1 FROM touches t WHERE t.u = c.u AND t.j = c.j)
)
SELECT * FROM by_ch UNION ALL SELECT * FROM direct ORDER BY CHANNEL
""",
)
def q_events_attribution_ushape(spark: SparkSession, sf_dir: str):
    """U-shaped multi-touch attribution (operators/temporal.
    u_shape_attribution): every purchase's value split 40/20/40 across
    the click/view touches in its journey (touches since the user's
    previous purchase), rolled up by channel, with touchless purchases
    credited to 'direct'. Exactly-once credit on the cents lattice: all
    non-final touches floor, the final touch takes the exact complement,
    so channel credit sums to total purchase cents bit-exactly. One hash
    exchange on user_id serves every window."""
    from ..operators.temporal import u_shape_attribution

    ev = read_table(spark, sf_dir, "events")
    return u_shape_attribution(ev, ["click", "view"], "purchase")


@query(
    "orders_versioned_delete",
    tags=("min2",),
    oracle=f"""
SELECT CAST(1 AS BIGINT) AS VERSION, CAST(1 AS BIGINT) AS N_DIRS,
       CAST(COUNT(*) AS BIGINT) AS N_ROWS, {sql_dsum("o_totalprice", 2)} AS TOTAL_PRICE
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(2 AS BIGINT),
       CAST(COUNT(*) AS BIGINT), {sql_dsum("o_totalprice", 2)}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(2 AS BIGINT),
       CAST(COUNT(*) AS BIGINT), {sql_dsum("o_totalprice", 2)}
FROM orders WHERE o_orderkey % 3 = 0
   OR (o_orderkey % 3 = 1 AND NOT (o_totalprice < 150000))
""",
)
def q_orders_versioned_delete(spark: SparkSession, sf_dir: str):
    """Row-level DELETE with directory pruning (sources/parquet_io.
    delete_where, the lakehouse `DELETE WHERE` shape): after two
    appended deliveries, delete the cheap orders of the SECOND delivery
    only -- the copy-on-write rewrite touches just that delivery's
    directory (the match-location scan groups by the parquet
    ``_metadata.file_path`` directory), so version 3 still references
    delivery 1's files untouched (N_DIRS stays 2: the shared dir + the
    rewritten one) and versions 1-2 time-travel over their original
    immutable files. The oracle replays each version's visible row set
    with plain predicates."""
    from ..sources.parquet_io import delete_where, versioned_write
    from .queries_ops import _version_price_summaries, _versioned_tmp_path

    path = _versioned_tmp_path(sf_dir, "orders_delete")
    orders = read_table(spark, sf_dir, "orders")
    versioned_write(orders.filter(F.col("o_orderkey") % 3 == 0), path)  # v1
    versioned_write(orders.filter(F.col("o_orderkey") % 3 == 1), path)  # v2
    v3 = delete_where(
        spark, path, (F.col("o_orderkey") % 3 == 1) & (F.col("o_totalprice") < 150000)
    )
    assert v3 == 3
    return _version_price_summaries(spark, path, (1, 2, 3))


@query(
    "orders_seasonal_decompose",
    tags=("min2",),
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS DAY,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS VALUE_CENTS
  FROM orders GROUP BY 1
),
tr AS (
  SELECT DAY, VALUE_CENTS,
         CASE WHEN COUNT(*) OVER w7 = 7
              THEN CAST((SUM(VALUE_CENTS) OVER w7) // 7 AS BIGINT) END
           AS TREND_CENTS
  FROM daily
  WINDOW w7 AS (ORDER BY DAY ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT DAY, VALUE_CENTS, TREND_CENTS,
         VALUE_CENTS - TREND_CENTS AS detr,
         CAST(isodow(DAY) - 1 AS BIGINT) AS dow
  FROM tr
),
sea AS (
  SELECT DAY, VALUE_CENTS, TREND_CENTS, detr,
         CASE WHEN detr IS NOT NULL THEN
           CAST(CAST(SIGN(SUM(detr) OVER wd) AS BIGINT)
                * (ABS(SUM(detr) OVER wd) // (COUNT(detr) OVER wd)) AS BIGINT)
         END AS SEASONAL_CENTS
  FROM det
  WINDOW wd AS (PARTITION BY dow)
)
SELECT DAY, VALUE_CENTS, TREND_CENTS, SEASONAL_CENTS,
       CAST(detr - SEASONAL_CENTS AS BIGINT) AS REMAINDER_CENTS
FROM sea ORDER BY DAY
""",
)
def q_orders_seasonal_decompose(spark: SparkSession, sf_dir: str):
    """Classical additive decomposition of daily order revenue
    (operators/stats.seasonal_decompose_daily): centered 7-point moving
    average trend, day-of-week seasonal (truncating signed integer
    average of the detrended series, written as sign * (abs div n) so
    both engines agree regardless of their negative-division
    convention), remainder -- all exact integer cents. The daily
    aggregation is the only real shuffle; every window runs on the
    calendar-bounded daily frame."""
    from ..operators.stats import seasonal_decompose_daily

    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    return seasonal_decompose_daily(daily, "day", "cents")


@query(
    "events_calibration_bins",
    tags=("min2",),
    oracle="""
WITH base AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
),
b AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM base),
binned AS (
  SELECT CASE WHEN b.hi > b.lo
              THEN ((base.v - b.lo) * 10) // (b.hi - b.lo + 1) ELSE 0 END AS BIN,
         CASE WHEN b.hi > b.lo
              THEN ((base.v - b.lo) * 1000000) // (b.hi - b.lo + 1)
              ELSE 0 END AS p,
         y
  FROM base, b
),
g AS (SELECT CAST(BIN AS BIGINT) AS BIN, CAST(COUNT(*) AS BIGINT) AS N,
             CAST(SUM(y) AS BIGINT) AS N_POS, SUM(p) AS sp
      FROM binned GROUP BY 1),
s AS (
  SELECT BIN, N, N_POS,
         CAST(sp // N AS BIGINT) AS MEAN_PRED_PPM,
         CAST((N_POS * 1000000) // N AS BIGINT) AS OBS_POS_PPM
  FROM g
),
d AS (SELECT BIN, N, N_POS, MEAN_PRED_PPM, OBS_POS_PPM,
             CAST(OBS_POS_PPM - MEAN_PRED_PPM AS BIGINT) AS GAP_PPM FROM s)
SELECT BIN, N, N_POS, MEAN_PRED_PPM, OBS_POS_PPM, GAP_PPM,
       CAST(SUM(N * ABS(GAP_PPM)) OVER () // SUM(N) OVER () AS BIGINT) AS ECE_PPM
FROM d ORDER BY BIN
""",
)
def q_events_calibration_bins(spark: SparkSession, sf_dir: str):
    """Reliability diagram + expected calibration error (operators/stats.
    calibration_bins) treating the min/max-normalized event value as a
    predicted purchase probability: per decile bin the mean ppm
    prediction vs the observed purchase rate, with the signed gap and
    the N-weighted ECE total -- "when the score says 80%, does it happen
    80% of the time", exact on the ppm lattice. One map-combined groupBy
    to 10 rows; the ECE rides a window over that bounded frame."""
    from ..operators.stats import calibration_bins

    ev = read_table(spark, sf_dir, "events")
    return calibration_bins(ev, "value", F.col("event_type") == "purchase", bins=10)


@query(
    "orders_target_encoding",
    tags=("min2",),
    oracle="""
WITH g AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS N,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
           AS N_POS
  FROM orders GROUP BY 1
),
t AS (SELECT SUM(N_POS) AS tp, SUM(N) AS tn FROM g)
SELECT o_orderpriority, N, N_POS,
       CAST((N_POS * 1000000) // N AS BIGINT) AS RAW_PPM,
       CAST((N_POS * 1000000 + 100 * ((t.tp * 1000000) // t.tn)) // (N + 100)
            AS BIGINT) AS SMOOTHED_PPM,
       CAST((t.tp * 1000000) // t.tn AS BIGINT) AS GLOBAL_PPM
FROM g, t ORDER BY o_orderpriority
""",
)
def q_orders_target_encoding(spark: SparkSession, sf_dir: str):
    """m-estimate target encoding (operators/stats.target_encode) of
    order priority against the is-finished label: each category's
    positive rate shrunk toward the global rate by m=100 pseudo-counts --
    the leakage-safe categorical feature a downstream model consumes,
    exact on the ppm lattice. One map-combined groupBy to the 5-row
    category frame; the global rate rides a window over that bounded
    frame."""
    from ..operators.stats import target_encode

    o = read_table(spark, sf_dir, "orders")
    return target_encode(o, "o_orderpriority", F.col("o_orderstatus") == "F", m=100)


@query(
    "events_daily_mad_anomalies",
    tags=("min2",),
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS DAY,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS CENTS
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
r AS (SELECT DAY, CENTS, ROW_NUMBER() OVER (ORDER BY CENTS, DAY) AS rk,
             COUNT(*) OVER () AS n
      FROM daily),
m AS (SELECT DAY, CENTS, n,
             MAX(CASE WHEN rk = (n + 1) // 2 THEN CENTS END) OVER () AS med
      FROM r),
a AS (SELECT DAY, CENTS, n, med, ABS(CENTS - med) AS ad FROM m),
r2 AS (SELECT DAY, CENTS, med, ad, n,
              ROW_NUMBER() OVER (ORDER BY ad, DAY) AS rk2
       FROM a),
mm AS (SELECT DAY, CENTS, med, ad,
              MAX(CASE WHEN rk2 = (n + 1) // 2 THEN ad END) OVER () AS mad
       FROM r2)
SELECT DAY, CENTS, CAST(med AS BIGINT) AS MEDIAN, CAST(ad AS BIGINT) AS ABS_DEV,
       CAST(mad AS BIGINT) AS MAD,
       CAST(CASE WHEN ad > 3 * (CASE WHEN mad > 1 THEN mad ELSE 1 END)
                 THEN 1 ELSE 0 END AS INT) AS IS_ANOMALY
FROM mm ORDER BY DAY
""",
)
def q_events_daily_mad_anomalies(spark: SparkSession, sf_dir: str):
    """Robust daily-revenue anomaly screen (operators/stats.
    mad_anomalies): median / median-absolute-deviation with the 3-MAD
    rule over the daily event-value series -- the outlier detector that
    one huge spike cannot hide from (50% breakdown, unlike mean/stddev
    z-scores). Median and MAD are PERCENTILE_DISC-style rank picks
    (real data values, no interpolated floats), so the whole screen is
    exact integers; both rank windows run on the calendar-bounded daily
    frame."""
    from ..operators.stats import mad_anomalies

    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("DAY"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("CENTS")
        )
    )
    return mad_anomalies(daily, "DAY", "CENTS", k=3)


@query(
    "events_l_diversity",
    tags=("min2",),
    oracle="""
SELECT event_type AS EVENT_TYPE,
       CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS DOW,
       CAST(COUNT(*) AS BIGINT) AS GROUP_SIZE,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS L_DISTINCT,
       CAST(CASE WHEN COUNT(DISTINCT user_id) >= 5 THEN 1 ELSE 0 END AS INT)
         AS DIVERSE
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_events_l_diversity(spark: SparkSession, sf_dir: str):
    """l-diversity audit (operators/quality.l_diversity_report) over the
    (event type, weekday) quasi-identifier with user_id as the sensitive
    attribute: a group that is large enough for k-anonymity can still
    leak if everyone in it is the same few users (homogeneity attack).
    One hash aggregation with an exact distinct count -- the distinct
    shuffles (quasi, sensitive) pairs, never rows."""
    from ..operators.quality import l_diversity_report

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("EVENT_TYPE"),
        F.weekday(F.col("ts").cast("date")).cast("bigint").alias("DOW"),
        "user_id",
    )
    return l_diversity_report(ev, ["EVENT_TYPE", "DOW"], "user_id", l=5)


def _corr_pair_sql(a: str, b: str, ia: int, ib: int) -> str:
    """One UNION branch of the correlation-matrix oracle: identical IEEE
    op order to the Spark side -- cast each EXACT integer statistic to
    double, multiply/subtract, sqrt, divide, floor-round."""
    n = "CAST(N AS DOUBLE)"
    si, sj = f"CAST(s{ia} AS DOUBLE)", f"CAST(s{ib} AS DOUBLE)"
    ssi, ssj = f"CAST(ss{ia} AS DOUBLE)", f"CAST(ss{ib} AS DOUBLE)"
    sp = f"CAST(sp{ia}_{ib} AS DOUBLE)"
    var_i = f"({n} * {ssi} - {si} * {si})"
    var_j = f"({n} * {ssj} - {sj} * {sj})"
    covn = f"({n} * {sp} - {si} * {sj})"
    return f"""
SELECT '{a}' AS COL_A, '{b}' AS COL_B, N,
       CASE WHEN N >= 2 AND {var_i} > 0 AND {var_j} > 0 THEN
         CAST(FLOOR({covn} / sqrt({var_i} * {var_j}) * 1000000 + 0.5) AS BIGINT)
       END AS R_PPM
FROM a"""


def _corr_matrix_oracle() -> str:
    branches = "\nUNION ALL".join(
        _corr_pair_sql(a, b, ia, ib)
        for (a, ia), (b, ib) in [
            (("l_quantity", 0), ("l_extendedprice", 1)),
            (("l_quantity", 0), ("l_discount", 2)),
            (("l_extendedprice", 1), ("l_discount", 2)),
        ]
    )
    return f"""
WITH q AS (
  SELECT CAST(FLOOR(l_quantity * 1000000 + 0.5) AS HUGEINT) AS q0,
         CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS HUGEINT) AS q1,
         CAST(FLOOR(l_discount * 1000000 + 0.5) AS HUGEINT) AS q2
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS N,
         SUM(q0) AS s0, SUM(q1) AS s1, SUM(q2) AS s2,
         SUM(q0 * q0) AS ss0, SUM(q1 * q1) AS ss1, SUM(q2 * q2) AS ss2,
         SUM(q0 * q1) AS sp0_1, SUM(q0 * q2) AS sp0_2, SUM(q1 * q2) AS sp1_2
  FROM q
)
{branches}
ORDER BY COL_A, COL_B"""


@query("lineitem_correlation_matrix", tags=("min2",), oracle=_corr_matrix_oracle())
def q_lineitem_correlation_matrix(spark: SparkSession, sf_dir: str):
    """Pairwise Pearson correlation matrix (operators/stats.
    correlation_pairs) over quantity / extended price / discount: exact
    decimal sufficient statistics from ONE aggregation pass (the
    grouped_trend lattice discipline -- partitioning-independent at any
    executor count), pair rows exploded from the single agg row (one
    scan, where per-pair aggregates would re-scan per pair), and the
    final r as the identical IEEE double sequence in both engines."""
    from ..operators.stats import correlation_pairs

    li = read_table(spark, sf_dir, "lineitem")
    return correlation_pairs(li, ["l_quantity", "l_extendedprice", "l_discount"])


def _sssp_oracle(k: int = 3, seeds=(1, 2, 3)) -> str:
    """Unrolled Bellman-Ford replay: one relaxation CTE per hop."""
    seed_vals = ", ".join(f"({s}, 0)" for s in seeds)
    s = f"""
WITH ew AS (
  SELECT l_partkey AS SRC, 1000000000 + l_suppkey AS DST,
         MIN(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS W
  FROM lineitem GROUP BY 1, 2
),
edges AS (SELECT SRC, DST, W FROM ew UNION ALL SELECT DST, SRC, W FROM ew),
d0 AS (SELECT CAST(NODE AS BIGINT) AS NODE, CAST(DIST AS BIGINT) AS DIST
       FROM (VALUES {seed_vals}) t(NODE, DIST))"""
    for t in range(1, k + 1):
        s += f""",
d{t} AS (
  SELECT NODE, MIN(DIST) AS DIST FROM (
    SELECT NODE, DIST FROM d{t - 1}
    UNION ALL
    SELECT e.DST AS NODE, d.DIST + e.W AS DIST
    FROM d{t - 1} d JOIN edges e ON d.NODE = e.SRC
  ) GROUP BY 1
)"""
    return s + f"\nSELECT NODE, CAST(DIST AS BIGINT) AS DIST FROM d{k} ORDER BY NODE"


@query("supply_sssp_3hops", tags=("min2",), oracle=_sssp_oracle())
def q_supply_sssp_3hops(spark: SparkSession, sf_dir: str):
    """Hop-bounded weighted shortest path (operators/graph.sssp_hops):
    cheapest 3-step route from seed parts {1,2,3} through the bipartite
    part-supplier graph, edge weight = minimum observed line price in
    cents for that (part, supplier) lane. Distributed Bellman-Ford --
    per round one hash join (edges x distance map) + one groupBy-min,
    exact integer adds/mins replayed by the unrolled relaxation CTEs;
    lineage cut per round with localCheckpoint."""
    from ..operators.graph import sssp_hops

    li = read_table(spark, sf_dir, "lineitem")
    ew = li.groupBy(
        F.col("l_partkey").alias("SRC"),
        (F.lit(1000000000) + F.col("l_suppkey")).cast("long").alias("DST"),
    ).agg(
        F.min(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint"))
        .alias("W")
    )
    edges = ew.unionByName(
        ew.select(F.col("DST").alias("SRC"), F.col("SRC").alias("DST"), "W")
    )
    return sssp_hops(edges, [1, 2, 3], max_hops=3).orderBy("NODE")
