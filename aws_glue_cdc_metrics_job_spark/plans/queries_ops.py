"""Graded queries for the relational / CDC / incremental / windowed
operators (SURVEY.md §2.2-2.9), each with a DuckDB oracle. Fixed literals
replace the reference's wall-clock now() so both sides are reproducible."""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, rhu, sql_dsum, sql_rhu
from ..operators.cdc import cdc_diff
from ..operators.relational import keep_latest, top_k_per_group
from ..sources import read_table
from .catalog import query

# --- P1/P4/P8: scan + filter + project + cast (pushdown-verified in tests)


@query(
    "scan_filter_project",
    tags=("untimed",),
    oracle=f"""
SELECT CAST(l_orderkey AS BIGINT) AS ORDER_ID,
       CAST(l_linenumber AS BIGINT) AS LINEITEM_ID,
       l_quantity AS QTY,
       {sql_rhu("l_extendedprice * (1 - l_discount)", 2)} AS NET_PRICE,
       l_shipdate AS SHIP_TS
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_returnflag = 'R'
""",
)
def q_scan_filter_project(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= "1998-01-01") & (F.col("l_returnflag") == "R"))
        .select(
            F.col("l_orderkey").cast("long").alias("ORDER_ID"),
            F.col("l_linenumber").cast("long").alias("LINEITEM_ID"),
            F.col("l_quantity").alias("QTY"),
            rhu(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("NET_PRICE"),
            F.col("l_shipdate").alias("SHIP_TS"),
        )
    )


# --- A1-A8: multi-aggregate groupBy (TPC-H Q1 shape)
# Money sums go through exact decimals; the price*(1-d) product is a true
# 4-decimal value, *(1+t) a 6-decimal value, so those scales recover exactly.


@query(
    "pricing_summary",
    tags=("min2",),
    oracle=f"""
SELECT l_returnflag AS RETURN_FLAG, l_linestatus AS LINE_STATUS,
       SUM(l_quantity) AS SUM_QTY,
       {sql_dsum("l_extendedprice", 2)} AS SUM_BASE_PRICE,
       {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS SUM_DISC_PRICE,
       {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS SUM_CHARGE,
       {sql_rhu("SUM(l_quantity) / COUNT(l_quantity)", 4)} AS AVG_QTY,
       {sql_rhu(f'{sql_dsum("l_extendedprice", 2)} / COUNT(l_extendedprice)', 4)} AS AVG_PRICE,
       {sql_rhu(f'{sql_dsum("l_discount", 2)} / COUNT(l_discount)', 6)} AS AVG_DISC,
       COUNT(*) AS COUNT_ORDER
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy(
        F.col("l_returnflag").alias("RETURN_FLAG"), F.col("l_linestatus").alias("LINE_STATUS")
    ).agg(
        # l_quantity is integer-valued: double sums are exact, no decimal needed
        F.sum("l_quantity").alias("SUM_QTY"),
        dsum(F.col("l_extendedprice"), 2).alias("SUM_BASE_PRICE"),
        dsum(disc, 4).alias("SUM_DISC_PRICE"),
        dsum(disc * (1 + F.col("l_tax")), 6).alias("SUM_CHARGE"),
        rhu(F.sum("l_quantity") / F.count("l_quantity"), 4).alias("AVG_QTY"),
        rhu(dsum(F.col("l_extendedprice"), 2) / F.count("l_extendedprice"), 4).alias("AVG_PRICE"),
        rhu(dsum(F.col("l_discount"), 2) / F.count("l_discount"), 6).alias("AVG_DISC"),
        F.count(F.lit(1)).alias("COUNT_ORDER"),
    )


# --- P12/W2: deterministic keep-latest dedup


@query(
    "dedup_keep_latest",
    tags=("min2",),
    oracle="""
SELECT user_id AS USER_ID, event_id AS EVENT_ID, ts AS TS,
       event_type AS EVENT_TYPE, value AS VALUE
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
""",
)
def q_dedup_keep_latest(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    latest = keep_latest(ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()])
    return latest.select(
        F.col("user_id").alias("USER_ID"),
        F.col("event_id").alias("EVENT_ID"),
        F.col("ts").alias("TS"),
        F.col("event_type").alias("EVENT_TYPE"),
        F.col("value").alias("VALUE"),
    )


# --- T3 generalized: top-k per group with total order


@query(
    "top_parts_per_supplier",
    tags=("untimed",),
    oracle=f"""
WITH pr AS (
  SELECT CAST(l_suppkey AS BIGINT) AS SUPPLIER_ID,
         CAST(l_partkey AS BIGINT) AS PART_ID,
         {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS PART_REVENUE
  FROM lineitem GROUP BY 1, 2
)
SELECT * FROM (
  SELECT SUPPLIER_ID, PART_ID, PART_REVENUE,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY SUPPLIER_ID ORDER BY PART_REVENUE DESC, PART_ID) AS BIGINT) AS PART_RANK
  FROM pr
) WHERE PART_RANK <= 3
""",
)
def q_top_parts(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem")
    pr = li.groupBy(
        F.col("l_suppkey").cast("long").alias("SUPPLIER_ID"),
        F.col("l_partkey").cast("long").alias("PART_ID"),
    ).agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("PART_REVENUE"))
    out = top_k_per_group(
        pr, ["SUPPLIER_ID"], [F.col("PART_REVENUE").desc(), F.col("PART_ID")], k=3, rank_col="PART_RANK"
    )
    return out.withColumn("PART_RANK", F.col("PART_RANK").cast("long"))


# --- O1/O2: set operations


@query(
    "set_except",
    tags=("untimed",),
    oracle="""
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
""",
)
def q_set_except(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    errors = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return clicks.subtract(errors)


@query(
    "set_union",
    tags=("untimed",),
    oracle="""
SELECT event_id AS EVENT_ID, 'big_click' AS SRC, value AS VALUE
FROM events WHERE event_type = 'click' AND value > 50
UNION ALL
SELECT event_id, 'purchase', value FROM events WHERE event_type = 'purchase'
""",
)
def q_set_union(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    a = ev.filter((F.col("event_type") == "click") & (F.col("value") > 50)).select(
        F.col("event_id").alias("EVENT_ID"), F.lit("big_click").alias("SRC"), F.col("value").alias("VALUE")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.lit("purchase"), F.col("value")
    )
    return a.union(b)


# --- C2: snapshot-diff CDC on synthesized prev/cur snapshots of `orders`.
# prev drops keys %13==3 (-> inserts), cur drops keys %11==5 (-> deletes)
# and bumps o_totalprice 10% for keys %7==0 (-> updates).

rhu_bump = sql_rhu("o_totalprice * 1.1", 2)

_CDC_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderdate
  FROM orders
),
cur AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN {rhu_bump}
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate
  FROM base WHERE o_orderkey % 11 <> 5
),
prev AS (SELECT * FROM base WHERE o_orderkey % 13 <> 3),
ins AS (
  SELECT c.*, 'insert' AS cdc_action FROM cur c
  ANTI JOIN prev p ON c.o_orderkey = p.o_orderkey
),
del AS (
  SELECT p.*, 'delete' AS cdc_action FROM prev p
  ANTI JOIN cur c ON p.o_orderkey = c.o_orderkey
),
upd AS (
  SELECT c.*, 'update' AS cdc_action
  FROM cur c JOIN prev p ON c.o_orderkey = p.o_orderkey
  WHERE c.o_custkey IS DISTINCT FROM p.o_custkey
     OR c.o_orderstatus IS DISTINCT FROM p.o_orderstatus
     OR c.o_totalprice IS DISTINCT FROM p.o_totalprice
     OR c.o_orderdate IS DISTINCT FROM p.o_orderdate
)
SELECT * FROM ins UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del
"""


def _cdc_snapshots(spark: SparkSession, sf_dir: str):
    base = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderdate",
    )
    cur = base.filter(F.col("o_orderkey") % 11 != 5).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, rhu(F.col("o_totalprice") * 1.1, 2)).otherwise(
            F.col("o_totalprice")
        ),
    )
    prev = base.filter(F.col("o_orderkey") % 13 != 3)
    return cur, prev


@query("cdc_snapshot_diff", tags=("min2",), oracle=_CDC_SQL)
def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str):
    cur, prev = _cdc_snapshots(spark, sf_dir)
    return cdc_diff(cur, prev, pks=["o_orderkey"])


# --- C1: high-watermark incremental read (fixed literal watermark)


@query(
    "events_incremental_read",
    tags=("untimed",),
    oracle="""
SELECT event_id, ts, user_id, event_type, value
FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
""",
)
def q_events_incremental(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    return ev.filter(F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# --- C5: tumbling windows (batch form of streaming window agg)


@query(
    "events_tumbling_daily",
    tags=("min2", "skew"),
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS EVENT_DATE,
       event_type AS EVENT_TYPE,
       COUNT(*) AS N_EVENTS,
       {sql_dsum("value", 2)} AS TOTAL_VALUE,
       COUNT(DISTINCT user_id) AS N_USERS
FROM events GROUP BY 1, 2
""",
)
def q_tumbling_daily(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type").alias("EVENT_TYPE"))
        .agg(
            F.count(F.lit(1)).alias("N_EVENTS"),
            dsum("value", 2).alias("TOTAL_VALUE"),
            F.countDistinct("user_id").alias("N_USERS"),
        )
        .select(
            F.col("w.start").cast("date").alias("EVENT_DATE"),
            "EVENT_TYPE",
            "N_EVENTS",
            "TOTAL_VALUE",
            "N_USERS",
        )
    )


@query(
    "events_tumbling_hourly",
    tags=("untimed",),
    oracle=f"""
SELECT date_trunc('hour', ts) AS WINDOW_START,
       COUNT(*) AS N_EVENTS,
       {sql_dsum("value", 2)} AS TOTAL_VALUE
FROM events GROUP BY 1
""",
)
def q_tumbling_hourly(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("N_EVENTS"), dsum("value", 2).alias("TOTAL_VALUE"))
        .select(F.col("w.start").alias("WINDOW_START"), "N_EVENTS", "TOTAL_VALUE")
    )


@query(
    "events_daily_gapfill",
    oracle=f"""
WITH daily AS (
  SELECT event_type AS EVENT_TYPE, CAST(ts AS DATE) AS EVENT_DATE,
         COUNT(*) AS N_EVENTS, {sql_dsum("value", 2)} AS TOTAL_VALUE
  FROM events GROUP BY 1, 2
),
span AS (SELECT EVENT_TYPE, MIN(EVENT_DATE) AS lo, MAX(EVENT_DATE) AS hi FROM daily GROUP BY 1),
spine AS (
  SELECT EVENT_TYPE, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS EVENT_DATE
  FROM span
)
SELECT s.EVENT_TYPE, s.EVENT_DATE,
       CAST(COALESCE(d.N_EVENTS, 0) AS BIGINT) AS N_EVENTS,
       COALESCE(d.TOTAL_VALUE, 0.0) AS TOTAL_VALUE
FROM spine s LEFT JOIN daily d USING (EVENT_TYPE, EVENT_DATE)
""",
)
def q_events_daily_gapfill(spark: SparkSession, sf_dir: str):
    """Dense daily series per event type (temporal.gap_fill_daily): every
    day between each type's first and last observation appears, missing
    days zero-filled -- the spine step trend/rate windows need so LAG
    doesn't silently compare across gaps. Spine rows come from a
    sequence() explode of per-key (min, max) -- proportional to the
    output, never keys x global range."""
    from ..operators.temporal import gap_fill_daily

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("EVENT_TYPE"), F.to_date("ts").alias("EVENT_DATE")
    ).agg(
        F.count(F.lit(1)).alias("N_EVENTS"),
        dsum("value", 2).alias("TOTAL_VALUE"),
    )
    return gap_fill_daily(
        daily, ["EVENT_TYPE"], "EVENT_DATE", fill={"N_EVENTS": 0, "TOTAL_VALUE": 0.0}
    )


@query(
    "events_value_interpolated",
    oracle="""
WITH daily AS (
  SELECT event_type AS EVENT_TYPE, CAST(ts AS DATE) AS EVENT_DATE,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS VC
  FROM events WHERE user_id % 97 = 0 GROUP BY 1, 2
),
span AS (SELECT EVENT_TYPE, MIN(EVENT_DATE) AS lo, MAX(EVENT_DATE) AS hi FROM daily GROUP BY 1),
spine AS (
  SELECT EVENT_TYPE, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS EVENT_DATE
  FROM span
),
j AS (
  SELECT s.EVENT_TYPE, s.EVENT_DATE, d.VC
  FROM spine s LEFT JOIN daily d USING (EVENT_TYPE, EVENT_DATE)
),
w AS (
  SELECT EVENT_TYPE, EVENT_DATE, VC,
    last_value(CASE WHEN VC IS NOT NULL THEN EVENT_DATE END IGNORE NULLS)
      OVER (PARTITION BY EVENT_TYPE ORDER BY EVENT_DATE
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    last_value(VC IGNORE NULLS)
      OVER (PARTITION BY EVENT_TYPE ORDER BY EVENT_DATE
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    first_value(CASE WHEN VC IS NOT NULL THEN EVENT_DATE END IGNORE NULLS)
      OVER (PARTITION BY EVENT_TYPE ORDER BY EVENT_DATE
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
    first_value(VC IGNORE NULLS)
      OVER (PARTITION BY EVENT_TYPE ORDER BY EVENT_DATE
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM j
)
SELECT EVENT_TYPE, EVENT_DATE,
       (VC IS NOT NULL) AS IS_OBSERVED,
       CAST(CASE WHEN VC IS NOT NULL THEN VC
            ELSE (pv * (date_diff('day', pd, nd) - date_diff('day', pd, EVENT_DATE))
                  + nv * date_diff('day', pd, EVENT_DATE))
                 // date_diff('day', pd, nd) END AS BIGINT) AS VALUE_CENTI
FROM w
""",
)
def q_events_value_interpolated(spark: SparkSession, sf_dir: str):
    """Linear gap interpolation (temporal.interpolate_daily) over a
    deliberately sparse per-type daily series (1/97th of users, so real
    gaps exist): missing days take the straight line between neighboring
    observations, computed as integer centi-unit arithmetic with
    truncating division -- Spark ``div`` and the oracle's ``//`` agree
    bit-for-bit, including on negative sums. One spine explode + one
    key-partitioned window pass (backward last + forward first share the
    exchange and sort)."""
    from ..operators.temporal import interpolate_daily
    from ..functions.numeric import money

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") % 97 == 0)
    daily = ev.groupBy(
        F.col("event_type").alias("EVENT_TYPE"), F.to_date("ts").alias("EVENT_DATE")
    ).agg(F.sum(money("value", 2)).alias("TOTAL_VALUE"))
    return interpolate_daily(
        daily, ["EVENT_TYPE"], "EVENT_DATE", "TOTAL_VALUE"
    )


@query(
    "events_hopping_6h",
    tags=("skew",),
    oracle=f"""
WITH e AS (SELECT epoch_us(ts) AS us, event_type, user_id, value FROM events),
w AS (
  SELECT make_timestamp(unnest(range(us // 10800000000 - 1, us // 10800000000 + 1))
                        * 10800000000) AS WINDOW_START,
         event_type, user_id, value
  FROM e
)
SELECT WINDOW_START, event_type AS EVENT_TYPE,
       COUNT(*) AS N_EVENTS,
       {sql_dsum("value", 2)} AS TOTAL_VALUE,
       COUNT(DISTINCT user_id) AS N_USERS
FROM w GROUP BY 1, 2
""",
)
def q_events_hopping_6h(spark: SparkSession, sf_dir: str):
    """Hopping (sliding) windows: 6-hour totals advancing every 3 hours --
    each event lands in exactly window/slide = 2 overlapping windows. The
    engine form is the built-in sliding `window()` (one explode to 2 rows
    per event inside the scan stage, then a plain hash agg); the oracle
    replays the same epoch-aligned window index math with
    range()/unnest. Streaming sibling: streaming.tumbling_aggregate(
    slide=...), parity pinned in tests/test_streaming.py."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"),
            F.col("event_type").alias("EVENT_TYPE"),
        )
        .agg(
            F.count(F.lit(1)).alias("N_EVENTS"),
            dsum("value", 2).alias("TOTAL_VALUE"),
            F.countDistinct("user_id").alias("N_USERS"),
        )
        .select(
            F.col("w.start").alias("WINDOW_START"),
            "EVENT_TYPE",
            "N_EVENTS",
            "TOTAL_VALUE",
            "N_USERS",
        )
    )


# --- C6 idiomatic: trailing-window comparison as single-pass conditional agg


@query(
    "events_trailing_compare",
    tags=("untimed",),
    oracle=f"""
WITH spend AS (
  SELECT user_id AS USER_ID,
         COALESCE(CAST(SUM(CASE WHEN ts > TIMESTAMP '2024-01-24 00:00:00'
                                THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS SPEND_LAST_7,
         COALESCE(CAST(SUM(CASE WHEN ts > TIMESTAMP '2024-01-17 00:00:00'
                                 AND ts <= TIMESTAMP '2024-01-24 00:00:00'
                                THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS SPEND_PREV_7
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT USER_ID, SPEND_LAST_7, SPEND_PREV_7,
       CASE WHEN SPEND_PREV_7 = 0 THEN NULL
            ELSE {sql_rhu("(SPEND_LAST_7 - SPEND_PREV_7) / SPEND_PREV_7 * 100", 4)} END AS PCT_CHANGE
FROM spend
""",
)
def q_trailing_compare(spark: SparkSession, sf_dir: str):
    from ..functions.numeric import money
    from ..operators.relational import pct_change, sum_where

    ev = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    t_mid = F.lit("2024-01-24 00:00:00").cast("timestamp")
    t_lo = F.lit("2024-01-17 00:00:00").cast("timestamp")
    spend = ev.groupBy(F.col("user_id").alias("USER_ID")).agg(
        F.coalesce(
            sum_where(F.col("ts") > t_mid, money("value", 2), "x1").cast("double"), F.lit(0.0)
        ).alias("SPEND_LAST_7"),
        F.coalesce(
            sum_where((F.col("ts") > t_lo) & (F.col("ts") <= t_mid), money("value", 2), "x2").cast(
                "double"
            ),
            F.lit(0.0),
        ).alias("SPEND_PREV_7"),
    )
    return spend.withColumn(
        "PCT_CHANGE", rhu(pct_change(F.col("SPEND_LAST_7"), F.col("SPEND_PREV_7")), 4)
    )


# --- Sessionization (gap > 30 min), an extension the reference lacks


@query(
    "events_sessionize",
    tags=("min2", "skew"),
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM ordered
)
SELECT user_id AS USER_ID, session_id AS SESSION_ID,
       COUNT(*) AS N_EVENTS, MIN(ts) AS SESSION_START, MAX(ts) AS SESSION_END,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DURATION_US
FROM sessions GROUP BY 1, 2
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str):
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_new = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1_800_000_000),
        1,
    ).otherwise(0)
    sessions = ev.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"),
    )
    return sessions.groupBy(
        F.col("user_id").alias("USER_ID"), F.col("session_id").alias("SESSION_ID")
    ).agg(
        F.count(F.lit(1)).alias("N_EVENTS"),
        F.min("ts").alias("SESSION_START"),
        F.max("ts").alias("SESSION_END"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("DURATION_US"),
    )


@query(
    "cdc_apply_changes",
    tags=("min2",),
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderdate
  FROM orders
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 7 = 0 THEN {rhu_bump}
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate
FROM base WHERE o_orderkey % 11 <> 5
""",
)
def q_cdc_apply_changes(spark: SparkSession, sf_dir: str):
    """MERGE semantics check: applying diff(cur, prev) onto prev must
    reconstruct cur exactly (upsert + delete roundtrip, SURVEY.md C2)."""
    from ..operators.cdc import apply_changes

    cur, prev = _cdc_snapshots(spark, sf_dir)
    changes = cdc_diff(cur, prev, pks=["o_orderkey"])
    return apply_changes(prev, changes, pks=["o_orderkey"])


@query(
    "orders_incremental_agg",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders
),
cur AS (
  SELECT o_custkey,
         CASE WHEN o_orderkey % 7 = 0 THEN {rhu_bump}
              ELSE o_totalprice END AS p
  FROM base WHERE o_orderkey % 11 <> 5
)
SELECT o_custkey,
       CAST(SUM(CAST(p AS DECIMAL(30,2))) AS DOUBLE) AS SUM_PRICE,
       COUNT(*) AS N_ORDERS
FROM cur GROUP BY 1
""",
)
def q_orders_incremental_agg(spark: SparkSession, sf_dir: str):
    """Incremental view maintenance: the per-customer revenue mart is
    refreshed from the CDC change set ALONE (insert +new, delete -old,
    update both, decimal-exact sums) and must equal the oracle's full
    recompute over the new snapshot. At 100 TB this is the difference
    between rescanning the fact table per refresh and touching only the
    day's changes (operators/maintenance.py; old images from the
    single-pass full-outer cdc_diff)."""
    from ..operators.maintenance import aggregate_snapshot, incremental_agg_update

    cur, prev = _cdc_snapshots(spark, sf_dir)
    prev_agg = aggregate_snapshot(
        prev.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        ["o_totalprice"],
        count_col="N_ORDERS",
        decimal_scale=2,
    )
    changes = cdc_diff(
        cur.select("o_custkey", "o_orderkey", "o_totalprice"),
        prev.select("o_custkey", "o_orderkey", "o_totalprice"),
        pks=["o_orderkey"],
        with_old_image=True,
    )
    out = incremental_agg_update(
        prev_agg, changes, ["o_custkey"], ["o_totalprice"],
        count_col="N_ORDERS", decimal_scale=2,
    )
    return out.select(
        "o_custkey",
        F.col("SUM_o_totalprice").cast("double").alias("SUM_PRICE"),
        F.col("N_ORDERS").cast("long").alias("N_ORDERS"),
    )


# --- A-family extensions: multi-level aggregation + sketch cardinality


@query(
    "pricing_rollup",
    tags=("untimed",),
    oracle=f"""
SELECT l_returnflag AS RETURN_FLAG, l_linestatus AS LINE_STATUS,
       {sql_dsum("l_extendedprice", 2)} AS SUM_BASE_PRICE,
       COUNT(*) AS N_ROWS
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)
def q_pricing_rollup(spark: SparkSession, sf_dir: str):
    """Hierarchical subtotals via ROLLUP: per (flag, status), per flag, and
    grand total in one pass (partial-aggregated like any groupBy)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.rollup(
        F.col("l_returnflag").alias("RETURN_FLAG"), F.col("l_linestatus").alias("LINE_STATUS")
    ).agg(
        dsum(F.col("l_extendedprice"), 2).alias("SUM_BASE_PRICE"),
        F.count(F.lit(1)).alias("N_ROWS"),
    )


@query(
    "orders_status_cube",
    tags=("untimed",),
    oracle="""
SELECT o_orderstatus AS STATUS, o_orderpriority AS PRIORITY, COUNT(*) AS N
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
)
def q_orders_cube(spark: SparkSession, sf_dir: str):
    o = read_table(spark, sf_dir, "orders")
    return o.cube(
        F.col("o_orderstatus").alias("STATUS"), F.col("o_orderpriority").alias("PRIORITY")
    ).agg(F.count(F.lit(1)).alias("N"))


# no oracle: HLL sketch values are engine-specific
@query("events_approx_distinct_users", tags=("untimed",))
def q_events_approx_distinct(spark: SparkSession, sf_dir: str):
    """approx_count_distinct -- the 100TB substitute for exact countDistinct
    (SURVEY.md A4): mergeable HLL sketch, no distinct-expand shuffle.
    Relative error vs exact is unit-tested (< 5% at rsd=0.02)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("EVENT_TYPE")).agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("APPROX_USERS"),
        F.count(F.lit(1)).alias("N_EVENTS"),
    )


@query(
    "events_exact_distinct_users",
    tags=("skew",),
    oracle="""
SELECT event_type AS EVENT_TYPE,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS N_USERS,
       CAST(COUNT(*) AS BIGINT) AS N_EVENTS
FROM events GROUP BY 1
""",
)
def q_events_exact_distinct(spark: SparkSession, sf_dir: str):
    """Exact countDistinct twin of events_approx_distinct_users: the same
    grouping answered exactly, giving the approx query's rows-only driver
    row an oracle-checked anchor next to it (the HLL error contract vs
    THIS query is pinned in tests/test_catalog_parity.py)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("EVENT_TYPE")).agg(
        F.countDistinct("user_id").alias("N_USERS"),
        F.count(F.lit(1)).alias("N_EVENTS"),
    )


# --- temporal: backward as-of join (operator the reference lacks; union +
# running-last fill, ONE shuffle, no range-join blow-up -- operators/temporal.py)


@query(
    "events_asof_attribution",
    tags=("min2",),
    oracle="""
SELECT p.event_id AS PURCHASE_ID, p.user_id AS USER_ID, p.ts AS PURCHASE_TS,
       c.ts AS CLICK_TS, c.event_id AS CLICK_ID
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts
""",
)
def q_events_asof_attribution(spark: SparkSession, sf_dir: str):
    """Last-click attribution: each purchase matched to the latest click by
    the same user at-or-before the purchase, NULL when none (left as-of).
    Deterministic here: (user_id, ts) is unique in the events fixture."""
    from ..operators.temporal import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    return asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts", right_cols=["event_id"]
    ).select(
        F.col("event_id").alias("PURCHASE_ID"),
        F.col("user_id").alias("USER_ID"),
        F.col("ts").alias("PURCHASE_TS"),
        F.col("matched_ts").alias("CLICK_TS"),
        F.col("matched_event_id").alias("CLICK_ID"),
    )


# --- semi / anti joins (EXISTS / NOT EXISTS): no right-side payload, no
# fan-out -- Catalyst keeps the build side a set-probe (broadcast here)


@query(
    "customers_semi_urgent",
    tags=("min2",),
    oracle="""
SELECT c_custkey AS CUSTOMER_ID, c_name AS NAME, c_mktsegment AS SEGMENT
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
""",
)
def q_customers_semi_urgent(spark: SparkSession, sf_dir: str):
    """Customers with at least one urgent order (left-semi join: each
    customer emitted at most once regardless of match multiplicity)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        F.col("c_custkey").alias("CUSTOMER_ID"),
        F.col("c_name").alias("NAME"),
        F.col("c_mktsegment").alias("SEGMENT"),
    )


@query(
    "customers_anti_urgent",
    tags=("min2",),
    oracle="""
SELECT c_custkey AS CUSTOMER_ID, c_name AS NAME, c_mktsegment AS SEGMENT
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
""",
)
def q_customers_anti_urgent(spark: SparkSession, sf_dir: str):
    """Customers with no urgent order (left-anti join -- the keyed EXCEPT
    the reference approximates with full-row subtract, SURVEY.md O1)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        F.col("c_custkey").alias("CUSTOMER_ID"),
        F.col("c_name").alias("NAME"),
        F.col("c_mktsegment").alias("SEGMENT"),
    )


# --- keyed interval (range) join: banded buckets, no per-key cross product


@query(
    "events_interval_join",
    tags=("min2",),
    oracle="""
SELECT e.event_id AS ERROR_ID, e.user_id AS USER_ID, e.ts AS ERROR_TS,
       c.click_id AS CLICK_ID, c.click_ts AS CLICK_TS
FROM (SELECT * FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
 AND c.click_ts BETWEEN e.ts - INTERVAL 86400 SECOND AND e.ts
""",
)
def q_events_interval_join(spark: SparkSession, sf_dir: str):
    """Errors paired with every click by the same user in the preceding
    24 h (operators/temporal.py interval_join: time-bucketed equi-join +
    residual BETWEEN, never the per-key cross product)."""
    from ..operators.temporal import interval_join

    ev = read_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    return interval_join(
        errors, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts",
        lower_seconds=-86400, upper_seconds=0,
    ).select(
        F.col("event_id").alias("ERROR_ID"),
        F.col("user_id").alias("USER_ID"),
        F.col("ts").alias("ERROR_TS"),
        F.col("click_id").alias("CLICK_ID"),
        F.col("click_ts").alias("CLICK_TS"),
    )


# --- deterministic hash sampling / splitting (operators/sampling.py):
# md5-keyed so membership is reproducible in ANY engine, including the oracle


@query(
    "lineitem_hash_sample",
    tags=("min2",),
    oracle="""
SELECT CAST(l_orderkey AS BIGINT) AS ORDER_ID,
       CAST(l_linenumber AS BIGINT) AS LINEITEM_ID,
       l_quantity AS QTY
FROM lineitem
WHERE SUBSTRING(MD5(CAST(l_orderkey AS VARCHAR) || '|' ||
                    CAST(l_linenumber AS VARCHAR) || '|s42'), 1, 8) < '0ccccccc'
""",
)
def q_lineitem_hash_sample(spark: SparkSession, sf_dir: str):
    """~5% reproducible sample of lineitem keyed by PK hash: stateless map,
    no shuffle, identical membership at any partitioning/cluster size
    ('0ccccccc'/16^8 = 0.050000000)."""
    from ..operators.sampling import hash_sample

    li = read_table(spark, sf_dir, "lineitem")
    return hash_sample(li, ["l_orderkey", "l_linenumber"], 0.05, seed="s42").select(
        F.col("l_orderkey").cast("long").alias("ORDER_ID"),
        F.col("l_linenumber").cast("long").alias("LINEITEM_ID"),
        F.col("l_quantity").alias("QTY"),
    )


@query(
    "docs_train_split",
    tags=("min2",),
    oracle="""
SELECT doc_id AS DOC_ID,
       CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '|s7'), 1, 8) < 'cccccccc' THEN 'train'
            WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '|s7'), 1, 8) < 'e6666666' THEN 'val'
            ELSE 'test' END AS SPLIT
FROM documents
""",
)
def q_docs_train_split(spark: SparkSession, sf_dir: str):
    """80/10/10 train/val/test assignment by document key hash -- the
    reproducible split a training pipeline snapshots with the data."""
    from ..operators.sampling import hash_split

    docs = read_table(spark, sf_dir, "documents")
    return hash_split(
        docs, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1}, seed="s7"
    ).select(F.col("doc_id").alias("DOC_ID"), "SPLIT")


# --- SCD Type-2 dimension history from a change log (operators/scd.py).
# The events table acts as the per-user profile change stream: each
# non-error event upserts the (event_type, value) profile attributes;
# 'error' events act as deletes terminating the open version. Tie-break on
# event_id makes the history hash-stable.

_SCD2_SQL = """
WITH log AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'update' END AS act
  FROM events
),
marked AS (
  SELECT *,
         LAG(act) OVER w AS prev_act,
         LAG(event_type) OVER w AS prev_et,
         LAG(value) OVER w AS prev_val
  FROM log
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
collapsed AS (
  SELECT * FROM marked
  WHERE act = 'delete'
     OR prev_act IS NULL
     OR prev_act = 'delete'
     OR event_type IS DISTINCT FROM prev_et
     OR value IS DISTINCT FROM prev_val
),
v AS (
  SELECT user_id, event_type, value, act, ts AS VALID_FROM,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS VALID_TO
  FROM collapsed
)
SELECT user_id AS USER_ID, event_type AS PROFILE_TYPE, value AS PROFILE_VALUE,
       VALID_FROM, VALID_TO,
       CASE WHEN VALID_TO IS NULL THEN 1 ELSE 0 END AS IS_CURRENT
FROM v WHERE act <> 'delete'
"""


def _scd2_user_dim(spark: SparkSession, sf_dir: str):
    from ..operators.scd import scd2_from_log

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("cdc_action"),
    )
    return scd2_from_log(
        ev,
        pks=["user_id"],
        ts_col="ts",
        attr_cols=["event_type", "value"],
        order_cols=["event_id"],
    )


@query("scd2_user_dim", oracle=_SCD2_SQL)
def q_scd2_user_dim(spark: SparkSession, sf_dir: str):
    """Full Type-2 version history. One key shuffle; intervals via
    lead()/lag() -- no self-join (see operators/scd.py)."""
    dim = _scd2_user_dim(spark, sf_dir)
    return dim.select(
        F.col("user_id").alias("USER_ID"),
        F.col("event_type").alias("PROFILE_TYPE"),
        F.col("value").alias("PROFILE_VALUE"),
        "VALID_FROM",
        "VALID_TO",
        "IS_CURRENT",
    )


@query(
    "scd2_active_at",
    tags=("untimed",),
    oracle=f"""
WITH dim AS ({_SCD2_SQL})
SELECT PROFILE_TYPE,
       COUNT(*) AS N_ACTIVE,
       {sql_dsum("PROFILE_VALUE", 2)} AS SUM_VALUE
FROM dim
WHERE VALID_FROM <= TIMESTAMP '2024-01-20 00:00:00'
  AND (VALID_TO IS NULL OR VALID_TO > TIMESTAMP '2024-01-20 00:00:00')
GROUP BY PROFILE_TYPE
""",
)
def q_scd2_active_at(spark: SparkSession, sf_dir: str):
    """Point-in-time rollup over the Type-2 dimension: which profile
    versions were valid on 2024-01-20, summarized per type. Demonstrates
    scd2_snapshot_at as a plain scan-stage interval filter."""
    from ..operators.scd import scd2_snapshot_at

    dim = _scd2_user_dim(spark, sf_dir)
    at = scd2_snapshot_at(dim, "2024-01-20 00:00:00")
    return at.groupBy(F.col("event_type").alias("PROFILE_TYPE")).agg(
        F.count(F.lit(1)).alias("N_ACTIVE"),
        # value is an exact 2-decimal column; decimal sum is order-
        # independent where a rounded double SUM could flake near a tie
        dsum("value", 2).alias("SUM_VALUE"),
    )


# --- Declared data-quality expectations (operators/quality.py): row rules
# in one scan, key uniqueness, referential integrity -- dbt-test/Deequ
# shape with exact violation counts.


@query(
    "dq_orders_report",
    oracle="""
SELECT 'o_totalprice_nonneg' AS RULE,
       CAST(COUNT(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice IS NULL) AS BIGINT) AS VIOLATIONS
FROM orders
UNION ALL
SELECT 'o_orderstatus_domain',
       CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F') OR o_orderstatus IS NULL) AS BIGINT)
FROM orders
UNION ALL
SELECT 'l_quantity_1_to_40',
       CAST(COUNT(*) FILTER (WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 40) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'unique(o_orderkey)',
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
FROM orders
UNION ALL
SELECT 'fk(l_orderkey)',
       CAST(COUNT(*) AS BIGINT)
FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'fk(o_custkey)',
       CAST(COUNT(*) AS BIGINT)
FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def q_dq_orders_report(spark: SparkSession, sf_dir: str):
    """Quality report over the orders star: three row rules fused into one
    orders scan + one lineitem scan, one uniqueness aggregation, two
    anti-join RI checks. 'P'-status orders and quantities 41-50 violate by
    design, so the report exercises nonzero counts."""
    from ..operators.quality import (
        quality_report,
        referential_violations,
        row_rule_violations,
        unique_key_violations,
    )

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cust = read_table(spark, sf_dir, "customer")
    return quality_report(
        [
            row_rule_violations(
                orders,
                {
                    "o_totalprice_nonneg": (F.col("o_totalprice") < 0)
                    | F.col("o_totalprice").isNull(),
                    "o_orderstatus_domain": ~F.col("o_orderstatus").isin("O", "F")
                    | F.col("o_orderstatus").isNull(),
                },
            ),
            row_rule_violations(
                li,
                {
                    "l_quantity_1_to_40": F.col("l_quantity").isNull()
                    | (F.col("l_quantity") < 1)
                    | (F.col("l_quantity") > 40),
                },
            ),
            unique_key_violations(orders, ["o_orderkey"], rule="unique(o_orderkey)"),
            referential_violations(li, orders, ["l_orderkey"], ["o_orderkey"], rule="fk(l_orderkey)"),
            referential_violations(orders, cust, ["o_custkey"], ["c_custkey"], rule="fk(o_custkey)"),
        ]
    )


@query(
    "orders_benford_screen",
    oracle="""
WITH v AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
),
d AS (
  SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS DIGIT,
         CAST(COUNT(*) AS BIGINT) AS N
  FROM v GROUP BY 1
),
t AS (SELECT SUM(N) AS tot FROM d),
e(DIGIT, EXPECTED_PPM) AS (
  VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
         (6, 66947), (7, 57992), (8, 51153), (9, 45757)
)
SELECT d.DIGIT, d.N,
       CAST((d.N * 1000000) // t.tot AS BIGINT) AS OBSERVED_PPM,
       CAST(e.EXPECTED_PPM AS BIGINT) AS EXPECTED_PPM,
       CAST((d.N * 1000000) // t.tot - e.EXPECTED_PPM AS BIGINT) AS DEV_PPM
FROM d, t
JOIN e ON d.DIGIT = e.DIGIT
ORDER BY d.DIGIT
""",
)
def q_orders_benford_screen(spark: SparkSession, sf_dir: str):
    """Benford's-law first-digit screen over order totals in exact cents:
    observed vs expected digit frequencies on the integer ppm lattice
    (the rounded Benford table sums to exactly 1e6, so deviations are
    engine-portable integers). First digits come from integer-to-string
    rendering, not float log10 -- identical across engines. One 9-key
    hash aggregation + a broadcast 1-row total."""
    from ..operators.quality import benford_report
    from ..functions.numeric import money

    orders = read_table(spark, sf_dir, "orders")
    cents = (money("o_totalprice", 2) * 100).cast("long")
    return benford_report(orders.select(cents.alias("__cents")), "__cents")


_PROFILE_COLS = [
    "o_custkey",
    "o_orderdate",
    "o_orderkey",
    "o_orderpriority",
    "o_orderstatus",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS COLUMN_NAME,
       CAST(COUNT(*) AS BIGINT) AS N_ROWS,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS N_NULL,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS N_DISTINCT,
       CAST(MIN({c}) AS VARCHAR) AS MIN_VALUE,
       CAST(MAX({c}) AS VARCHAR) AS MAX_VALUE
FROM orders"""
    for c in _PROFILE_COLS
) + "\nORDER BY COLUMN_NAME"


@query("orders_table_profile", oracle=_PROFILE_ORACLE)
def q_orders_table_profile(spark: SparkSession, sf_dir: str):
    """Column profile of the orders table (null counts, exact distincts,
    min/max) through quality.table_profile: ONE aggregation over ONE scan
    -- Spark fuses the 5 exact count-distincts into a single Expand-based
    aggregate and the tidy per-column pivot is a stack() over the 1-row
    result, so cost is one pass regardless of column count. Profiles the
    exact-typed columns only (bigint/string/timestamp); doubles render
    engine-specifically and are excluded per the operator's parity
    contract."""
    from ..operators.quality import table_profile

    return table_profile(read_table(spark, sf_dir, "orders"), _PROFILE_COLS)


@query(
    "events_type_skew_report",
    oracle="""
WITH c AS (SELECT event_type, COUNT(*) AS N_ROWS FROM events GROUP BY 1),
t AS (SELECT SUM(N_ROWS) AS tot FROM c)
SELECT event_type, CAST(c.N_ROWS AS BIGINT) AS N_ROWS,
       CAST((c.N_ROWS * 1000000) // t.tot AS BIGINT) AS SHARE_PPM,
       CAST((c.N_ROWS * 256 * 200 + t.tot) // (2 * t.tot) AS BIGINT) AS SKEW_X_CENTI
FROM c, t
ORDER BY c.N_ROWS DESC, event_type LIMIT 5
""",
)
def q_events_type_skew_report(spark: SparkSession, sf_dir: str):
    """Join/agg-key skew diagnostics (relational.skew_report): heaviest key
    values with exact ppm share and the hot key's multiple of an even
    256-partition load -- the pre-flight check that decides between AQE
    skew split and an explicit salted join. One map-combined hash agg +
    TakeOrderedAndProject top-k; the 1-row total broadcasts."""
    from ..operators.relational import skew_report

    ev = read_table(spark, sf_dir, "events")
    return skew_report(ev, ["event_type"], top=5, partitions=256)


@query(
    "events_salted_type_join",
    tags=("skew",),
    oracle="""
WITH d AS (SELECT event_type, COUNT(*) AS TYPE_ROWS FROM events GROUP BY 1)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS N_EVENTS,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS N_USERS,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS TYPE_VALUE,
       CAST(MAX(d.TYPE_ROWS) AS BIGINT) AS TYPE_ROWS
FROM events e JOIN d ON e.event_type = d.event_type
GROUP BY e.event_type
ORDER BY e.event_type
""",
)
def q_events_salted_type_join(spark: SparkSession, sf_dir: str):
    """The manual skew playbook end-to-end, graded against a plain-join
    oracle (salting is result-neutral, so the oracle is exact SQL): the
    fact side joins its per-key dim through relational.salted_join (hot
    key spread across 8 replica reducers instead of one) and the distinct
    count runs through relational.salted_count_distinct (value-derived
    salt splits a hot key's distinct-set, partial counts sum exactly).
    This is the fallback skew_report points at when AQE's runtime split
    isn't enough (SURVEY.md §4 hazards); the dim and the 5-row partial
    aggregates broadcast."""
    from ..operators.relational import salted_count_distinct, salted_join

    ev = read_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("TYPE_ROWS"))
    joined = salted_join(ev, dim, ["event_type"], salt=8)
    stats = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("N_EVENTS"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("TYPE_VALUE"),
        F.max("TYPE_ROWS").cast("long").alias("TYPE_ROWS"),
    )
    users = salted_count_distinct(ev, ["event_type"], "user_id", "N_USERS", salt=16)
    return (
        stats.join(F.broadcast(users), "event_type")
        .select("event_type", "N_EVENTS", "N_USERS", "TYPE_VALUE", "TYPE_ROWS")
        .orderBy("event_type")
    )


_TYPE_JOIN_ORACLE = """
WITH d AS (SELECT event_type, COUNT(*) AS TYPE_ROWS FROM events GROUP BY 1)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS N_EVENTS,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS N_USERS,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS TYPE_VALUE,
       CAST(MAX(d.TYPE_ROWS) AS BIGINT) AS TYPE_ROWS
FROM events e JOIN d ON e.event_type = d.event_type
GROUP BY e.event_type
ORDER BY e.event_type
"""


@query("events_aqe_skew_join", tags=("skew",), oracle=_TYPE_JOIN_ORACLE)
def q_events_aqe_skew_join(spark: SparkSession, sf_dir: str):
    """The AUTOMATIC half of the skew playbook, graded against the same
    oracle as events_salted_type_join (both are result-neutral layouts of
    the identical rollup): the fact-dim join is forced to sort-merge (the
    5-row dim would otherwise broadcast and hide the shuffle), the fact
    side hash-partitions on a 5-value key -- the canonical hot-partition
    shape -- and spark.sql.adaptive.skewJoin splits oversized partitions
    AT RUNTIME with no code changes; the distinct count is a plain
    countDistinct whose partial aggregation absorbs the key skew
    map-side. Benchmarked side by side with the salted twin on the
    .bench_sf1_skew fixture (one user/type at ~20% of rows); the
    runtime-split evidence (AQEShuffleRead skewed-partition counts) is
    recorded in PLANS.md. Decimal-lattice sum keeps the value hash exact
    under any partition order."""
    ev = read_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("TYPE_ROWS"))
    joined = ev.join(dim.hint("merge"), "event_type")
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("N_EVENTS"),
            F.countDistinct("user_id").cast("long").alias("N_USERS"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("TYPE_VALUE"),
            F.max("TYPE_ROWS").cast("long").alias("TYPE_ROWS"),
        )
        .select("event_type", "N_EVENTS", "N_USERS", "TYPE_VALUE", "TYPE_ROWS")
        .orderBy("event_type")
    )


@query("events_hll_weekly_rollup", tags=("untimed",))  # rows-only: HLL estimates engine-specific
def q_events_hll_weekly_rollup(spark: SparkSession, sf_dir: str):
    """Distinct users per week answered by UNIONING stored per-day HLL
    sketches (operators/sketches.py) -- the re-aggregable-sketch zone
    pattern that answers arbitrary-range distincts without rescanning raw
    data. Rows-only: Datasketches estimates are engine-specific; the
    error contract and union==direct equivalence are pinned in
    tests/test_sketches.py."""
    from ..operators.sketches import distinct_sketch, rollup_sketches

    ev = (
        read_table(spark, sf_dir, "events")
        .withColumn("DAY", F.to_date("ts"))
        .withColumn("WEEK", F.date_trunc("week", "ts").cast("date"))
    )
    daily = distinct_sketch(ev, ["WEEK", "DAY"], "user_id")
    return rollup_sketches(daily, ["WEEK"])


@query("events_quantile_sketch_rollup")  # rows-only: ln() last-ulp binning engine-specific
def q_events_quantile_sketch_rollup(spark: SparkSession, sf_dir: str):
    """Weekly p50/p95/p99 of event value answered by integer-summing stored
    per-day DDSketch-style log-bin sketches (operators/sketches.py) -- the
    quantile counterpart of the HLL rollup zone: arbitrary-range
    percentiles without rescanning raw data or buffering per-group value
    lists. Rows-only: a value exactly on a log-bin boundary can land in
    the adjacent bin under another engine's ln() rounding; the alpha
    relative-error contract and merged==direct EXACT equivalence are
    pinned in tests/test_sketches.py."""
    from ..operators.sketches import (
        merge_quantile_sketches,
        quantile_estimates,
        quantile_sketch,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .withColumn("DAY", F.to_date("ts"))
        .withColumn("WEEK", F.date_trunc("week", "ts").cast("date"))
    )
    daily = quantile_sketch(ev, ["WEEK", "DAY"], "value", alpha=0.01)
    weekly = merge_quantile_sketches(daily.drop("DAY"), ["WEEK"])
    return quantile_estimates(weekly, ["WEEK"], [0.5, 0.95, 0.99], alpha=0.01)


# --- metric-series monitoring (operators/monitoring.py): control-chart
# z-score of each day's revenue vs its own trailing week, per event type.

_ANOM_STD = "sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0))"

_ANOM_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, {sql_dsum("value", 2)} AS rev
  FROM events GROUP BY 1, 2
),
wnd AS (
  SELECT event_type, d, rev,
         CAST(SUM(CAST(rev AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
         CAST(SUM(CAST(rev * rev AS DECIMAL(18,4))) OVER w AS DOUBLE) AS s2,
         COUNT(rev) OVER w AS n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT *,
         CASE WHEN n >= 7 AND {_ANOM_STD} > 0
              THEN {sql_rhu(f"(rev - s1 / n) / ({_ANOM_STD})", 6)} END AS z
  FROM wnd
)
SELECT event_type AS EVENT_TYPE, d AS DAY, rev AS DAILY_REV,
       CAST(n AS BIGINT) AS N_PRIOR,
       CASE WHEN n >= 7 THEN {sql_rhu("s1 / n", 6)} END AS MEAN_PRIOR,
       CASE WHEN n >= 7 THEN {sql_rhu(_ANOM_STD, 6)} END AS STD_PRIOR,
       z AS ZSCORE,
       CAST(CASE WHEN abs(z) > 2.0 THEN 1 ELSE 0 END AS INTEGER) AS IS_ANOMALY
FROM scored
"""


@query("events_daily_anomalies", oracle=_ANOM_SQL)
def q_events_daily_anomalies(spark: SparkSession, sf_dir: str):
    """Rolling 7-day control-chart anomalies on daily revenue per event
    type (monitoring.rolling_zscore). Mean/variance derive from exact
    decimal window sums so the scores are bit-reproducible cross-engine
    (builtin windowed AVG/STDDEV are association-order-dependent)."""
    from ..operators.monitoring import rolling_zscore

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("DAY")
    ).agg(dsum("value", 2).alias("DAILY_REV"))
    out = rolling_zscore(
        daily, key_cols=["event_type"], ts_col="DAY", value_col="DAILY_REV", n=7
    )
    return out.select(
        F.col("event_type").alias("EVENT_TYPE"),
        "DAY",
        "DAILY_REV",
        "N_PRIOR",
        "MEAN_PRIOR",
        "STD_PRIOR",
        "ZSCORE",
        "IS_ANOMALY",
    )


# --- C2-ext: snapshot diff ACROSS a schema change (evolve_schema=True).
# prev speaks the old schema (has o_legacy_flag, lacks o_orderpriority);
# cur speaks the new one (o_orderpriority populated for keys %5==0). The
# aligned diff judges updates on surviving+added columns only: %5==0 rows
# flip NULL->priority (update), legacy-flag differences are invisible,
# %7==0 keeps the price-bump update, %11/%13 the insert/delete legs.

_CDC_EVOLVED_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
  FROM orders
),
cur AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN {rhu_bump}
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 5 = 0 THEN o_orderpriority END AS o_orderpriority
  FROM base WHERE o_orderkey % 11 <> 5
),
prev AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM base WHERE o_orderkey % 13 <> 3
),
ins AS (
  SELECT c.*, 'insert' AS cdc_action FROM cur c
  ANTI JOIN prev p ON c.o_orderkey = p.o_orderkey
),
del AS (
  SELECT p.*, 'delete' AS cdc_action FROM prev p
  ANTI JOIN cur c ON p.o_orderkey = c.o_orderkey
),
upd AS (
  SELECT c.*, 'update' AS cdc_action
  FROM cur c JOIN prev p ON c.o_orderkey = p.o_orderkey
  WHERE c.o_custkey IS DISTINCT FROM p.o_custkey
     OR c.o_orderstatus IS DISTINCT FROM p.o_orderstatus
     OR c.o_totalprice IS DISTINCT FROM p.o_totalprice
     OR c.o_orderpriority IS DISTINCT FROM p.o_orderpriority
)
SELECT * FROM ins UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del
"""


@query("cdc_evolved_diff", oracle=_CDC_EVOLVED_SQL)
def q_cdc_evolved_diff(spark: SparkSession, sf_dir: str):
    """Keyed snapshot diff across a schema change (cdc.align_to_current):
    previous lacks the ADDED o_orderpriority (null-compared, so newly
    populated rows classify as updates) and carries a DROPPED
    o_legacy_flag (discarded -- it can't make a row an update). Same
    single full-outer-join plan as cdc_snapshot_diff; alignment is a
    zero-cost projection."""
    base = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderpriority",
    )
    cur = (
        base.filter(F.col("o_orderkey") % 11 != 5)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, rhu(F.col("o_totalprice") * 1.1, 2)
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 5 == 0, F.col("o_orderpriority")),
        )
    )
    prev = (
        base.drop("o_orderpriority")
        .filter(F.col("o_orderkey") % 13 != 3)
        .withColumn("o_legacy_flag", (F.col("o_orderkey") % 2 == 0))
    )
    return cdc_diff(cur, prev, pks=["o_orderkey"], evolve_schema=True)


# --- changelog compaction: many changes per key -> the net change. The log
# is synthesized from orders with an explicit SEQ so both engines replay
# identical histories: %5==0 keys are inserted then (%15==0) deleted or
# (else) updated; %7==0 of the rest are updated then (%2==0) deleted or
# updated again; %11==5 of the rest emit a lone delete.

_CDC_LOG_SQL = f"""
log AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
         1 AS SEQ, 'insert' AS cdc_action
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), 2, 'delete'
  FROM orders WHERE o_orderkey % 15 = 0
  UNION ALL
  SELECT o_orderkey, {rhu_bump}, 2, 'update'
  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 15 <> 0
  UNION ALL
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), 1, 'update'
  FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), 2, 'delete'
  FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0 AND o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, {rhu_bump}, 2, 'update'
  FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0 AND o_orderkey % 2 <> 0
  UNION ALL
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), 1, 'delete'
  FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0 AND o_orderkey % 11 = 5
)
"""


@query(
    "cdc_compact_changelog",
    oracle=f"""
WITH {_CDC_LOG_SQL},
agg AS (
  SELECT o_orderkey,
         min_by(cdc_action, SEQ) AS first_action,
         max_by(cdc_action, SEQ) AS last_action,
         max_by(o_totalprice, SEQ) AS o_totalprice,
         CAST(max(SEQ) AS INT) AS SEQ
  FROM log GROUP BY 1
)
SELECT o_orderkey, o_totalprice, SEQ,
       CASE WHEN first_action = 'insert' THEN 'insert'
            WHEN last_action = 'delete' THEN 'delete'
            ELSE 'update' END AS cdc_action
FROM agg
WHERE NOT (first_action = 'insert' AND last_action = 'delete')
""",
)
def q_cdc_compact_changelog(spark: SparkSession, sf_dir: str):
    """Changelog compaction (cdc.compact_changelog): the synthesized
    multi-action log collapses to one net change per key -- insert+delete
    vanishes, insert+update nets to an insert with the last image,
    update+delete to a delete -- in one keyed min_by/max_by aggregation,
    no window sort. Replay equivalence is pinned in test_cdc."""
    base = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    k = F.col("o_orderkey")
    bump = rhu(F.col("o_totalprice") * 1.1, 2)

    def leg(cond, price, seq, action):
        return base.filter(cond).select(
            "o_orderkey",
            price.alias("o_totalprice"),
            F.lit(seq).alias("SEQ"),
            F.lit(action).alias("cdc_action"),
        )

    log = (
        leg(k % 5 == 0, F.col("o_totalprice"), 1, "insert")
        .unionByName(leg(k % 15 == 0, F.col("o_totalprice"), 2, "delete"))
        .unionByName(leg((k % 5 == 0) & (k % 15 != 0), bump, 2, "update"))
        .unionByName(leg((k % 5 != 0) & (k % 7 == 0), F.col("o_totalprice"), 1, "update"))
        .unionByName(leg((k % 5 != 0) & (k % 7 == 0) & (k % 2 == 0), F.col("o_totalprice"), 2, "delete"))
        .unionByName(leg((k % 5 != 0) & (k % 7 == 0) & (k % 2 != 0), bump, 2, "update"))
        .unionByName(leg((k % 5 != 0) & (k % 7 != 0) & (k % 11 == 5), F.col("o_totalprice"), 1, "delete"))
    )
    from ..operators.cdc import compact_changelog

    return compact_changelog(log, pks=["o_orderkey"], order_cols=["SEQ"])


@query(
    "events_session_transitions",
    tags=("skew",),
    oracle="""
WITH ordered AS (
  SELECT event_type,
         CASE WHEN LAG(ts) OVER w IS NOT NULL
                   AND epoch_us(ts) - epoch_us(LAG(ts) OVER w) <= 1800000000
              THEN LAG(event_type) OVER w END AS FROM_TYPE
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT FROM_TYPE, event_type AS TO_TYPE, COUNT(*) AS N_TRANSITIONS
FROM ordered GROUP BY 1, 2
""",
)
def q_events_session_transitions(spark: SparkSession, sf_dir: str):
    """Within-session event-type transition counts
    (temporal.session_transitions, 30-minute gap): the Markov-path edge
    table next-action analyses start from; session entries surface as
    NULL FROM_TYPE. One sessionize-shaped window pass, |types|^2-bounded
    output."""
    from ..operators.temporal import session_transitions

    ev = read_table(spark, sf_dir, "events")
    return session_transitions(ev)


@query(
    "lineitem_basket_pairs",
    oracle=f"""
WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
nb AS (SELECT CAST(COUNT(DISTINCT b) AS DOUBLE) AS n FROM bi),
pairs AS (
  SELECT a.i AS ITEM_A, c.i AS ITEM_B, CAST(COUNT(*) AS BIGINT) AS N_AB
  FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS N_ITEM FROM bi GROUP BY 1)
SELECT p.ITEM_A, p.ITEM_B, p.N_AB, ia.N_ITEM AS N_A, ib.N_ITEM AS N_B,
       {sql_rhu("(CAST(p.N_AB AS DOUBLE) * nb.n) / (CAST(ia.N_ITEM AS DOUBLE) * CAST(ib.N_ITEM AS DOUBLE))", 6)} AS LIFT
FROM pairs p
JOIN ic ia ON ia.i = p.ITEM_A
JOIN ic ib ON ib.i = p.ITEM_B
CROSS JOIN nb
""",
)
def q_lineitem_basket_pairs(spark: SparkSession, sf_dir: str):
    """Market-basket affinity over order lineitems
    (relational.basket_pairs, min_support=3): co-purchased part pairs
    with exact-count lift -- association-rule mining's support/lift core.
    The pair stage self-joins ON THE ORDER KEY (per-basket quadratic
    only, bounded by the data model's lines-per-order), never a global
    product."""
    from ..operators.relational import basket_pairs

    li = read_table(spark, sf_dir, "lineitem")
    return basket_pairs(li, "l_orderkey", "l_partkey", min_support=3)


@query(
    "events_partition_pruned_read",
    oracle=f"""
SELECT event_type AS EVENT_TYPE,
       CAST(COUNT(*) AS BIGINT) AS N_EVENTS,
       {sql_dsum("value", 2)} AS TOTAL_VALUE
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
GROUP BY 1
""",
)
def q_events_partition_pruned_read(spark: SparkSession, sf_dir: str):
    """Directory-level partition pruning, made observable (the pruning
    partner of the bucketed-join pair): events are first written
    date-partitioned (sources.write_parquet partition_by=EVENT_DATE --
    the reference's own cdc_action/CREATION_DATE sink layout,
    scripts/cdc_metrics_job.py:89,143), then a one-week filter on the
    PARTITION column aggregates per type. Catalyst turns the filter into
    PartitionFilters: only the 7 matching date directories are LISTED,
    let alone read -- at 100 TB this is the difference between scanning
    a month and scanning a week (pinned in tests/test_plans.py: the
    executed plan carries the partition filter and reads exactly the 7
    in-range directories). The graded instance honestly pays the
    partitioned write; a real deployment pays it once at ingest. The
    oracle replays the same week over the flat table, so a pruning bug
    that drops or doubles a directory is a VALUE mismatch."""
    import hashlib
    import os
    import tempfile

    from ..sources.parquet_io import write_parquet

    ev = read_table(spark, sf_dir, "events")
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"evpart_{h}")
    write_parquet(
        ev.withColumn("EVENT_DATE", F.to_date("ts")), path,
        partition_by=["EVENT_DATE"],
    )
    part = spark.read.parquet(path).filter(
        F.col("EVENT_DATE").between("2024-01-10", "2024-01-16")
    )
    return part.groupBy(F.col("event_type").alias("EVENT_TYPE")).agg(
        F.count(F.lit(1)).cast("long").alias("N_EVENTS"),
        dsum("value", 2).alias("TOTAL_VALUE"),
    )


@query(
    "orders_consistent_sample_revenue",
    oracle=f"""
WITH so AS (
  SELECT o_orderkey, o_orderstatus FROM orders
  WHERE SUBSTRING(MD5(CAST(o_orderkey AS VARCHAR) || '|cs1'), 1, 8) < '20000000'
),
sl AS (
  SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem
  WHERE SUBSTRING(MD5(CAST(l_orderkey AS VARCHAR) || '|cs1'), 1, 8) < '20000000'
)
SELECT so.o_orderstatus AS STATUS,
       CAST(COUNT(DISTINCT so.o_orderkey) AS BIGINT) AS N_ORDERS,
       CAST(COUNT(*) AS BIGINT) AS N_LINES,
       {sql_dsum("sl.l_extendedprice * (1 - sl.l_discount)", 4)} AS NET_REVENUE
FROM sl JOIN so ON so.o_orderkey = sl.l_orderkey
GROUP BY 1
""",
)
def q_orders_consistent_sample_revenue(spark: SparkSession, sf_dir: str):
    """KEY-CONSISTENT cross-table sampling (sampling.hash_sample's central
    property, made observable): orders and lineitem are independently
    hash-sampled at 1/8 on the SAME join-key values and seed, so the two
    samples pick exactly the same order population -- the join loses
    nothing on either side (referential completeness pinned in
    test_sampling), and downstream revenue statistics are computed over a
    coherent 1/8 sub-database. The production pattern for dev/staging
    slices of a 100 TB warehouse: each table samples independently in a
    stateless scan-stage filter (no coordination, no key exchange), yet
    all foreign-key joins remain complete. '20000000'/16^8 = 0.125
    exactly; membership is identical at any partitioning."""
    from ..operators.sampling import hash_sample

    o = hash_sample(
        read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        ["o_orderkey"], 0.125, seed="cs1",
    )
    li = hash_sample(
        read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        ["l_orderkey"], 0.125, seed="cs1",
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("o_orderstatus").alias("STATUS"))
        .agg(
            F.countDistinct("o_orderkey").cast("long").alias("N_ORDERS"),
            F.count(F.lit(1)).cast("long").alias("N_LINES"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "NET_REVENUE"
            ),
        )
    )


@query(
    "events_bloom_prune_revenue",
    oracle="""
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS N_EVENTS,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS N_USERS,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS EVENT_VALUE
FROM events e
WHERE e.user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY e.event_type
ORDER BY e.event_type
""",
)
def q_events_bloom_prune_revenue(spark: SparkSession, sf_dir: str):
    """Bloom-filter semi-join pruning (operators/bloom.py), graded against
    the plain semi-join oracle -- the filter is result-NEUTRAL (false
    positives are removed by the exact join that follows), so the oracle
    is exact SQL while the engine path demonstrates the 100 TB shape: the
    dim side's join keys become a 16 KiB word array (one exploded
    map-combined bit_or aggregation, never collected), ride a 1-row
    broadcast onto the fact scan, and prune non-joining fact rows in the
    scan stage BEFORE the join's exchange. This is the manual form of
    Spark's InjectRuntimeFilter, usable where the optimizer won't inject
    one (non-equi pre-aggregated inputs, cross-format sources) and sized
    explicitly (~10-15 bits/key). xxhash64 probe (portable=False) is the
    production default; the words' determinism and the md5 twin's
    equality are pinned in tests/test_bloom.py."""
    from ..operators.bloom import bloom_semi_join

    ev = read_table(spark, sf_dir, "events")
    dim = read_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    hits = bloom_semi_join(ev, dim, "user_id", "c_custkey", portable=False)
    return (
        hits.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("N_EVENTS"),
            F.countDistinct("user_id").cast("long").alias("N_USERS"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("EVENT_VALUE"),
        )
        .orderBy("event_type")
    )


@query(
    "events_value_cusum_shifts",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS DAY,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS V
  FROM events GROUP BY 1, 2
),
tgt AS (
  SELECT event_type, CAST(SUM(V) // COUNT(*) AS BIGINT) AS K FROM daily GROUP BY 1
),
c AS (
  SELECT d.event_type, d.DAY, d.V,
         SUM(d.V - t.K) OVER (PARTITION BY d.event_type ORDER BY d.DAY
                              ROWS UNBOUNDED PRECEDING) AS C
  FROM daily d JOIN tgt t USING (event_type)
)
SELECT event_type, DAY, V AS VALUE_CENTS,
       CAST(C - MIN(LEAST(C, 0)) OVER (PARTITION BY event_type ORDER BY DAY
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS CUSUM_CENTS,
       (C - MIN(LEAST(C, 0)) OVER (PARTITION BY event_type ORDER BY DAY
                                   ROWS UNBOUNDED PRECEDING)) > 200000 AS SHIFTED
FROM c
ORDER BY event_type, DAY
""",
)
def q_events_value_cusum_shifts(spark: SparkSession, sf_dir: str):
    """One-sided CUSUM change-point detection (stats.cusum_shifts) on each
    event type's daily value series, against the type's OWN long-run mean
    (exact integer: sum div count). The max(0, ...) recurrence is computed
    in closed form -- running sum minus running min of the deviation
    series, two frames over one per-type ordered pass, no recursion, no
    UDF -- so an inherently sequential control-chart statistic stays a
    declarative window plan and value-hash exact: every term is integer
    cents. Flags days where the cumulative upward drift exceeds 2000.00.
    Skew is bounded by the longest single type's day count (~2k rows)."""
    from ..operators.stats import cusum_shifts

    from ..functions.numeric import money

    ev = read_table(spark, sf_dir, "events")
    # exact decimal sum * 100 -> exact cents; dsum's double image would
    # truncate (266.40 -> 26639) under the *100 + long cast
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("DAY"))
        .agg((F.sum(money("value", 2)) * 100).cast("long").alias("V"))
    )
    # floor division matching DuckDB's `//` even for NEGATIVE sums (the
    # error type's value sum is negative): Spark's `div` truncates toward
    # zero, so floor via the always-non-negative pmod remainder instead
    tgt = daily.groupBy("event_type").agg(
        F.expr("(sum(V) - pmod(sum(V), count(1))) div count(1)").cast("long").alias("K")
    )
    frame = daily.join(tgt, "event_type")
    return (
        cusum_shifts(
            frame, ["event_type"], "DAY", "V",
            target_cents="K", threshold_cents=200000, scale=0,
        )
        .orderBy("event_type", "DAY")
    )


@query(
    "events_dow_seasonality",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS DAY,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS V
  FROM events GROUP BY 1, 2
),
dw AS (
  SELECT event_type, CAST(isodow(DAY) - 1 AS BIGINT) AS DOW,
         CAST(COUNT(*) AS BIGINT) AS N_DAYS, CAST(SUM(V) AS BIGINT) AS SV
  FROM daily GROUP BY 1, 2
),
ov AS (
  SELECT event_type, CAST(SUM(V) AS BIGINT) AS ST, CAST(COUNT(*) AS BIGINT) AS ND
  FROM daily GROUP BY 1
)
SELECT d.event_type, d.DOW, d.N_DAYS,
       CAST(d.SV // d.N_DAYS AS BIGINT) AS AVG_CENTS,
       CAST(((d.SV // d.N_DAYS) * 1000000) // (o.ST // o.ND) AS BIGINT) AS RATIO_PPM
FROM dw d JOIN ov o USING (event_type)
WHERE (o.ST // o.ND) > 0
ORDER BY 1, 2
""",
)
def q_events_dow_seasonality(spark: SparkSession, sf_dir: str):
    """Day-of-week seasonality profile: each type's average daily value
    per weekday as an exact ppm ratio of its own overall daily average --
    the staffing/capacity fingerprint and the denominator a seasonality-
    aware anomaly rule normalizes by. Two keyed aggregations over the
    shared exact-cents daily frame; all divisions are FLOOR divisions via
    the pmod idiom (daily sums can be negative), matching DuckDB's `//`
    exactly, so the profile is value-hash exact. 7 x #types output rows.
    ISO weekday (0=Monday) on both engines."""
    from ..functions.numeric import money

    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("DAY"))
        .agg((F.sum(money("value", 2)) * 100).cast("long").alias("V"))
    )
    dw = daily.groupBy(
        "event_type", F.expr("weekday(DAY)").cast("long").alias("DOW")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("N_DAYS"),
        F.sum("V").cast("long").alias("SV"),
    )
    ov = daily.groupBy("event_type").agg(
        F.sum("V").cast("long").alias("ST"),
        F.count(F.lit(1)).cast("long").alias("ND"),
    )
    j = dw.join(ov, "event_type")
    avg_c = F.expr("(SV - pmod(SV, N_DAYS)) div N_DAYS")
    overall = F.expr("(ST - pmod(ST, ND)) div ND")
    return (
        j.withColumn("AVG_CENTS", avg_c.cast("long"))
        .withColumn("__OV", overall.cast("long"))
        .where(F.col("__OV") > 0)
        .withColumn(
            "RATIO_PPM",
            F.expr(
                "(AVG_CENTS * 1000000 - pmod(AVG_CENTS * 1000000, __OV)) div __OV"
            ).cast("long"),
        )
        .select("event_type", "DOW", "N_DAYS", "AVG_CENTS", "RATIO_PPM")
        .orderBy("event_type", "DOW")
    )


# --- schema-wide referential-integrity audit ------------------------------

_REF_RELATIONS = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
]


def _ref_audit_oracle() -> str:
    arms = []
    for name, ct, fk, pt, pk in _REF_RELATIONS:
        arms.append(f"""
SELECT '{name}' AS RELATION,
       CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS N_CHILD,
       CAST(COUNT(k) AS BIGINT) AS N_DISTINCT_FK,
       CAST(COALESCE(SUM(CASE WHEN p IS NULL THEN cn END), 0) AS BIGINT) AS N_ORPHAN_ROWS,
       CAST(COUNT(p) AS BIGINT) AS N_PARENT,
       CAST(SUM(CASE WHEN k IS NULL AND p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS N_PARENT_UNREFERENCED
FROM (SELECT {fk} AS k, CAST(COUNT(*) AS BIGINT) AS cn FROM {ct} GROUP BY 1) ck
FULL OUTER JOIN (SELECT DISTINCT {pk} AS p FROM {pt}) pk ON ck.k = pk.p""")
    return "\nUNION ALL\n".join(arms)


@query("dq_referential_audit", oracle=_ref_audit_oracle())
def q_dq_referential_audit(spark: SparkSession, sf_dir: str):
    """Schema-wide bidirectional referential-integrity audit
    (quality.referential_audit): one row per FK relation counting orphan
    child rows AND unreferenced parents across six star-schema edges
    (including the loosely-coupled events.user_id -> customer edge the
    warehouse inherits from the app). Each relation collapses the child
    to its distinct-FK tally BEFORE the full-outer join, so the join is
    key-cardinality-sized on both inputs regardless of fact-table row
    count -- the audit's cost profile at 100 TB is six map-combined
    groupBys, not six fact scans' worth of shuffle."""
    from ..operators.quality import referential_audit

    rels = [
        (name, read_table(spark, sf_dir, ct), fk, read_table(spark, sf_dir, pt), pk)
        for name, ct, fk, pt, pk in _REF_RELATIONS
    ]
    return referential_audit(rels)


@query(
    "events_type_dow_independence",
    oracle="""
WITH base AS (
  SELECT event_type AS a, CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS b
  FROM events
),
o AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab FROM base GROUP BY 1, 2),
ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n_a FROM base GROUP BY 1),
mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_b FROM base GROUP BY 1),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base)
SELECT ma.a AS EVENT_TYPE, mb.b AS DOW,
       CAST(COALESCE(o.n_ab, 0) AS BIGINT) AS N_OBSERVED,
       CAST((((ma.n_a * 1000000) // t.n) * ((mb.n_b * 1000000) // t.n)) // 1000000
            AS BIGINT) AS EXPECTED_PPM,
       CAST((COALESCE(o.n_ab, 0) * 1000000) // t.n
            - (((ma.n_a * 1000000) // t.n) * ((mb.n_b * 1000000) // t.n)) // 1000000
            AS BIGINT) AS DEV_PPM
FROM ma CROSS JOIN mb CROSS JOIN t
LEFT JOIN o ON o.a = ma.a AND o.b = mb.b
ORDER BY 1, 2
""",
)
def q_events_type_dow_independence(spark: SparkSession, sf_dir: str):
    """Deviation-from-independence matrix (operators/monitoring.
    independence_matrix) over event type x ISO weekday: every cell of
    the full 5x7 grid (zero-observation cells included) with observed
    count, expected ppm under independence (product of marginal ppms),
    and the signed ppm deviation -- the chi-square-style interaction /
    drift monitor, exact on the ppm lattice at any row count. The grid
    is a cross join of the two BOUNDED marginal frames; the grand total
    rides an unbounded window over the marginal frame, never a
    re-expanding aggregate cross join."""
    from ..operators.monitoring import independence_matrix

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.weekday(F.col("ts").cast("date")).cast("bigint").alias("dow")
    )
    out = independence_matrix(ev, "event_type", "dow")
    return out.select(
        F.col("A").alias("EVENT_TYPE"),
        F.col("B").alias("DOW"),
        "N_OBSERVED",
        "EXPECTED_PPM",
        "DEV_PPM",
    ).orderBy("EVENT_TYPE", "DOW")


def _versioned_tmp_path(sf_dir: str, tag: str) -> str:
    """Fresh per-(sf_dir, tag) scratch table path for the versioned-table
    queries -- md5-keyed so concurrent SFs never collide, wiped on entry
    so every run rebuilds its deliveries from scratch."""
    import hashlib
    import os
    import shutil
    import tempfile

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    p = os.path.join(tempfile.gettempdir(), f"tt_{tag}_{h}")
    shutil.rmtree(p, ignore_errors=True)
    return p


def _version_price_summaries(spark, path, versions, with_dirs=True):
    """One (VERSION[, N_DIRS], N_ROWS, TOTAL_PRICE) row per requested
    version of a versioned orders table -- the shared observable of the
    time-travel / compaction / DELETE / MERGE queries. N_DIRS comes from
    each committed manifest (the read-amplification observable)."""
    import json
    import os

    from ..sources.parquet_io import _manifest_dir, read_version

    out = None
    for v in versions:
        head = [F.lit(v).cast("long").alias("VERSION")]
        if with_dirs:
            with open(os.path.join(_manifest_dir(path), f"v{v:05d}.json")) as fh:
                n_dirs = len(json.load(fh)["dirs"])
            head.append(F.lit(n_dirs).cast("long").alias("N_DIRS"))
        frame = (
            read_version(spark, path, v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("N_ROWS"),
                dsum("o_totalprice", 2).alias("TOTAL_PRICE"),
            )
            .select(*head, "N_ROWS", "TOTAL_PRICE")
        )
        out = frame if out is None else out.unionByName(frame)
    return out


@query(
    "orders_time_travel",
    oracle=f"""
SELECT CAST(1 AS BIGINT) AS VERSION, CAST(COUNT(*) AS BIGINT) AS N_ROWS,
       {sql_dsum("o_totalprice", 2)} AS TOTAL_PRICE
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT), {sql_dsum("o_totalprice", 2)}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
""",
)
def q_orders_time_travel(spark: SparkSession, sf_dir: str):
    """Manifest-versioned snapshot isolation + time travel
    (sources/parquet_io.versioned_write / read_version):
    commit orders with o_orderkey%3==0 as version 1, APPEND the %3==1
    slice as version 2, then read BOTH versions back -- v1 must still
    return exactly its commit-time rows after the append (the dataset
    version pinning a reproducible training run needs). Each commit is
    one atomic manifest rename over immutable data files; reading AS OF
    a version is a plain multi-directory parquet scan, no merge-on-read.
    The oracle replays each version's visible row set straight from the
    source table."""
    from ..sources.parquet_io import versioned_write

    path = _versioned_tmp_path(sf_dir, "orders")
    orders = read_table(spark, sf_dir, "orders")
    versioned_write(orders.filter(F.col("o_orderkey") % 3 == 0), path)  # v1
    versioned_write(orders.filter(F.col("o_orderkey") % 3 == 1), path)  # v2
    return _version_price_summaries(spark, path, (1, 2), with_dirs=False)


@query(
    "orders_compacted_snapshot",
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
SELECT CAST(3 AS BIGINT), CAST(1 AS BIGINT),
       CAST(COUNT(*) AS BIGINT), {sql_dsum("o_totalprice", 2)}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
""",
)
def q_orders_compacted_snapshot(spark: SparkSession, sf_dir: str):
    """Versioned-table compaction (sources/parquet_io.compact_table, the
    lakehouse OPTIMIZE shape): two appended deliveries leave the latest
    version reading TWO directories; compaction commits version 3 --
    bit-identical rows, ONE directory -- while versions 1 and 2 stay
    time-travelable over their original immutable files. N_DIRS comes
    from each committed manifest (the read-amplification observable);
    the oracle replays every version's visible row set from the source
    and the manifest arithmetic as literals."""
    from ..sources.parquet_io import compact_table, versioned_write

    path = _versioned_tmp_path(sf_dir, "orders_compact")
    orders = read_table(spark, sf_dir, "orders")
    versioned_write(orders.filter(F.col("o_orderkey") % 3 == 0), path)  # v1
    versioned_write(orders.filter(F.col("o_orderkey") % 3 == 1), path)  # v2
    assert compact_table(spark, path) == 3  # v3: same rows, one directory
    return _version_price_summaries(spark, path, (1, 2, 3))


@query(
    "docs_stratified_kfold",
    oracle="""
SELECT doc_id AS DOC_ID, lang AS LANG,
       CAST((ROW_NUMBER() OVER (
              PARTITION BY lang
              ORDER BY SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '|kf1'), 1, 8),
                       doc_id) - 1) % 5 AS INT) AS FOLD
FROM documents
""",
)
def q_docs_stratified_kfold(spark: SparkSession, sf_dir: str):
    """Stratified 5-fold cross-validation assignment with EXACT per-stratum
    quotas (sampling.stratified_kfold): within every
    language the folds differ by at most one document -- a plain hash%k
    only balances in expectation and can put a rare language entirely in
    one fold. md5-ordered round-robin dealing, so membership replays
    bit-identically in SQL and any non-Spark consumer."""
    from ..operators.sampling import stratified_kfold

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = stratified_kfold(docs, ["lang"], ["doc_id"], k=5, seed="kf1")
    return out.select(
        F.col("doc_id").alias("DOC_ID"), F.col("lang").alias("LANG"), "FOLD"
    )


@query(
    "orders_versioned_merge",
    tags=("min2",),
    oracle=f"""
SELECT CAST(1 AS BIGINT) AS VERSION, CAST(1 AS BIGINT) AS N_DIRS,
       CAST(COUNT(*) AS BIGINT) AS N_ROWS, {sql_dsum("o_totalprice", 2)} AS TOTAL_PRICE
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(2 AS BIGINT),
       CAST(COUNT(*) AS BIGINT), {sql_dsum("o_totalprice", 2)}
FROM orders WHERE o_orderkey % 3 IN (0, 2)
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       {sql_dsum("CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 5 = 0 THEN o_totalprice + 100 ELSE o_totalprice END", 2)}
FROM orders
WHERE o_orderkey % 3 IN (0, 2) OR (o_orderkey % 3 = 1 AND o_orderkey % 5 = 0)
""",
)
def q_orders_versioned_merge(spark: SparkSession, sf_dir: str):
    """MERGE INTO on a versioned table (sources/parquet_io.merge_into):
    after two deliveries (keys %3==0, then %3==2 appended), merge a
    source of UPDATES (+100 on the %3==0, %5==0 orders) and INSERTS (the
    %3==1, %5==0 orders). Directory pruning: the source's keys touch only
    delivery 1's directory, so version 3 rewrites that one directory
    (minus matched rows, plus the whole source) and keeps delivery 2's
    directory shared AS-IS -- N_DIRS stays 2 and versions 1-2
    time-travel over their original files. The oracle replays each
    version's visible rows with plain predicates."""
    from ..sources.parquet_io import merge_into, versioned_write

    path = _versioned_tmp_path(sf_dir, "orders_merge")
    orders = read_table(spark, sf_dir, "orders")
    versioned_write(orders.filter(F.col("o_orderkey") % 3 == 0), path)  # v1
    versioned_write(orders.filter(F.col("o_orderkey") % 3 == 2), path)  # v2
    updates = orders.filter(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 5 == 0)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 100)
    inserts = orders.filter(
        (F.col("o_orderkey") % 3 == 1) & (F.col("o_orderkey") % 5 == 0)
    )
    v3 = merge_into(spark, updates.unionByName(inserts), path, on=["o_orderkey"])
    assert v3 == 3
    return _version_price_summaries(spark, path, (1, 2, 3))


@query(
    "orders_version_changes",
    tags=("min2",),
    oracle=f"""
SELECT 'delete' AS ACTION, CAST(COUNT(*) AS BIGINT) AS N_ROWS,
       {sql_dsum("o_totalprice", 2)} AS TOTAL_PRICE
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 'insert', CAST(COUNT(*) AS BIGINT),
       {sql_dsum("CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100 ELSE o_totalprice END", 2)}
FROM orders WHERE o_orderkey % 3 = 2
UNION ALL
SELECT 'update', CAST(COUNT(*) AS BIGINT), {sql_dsum("o_totalprice + 100", 2)}
FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 7 = 0
""",
)
def q_orders_version_changes(spark: SparkSession, sf_dir: str):
    """Change data feed between two versions of a versioned table: commit
    version 1 (keys %3 in (0,1)), OVERWRITE with version 2 (keys %3 in
    (1,2), +100 on the %7==0 orders), then diff the two snapshots read
    back via time travel (operators/cdc.cdc_diff on the PK) and roll the
    tagged change set up by action. Deletes carry the previous image's
    price, inserts/updates the current image's -- exactly what a
    downstream incremental consumer replays. One full-outer PK join over
    the two version reads; the rollup is a 3-group aggregate."""
    from ..operators.cdc import cdc_diff
    from ..sources.parquet_io import read_version, versioned_write

    path = _versioned_tmp_path(sf_dir, "orders_cdf")
    orders = read_table(spark, sf_dir, "orders")
    versioned_write(orders.filter(F.col("o_orderkey") % 3 < 2), path)  # v1
    v2_img = orders.filter(F.col("o_orderkey") % 3 > 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 100).otherwise(
            F.col("o_totalprice")
        ),
    )
    versioned_write(v2_img, path, mode="overwrite")  # v2
    changes = cdc_diff(
        read_version(spark, path, 2),
        read_version(spark, path, 1),
        pks=["o_orderkey"],
    )
    return (
        changes.groupBy(F.col("cdc_action").alias("ACTION"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("N_ROWS"),
            dsum("o_totalprice", 2).alias("TOTAL_PRICE"),
        )
        .orderBy("ACTION")
    )


@query(
    "orders_schema_evolution",
    tags=("min2",),
    oracle=f"""
SELECT CAST(1 AS BIGINT) AS VERSION, CAST(COUNT(*) AS BIGINT) AS N_ROWS,
       CAST(0 AS BIGINT) AS N_WITH_MARGIN,
       CAST(0.0 AS DOUBLE) AS TOTAL_MARGIN
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT),
       COALESCE({sql_dsum(f"CASE WHEN o_orderkey % 2 = 1 THEN {sql_rhu('o_totalprice * 0.1', 2)} END", 2)}, 0.0)
FROM orders
""",
)
def q_orders_schema_evolution(spark: SparkSession, sf_dir: str):
    """Additive schema evolution on a versioned table (sources/
    parquet_io.read_version merge_schema): delivery 1 ships the original
    order schema, delivery 2 appends rows WITH a new o_margin column;
    reading the latest version with schema merging surfaces the column
    -- NULL for delivery-1 rows -- while version 1 still reads its
    original narrow schema (the query checks the column's absence
    honestly rather than faking a zero). The oracle replays both
    versions' visible rows, margin arithmetic included, with plain
    predicates."""
    from ..sources.parquet_io import read_version, versioned_write

    path = _versioned_tmp_path(sf_dir, "orders_evolve")
    orders = read_table(spark, sf_dir, "orders")
    versioned_write(orders.filter(F.col("o_orderkey") % 2 == 0), path)  # v1
    evolved = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_margin", rhu(F.col("o_totalprice") * 0.1, 2)
    )
    versioned_write(evolved, path)  # v2: appended WITH the new column
    v1 = read_version(spark, path, 1)
    assert "o_margin" not in v1.columns  # old version keeps its schema
    v2 = read_version(spark, path, 2, merge_schema=True)
    rows = [
        v1.agg(F.count(F.lit(1)).cast("long").alias("N_ROWS")).select(
            F.lit(1).cast("long").alias("VERSION"),
            "N_ROWS",
            F.lit(0).cast("long").alias("N_WITH_MARGIN"),
            F.lit(0.0).cast("double").alias("TOTAL_MARGIN"),
        ),
        v2.agg(
            F.count(F.lit(1)).cast("long").alias("N_ROWS"),
            F.count("o_margin").cast("long").alias("N_WITH_MARGIN"),
            F.coalesce(dsum("o_margin", 2), F.lit(0.0)).alias("TOTAL_MARGIN"),
        ).select(
            F.lit(2).cast("long").alias("VERSION"),
            "N_ROWS",
            "N_WITH_MARGIN",
            "TOTAL_MARGIN",
        ),
    ]
    return rows[0].unionByName(rows[1])


@query(
    "customers_name_fuzzy_pairs",
    tags=("min2",),
    oracle="""
SELECT a.c_nationkey AS NATION_ID,
       a.c_custkey AS ID_A, b.c_custkey AS ID_B,
       a.c_name AS NAME_A, b.c_name AS NAME_B,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS EDIT_DISTANCE
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND length(a.c_name) = length(b.c_name)
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
""",
)
def q_customers_name_fuzzy_pairs(spark: SparkSession, sf_dir: str):
    """Edit-distance entity resolution via the deletion/mask neighborhood
    index: customer name pairs within Levenshtein distance 1, restricted
    to the same (nation, name length) block. For SAME-LENGTH strings,
    lev <= 1 is exactly "identical or one substitution", i.e. the two
    names agree on the variant obtained by masking out ONE position --
    so each name emits length(name) masked variants and near-pairs fall
    out of an equi-join on (nation, len, position, masked_variant). An
    equi-join on (nation, len) alone would not do: TPC-H names all
    share one length, so every block would be a whole nation and the
    residual levenshtein would run over B^2/2 pairs per nation (quadratic in the block:
    4.5M scalar calls at sf0.1, 450M at sf1). The neighborhood index is
    O(N x L) rows, the join key is near-unique, and levenshtein runs
    only on true survivors -- the standard spell-checker inversion
    (Norvig-style deletion variants), linear at every scale. Both
    engines still compute classic Levenshtein for the output column."""
    c = read_table(spark, sf_dir, "customer")
    # Exactly-once pair generation, NO distinct: identical names (lev 0)
    # pair via a plain name equi-join; one-substitution names (lev 1)
    # agree on the masked variant at EXACTLY the one differing position,
    # so the masked join with a NAME_A != NAME_B residual emits each pair
    # once. Position must be part of the key: masks at DIFFERENT
    # positions can collide for distance-2 pairs ("ab" del 1 = "b" =
    # "ba" del 2).
    base = c.select(
        F.col("c_nationkey").alias("NATION_ID"),
        F.col("c_custkey").alias("__id"),
        F.col("c_name").alias("__name"),
        F.length("c_name").alias("__len"),
    )
    ident = (
        base.select("NATION_ID", "__name", F.col("__id").alias("ID_A"))
        .join(
            base.select("NATION_ID", "__name", F.col("__id").alias("ID_B")),
            ["NATION_ID", "__name"],
        )
        .where(F.col("ID_A") < F.col("ID_B"))
        .select(
            "NATION_ID", "ID_A", "ID_B",
            F.col("__name").alias("NAME_A"),
            F.col("__name").alias("NAME_B"),
        )
    )
    variants = base.select(
        "NATION_ID",
        "__id",
        "__name",
        "__len",
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(__name)),"
                " i -> concat(substring(__name, 1, i - 1),"
                "             substring(__name, i + 1, length(__name))))"
            )
        ).alias("__pos", "__masked"),
    )
    a = variants.select(
        "NATION_ID", "__len", "__pos", "__masked",
        F.col("__id").alias("ID_A"), F.col("__name").alias("NAME_A"),
    )
    b = variants.select(
        "NATION_ID", "__len", "__pos", "__masked",
        F.col("__id").alias("ID_B"), F.col("__name").alias("NAME_B"),
    )
    subst = (
        a.join(b, ["NATION_ID", "__len", "__pos", "__masked"])
        .where((F.col("ID_A") < F.col("ID_B")) & (F.col("NAME_A") != F.col("NAME_B")))
        .select("NATION_ID", "ID_A", "ID_B", "NAME_A", "NAME_B")
    )
    return (
        ident.unionByName(subst)
        .withColumn(
            "EDIT_DISTANCE",
            F.levenshtein(F.col("NAME_A"), F.col("NAME_B")).cast("bigint"),
        )
        .where(F.col("EDIT_DISTANCE") <= 1)
        .select("NATION_ID", "ID_A", "ID_B", "NAME_A", "NAME_B", "EDIT_DISTANCE")
    )
