"""Relational operator coverage over the driver's TPC-H-ish tables.

Each query exists twice: a Spark DataFrame implementation (Catalyst-
optimized; broadcast hints on dimension tables, decimal-exact sums so
results are aggregation-order independent) and an ANSI-SQL oracle string
DuckDB runs on the same parquet views. Column aliases match exactly.

Float discipline (so value-hashes match across engines):
* never SUM doubles directly — cast the addend to DECIMAL first (exact,
  order-independent), then cast the final aggregate to DOUBLE;
* ROUND(...,4) on every computed double;
* raw stored doubles (no arithmetic) pass through untouched;
* timestamps never returned raw — always cast to string or epoch bigint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fact scan with the adaptive spread (sources.tables.spread_scan):
    a single-row-group local parquet file scans as ONE partition, which
    serializes the whole first stage onto one core. Used ONLY where the
    per-row map work ahead of the first natural shuffle is heavy enough
    to beat the extra exchange — measured A/B (interleaved, min-of-3,
    one session): q1's six decimal partial aggregates win (1.43 ->
    0.99 s at sf0.1); every join-shaped query (q3/q5/q18/topk/
    sessionize/kmv) LOST 0.15-0.5 s to the added exchange, so those
    keep the plain scan, exactly the dedup spread=False precedent. On a
    warehouse layout (thousands of row groups) spread_scan is a no-op
    either way."""
    from ..sources.tables import spread_scan
    path = f"{sf_dir}/{name}.parquet"
    return spread_scan(spark, spark.read.parquet(path), path)


def _epoch(col):
    """timestamp_ntz -> epoch seconds (session TZ pinned to UTC)."""
    return col.cast("timestamp").cast("long")


def _dec_sum(col, scale: int = 8):
    """Exact order-independent sum of a double expression."""
    return F.sum(col.cast(f"decimal(24,{scale})"))


# ---------------------------------------------------------------------------
# Q1-style pricing summary (SURVEY §2.4 aggregations; TPC-H Q1 pattern)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t_spread(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), 4).cast("double").alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice"), 4).cast("double").alias("sum_base_price"),
            F.round(_dec_sum(disc_price).cast("double"), 4).alias("sum_disc_price"),
            F.round(_dec_sum(charge).cast("double"), 4).alias("sum_charge"),
            F.round(F.avg(F.col("l_quantity").cast("decimal(24,4)")).cast("double"), 4).alias("avg_qty"),
            F.round(F.avg(F.col("l_discount").cast("decimal(24,4)")).cast("double"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))) AS DOUBLE)                                  AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,4))) AS DOUBLE)                             AS sum_base_price,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE),4) AS sum_disc_price,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,8))) AS DOUBLE),4) AS sum_charge,
  ROUND(CAST(AVG(CAST(l_quantity AS DECIMAL(24,4))) AS DOUBLE),4)                         AS avg_qty,
  ROUND(CAST(AVG(CAST(l_discount AS DECIMAL(24,4))) AS DOUBLE),4)                         AS avg_disc,
  COUNT(*)                                                                                AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Q3-style shipping priority (join + agg + deterministic top-k)
# ---------------------------------------------------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # customer scales with SF: no forced broadcast — AQE picks a
        # broadcast join at small SF and a shuffle join at 100x
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("string").alias("o_orderdate"),
                 "o_orderpriority")
        .agg(F.round(_dec_sum(revenue).cast("double"), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderpriority,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE),4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q5-style local-supplier revenue (6-way join; dims broadcast)
# ---------------------------------------------------------------------------

def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        # supplier scales with SF: AQE-decided join (nation/region stay
        # hinted — fixed 25/5 rows at every SF)
        .join(s, (l.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(_dec_sum(revenue).cast("double"), 4).alias("revenue"),
             F.count("*").alias("n_items"))
    )


Q5_SQL = """
SELECT n_name,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE),4) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Top-k per group (SURVEY §2.6 T1 analog: rank-based structure pruning)
# ---------------------------------------------------------------------------

def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# Rollup (grouping sets; SURVEY §2.4 note)
# ---------------------------------------------------------------------------

def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(_dec_sum(revenue).cast("double"), 4).alias("revenue"),
             F.count("*").alias("n"))
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE),4) AS revenue,
  COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# Sessionization (gap > 30 min; SURVEY §2.5 W3 gap-clustering analog)
# ---------------------------------------------------------------------------

def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _epoch (ntz -> ltz -> long) is session-timezone dependent; pin UTC
    # so the DuckDB oracle (naive == UTC) matches under ANY driver session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = _epoch(F.col("ts"))
    prev = F.lag(epoch).over(w)
    new_s = F.when(prev.isNull() | ((epoch - prev) > 1800), 1).otherwise(0)
    return (
        e.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count("*").alias("n_events"))
    )


SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id,
         CASE WHEN LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w IS NULL
                OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM g GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Tumbling-window aggregation (hourly; streaming-equivalent batch form)
# ---------------------------------------------------------------------------

def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).cast("string").alias("hour"),
                  "event_type")
        .agg(F.count("*").alias("n"),
             F.round(_dec_sum(F.col("value"), 6).cast("double"), 4).alias("sum_value"))
    )


EVENTS_HOURLY_SQL = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE),4) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# As-of join (nearest preceding event; SURVEY §2.3 J3 nearest-neighbor analog)
# ---------------------------------------------------------------------------

def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    click_ts = F.max(F.when(F.col("event_type") == "click",
                            _epoch(F.col("ts")))).over(w)
    return (
        e.withColumn("last_click_epoch", click_ts)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id",
                _epoch(F.col("ts")).alias("purchase_epoch"),
                "last_click_epoch")
    )


ASOF_SQL = """
SELECT user_id, event_id,
       CAST(FLOOR(epoch(ts)) AS BIGINT) AS purchase_epoch,
       last_click_epoch
FROM (
  SELECT user_id, event_id, ts, event_type,
         MAX(CASE WHEN event_type = 'click'
                  THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_epoch
  FROM events
)
WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# Distinct aggregation
# ---------------------------------------------------------------------------

def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"),
             F.count("*").alias("n_events"))
    )


DISTINCT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: order revenue by customer nation x order year
    with every subtotal plane (nation-only, year-only, grand total) in
    ONE pass — Spark expands the grouping sets inside a single shuffle
    vs four separate groupBy+union jobs. grouping_id disambiguates
    generated NULLs from data NULLs (both engines use the standard
    first-column-most-significant bit layout). nation is the fixed
    25-row dimension -> broadcast is scale-safe; the orders-customer
    join shuffles on its key and AQE picks the strategy at any SF."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    df = (o.join(c, F.col("o_custkey") == F.col("c_custkey"))
          .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
          .select(F.col("n_name").alias("nation"),
                  F.year("o_orderdate").cast("int").alias("yr"),
                  "o_totalprice"))
    return (df.cube("nation", "yr")
            .agg(F.round(_dec_sum(F.col("o_totalprice")).cast("double"), 4)
                 .alias("revenue"),
                 F.count("*").alias("n"),
                 F.grouping_id().cast("int").alias("gid")))


REVENUE_CUBE_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS yr,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(24,8))) AS DOUBLE), 4)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(n_name, year(o_orderdate)) AS INTEGER) AS gid
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, year(o_orderdate))
"""


ZSCORE_FLAG = 3.0


def events_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score anomaly screen: |z| >= 3 outliers against
    the type's own mean/std. The moments come from decimal-exact sums
    (sum, sum of squares, n — all order-free and map-side combinable;
    variance = E[x^2] - E[x]^2 needs no second pass), broadcast back as
    a per-type row (bounded by the type cardinality, not the corpus);
    the scoring is a map-only projection. Emits ONLY the anomalies —
    the output scales with the outlier rate, not the event count.
    Cross-engine: both engines evaluate the identical (v - m)/s double
    expression on identical operands; sqrt and division are correctly
    rounded, and the ROUND(...,4) boundary needs a rational z, which
    the irrational sigma rules out."""
    e = _t(spark, sf_dir, "events")
    stats = (e.groupBy("event_type")
             .agg(_dec_sum(F.col("value")).alias("s1"),
                  _dec_sum(F.col("value") * F.col("value")).alias("s2"),
                  F.count("*").alias("n")))
    # cast the EXACT decimal sums to double FIRST, then divide — the
    # identical operation order as the SQL oracle (decimal division
    # would round at decimal scale before the cast and drift)
    mean = F.col("s1").cast("double") / F.col("n")
    var = (F.col("s2").cast("double") / F.col("n") - mean * mean)
    stats = stats.select("event_type", mean.alias("m"),
                         F.sqrt(var).alias("sd"))
    z = (F.col("value") - F.col("m")) / F.col("sd")
    return (e.join(F.broadcast(stats), "event_type")
            .withColumn("z", F.round(z, 4))
            .filter(F.abs(F.col("z")) >= ZSCORE_FLAG)
            .select("event_type", "event_id", "value", "z"))


ZSCORE_SQL = f"""
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*) AS m,
         SQRT(CAST(SUM(CAST(value * value AS DECIMAL(24,8))) AS DOUBLE)
                / COUNT(*)
              - (CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE)
                 / COUNT(*))
                * (CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE)
                   / COUNT(*))) AS sd
  FROM events GROUP BY 1
)
SELECT event_type, event_id, value, z
FROM (SELECT e.event_type, e.event_id, e.value,
             ROUND((e.value - s.m) / s.sd, 4) AS z
      FROM events e JOIN stats s USING (event_type))
WHERE ABS(z) >= {ZSCORE_FLAG}
"""


def events_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value total — the PARTITIONED cumulative window:
    each window partition is bounded by ONE user's events (the key
    scales out with the corpus), in contrast to the global-ORDER-BY
    windows this repo systematically replaces (customer_balance_ntiles,
    token_budget_mix). Deterministic: event_id breaks ts ties, and the
    running sum is decimal-exact before the final round."""
    e = _t(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return e.select("user_id", "event_id",
                    F.round(F.sum(F.col("value").cast("decimal(24,8)"))
                            .over(w).cast("double"), 4)
                    .alias("running_value"))


RUNNING_VALUE_SQL = """
SELECT user_id, event_id,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(24,8)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE), 4) AS running_value
FROM events
"""


def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (Markov next-event table — the
    sequence-mining summary behind funnel diagnostics and next-action
    prediction): within each user's time-ordered stream, count every
    (prev_type -> next_type) adjacency, then the conditional
    probability p = n / total-from-prev. LAG runs over the per-user
    window (partition bounded by ONE user's events — scales out with
    the corpus); the pair count is one map-side-combinable agg whose
    state is the SQUARE of the type cardinality, not the event count;
    the per-prev totals row is type-bounded, hence a legitimate
    broadcast (the events_value_zscore precedent). p is quantized by
    integer round-half-away division (the dsir_weights discipline —
    n*10000/tot CAN land on a .00005 boundary, where the two engines'
    double ROUNDs split)."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.select(F.lag("event_type").over(w).alias("prev_type"),
                      F.col("event_type").alias("next_type"))
             .filter(F.col("prev_type").isNotNull()))
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n"))
    totals = counts.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return (counts.join(F.broadcast(totals), "prev_type")
            .select("prev_type", "next_type", "n",
                    (F.expr("(2 * n * 10000 + tot) DIV (2 * tot)")
                     / 10000.0).alias("p")))


def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction over the JSON props side-channel
    every event stream carries: get_json_object pulls `$.k` JVM-side
    (Jackson path evaluation inside whole-stage codegen — never a
    Python UDF), the extracted integer buckets by decile, and the
    rollup is one map-side-combinable agg per (event_type, decile) —
    state bounded by types x 10 at any event count. The JSON parse is
    a pure projection, so it pipelines inside the scan stage and the
    only exchange is the bounded-key aggregation's."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (e.select("event_type", k.alias("k"), "value")
            .groupBy("event_type",
                     F.expr("k DIV 10").cast("int").alias("k_decile"))
            .agg(F.count("*").alias("n"),
                 F.round(_dec_sum(F.col("value")).cast("double"), 4)
                  .alias("sum_value")))


PROPS_JSON_SQL = """
WITH x AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INTEGER) // 10 AS k_decile,
         value
  FROM events
)
SELECT event_type, CAST(k_decile AS INTEGER) AS k_decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_value
FROM x GROUP BY 1, 2
"""


TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS tot
        FROM counts GROUP BY 1)
SELECT c.prev_type, c.next_type, c.n,
       ((2 * c.n * 10000 + t.tot) // (2 * t.tot)) / 10000.0 AS p
FROM counts c JOIN tot t USING (prev_type)
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch. Beyer et al. 2007's
# unbiased estimator (k-1)/h_(k): because the hash is md5, the sketch is
# DETERMINISTIC — so unlike HLL it admits an exact cross-engine SQL
# oracle while still being a real mergeable sketch (union = keep the k
# smallest of the merged sets; the map-side WindowGroupLimit Partial
# pass Catalyst compiles below IS that merge).
# ---------------------------------------------------------------------------

KMV_K = 64


def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate distinct users per event_type with a KMV sketch.

    Scale shape: distinct(type, h) partial-dedups map-side; the top-k
    window compiles to Spark 4's WindowGroupLimit with a PARTIAL pass —
    each map task keeps only k rows per type before the exchange (the
    KMV merge operation, done by Catalyst), so no partition ever holds
    a full per-type distinct set (plan-pinned in TestKMVSketch). When a
    type has fewer than k distinct hashes the count is exact by the KMV
    rule (n_kept < k branch)."""
    from ..functions.hashing import md5_60bit

    e = _t(spark, sf_dir, "events")
    h = md5_60bit(F.col("user_id").cast("string"))
    dh = e.select("event_type", h.alias("h")).distinct()
    w = W.partitionBy("event_type").orderBy("h")
    kept = dh.withColumn("rk", F.row_number().over(w)) \
             .filter(F.col("rk") <= KMV_K)
    est = F.when(F.col("n_kept") < KMV_K, F.col("n_kept").cast("double")) \
           .otherwise(F.lit(float(KMV_K - 1) * 2.0 ** 60)
                      / F.col("h_k").cast("double"))
    return (kept.groupBy("event_type")
            .agg(F.count("*").alias("n_kept"), F.max("h").alias("h_k"))
            .select("event_type", F.col("n_kept").cast("int").alias("n_kept"),
                    F.round(est, 4).alias("est_distinct")))


# oracle computes the top-k directly (phase 1 keeps a superset of the
# global k smallest, so the two-phase result is identical by construction)
KMV_SQL = f"""
WITH dh AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM dh
),
agg AS (
  SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS h_k
  FROM ranked WHERE rk <= {KMV_K} GROUP BY 1
)
SELECT event_type, CAST(n_kept AS INTEGER) AS n_kept,
       ROUND(CASE WHEN n_kept < {KMV_K} THEN CAST(n_kept AS DOUBLE)
                  ELSE {KMV_K - 1} * 1152921504606846976.0 / CAST(h_k AS DOUBLE)
             END, 4) AS est_distinct
FROM agg
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 pattern: pure filter + single agg (pushdown showcase)."""
    l = _t(spark, sf_dir, "lineitem")
    return (l.filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                     & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
                     & (F.col("l_discount").between(0.04, 0.07))
                     & (F.col("l_quantity") < 24))
            .agg(F.round(_dec_sum(F.col("l_extendedprice") * F.col("l_discount"))
                         .cast("double"), 4).alias("revenue"),
                 F.count("*").alias("n")))


Q6_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,8))) AS DOUBLE),4) AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.07 AND l_quantity < 24
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 pattern: EXISTS semi-join + count by priority."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    return (o.filter((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                     & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
            .join(l, o.o_orderkey == l.l_orderkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
GROUP BY o_orderpriority
"""


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 pattern: join + conditional (CASE) aggregation."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    low = F.when(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    return (l.join(o, l.l_orderkey == o.o_orderkey)
            .filter(F.col("l_quantity") >= 30)
            .groupBy(F.col("l_linestatus").alias("linestatus"))
            .agg(F.sum(high).alias("high_line_count"),
                 F.sum(low).alias("low_line_count")))


Q12_SQL = """
SELECT l_linestatus AS linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_quantity >= 30
GROUP BY l_linestatus
"""


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 pattern: join + conditional revenue ratio."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(24,8)"))
    # part scales with SF (~2B rows at the 100 TB design point): no
    # forced broadcast — AQE decides per actual size
    return (l.join(p, l.l_partkey == p.p_partkey)
            .agg(F.round((F.lit(100.0) * F.sum(promo).cast("double")
                          / F.sum(rev).cast("double")), 4).alias("promo_pct"),
                 F.count("*").alias("n")))


Q14_SQL = """
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                   THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))
                                   ELSE CAST(0 AS DECIMAL(24,8)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS promo_pct,
       COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 pattern: correlated scalar subquery (per-part average
    threshold), decorrelated into a groupBy + broadcast join."""
    l = _t(spark, sf_dir, "lineitem")
    thresholds = (l.groupBy(F.col("l_partkey").alias("pk"))
                  .agg((F.lit(0.5) * F.avg(F.col("l_quantity").cast("decimal(24,8)"))
                        .cast("double")).alias("thresh")))
    # thresholds has one row per partkey (scales with SF); the groupBy
    # already co-partitions it on the join key, so a plain shuffle join
    # reuses that partitioning — never broadcast a scaling aggregate
    return (l.join(thresholds, l.l_partkey == thresholds.pk)
            .filter(F.col("l_quantity") < F.col("thresh"))
            .agg(F.round(_dec_sum(F.col("l_extendedprice"), 4).cast("double") / 7.0, 4)
                 .alias("avg_yearly"),
                 F.count("*").alias("n")))


Q17_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,4))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
       COUNT(*) AS n
FROM lineitem l
WHERE l_quantity < (
  SELECT 0.5 * CAST(AVG(CAST(l_quantity AS DECIMAL(24,8))) AS DOUBLE)
  FROM lineitem i WHERE i.l_partkey = l.l_partkey
)
"""


def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS via left_semi join (no row duplication from the big side)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_name", "c_mktsegment"))


SEMI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via left_anti join — same shape as the resume join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_acctbal"))


ANTI_JOIN_SQL = """
SELECT c_custkey, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def except_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: BUILDING customers minus high-value order keys."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = (c.filter(F.col("c_mktsegment") == "BUILDING")
                .select(F.col("c_custkey").alias("custkey")))
    big = (o.filter(F.col("o_totalprice") > 100000)
           .select(F.col("o_custkey").alias("custkey")))
    return building.exceptAll(big.distinct()).distinct()


EXCEPT_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
"""


def part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function projection/group: upper + substring + LIKE."""
    p = _t(spark, sf_dir, "part")
    return (p.filter(F.col("p_name").like("%a%"))
            .groupBy(F.col("p_brand").alias("brand"),
                     F.upper(F.substring("p_type", 1, 5)).alias("type5"))
            .agg(F.count("*").alias("n"),
                 F.round(F.avg(F.col("p_retailprice").cast("decimal(18,4)"))
                         .cast("double"), 4).alias("avg_price"),
                 F.max(F.length("p_name")).alias("max_name_len")))


PART_TYPE_SQL = """
SELECT p_brand AS brand, UPPER(SUBSTRING(p_type, 1, 5)) AS type5,
       COUNT(*) AS n,
       ROUND(CAST(AVG(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS avg_price,
       CAST(MAX(LENGTH(p_name)) AS INTEGER) AS max_name_len
FROM part
WHERE p_name LIKE '%a%'
GROUP BY 1, 2
"""


def events_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math projection + histogram-style aggregation."""
    e = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 10).cast("long")
    return (e.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.round(F.min("value"), 2).alias("min_v"),
                 F.round(F.max("value"), 2).alias("max_v")))


VALUE_BUCKETS_SQL = """
SELECT CAST(FLOOR(value / 10) AS BIGINT) AS bucket, COUNT(*) AS n,
       ROUND(MIN(value), 2) AS min_v, ROUND(MAX(value), 2) AS max_v
FROM events GROUP BY 1
"""


def events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (linear interpolation — Spark's exact
    percentile() and DuckDB's quantile_cont agree bit-for-bit; the
    approx_percentile/t-digest sketches would not cross engines).

    ORACLE-BASELINE ONLY (VERDICT r4 #7): exact percentile() buffers
    every group value in the aggregation buffer, so this form is the
    small-SF correctness anchor, never the 100-TB plan. The registered
    scale path for the same question is events_value_quantile_sketch
    (128-cell constant-state histogram, map-side combinable)."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    ))


QUANTILES_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90,
       ROUND(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
"""


# The SCALE path for the query above: events_quantiles is exact
# (percentile = a full per-group sort); this sketch answers the same
# question from a per-group 128-cell histogram — constant aggregation
# state per group, map-side-combinable counts, the cumulative window
# bounded at 128 rows PER GROUP (partitioned, unlike a global sort).
# Geometry (bin width / cap) and the bin expression are IMPORTED from
# the streaming value_hist_stream, and the rank/cut arithmetic from
# textstats._hist_rank_cuts — the streamed cells feed the identical
# estimator by construction, not by convention. Rank thresholds in
# pure integer ceil-division; the only doubles are the bin edges
# ((cut+1)*8.0, dyadic-exact) and the per-group MAX for the overflow
# bin — integer-exact cross-engine throughout.

from ..streaming.events_stream import (  # noqa: E402  (one geometry)
    HIST_STREAM_BIN as EVQ_BIN,
    HIST_STREAM_MAX_BIN as EVQ_MAX_BIN,
)

EVQ_PCTS = (50, 90, 99)


def events_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import value_bin_col
    from .textstats import _hist_rank_cuts

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    binned = e.select("event_type", value_bin_col().alias("bin"))
    cuts = _hist_rank_cuts(spark, binned,
                           [(p, p, 100) for p in EVQ_PCTS],
                           group=("event_type",))
    mx = e.groupBy("event_type").agg(F.max("value").alias("mx"))
    est = F.when(F.col("cut") < EVQ_MAX_BIN, (F.col("cut") + 1) * EVQ_BIN) \
           .otherwise(F.col("mx"))
    # ROUND(...,4) discipline (ADVICE r4 #2): today est is exact anyway
    # (dyadic bin edges, stored-value mx passthrough), but a future
    # non-dyadic EVQ_BIN would silently break cross-engine hash
    # equality without the round — applied in BOTH engines
    return (cuts.join(mx, "event_type")
            .select("event_type", F.col("t").cast("int").alias("pct"),
                    "rank_at", F.round(est, 4).alias("est_value_ub")))


EVQ_SQL = f"""
WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
hist AS (
  SELECT event_type,
         GREATEST(LEAST(CAST(FLOOR(value / {EVQ_BIN}) AS BIGINT),
                        {EVQ_MAX_BIN}), 0) AS bin,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
stats AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 MAX(value) AS mx
          FROM e GROUP BY 1),
thr AS (
  SELECT event_type, pct, mx, (n * pct + 99) // 100 AS rank_at
  FROM stats CROSS JOIN (VALUES {", ".join(f"({p})" for p in EVQ_PCTS)}) p(pct)
),
cuts AS (
  SELECT t.event_type, pct, rank_at, mx, MIN(bin) AS cut
  FROM thr t JOIN cum ON t.event_type = cum.event_type
  WHERE cum >= rank_at
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, CAST(pct AS INTEGER) AS pct,
       CAST(rank_at AS BIGINT) AS rank_at,
       ROUND(CASE WHEN cut < {EVQ_MAX_BIN} THEN (cut + 1) * {EVQ_BIN}
                  ELSE mx END, 4) AS est_value_ub
FROM cuts
"""


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide counts per event_type per user)."""
    e = _t(spark, sf_dir, "events")
    df = (e.groupBy("user_id").pivot("event_type", list(_EVENT_TYPES)).count()
          .na.fill(0, list(_EVENT_TYPES)))
    return df.select("user_id", *[F.col(t).alias(f"n_{t}") for t in _EVENT_TYPES])


EVENTS_PIVOT_SQL = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click')    AS n_click,
       COUNT(*) FILTER (event_type = 'error')    AS n_error,
       COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
       COUNT(*) FILTER (event_type = 'view')     AS n_view
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Round-2 breadth: more TPC-H patterns adapted to the available columns
# (no partsupp/commitdate/phone in the driver's tables). All joins on
# SF-scaling tables are AQE-decided; nation stays a hinted broadcast.
# ---------------------------------------------------------------------------

def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 pattern: two-nation trade volume by year (double nation
    join with a symmetric pair predicate, year extraction)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    return (
        l.filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                 & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(_dec_sum(rev).cast("double"), 4).alias("revenue"))
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE),4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 pattern: top-20 customers by returned-item revenue."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(_dec_sum(rev).cast("double"), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE),4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 pattern: LEFT OUTER join + two-level aggregation
    (orders per customer, then customers per order-count)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q16_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 pattern (partsupp replaced by lineitem supply facts):
    distinct-supplier counts per (brand, type) with NOT-filters."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
GROUP BY 1, 2
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 pattern: groupBy-HAVING on the fact table, join back to
    orders + customer, top-20. The HAVING aggregate is computed once and
    reused as the join input (no correlated re-scan)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (l.groupBy("l_orderkey")
           .agg(_dec_sum(F.col("l_quantity"), 4).cast("double").alias("sum_qty"))
           .filter(F.col("sum_qty") > 180))
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "l_orderkey",
                F.col("o_orderdate").cast("string").alias("o_orderdate"),
                "o_totalprice", "sum_qty")
        .orderBy(F.desc("sum_qty"), F.asc("l_orderkey"))
        .limit(20)
    )


Q18_SQL = """
SELECT c_name, c_custkey, l_orderkey,
       CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(24,4))) AS DOUBLE) > 180
)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, l_orderkey ASC
LIMIT 20
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 pattern: disjunction of three conjunct groups across
    the join — Catalyst pushes the common join key and per-side
    constraints through the OR."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (l.join(p, l.l_partkey == p.p_partkey)
            .filter(cond)
            .agg(F.round(_dec_sum(rev).cast("double"), 4).alias("revenue"),
                 F.count("*").alias("n")))


Q19_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE),4) AS revenue,
       COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 pattern: scalar-subquery threshold (avg positive
    balance) + anti join against recent orders, grouped by nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz"))
    # the threshold is ONE value: computed distributed, joined as a
    # 1-row broadcast (never a driver-side collect in the plan)
    thresh = (c.filter(F.col("c_acctbal") > 0)
              .agg(F.avg(F.col("c_acctbal").cast("decimal(24,8)"))
                   .cast("double").alias("thresh")))
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("thresh"))
        .join(o.select(F.col("o_custkey").alias("c_custkey")).distinct(),
              "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"),
             F.round(_dec_sum(F.col("c_acctbal")).cast("double"), 4).alias("totacctbal"))
    )


Q22_SQL = """
SELECT c_nationkey, COUNT(*) AS numcust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(24,8))) AS DOUBLE),4) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(AVG(CAST(c_acctbal AS DECIMAL(24,8))) AS DOUBLE)
    FROM customer WHERE c_acctbal > 0)
  AND c_custkey NOT IN (
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c_nationkey
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup -> first click strictly after the signup
    -> first purchase strictly after that click, counted per stage.
    Each stage is one groupBy over the prior stage's (tiny) user set —
    no window over the full event log."""
    e = _t(spark, sf_dir, "events")
    s = (e.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min(_epoch(F.col("ts"))).alias("t0")))
    c = (e.filter(F.col("event_type") == "click")
         .join(s, "user_id")
         .filter(_epoch(F.col("ts")) > F.col("t0"))
         .groupBy("user_id").agg(F.min(_epoch(F.col("ts"))).alias("t1")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(_epoch(F.col("ts")) > F.col("t1"))
         .groupBy("user_id").agg(F.min(_epoch(F.col("ts"))).alias("t2")))
    rows = [s.agg(F.lit("1_signup").alias("stage"), F.count("*").alias("users")),
            c.agg(F.lit("2_click").alias("stage"), F.count("*").alias("users")),
            p.agg(F.lit("3_purchase").alias("stage"), F.count("*").alias("users"))]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


EVENTS_FUNNEL_SQL = """
WITH s AS (
  SELECT user_id, MIN(epoch(ts)) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(epoch(e.ts)) AS t1
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND epoch(e.ts) > s.t0
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(epoch(e.ts)) AS t2
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch(e.ts) > c.t1
  GROUP BY e.user_id
)
SELECT '1_signup' AS stage, COUNT(*) AS users FROM s
UNION ALL SELECT '2_click', COUNT(*) FROM c
UNION ALL SELECT '3_purchase', COUNT(*) FROM p
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix: users grouped by first-seen day (cohort),
    distinct active users per (cohort, day-offset). Two aggregations,
    both partial-aggregated map-side; the cohort side joins back on
    user_id (co-partitioned with the activity grouping)."""
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    firsts = (e.groupBy("user_id")
              .agg(F.min(day).alias("cohort_day")))
    return (e.select("user_id", day.alias("d"))
            .join(firsts, "user_id")
            .groupBy(F.col("cohort_day").cast("date").cast("string").alias("cohort"),
                     F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset"))
            .agg(F.countDistinct("user_id").alias("active_users")))


EVENTS_RETENTION_SQL = """
WITH firsts AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY user_id
)
SELECT CAST(f.cohort_day AS VARCHAR) AS cohort,
       CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS INTEGER) AS day_offset,
       COUNT(DISTINCT e.user_id) AS active_users
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 pattern (partsupp-free): profit proxy by supplier
    nation x year for parts of one type family."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("l_quantity") * F.col("p_retailprice") * 0.8)
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.round(_dec_sum(profit).cast("double"), 4).alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           - l_quantity * p_retailprice * 0.8 AS DECIMAL(24,8))) AS DOUBLE),4) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY 1, 2
"""


def customer_balance_ntiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE window coverage: quartile buckets of customer balances with
    per-bucket aggregates (deterministic: ties broken by c_custkey).

    EXACT NTILE semantics without the scale-killer plan (VERDICT r4 #1):
    a bare ``ntile(4) OVER (ORDER BY ...)`` — empty PARTITION BY —
    executes as Exchange SinglePartition + ONE task sorting the whole
    customer table, which scales with SF. The global rank is instead
    computed with the same two-phase distributed prefix sum as
    textstats.pack_sequences: range-repartition on the sort key (total
    order across partitions; (c_acctbal, c_custkey) is unique, so the
    order is total) -> partition-local row_number -> per-partition
    counts to the driver (P rows, bounded by the partition count, not
    the data) -> exclusive offsets broadcast back. The quartile is then
    pure arithmetic on the exact 1-based global rank — NTILE gives the
    first n%4 buckets one extra row — so the DuckDB oracle stays the
    plain NTILE window and hashes identically."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranged = (c.repartitionByRange("c_acctbal", "c_custkey")
              .withColumn("pid", F.spark_partition_id()))
    w_local = W.partitionBy("pid").orderBy("c_acctbal", "c_custkey")
    # localCheckpoint: the totals collect AND the final join both read
    # this — one range shuffle, and the pid -> offset mapping can never
    # race a re-sampled boundary set (same rationale as pack_sequences)
    local = (ranged.withColumn("lr", F.row_number().over(w_local))
             .localCheckpoint(eager=True))
    totals = local.groupBy("pid").agg(F.count("*").alias("tot")).collect()
    offsets, acc = [], 0
    for row in sorted(totals, key=lambda r: r["pid"]):
        offsets.append((row["pid"], acc))
        acc += row["tot"]
    if not offsets:  # degenerate empty input: keep the output contract
        return spark.createDataFrame([], "q int, n long, avg_bal double")
    n = acc
    base, rem = divmod(n, 4)
    big = rem * (base + 1)      # rows living in the size-(base+1) buckets
    off = spark.range(1).select(F.explode(F.array(*[
        F.struct(F.lit(p).alias("pid"), F.lit(o).alias("part_offset"))
        for p, o in offsets])).alias("o")).select("o.*")
    r = F.col("part_offset") + F.col("lr")   # exact global rank, 1-based
    if rem:
        # `base or 1`: when n < 4 the first branch covers every row and
        # the otherwise-branch is never selected; the guard only keeps
        # the unevaluated divisor non-zero
        q = (F.when(r <= big, F.floor((r - 1) / (base + 1)) + 1)
             .otherwise(rem + F.floor((r - big - 1) / (base or 1)) + 1))
    else:
        q = F.floor((r - 1) / base) + 1
    return (local.join(F.broadcast(off), "pid")
            .withColumn("q", q.cast("int"))
            .groupBy("q")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg(F.col("c_acctbal").cast("decimal(24,8)"))
                         .cast("double"), 4).alias("avg_bal")))


NTILE_SQL = """
SELECT q, COUNT(*) AS n,
       ROUND(CAST(AVG(CAST(c_acctbal AS DECIMAL(24,8))) AS DOUBLE),4) AS avg_bal
FROM (SELECT c_acctbal, NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS q
      FROM customer)
GROUP BY q
"""


def events_error_rate_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly screen: the 5 hours with the highest error-event ratio
    (conditional aggregation + exact integer ratio, deterministic
    tie-break by hour)."""
    e = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    errors = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return (e.groupBy(hour.cast("string").alias("hour"))
            .agg(errors.alias("n_errors"), F.count("*").alias("n_total"))
            .withColumn("err_rate", F.round(
                F.col("n_errors").cast("double") / F.col("n_total"), 4))
            .orderBy(F.desc("err_rate"), F.asc("hour"))
            .limit(5))


ERROR_RATE_SQL = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       COUNT(*) AS n_total,
       ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS err_rate
FROM events
GROUP BY 1
ORDER BY err_rate DESC, hour ASC
LIMIT 5
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 pattern: national market share — NATION_7's share of
    ASIA customers' PROMO-part revenue, per order year. Fixed dims
    (nation/region) stay hinted; part/customer/supplier scale with SF
    so AQE decides those joins."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cn = n.select(F.col("n_nationkey").alias("cn_key"),
                  F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,8)")
    nat = F.when(F.col("supp_nation") == "NATION_7", vol) \
           .otherwise(F.lit(0).cast("decimal(24,8)"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(F.col("p_type") == "PROMO")
        .join(o, l.l_orderkey == o.o_orderkey)
        .filter((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
              F.col("cn_region") == F.col("r_regionkey"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(nat).cast("double")
                     / F.sum(vol).cast("double"), 4).alias("mkt_share"),
             F.count("*").alias("n_items"))
    )


Q8_SQL = """
SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
       ROUND(CAST(SUM(CASE WHEN sn.n_name = 'NATION_7'
                           THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))
                           ELSE CAST(0 AS DECIMAL(24,8)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE),
             4) AS mkt_share,
       COUNT(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region   ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 pattern: quarterly revenue 'view' per supplier, then
    the supplier(s) whose revenue EQUALS the global max. The tie
    compare runs on the exact decimal sums (never the rounded double),
    so both engines agree bit-for-bit; the 1-row max joins back via
    AQE (broadcast at any SF — it is always one row)."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    revenue = (l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_dec_sum(vol).alias("total_rev")))
    mx = revenue.agg(F.max("total_rev").alias("mx"))
    return (revenue.join(mx, F.col("total_rev") == F.col("mx"))
            .join(s, F.col("supplier_no") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    F.round(F.col("total_rev").cast("double"), 4)
                    .alias("total_revenue")))


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, ROUND(CAST(total_rev AS DOUBLE), 4) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
"""


# fixed promo calendar (literal on BOTH engines; bounded, so the
# broadcast hint is legitimate — it does not scale with SF)
_PROMO_WINDOWS = [
    ("winter94", "1994-01-01", "1994-02-15"),
    ("spring95", "1995-03-01", "1995-04-30"),
    ("summer96", "1996-06-01", "1996-08-31"),
]


def orders_in_promo_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (interval-containment) join: orders landing inside any
    promo window [start, end), aggregated per promo. The non-equi join
    against a bounded literal calendar is the one place a nested-loop
    broadcast is the RIGHT plan — the probe side streams once past a
    3-row build side; contrast with the banded equi-joins every
    corpus-scaling operator uses."""
    o = _t(spark, sf_dir, "orders")
    # literal calendar as a JVM-side local relation (the repo idiom, cf.
    # the CMS probe list: createDataFrame would ship a Python RDD and
    # spin Python workers for 3 constant rows)
    promos = spark.range(1).select(F.explode(F.array(*[
        F.struct(F.lit(p).alias("promo"), F.lit(s).alias("pstart"),
                 F.lit(e).alias("pend"))
        for p, s, e in _PROMO_WINDOWS])).alias("pr")).select("pr.*")
    cond = ((F.col("o_orderdate") >= F.col("pstart").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.col("pend").cast("timestamp_ntz")))
    return (o.join(F.broadcast(promos), cond)
            .groupBy("promo")
            .agg(F.count("*").alias("n_orders"),
                 F.round(_dec_sum(F.col("o_totalprice")).cast("double"), 4)
                 .alias("promo_revenue")))


_PROMO_VALUES = ", ".join(f"('{p}', TIMESTAMP '{s}', TIMESTAMP '{e}')"
                          for p, s, e in _PROMO_WINDOWS)

PROMO_WINDOWS_SQL = f"""
SELECT promo,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(24,8))) AS DOUBLE), 4)
         AS promo_revenue
FROM orders
JOIN (VALUES {_PROMO_VALUES}) AS pr(promo, pstart, pend)
  ON o_orderdate >= pstart AND o_orderdate < pend
GROUP BY promo
"""


QUERIES = {
    "events_type_transitions": events_type_transitions,
    "events_props_json": events_props_json,
    # the one r2 red row (oracle HUGEINT typing, fixed) — keep it
    # inside the driver's verification window
    "events_error_rate_hours": events_error_rate_hours,
    "events_kmv_distinct": events_kmv_distinct,
    "orders_in_promo_windows": orders_in_promo_windows,
    "q8_market_share": q8_market_share,
    "q15_top_supplier": q15_top_supplier,
    "q1_pricing_summary": q1_pricing_summary,
    "q9_product_profit": q9_product_profit,
    "customer_balance_ntiles": customer_balance_ntiles,
    "events_funnel": events_funnel,
    "events_retention_cohorts": events_retention_cohorts,
    "q7_volume_shipping": q7_volume_shipping,
    "q10_returned_items": q10_returned_items,
    "q13_customer_order_distribution": q13_customer_order_distribution,
    "q16_supplier_part_types": q16_supplier_part_types,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q22_idle_rich_customers": q22_idle_rich_customers,
    "events_pivot_by_user": events_pivot_by_user,
    "semi_join_active_customers": semi_join_active_customers,
    "anti_join_idle_customers": anti_join_idle_customers,
    "except_big_spenders": except_big_spenders,
    "part_type_stats": part_type_stats,
    "events_value_buckets": events_value_buckets,
    "events_quantiles": events_quantiles,
    "events_value_quantile_sketch": events_value_quantile_sketch,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q4_order_priority": q4_order_priority,
    "q12_priority_shipping": q12_priority_shipping,
    "q14_promo_effect": q14_promo_effect,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "topk_orders_per_customer": topk_orders_per_customer,
    "rollup_revenue": rollup_revenue,
    "sessionize_events": sessionize_events,
    "events_hourly": events_hourly,
    "asof_last_click_before_purchase": asof_last_click_before_purchase,
    "distinct_users_per_type": distinct_users_per_type,
    "revenue_cube": revenue_cube,
    "events_running_user_value": events_running_user_value,
    "events_value_zscore": events_value_zscore,
}

ORACLES = {
    "events_type_transitions": TRANSITIONS_SQL,
    "events_props_json": PROPS_JSON_SQL,
    "q1_pricing_summary": Q1_SQL,
    "q9_product_profit": Q9_SQL,
    "events_error_rate_hours": ERROR_RATE_SQL,
    "events_kmv_distinct": KMV_SQL,
    "orders_in_promo_windows": PROMO_WINDOWS_SQL,
    "q8_market_share": Q8_SQL,
    "q15_top_supplier": Q15_SQL,
    "customer_balance_ntiles": NTILE_SQL,
    "events_funnel": EVENTS_FUNNEL_SQL,
    "events_retention_cohorts": EVENTS_RETENTION_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q10_returned_items": Q10_SQL,
    "q13_customer_order_distribution": Q13_SQL,
    "q16_supplier_part_types": Q16_SQL,
    "q18_large_orders": Q18_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q22_idle_rich_customers": Q22_SQL,
    "events_pivot_by_user": EVENTS_PIVOT_SQL,
    "semi_join_active_customers": SEMI_JOIN_SQL,
    "anti_join_idle_customers": ANTI_JOIN_SQL,
    "except_big_spenders": EXCEPT_SQL,
    "part_type_stats": PART_TYPE_SQL,
    "events_value_buckets": VALUE_BUCKETS_SQL,
    "events_quantiles": QUANTILES_SQL,
    "events_value_quantile_sketch": EVQ_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q4_order_priority": Q4_SQL,
    "q12_priority_shipping": Q12_SQL,
    "q14_promo_effect": Q14_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_local_supplier": Q5_SQL,
    "topk_orders_per_customer": TOPK_SQL,
    "rollup_revenue": ROLLUP_SQL,
    "sessionize_events": SESSIONIZE_SQL,
    "events_hourly": EVENTS_HOURLY_SQL,
    "asof_last_click_before_purchase": ASOF_SQL,
    "distinct_users_per_type": DISTINCT_SQL,
    "revenue_cube": REVENUE_CUBE_SQL,
    "events_running_user_value": RUNNING_VALUE_SQL,
    "events_value_zscore": ZSCORE_SQL,
}
