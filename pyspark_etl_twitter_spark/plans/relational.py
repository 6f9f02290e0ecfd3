"""Relational query pack (SURVEY.md §2.3-2.8 engine-added operators).

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; its DuckDB
oracle twin lives in ``ORACLES`` under the same key with identical output
column names (the driver sorts columns by name and hashes values).

Conventions for oracle stability:
- session timezone pinned to UTC before building each plan;
- every floating-point output column is wrapped in ``round(x, N)`` on BOTH
  sides (double sums are order-dependent; engines agree to ~1e-12 relative,
  so rounding to 4-6 dp makes the hash deterministic);
- every window/order has a total order (explicit tiebreak columns);
- DuckDB integer ``sum()`` returns HUGEINT — oracles cast back to BIGINT.

Scale notes are inline per query: which side broadcasts, where the shuffles
are, why the plan survives 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.functions.lits import local_table
from pyspark_etl_twitter_spark.session import pin_oracle_confs
from pyspark_etl_twitter_spark.sources.catalog import load_table, table_disk_bytes

# Size gate for broadcast hints on SF-scaling dimensions (supplier):
# hint while the raw parquet footprint is ≤ this, otherwise leave the
# strategy to planner estimates/AQE. 64 MB on disk is ~an order of
# magnitude of headroom under the 8 GB broadcast hard limit even at
# parquet's typical 5-10× in-memory expansion.
SUPPLIER_BROADCAST_DISK_CAP = 64 << 20


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    pin_oracle_confs(spark)
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-agg. The filter and the 7-column
    projection reach the parquet scan (PushedFilters/ReadSchema); the
    groupBy is partially aggregated map-side, so the shuffle carries one row
    per (flag, status) per task — constant, independent of fact size."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # quantity is integer-valued → its double sum is exact
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            # money sums span the whole table: at sf0.1 they reach ~3e9,
            # where double accumulation error (~1e-6) exceeds fine rounding
            # quanta — round to 2dp so the quantum dwarfs the noise. (For
            # small-magnitude outputs the rule is the opposite: round AT or
            # above the value's intrinsic decimal scale, because Spark
            # rounds the shortest decimal repr while DuckDB rounds the
            # binary value, disagreeing exactly at .5 ulps.)
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       round(avg(l_extendedprice), 6)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation — Catalyst plans expand+two-phase agg."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_DISTINCT_COUNTS = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*)                  AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        # grand-total rollup rows sum the whole table → coarse rounding
        # (see pricing_summary note)
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_ROLLUP_REVENUE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


ORACLE_CUBE_QUANTITY = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL API (DataFrame API only has rollup/cube)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


ORACLE_GROUPING_SETS_REVENUE = """
SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def pivot_status_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never let Spark scan for pivot
    values at 100 TB — that is an extra full pass)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 4))
    )


ORACLE_PIVOT_STATUS_QTY = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS "O",
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS "F"
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. customer is filtered then joined to orders —
    Catalyst/AQE picks broadcast when the filtered side is small; the
    orders⋈lineitem join shuffles on orderkey (both sides co-partition)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


ORACLE_TOP_REVENUE_ORDERS = """
SELECT o_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact⋈fact shuffle joins + broadcast dims.
    nation/region are BOUNDED dimensions (25/5 rows at every SF) →
    unconditional broadcast; customer⋈orders and orders⋈lineitem shuffle
    on their keys. supplier is NOT bounded — it scales with SF (SF×10k
    rows, ~200M ASIA-filtered at the 100 TB point), so its broadcast
    hint is SIZE-GATED on the table's on-disk footprint
    (``table_disk_bytes``): hinted below 64 MB parquet (every bench SF;
    keeps lineitem probe-side), absent past the cap or on remote
    filesystems, where planner estimates/AQE decide (r9 ADVICE: an
    unconditional hint would blow Spark's 8 GB broadcast hard limit at
    exactly the scale the join order targets). The gate exists because
    dropping the hint entirely regressed the bench plan: Catalyst's
    column-pruned size estimate put the 4-column lineitem scan UNDER the
    10 MB auto-broadcast threshold and broadcast the FACT table
    (measured 0.963 s → 1.225 s at sf0.1)."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # Join order: the r_name='ASIA' predicate only reaches the fact table
    # through supplier, so fold region→nation→supplier FIRST and join the
    # ~1/5-selective result to lineitem BEFORE the two fact⋈fact shuffles
    # — at 100 TB this eliminates ~80% of lineitem rows ahead of the
    # orders/customer joins instead of after them (Catalyst has no CBO
    # stats here and keeps written order).
    sup_asia = (
        sup.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    sup_bytes = table_disk_bytes(sf_dir, "supplier")
    if sup_bytes is not None and sup_bytes <= SUPPLIER_BROADCAST_DISK_CAP:
        sup_asia = F.broadcast(sup_asia)
    return (
        li.join(sup_asia, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            cust,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


ORACLE_REVENUE_BY_NATION = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): no row multiplication, output stays customer-sized."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


ORACLE_SEMI_JOIN_CUSTOMERS = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
"""


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_acctbal")


ORACLE_ANTI_JOIN_CUSTOMERS = """
SELECT c_custkey, c_acctbal FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER + agg, keeping zero-order customers (count(key) skips null)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("total_spent"),
        )
    )


ORACLE_OUTER_JOIN_ORDER_COUNTS = """
SELECT c_custkey, count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0.0), 4) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: customers-per-nation vs suppliers-per-nation —
    nations with only one side present survive with nulls."""
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = sup.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


ORACLE_FULL_OUTER_NATION_COUNTS = """
WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
           FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
           FROM supplier GROUP BY 1)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers
FROM c FULL JOIN s ON c.nationkey = s.nationkey
"""


def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join against a tiny literal dimension. The scalable plan
    for small-dim non-equi joins is BroadcastNestedLoopJoin — O(fact × 5)
    comparisons, no shuffle. Never range-join two fact tables directly;
    bucketize first (see asof_purchase_click for the windowed alternative)."""
    bands = local_table(
        spark,
        "band string, lo double, hi double",
        {
            "band": ["band0", "band1", "band2", "band3", "band4"],
            "lo": [0.0, 50_000.0, 100_000.0, 200_000.0, 400_000.0],
            "hi": [50_000.0, 100_000.0, 200_000.0, 400_000.0, 1e18],
        },
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        )
    )


ORACLE_RANGE_JOIN_PRICE_BANDS = """
WITH bands(band, lo, hi) AS (VALUES
  ('band0', 0.0, 50000.0), ('band1', 50000.0, 100000.0),
  ('band2', 100000.0, 200000.0), ('band3', 200000.0, 400000.0),
  ('band4', 400000.0, 1e18))
SELECT band, count(*) AS n_orders, round(avg(o_totalprice), 6) AS avg_price
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


# --------------------------------------------------------------------------
# Windows / sort / top-k
# --------------------------------------------------------------------------

def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the scalable top-k (single shuffle
    on the partition key; never a global sort)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 4).alias("price"), "rn")
    )


ORACLE_TOPK_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS price, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
WHERE rn <= 3
"""


def global_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit — Spark plans TakeOrderedAndProject
    (per-partition heaps + driver merge), not a full sort."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("price"))
    )


ORACLE_GLOBAL_TOP_ORDERS = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def running_revenue_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame aggregate (running sum) with a total order for determinism.
    (orderkey, linenumber) is NOT unique in the synthetic data — price and
    discount tiebreaks make remaining ties revenue-identical, so the
    running values are order-invariant."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum(rev).over(w), 4).alias("running_revenue"),
    )


ORACLE_RUNNING_REVENUE_BY_SUPPLIER = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       round(sum(l_extendedprice * (1 - l_discount))
             OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                            l_extendedprice, l_discount
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS running_revenue
FROM lineitem
"""


def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics over the events stream table."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)).alias("gap_seconds"),
        F.lead("event_type").over(w).alias("next_type"),
    )


ORACLE_EVENT_GAPS = """
SELECT user_id, event_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap_seconds,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, windowed formulation (SURVEY.md §2.3 engine-added).

    For each purchase, the latest strictly-preceding click by the same user.
    Instead of a non-equi self-join (quadratic blowup on hot users), a single
    pass: one shuffle on user_id, running max over a CASE column — this is
    the 100 TB-safe as-of plan."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.withColumn("last_click_ts", F.max(click_ts).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


ORACLE_ASOF_PURCHASE_CLICK = """
SELECT event_id, user_id, ts, last_click_ts
FROM (SELECT event_id, user_id, ts, event_type,
             max(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_ts
      FROM events)
WHERE event_type = 'purchase'
"""


def sessionize(ev: DataFrame, *, gap_s: int = 1800) -> DataFrame:
    """DataFrame-level sessionization: lag → gap flag → cumulative sum =
    session id. Two window passes over one shuffle on user_id."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap >= gap_s), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def sessionize_chunked(
    ev: DataFrame, *, gap_s: int = 1800, chunk_s: int = 86_400
) -> DataFrame:
    """``sessionize`` for SKEWED/HUGE users: identical output, but the
    row-level window partitions by (user, time chunk) so one zipfian user
    holding 20% of the corpus no longer serializes 20% of the work into
    one window partition (AQE skew handling splits joins, never windows —
    this is the wired fallback the skew harness measured,
    ``git show bc6cf72:tools/scale_evidence_r5.py``).

    Same boundary trick as ``rolling_range_mean_chunked``: sessions are
    computed locally per chunk, then chunk-local session PIECES (one row
    per piece — bounded by session count, not event count) are merged
    with a per-user window: a piece continues the previous piece's
    session iff the time gap between them is < ``gap_s``. Pieces two or
    more chunks apart can never merge because ``chunk_s >= gap_s``
    guarantees their gap >= gap_s, so the lag-1 check is complete.
    Global session numbering is chronological per user — byte-identical
    to ``sessionize`` (asserted in tests)."""
    if chunk_s < gap_s:
        raise ValueError("chunk_s must be >= gap_s for boundary merging")
    base = ev.withColumn("_sec", F.unix_timestamp("ts")).withColumn(
        "_chunk", F.floor(F.col("_sec") / chunk_s)
    )
    w = Window.partitionBy("user_id", "_chunk").orderBy("ts", "event_id")
    gap = F.col("_sec") - F.lag("_sec").over(w)
    new_local = F.when(gap.isNull() | (gap >= gap_s), 1).otherwise(0)
    rows = base.withColumn(
        "_ls", F.sum(new_local).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    pieces = rows.groupBy("user_id", "_chunk", "_ls").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("ts").alias("_start"),
        F.max("ts").alias("_end"),
        F.min("_sec").alias("_s_sec"),
        F.max("_sec").alias("_e_sec"),
    )
    w2 = Window.partitionBy("user_id").orderBy("_chunk", "_ls")
    prev_end = F.lag("_e_sec").over(w2)
    new_glob = F.when(
        prev_end.isNull() | (F.col("_s_sec") - prev_end >= gap_s), 1
    ).otherwise(0)
    numbered = pieces.withColumn(
        "session_id",
        F.sum(new_glob).over(w2.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.sum("_n").alias("n_events"),
        F.min("_start").alias("session_start"),
        F.max("_end").alias("session_end"),
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization over the events table; the streaming twin is
    ``session_window`` (streaming/windows.py)."""
    return sessionize(_t(spark, sf_dir, "events"))


ORACLE_SESSIONIZE_EVENTS = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) >= 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM numbered GROUP BY user_id, session_id
"""


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

def set_union_active_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_totalprice") > 300_000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = cust.filter(F.col("c_acctbal") > 5_000).select(F.col("c_custkey").alias("custkey"))
    return a.union(b).distinct()


ORACLE_SET_UNION_ACTIVE_KEYS = """
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
UNION
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
"""


def set_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


ORACLE_SET_INTERSECT_CUSTKEYS = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""


def set_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.select(F.col("c_custkey").alias("custkey"))
    b = orders.select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b.distinct())


ORACLE_SET_EXCEPT_CUSTKEYS = """
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders
"""


# --------------------------------------------------------------------------
# Scalar functions (string / date / json / case)
# --------------------------------------------------------------------------

def string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
    )


ORACLE_STRING_FUNCS_PART = """
SELECT p_partkey,
       upper(p_name)                        AS name_upper,
       CAST(length(p_name) AS INTEGER)      AS name_len,
       substr(p_type, 1, 5)                 AS type_prefix,
       concat(p_brand, '#', p_type)         AS brand_type,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel
FROM part
"""


def date_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            F.quarter("o_orderdate").alias("o_quarter"),
            F.dayofweek("o_orderdate").alias("o_dow"),
            "o_totalprice",
        )
        .groupBy("o_year", "o_month", "o_quarter", "o_dow")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


# Spark dayofweek: 1 = Sunday; DuckDB dayofweek: 0 = Sunday → +1 to align.
ORACLE_DATE_FUNCS_ORDERS = """
SELECT CAST(date_part('year', o_orderdate) AS INTEGER)    AS o_year,
       CAST(date_part('month', o_orderdate) AS INTEGER)   AS o_month,
       CAST(date_part('quarter', o_orderdate) AS INTEGER) AS o_quarter,
       CAST(date_part('dayofweek', o_orderdate) + 1 AS INTEGER) AS o_dow,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS revenue
FROM orders GROUP BY 1, 2, 3, 4
"""


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction on the events.props column (F2 generalized)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("avg_k"),
        F.round(F.max(k), 6).alias("max_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_JSON_EXTRACT_EVENTS = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k,
       round(max(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS max_k,
       count(*) AS n_events
FROM events GROUP BY event_type
"""


def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window as batch — identical logical result to the streaming
    ``window(ts, '1 hour')`` agg (streaming/windows.py twin)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_HOURLY_EVENT_ROLLUP = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 30 min slide) — each event lands in two
    windows; batch twin of the streaming sliding agg."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


ORACLE_SLIDING_WINDOW_EVENTS = """
WITH slides(off) AS (VALUES (0), (1800)),
     placed AS (
  SELECT ts,
         epoch_ms((CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - off) * 1000)
           AS window_start
  FROM events, slides)
SELECT window_start, count(*) AS n_events
FROM placed
WHERE epoch(ts) >= epoch(window_start) AND epoch(ts) < epoch(window_start) + 3600
GROUP BY window_start
"""


def asof_forward_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join, windowed: for each purchase, the EARLIEST
    strictly-following click by the same user — the mirror of
    asof_purchase_click over a following frame. Same single-pass shape:
    one user_id shuffle, running min over a CASE column (SURVEY.md §2.3
    J8 direction variant)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.withColumn("next_click_ts", F.min(click_ts).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "next_click_ts")
    )


ORACLE_ASOF_FORWARD_NEXT_CLICK = """
SELECT event_id, user_id, ts, next_click_ts
FROM (SELECT event_id, user_id, ts, event_type,
             min(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_click_ts
      FROM events)
WHERE event_type = 'purchase'
"""


def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: for each purchase, whichever click (preceding
    or following, same user) is closest in time — built from BOTH frame
    maxima in the SAME window partitioning, so it still costs exactly one
    user_id exchange. Ties (equidistant clicks) resolve backward, the
    pandas merge_asof 'nearest' convention."""
    ev = _t(spark, sf_dir, "events")
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wb = base.rowsBetween(Window.unboundedPreceding, -1)
    wf = base.rowsBetween(1, Window.unboundedFollowing)
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    back_gap = F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")
    fwd_gap = F.unix_timestamp("next_click_ts") - F.unix_timestamp("ts")
    nearest = (
        F.when(F.col("last_click_ts").isNull(), F.col("next_click_ts"))
        .when(F.col("next_click_ts").isNull(), F.col("last_click_ts"))
        .when(fwd_gap < back_gap, F.col("next_click_ts"))
        .otherwise(F.col("last_click_ts"))
    )
    return (
        ev.withColumn("last_click_ts", F.max(click_ts).over(wb))
        .withColumn("next_click_ts", F.min(click_ts).over(wf))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            nearest.alias("nearest_click_ts"),
        )
    )


ORACLE_ASOF_NEAREST_CLICK = """
SELECT event_id, user_id, ts,
       CASE WHEN b IS NULL THEN f
            WHEN f IS NULL THEN b
            WHEN CAST(floor(epoch(f)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT)
                 < CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(b)) AS BIGINT)
            THEN f ELSE b END AS nearest_click_ts
FROM (SELECT event_id, user_id, ts, event_type,
             max(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b,
             min(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS f
      FROM events)
WHERE event_type = 'purchase'
"""


def asof_tolerance_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas ``merge_asof`` tolerance
    semantics): the latest strictly-preceding click, but only if it
    happened within 30 minutes of the purchase — an older match returns
    NULL, not a stale event. Same single-pass windowed plan as the
    unbounded variant (one user_id shuffle, running max over a CASE
    column); the tolerance is one row-local comparison on top."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    last = F.max(click_ts).over(w)
    within = (
        F.unix_timestamp("ts") - F.unix_timestamp(last) <= F.lit(1800)
    )
    return (
        ev.withColumn("last_click_ts", F.when(within, last))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


ORACLE_ASOF_TOLERANCE_CLICK = """
SELECT event_id, user_id, ts,
       CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(last_click_ts)) AS BIGINT) <= 1800
            THEN last_click_ts END AS last_click_ts
FROM (SELECT event_id, user_id, ts, event_type,
             max(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_ts
      FROM events)
WHERE event_type = 'purchase'
"""


def sessionize_events_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-proof chunked sessionizer as a driver-verified query: its
    oracle is the PLAIN single-window SQL, so the hash check proves
    chunked ≡ plain on real data (the same equality tests pin down to
    chunk = gap)."""
    return sessionize_chunked(_t(spark, sf_dir, "events"))


ORACLE_SESSIONIZE_EVENTS_CHUNKED = ORACLE_SESSIONIZE_EVENTS


def running_revenue_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-proof chunked running sum as a driver-verified query:
    revenue in exact integer cents (associative regrouping), chunked by
    ship month; the oracle is the plain single-window cumulative sum."""
    from pyspark_etl_twitter_spark.operators.timeseries import (
        cumulative_sum_chunked,
    )

    li = _t(spark, sf_dir, "lineitem")
    cents = F.expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
    )
    return cumulative_sum_chunked(
        li,
        partition_col="l_suppkey",
        order_cols=[
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_discount",
        ],
        value_cents_expr=cents,
        chunk_expr=F.trunc("l_shipdate", "month"),
        out_col="running_cents",
    ).select("l_suppkey", "l_orderkey", "l_linenumber", "running_cents")


ORACLE_RUNNING_REVENUE_CHUNKED = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber,
                        l_extendedprice, l_discount
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS running_cents
FROM lineitem
"""


def _hourly_avg_exact(ev: DataFrame) -> DataFrame:
    """Hourly per-type mean as EXACT integer-cents division: the sum of
    2dp cents is an order-free integer aggregate, so ``sum/(n·100)`` is
    ONE float division on identical operands — bit-identical doubles on
    both engines BY CONSTRUCTION. ``round(avg(value), 6)`` is not: float
    summation order differs per engine, and an hourly group whose exact
    mean terminates at 7 decimals ending in 5 (observed at sf0.1:
    signup 2024-01-18 22:00 = 43.4728125) lands the two engines' round
    semantics (shortest-decimal HALF_UP vs binary half-away) on opposite
    sides — the DESIGN §5 boundary trap, caught by the r13 3-SF gate."""
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy(
        F.col("event_type"), F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        (
            F.sum(cents).cast("double")
            / (F.count(F.lit(1)) * 100).cast("double")
        ).alias("avg_value")
    )


def _q6(c: Column) -> Column:
    """Portable 6dp quantizer: ``floor(x·1e6 + 0.5)/1e6`` — every step is
    a plain IEEE op with no engine-discretionary tie rule, so identical
    input doubles give identical output doubles (unlike ``round(x, 6)``,
    where Spark rounds the shortest decimal rendering and DuckDB the
    binary value — they disagree exactly at .5 ulp of the target scale)."""
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def ewma_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing of the hourly per-type value series
    (alpha=0.3, adjust=False recurrence) via the PORTABLE array-fold
    twin — the smoothing tier's driver-hash-verified row (the Arrow
    ``ewma_by_group`` production twin is equality-pinned in pytest).
    Inputs are exact cents-division means and outputs are ``_q6``
    quantized, so the whole row is bit-deterministic on both engines
    (r13: the previous ``round(avg, 6)`` input hit the §5 half-way trap
    at sf0.1)."""
    from pyspark_etl_twitter_spark.operators.timeseries import ewma_portable

    ev = _t(spark, sf_dir, "events")
    out = ewma_portable(
        _hourly_avg_exact(ev),
        alpha=0.3,
        group_col="event_type",
        time_col="hour_start",
        value_col="avg_value",
        round_dp=None,
    )
    return out.select(
        "event_type",
        "hour_start",
        _q6(F.col("avg_value")).alias("avg_value"),
        _q6(F.col("ewma")).alias("ewma"),
    )


ORACLE_EWMA_HOURLY_BY_TYPE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
           / CAST(count(*) * 100 AS DOUBLE) AS avg_value
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type,
         list(hour_start ORDER BY hour_start) AS hs,
         list(avg_value ORDER BY hour_start) AS xs
  FROM h GROUP BY event_type
)
SELECT event_type,
       unnest(hs) AS hour_start,
       unnest(list_transform(xs,
         x -> floor(x * 1000000.0 + 0.5) / 1000000.0)) AS avg_value,
       unnest(list_transform(range(1, len(xs) + 1),
         i -> floor(list_reduce(xs[1:i], (a, v) -> 0.3 * v + 0.7 * a)
                    * 1000000.0 + 0.5) / 1000000.0
       )) AS ewma
FROM g
"""


def cusum_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint detection over the hourly per-type
    value series (k=0.25 slack, h=5.0 alarm, target = each series' first
    hour) — the CHANGE-POINT tier of the drift ladder (KS/PSI compare
    snapshots, EWMA smooths, CUSUM localizes WHEN the mean shifted),
    via the same portable array-fold construction as the EWMA row —
    exact cents-division means in, ``_q6``-quantized columns out, so the
    row is bit-deterministic on both engines."""
    from pyspark_etl_twitter_spark.operators.timeseries import cusum_portable

    ev = _t(spark, sf_dir, "events")
    out = cusum_portable(
        _hourly_avg_exact(ev),
        group_col="event_type",
        time_col="hour_start",
        value_col="avg_value",
        k=0.25,
        h=5.0,
        round_dp=None,
    )
    return out.select(
        "event_type",
        "hour_start",
        _q6(F.col("avg_value")).alias("avg_value"),
        _q6(F.col("cusum_pos")).alias("cusum_pos"),
        _q6(F.col("cusum_neg")).alias("cusum_neg"),
        "alarm",
    )


# DuckDB replays each one-sided recurrence s_i = max(0, s_{i-1} + d_i)
# as list_reduce over a 0.0-PREPENDED prefix of the deviation list —
# list_reduce seeds with the first element, and the raw d_1 is not
# max(0, d_1); the prepended zero makes the seed the true s_0 = 0 and
# keeps the fold's FP operation sequence identical to the engine's
ORACLE_CUSUM_HOURLY_BY_TYPE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
           / CAST(count(*) * 100 AS DOUBLE) AS avg_value
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type,
         list(hour_start ORDER BY hour_start) AS hs,
         list(avg_value ORDER BY hour_start) AS xs
  FROM h GROUP BY event_type
),
r AS (
  SELECT event_type,
         unnest(hs) AS hour_start,
         unnest(list_transform(xs,
           x -> floor(x * 1000000.0 + 0.5) / 1000000.0)) AS avg_value,
         unnest(list_transform(range(1, len(xs) + 1),
           i -> floor(list_reduce(
             list_prepend(0.0, list_transform(xs[1:i], v -> v - xs[1] - 0.25)),
             (a, v) -> greatest(0.0, a + v)) * 1000000.0 + 0.5) / 1000000.0
         )) AS cusum_pos,
         unnest(list_transform(range(1, len(xs) + 1),
           i -> floor(list_reduce(
             list_prepend(0.0, list_transform(xs[1:i], v -> xs[1] - v - 0.25)),
             (a, v) -> greatest(0.0, a + v)) * 1000000.0 + 0.5) / 1000000.0
         )) AS cusum_neg,
         unnest(list_transform(range(1, len(xs) + 1),
           i -> list_reduce(
             list_prepend(0.0, list_transform(xs[1:i], v -> v - xs[1] - 0.25)),
             (a, v) -> greatest(0.0, a + v)) > 5.0
             OR list_reduce(
             list_prepend(0.0, list_transform(xs[1:i], v -> xs[1] - v - 0.25)),
             (a, v) -> greatest(0.0, a + v)) > 5.0
         )) AS alarm
  FROM g
)
SELECT event_type, hour_start, avg_value, cusum_pos, cusum_neg, alarm FROM r
"""

