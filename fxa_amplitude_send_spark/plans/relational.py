"""Relational core queries (SURVEY.md §2B) over the TPC-H-ish tables.

Design rules applied throughout (the 100 TB posture):

* Declarative DataFrame plans only — Catalyst does pushdown/pruning/reorder.
* Small dims (region/nation/supplier) get explicit ``broadcast()`` hints.
* Every aggregate over doubles is rounded to the decimal scale of its true
  value so the DuckDB differential hash is stable across summation orders.
* Ordering-sensitive operators (top-k, window rank) always carry a unique
  tiebreaker column so results are total-ordered and deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from ..staging import source_identity
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# scans / filters / projections
# ---------------------------------------------------------------------------


@query(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_quantity * l_tax AS qty_tax
    FROM lineitem
    """,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + projection + column arithmetic; ReadSchema must show only the
    five referenced columns (column pruning)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
        (F.col("l_quantity") * F.col("l_tax")).alias("qty_tax"),
    )


_FILTER_PRED_SQL = """
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1995-12-31'
      AND l_discount BETWEEN 0.02 AND 0.08
      AND l_quantity < 24
      AND l_returnflag IN ('A', 'R')
      AND l_linestatus LIKE 'F%'
"""


@query("q_filter_pred", oracle=_FILTER_PRED_SQL)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates: BETWEEN / IN / LIKE / comparison — all pushed
    to the parquet scan (PushedFilters in explain, plan-asserted). Rides the
    SQL-TEXT door: the identical string is the engine query AND the DuckDB
    oracle (sql_api.py), so no translation step can hide a semantic gap —
    and the pushdown assertions prove spark.sql text gets the same scan-level
    optimization as the DataFrame form did."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _FILTER_PRED_SQL)


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


@query(
    "q_join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'O'
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join; Catalyst picks broadcast vs sort-merge by stats, AQE
    can switch at runtime. Filter applied before the join (pushdown)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    customer = _t(spark, sf_dir, "customer")
    return orders.join(customer, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dim broadcast join — explicit hint; no shuffle at any scale."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name", "r_name")


@query(
    "q_join_multi",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND((1 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE)
             / 10000 AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    """,
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way join: fact-fact shuffle join on orderkey, then
    broadcast joins for the shrinking dimension chain. Revenue sums on the
    exact integer grid of the data (cents × discount-pct = 1e-4 dollars):
    a float SUM's order-dependent error over ~240k rows/nation at sf1
    (~5e-4) exceeds the 4-dp scale of the true value, so the naive
    ROUND(SUM(double), 4) diverges between engines — integer summation is
    order-free and the single final int→double division is identical in
    both."""
    rev_grid = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (1 - F.col("l_discount")) * 100
    ).cast("long")
    # fold the revenue product to ONE long BEFORE the orderkey exchange
    # (price + discount would otherwise ride the query's largest shuffle as
    # two doubles — a third of its bytes at sf100, same discipline as q9)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", rev_grid.alias("rev_grid")
    )
    # EAGER partial re-aggregation (the round-7 sf100 study's 10×/decade
    # was the raw row counts riding every exchange): the final group key is
    # per-NATION, so the lineitem grain can collapse at each join boundary.
    # (1) pre-aggregate to per-ORDER (sum, count) — ~4 lineitems/order, so
    # the orderkey join moves 4× fewer rows; (2) after the orders join,
    # collapse to per-CUSTOMER before touching customer — the custkey
    # exchange then carries |customers| rows instead of |lineitems|.
    # Both aggregates are algebraic (sum/count), so associativity makes
    # the rollup exact; Catalyst cannot do this rewrite itself (eager
    # aggregation is not in its rule set).
    li_o = li.groupBy("l_orderkey").agg(
        F.sum("rev_grid").alias("rev_grid"), F.count(F.lit(1)).alias("_nl")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    per_cust = (
        li_o.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum("rev_grid").alias("rev_grid"), F.sum("_nl").alias("_nl"))
    )
    joined = (
        per_cust.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        (F.sum("rev_grid").cast("double") / 10000).alias("revenue"),
        F.sum("_nl").alias("n_lineitems"),
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + count (TPC-H Q13 shape): customers with zero orders
    kept with n_orders = 0."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence join — left_semi never materializes the right side's columns
    and deduplicates by construction."""
    customer = _t(spark, sf_dir, "customer")
    big_orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return customer.join(
        big_orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= DATE '2000-01-01'
    )
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negation join — customers with no *recent* orders (none since
    2000-01-01). The date filter keeps the result non-empty at every test
    scale factor (every customer has at least one order overall, so an
    unfiltered anti-join would vacuously return 0 rows and prove nothing)."""
    customer = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("date")
    )
    return customer.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q_join_range",
    oracle="""
    SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
           a.event_type AS a_type, b.event_type AS b_type
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.ts < b.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join with an equi anchor: pairs of events by the same user
    within 10 minutes. The user_id equality keeps this a hash/sort-merge join
    with a range residual — NOT a cartesian BNLJ — so it scales as
    O(rows-per-user²) per key, not O(n²) overall."""
    ev = _t(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.ts") < F.col("b.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select(
        F.col("a.event_id").alias("a_id"),
        F.col("b.event_id").alias("b_id"),
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("a_type"),
        F.col("b.event_type").alias("b_type"),
    )


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------


_AGG_GROUP_SQL = """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
             / 10000 AS sum_disc_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)
                    * CAST(ROUND((1 + l_tax) * 100) AS BIGINT)) AS DOUBLE)
             / 1000000 AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100 / COUNT(*), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@query("q_agg_group", oracle=_AGG_GROUP_SQL)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the canonical hash aggregate. Spark does partial (map-side)
    + final aggregation automatically; with 4 groups the reduce side is tiny
    at any scale — the map-side combine is what makes this 100 TB-safe
    (plan-asserted: two HashAggregate nodes around one Exchange).

    Rides the SQL-TEXT door: one dialect-portable string is both the engine
    query and the DuckDB oracle (sql_api.py). The money sums aggregate on an
    INTEGER grid (cents × discount-pct × tax-pct, each factor an exact
    BIGINT) and divide back to dollars once at the end: integer summation
    is order-independent at every scale, and — unlike DECIMAL-sum-then-cast,
    which the sf1 scale study caught diverging by one ULP between engines'
    decimal→double conversions at 2.8e10 magnitude — the final int→double
    conversion and division are single correctly-rounded operations both
    engines perform identically. avg_price derives from the same exact sum
    (a float AVG's summation-order error at sf1, ~1e-8, already brushes the
    6-dp rounding grid). Headroom: the charge sum in 1e-6-dollar units is
    ~2.8e16 at sf1 — int64 overflows only past sf~300."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _AGG_GROUP_SQL)


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi count-distinct: Spark expands to a two-phase aggregate; exact."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query("q_agg_approx_distinct")  # rows-only: HLL estimates are engine-specific
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the constant-memory cardinality
    path for 100 TB scale — estimate differs per engine, so rows-only check."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts")
    )


@query(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical grouping sets (rollup): (flag,status), (flag), ()."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS sum_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-set lattice (cube) over two low-cardinality dims. The
    grand-total cell sums EVERY order — exactly where a float SUM's
    order-dependent error first crosses a 2-dp grid as SF grows — so the
    price rolls up in exact integer cents (money-sum discipline,
    q_agg_group)."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        (F.sum(cents).cast("double") / 100).alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------


@query(
    "q_window_rank",
    oracle="""
    SELECT c_nationkey, c_custkey, c_name, c_acctbal, rnk FROM (
      SELECT c_nationkey, c_custkey, c_name, c_acctbal,
             RANK() OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer)
    WHERE rnk <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group via ranking window; c_custkey tiebreak makes the order
    total so results are deterministic across engines."""
    customer = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        customer.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_nationkey", "c_custkey", "c_name", "c_acctbal", "rnk")
    )


@query(
    "q_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-sum frame; total order (orderdate, orderkey) fixes the
    accumulation sequence so both engines add in the same order."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@query(
    "q_window_lag",
    oracle="""
    SELECT user_id, event_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
           ROUND((epoch_us(ts) - epoch_us(LAG(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id))) / 1000000.0, 6)
             AS gap_seconds
    FROM events
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag: inter-event gap per user — the sessionization primitive."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        prev.alias("prev_ts"),
        F.round(
            # casts: ts may scan as TIMESTAMP_NTZ (naive parquet micros);
            # NTZ→LTZ under the pinned-UTC session is value-preserving and
            # unix_micros requires LTZ.
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
            )
            / 1000000.0,
            6,
        ).alias("gap_seconds"),
    )


@query(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject — per-partition heaps + driver
    merge, never a full sort. Unique o_orderkey tiebreak → deterministic."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------


@query(
    "q_union",
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    return customer.select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    ).unionByName(
        supplier.select(
            F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
        )
    )


@query(
    "q_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (distinct semantics) — nations with both customers
    and suppliers."""
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "q_except",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (distinct) — customers who placed orders but never an
    URGENT one. (Nation-level EXCEPT is vacuous on this data: every customer
    nation also has suppliers, so the result would be empty at every SF.)"""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(F.col("o_custkey").alias("custkey")).subtract(
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            F.col("o_custkey").alias("custkey")
        )
    )


@query(
    "q_agg_salted",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-skew pattern: events has only 5 event_type values, each a
    giant group — a direct groupBy would land the whole table on 5 reducers
    no matter how many executors exist. salted_aggregate runs two phases:
    (key, salt) partial aggregation spreads every giant group across 16
    buckets, then a per-key merge combines the partials. The result is
    bit-identical to the direct groupBy for the mergeable aggregate set
    (oracle-verified); at 100 TB this is the difference between 5 straggler
    reducers and full cluster width."""
    from ..operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events").select("event_type", "value", "ts")
    out = salted_aggregate(
        ev,
        key_cols=["event_type"],
        aggs={
            "n_events": ("ts", "count"),
            "total_value": ("value", "sum"),
            "first_ts": ("ts", "min"),
            "last_ts": ("ts", "max"),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        "first_ts",
        "last_ts",
    )


# ---------------------------------------------------------------------------
# scalar function coverage
# ---------------------------------------------------------------------------


@query(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           SUBSTR(c_name, 1, 8) AS name_prefix,
           LENGTH(c_name) AS name_len,
           TRIM(c_mktsegment) AS segment,
           CONCAT(c_name, ':', c_mktsegment) AS name_seg,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS name_digits,
           REPLACE(c_name, '#', '-') AS name_dash
    FROM customer
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.trim(F.col("c_mktsegment")).alias("segment"),
        F.concat(F.col("c_name"), F.lit(":"), F.col("c_mktsegment")).alias("name_seg"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dash"),
    )


@query(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate) AS order_year,
           EXTRACT(month FROM o_orderdate) AS order_month,
           EXTRACT(day FROM o_orderdate) AS order_day,
           EXTRACT(quarter FROM o_orderdate) AS order_quarter,
           date_trunc('month', o_orderdate) AS order_month_start,
           o_orderdate + INTERVAL 90 DAY AS due_date,
           date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_95
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.quarter("o_orderdate").cast("bigint").alias("order_quarter"),
        F.date_trunc("month", "o_orderdate").alias("order_month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_95"),
    )


@query(
    "q_math_funcs",
    oracle="""
    SELECT p_partkey,
           ROUND(p_retailprice, 1) AS price_round,
           ABS(p_retailprice - 1000) AS price_dev,
           ROUND(LN(p_retailprice), 6) AS price_ln,
           ROUND(LOG10(p_retailprice), 6) AS price_log10,
           ROUND(SQRT(p_retailprice), 6) AS price_sqrt,
           ROUND(POW(p_size, 2), 1) AS size_sq,
           CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
           p_partkey % 7 AS key_mod
    FROM part
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.round("p_retailprice", 1).alias("price_round"),
        F.abs(F.col("p_retailprice") - 1000).alias("price_dev"),
        F.round(F.log(F.col("p_retailprice")), 6).alias("price_ln"),
        F.round(F.log10(F.col("p_retailprice")), 6).alias("price_log10"),
        F.round(F.sqrt(F.col("p_retailprice")), 6).alias("price_sqrt"),
        F.round(F.pow(F.col("p_size"), 2), 1).alias("size_sq"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.floor("p_retailprice").alias("price_floor"),
        (F.col("p_partkey") % 7).alias("key_mod"),
    )


@query(
    "q_array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum'), 4) AS vec_sum,
           ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS vec_max
    FROM embeddings
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over embedding vectors — all JVM-side
    (no UDF): size / element_at / aggregate / array_max."""
    emb = _t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at(F.col("embedding"), 1).cast("double"), 6).alias(
            "first_val"
        ),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("vec_sum"),
        F.round(F.array_max(F.col("embedding")).cast("double"), 6).alias("vec_max"),
    )


@query(
    "q_join_asof",
    oracle="""
    SELECT event_id, user_id, ts, asof_ts
    FROM (
      SELECT event_id, user_id, ts, _side,
             last_value(CASE WHEN _side = 0 THEN ts END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, _side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_ts
      FROM (
        SELECT event_id, user_id, ts, 1 AS _side FROM events
         WHERE event_type = 'purchase'
        UNION ALL
        SELECT event_id, user_id, ts, 0 AS _side FROM events
         WHERE event_type = 'click'
      )
    )
    WHERE _side = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/joins.py): for each purchase, the latest click
    by the same user at-or-before it. Union + windowed last_value(ignorenulls)
    — one shuffle on the key, sort-merge cost profile, no per-key loops. The
    oracle uses the identical window formulation (DuckDB's native ASOF JOIN
    matches it)."""
    from ..operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="ts")


@query(
    "q_join_asof_fwd",
    oracle="""
    SELECT event_id, user_id, ts, asof_ts
    FROM (
      SELECT event_id, user_id, ts, _side,
             first_value(CASE WHEN _side = 1 THEN ts END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, _side
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS asof_ts
      FROM (
        SELECT event_id, user_id, ts, 0 AS _side FROM events
         WHERE event_type = 'purchase'
        UNION ALL
        SELECT event_id, user_id, ts, 1 AS _side FROM events
         WHERE event_type = 'error'
      )
    )
    WHERE _side = 0
    """,
)
def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each purchase, the user's FIRST error at-or-
    after it (did this purchase precede a failure?). Mirror image of
    q_join_asof — same union + one-shuffle window pattern, with the fill
    running first_value over the following frame; same-instant right rows
    are visible because left rows sort before right at equal timestamps."""
    from ..operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    return asof_join(
        purchases, errors, on="user_id", left_ts="ts", right_ts="ts",
        direction="forward",
    )


@query(
    "q_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts
    FROM sess GROUP BY user_id, sid
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user via F.session_window —
    the oracle is the classic gaps-and-islands window formulation. Session
    end = last event + gap (Spark's session_window contract); a gap of
    exactly 30 min starts a new session on both sides."""
    from ..streaming.windows import session_windows

    ev = _t(spark, sf_dir, "events")
    return session_windows(ev, key_col="user_id", ts_col="ts", gap="30 minutes")


@query(
    "q_window_sliding",
    oracle="""
    WITH w AS (
      SELECT unnest([
               time_bucket(INTERVAL 30 MINUTE, ts),
               time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE
             ]) AS window_start
      FROM events
    )
    SELECT window_start,
           window_start + INTERVAL 60 MINUTE AS window_end,
           COUNT(*) AS n_events
    FROM w GROUP BY window_start
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h wide, 30 min slide): every event lands
    in exactly 2 windows; the oracle expands both epoch-aligned starts with
    unnest. Same builder serves streaming with a watermark."""
    from ..streaming.windows import sliding_counts

    ev = _t(spark, sf_dir, "events")
    return sliding_counts(ev, ts_col="ts", width="1 hour", slide="30 minutes")


# ---------------------------------------------------------------------------
# breadth: pivot, subqueries, percentiles, conditionals, casts, TPC-H shapes
# ---------------------------------------------------------------------------


@query(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_P,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2) AS sum_F,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 0), 2) AS sum_O,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 0), 2) AS sum_P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with an explicit value list — the explicit list
    avoids the extra distinct-values job AND keeps the output schema static,
    which is what you want in production (dynamic pivot = schema drift)."""
    orders = _t(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("sum"),
        )
    )
    # flatten pivot's "<value>_<agg>" names to the oracle's cnt_X/sum_X
    out = pivoted.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(f"{v}_cnt"), F.lit(0)).alias(f"cnt_{v}")
            for v in ("F", "O", "P")
        ],
        *[
            F.coalesce(F.col(f"{v}_sum"), F.lit(0.0)).alias(f"sum_{v}")
            for v in ("F", "O", "P")
        ],
    )
    return out


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above 1.5x the global average. Expressed as a
    broadcast of the 1-row aggregate — Catalyst executes the subquery once
    and broadcasts the scalar; no per-row recomputation. (Threshold is 1.5x,
    not 2x: the price distribution tops out below 2x the mean on this data,
    so a 2x cut would vacuously return 0 rows.)"""
    orders = _t(spark, sf_dir, "orders")
    avg_price = orders.agg(F.avg("o_totalprice").alias("_avg"))
    return (
        orders.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > 1.5 * F.col("_avg"))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q_correlated_exists",
    oracle="""
    SELECT p_partkey, p_name
    FROM part p
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45
    )
    """,
)
def q_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS via Spark SQL — Catalyst decorrelates it into a
    left-semi join (same physical plan as q_join_semi's DataFrame form)."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_name FROM part p
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
        """
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (percentile_cont semantics on both
    engines). ONE percentile(col, array(...)) aggregate — a single per-group
    value buffer serves all four cut points, vs 4 independent sort buffers
    for four scalar percentile calls. The approx_percentile variant (see
    q_agg_approx_distinct for the pattern) is the 100 TB path."""
    li = _t(spark, sf_dir, "lineitem")
    pcts = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99))").alias("_p")
    )
    return pcts.select(
        "l_returnflag",
        *[
            F.round(F.col("_p")[i], 4).alias(f"p{int(p * 100)}")
            for i, p in enumerate((0.25, 0.5, 0.75, 0.99))
        ],
    )


@query(
    "q_null_funcs",
    oracle="""
    SELECT o_orderkey,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
           CASE WHEN o_totalprice IS NULL THEN -1 ELSE o_totalprice END AS price_nn,
           (o_orderstatus IS NOT NULL AND o_orderstatus = 'F') AS is_final,
           IFNULL(NULL, o_orderkey) AS key_filled
    FROM orders
    """,
)
def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling surface: coalesce/nullif/ifnull/is-null logic."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_label"
        ),
        F.when(F.col("o_totalprice").isNull(), F.lit(-1.0))
        .otherwise(F.col("o_totalprice"))
        .alias("price_nn"),
        (F.col("o_orderstatus").isNotNull() & (F.col("o_orderstatus") == "F")).alias(
            "is_final"
        ),
        F.ifnull(F.lit(None).cast("bigint"), F.col("o_orderkey")).alias("key_filled"),
    )


_CASE_WHEN_SQL = """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity >= 40 THEN 'bulk'
                WHEN l_quantity >= 15 THEN 'mid'
                ELSE 'small' END AS qty_band,
           CASE l_returnflag WHEN 'A' THEN 'accepted'
                             WHEN 'R' THEN 'returned'
                             ELSE 'none' END AS flag_label
    FROM lineitem
"""


@query("q_case_when", oracle=_CASE_WHEN_SQL)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Searched + simple CASE expressions. Rides the SQL-TEXT door: the
    identical string is the engine query AND the DuckDB oracle."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _CASE_WHEN_SQL)


@query(
    "q_casts",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(trunc(o_totalprice) AS BIGINT) AS price_int,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_dec,
           TRY_CAST(o_orderstatus AS DOUBLE) AS bad_cast
    FROM orders
    """,
)
def q_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast surface incl. try_cast null-on-failure. Dialect note: Spark's
    CAST(double AS BIGINT) truncates toward zero while DuckDB rounds — the
    oracle applies trunc() explicitly to pin the Spark semantics."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
        # decimal compared via its string rendering: pandas receives Decimal
        # from Spark but float from DuckDB, so the raw type can't hash-match
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price_dec"),
        F.col("o_orderstatus").try_cast("double").alias("bad_cast"),
    )


_TPCH_Q3_SQL = """
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """


@query("q_tpch_q3", oracle=_TPCH_Q3_SQL)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): selective filters pushed to all three
    scans, join order customer→orders→lineitem (small→large), top-10 via
    TakeOrderedAndProject with full tiebreak.

    Rides the SQL-TEXT door: the identical dialect-portable string is
    the engine query (spark.sql) and the DuckDB oracle (sql_api.py) —
    the strongest differential form, with no translation step."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _TPCH_Q3_SQL)

_TPCH_Q10_SQL = """
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-10-01'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """


@query("q_tpch_q10", oracle=_TPCH_Q10_SQL)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): quarter filter + returnflag
    filter at the scans, broadcast nation, top-20.

    Rides the SQL-TEXT door: the identical dialect-portable string is
    the engine query (spark.sql) and the DuckDB oracle (sql_api.py) —
    the strongest differential form, with no translation step."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _TPCH_Q10_SQL)

@query(
    "q_window_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           NTILE(4) OVER w AS price_quartile,
           FIRST_VALUE(o_orderkey) OVER w AS first_key,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / first_value / nth_value over a fully-framed window (unbounded
    frame so nth_value sees the whole partition on both engines)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_ntile = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w_ntile).alias("price_quartile"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


@query(
    "q_array_hof",
    oracle="""
    SELECT vec_id,
           ROUND(CAST(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * 2.0), 'sum') AS DOUBLE), 4) AS doubled_sum,
           len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS n_positive,
           (len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 3.0)) > 0)
             AS has_large,
           ROUND(CAST(list_sort(CAST(embedding AS DOUBLE[]))[1] AS DOUBLE), 6)
             AS smallest,
           ROUND(CAST(list_slice(CAST(embedding AS DOUBLE[]), 1, 4)[4] AS DOUBLE), 6)
             AS fourth_val
    FROM embeddings
    """,
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions: transform / filter / exists / sort /
    slice — all whole-stage-codegen JVM lambdas, the array analogue of the
    scalar function surface."""
    emb = _t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.round(
            F.aggregate(
                F.transform(dbl, lambda x: x * 2.0), F.lit(0.0), lambda a, x: a + x
            ),
            4,
        ).alias("doubled_sum"),
        F.size(F.filter(dbl, lambda x: x > 0)).cast("bigint").alias("n_positive"),
        F.exists(dbl, lambda x: x > 3.0).alias("has_large"),
        F.round(F.element_at(F.array_sort(dbl), 1), 6).alias("smallest"),
        F.round(F.element_at(F.slice(dbl, 1, 4), 4), 6).alias("fourth_val"),
    )


@query(
    "q_string_funcs2",
    oracle="""
    SELECT c_custkey,
           split_part(c_name, '#', 1) AS name_head,
           split_part(c_name, '#', 2) AS name_tail,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
           rpad(c_mktsegment, 12, '.') AS seg_padded,
           reverse(c_mktsegment) AS seg_rev,
           repeat('ab', 3) AS repeated,
           left(c_name, 4) AS name_left,
           right(c_name, 3) AS name_right,
           strpos(c_name, '#') AS hash_pos,
           ascii(c_mktsegment) AS seg_ascii,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated
    FROM customer
    """,
)
def q_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string surface: split_part/pad/reverse/repeat/left/right/
    position/ascii/translate."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_head"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_tail"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.rpad(F.col("c_mktsegment"), 12, ".").alias("seg_padded"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
        F.left(F.col("c_name"), F.lit(4)).alias("name_left"),
        F.right(F.col("c_name"), F.lit(3)).alias("name_right"),
        F.instr(F.col("c_name"), "#").cast("bigint").alias("hash_pos"),
        F.ascii(F.col("c_mktsegment")).cast("int").alias("seg_ascii"),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("seg_translated"),
    )


@query(
    "q_join_full",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_custkey % 2 = 0) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with deliberately disjoint-ish sides so both
    null-extended directions appear in the result."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 2 == 0)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_regionkey <> r2.r_regionkey
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product — legitimate ONLY for tiny dims (here 5x5
    region pairs); the plan-quality tests forbid it everywhere else."""
    r1 = _t(spark, sf_dir, "region").alias("r1")
    r2 = _t(spark, sf_dir, "region").alias("r2")
    return (
        r1.crossJoin(r2)
        .filter(F.col("r1.r_regionkey") != F.col("r2.r_regionkey"))
        .select(
            F.col("r1.r_name").alias("from_region"),
            F.col("r2.r_name").alias("to_region"),
        )
    )


_HAVING_SQL = """
    SELECT o_custkey, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12 AND SUM(o_totalprice) > 1000000
"""


@query("q_having", oracle=_HAVING_SQL)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group + HAVING (post-aggregation filter). Rides the SQL-TEXT door:
    the identical string is the engine query AND the DuckDB oracle."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _HAVING_SQL)


@query(
    "q_order_multi",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 50
    """,
)
def q_order_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key mixed-direction sort with limit (TakeOrderedAndProject)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(
            F.col("o_orderstatus").asc(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
        .limit(50)
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std_price,
           ROUND(VAR_SAMP(l_extendedprice), 2) AS var_price,
           ROUND(CORR(l_extendedprice, l_quantity), 6) AS corr_price_qty,
           ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 4) AS covar_price_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/covariance."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias(
            "covar_price_qty"
        ),
    )


@query(
    "q_agg_minmax_by",
    oracle="""
    SELECT o_orderstatus,
           MAX(struct_pack(p := o_totalprice, k := o_orderkey)).k AS biggest_order,
           MIN(struct_pack(p := o_totalprice, k := o_orderkey)).k AS smallest_order,
           MAX(o_totalprice) AS max_price,
           MIN(o_totalprice) AS min_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) aggregates with a TOTAL ordering: the
    argmax value is a (price, orderkey) struct, so price ties break on the
    key instead of on partition visit order. Plain max_by is
    nondeterministic under ties on ANY parallel engine — at sf1 the scaled
    data has exact cross-replica price ties and the naive form diverges
    run-to-run; both engines compare structs lexicographically, so the
    composite stays a single (still mergeable, min/max-combinable)
    aggregate rather than a window rewrite."""
    o = _t(spark, sf_dir, "orders")
    big = F.max(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")))
    small = F.min(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")))
    return o.groupBy("o_orderstatus").agg(
        big.getField("k").alias("biggest_order"),
        small.getField("k").alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@query(
    "q_agg_collect",
    oracle="""
    SELECT n_nationkey,
           list_sort(list(s_suppkey)) AS supplier_keys,
           list_sort(list(DISTINCT s_nationkey)) AS nation_set
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set into arrays — sorted post-hoc because
    collection order is partition-dependent on any parallel engine; the sort
    is what makes the operator deterministic and therefore testable."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(
            F.array_sort(F.collect_list("s_suppkey")).alias("supplier_keys"),
            F.array_sort(F.collect_set("s_nationkey")).alias("nation_set"),
        )
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube) + grouping() flags
    to disambiguate real NULLs from subtotal rows."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_distinct",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (hash aggregate on all projected columns)."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING), 2) AS nearby_sum,
           COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS nearby_cnt
    FROM orders
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): sum over orders within
    ±1000 of the current price per customer — the frame the ROWS variant
    cannot express when ties/gaps matter."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.round(F.sum("o_totalprice").over(w), 2).alias("nearby_sum"),
        F.count(F.lit(1)).over(w).alias("nearby_cnt"),
    )


@query(
    "q_regex_funcs",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, '[0-9]+', 'N', 'g') AS name_masked,
           regexp_replace(c_name, '[0-9]', 'X') AS first_digit_masked,
           regexp_matches(c_name, '^Customer') AS starts_customer,
           len(regexp_extract_all(c_name, '[0-9]')) AS n_digits,
           regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS cust_num
    FROM customer
    """,
)
def q_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex battery. Dialect note: Spark regexp_replace is global by
    default while DuckDB replaces the FIRST match unless the 'g' flag is
    given — the oracle pins each explicitly."""
    c = _t(spark, sf_dir, "customer")
    # Spark has no replace-first variant; emulate with a capture of the rest
    first_masked = F.regexp_replace(
        F.col("c_name"), F.lit(r"^(.*?)[0-9]"), F.lit(r"$1X")
    )
    return c.select(
        "c_custkey",
        F.regexp_replace(F.col("c_name"), F.lit("[0-9]+"), F.lit("N")).alias(
            "name_masked"
        ),
        first_masked.alias("first_digit_masked"),
        F.col("c_name").rlike("^Customer").alias("starts_customer"),
        F.size(F.regexp_extract_all(F.col("c_name"), F.lit("[0-9]"), 0))
        .cast("bigint")
        .alias("n_digits"),
        F.regexp_extract(F.col("c_name"), "Customer#([0-9]+)", 1).alias("cust_num"),
    )


@query(
    "q_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) vs q_union's UNION ALL — dedup across both inputs."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@query(
    "q_cogroup_stats",
    oracle="""
    SELECT k AS custkey,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(e.n_events, 0) AS n_events
    FROM (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey <= 1500) keys
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders
               GROUP BY o_custkey) o ON keys.k = o.o_custkey
    LEFT JOIN (SELECT user_id, COUNT(*) AS n_events FROM events
               GROUP BY user_id) e ON keys.k = e.user_id
    """,
)
def q_cogroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (the two-sided grouped-map surface): orders
    and events cogrouped by customer key, merged per key in pandas. The
    oracle is the equivalent double left join — proving the cogroup path
    preserves per-key completeness (keys present on either side).

    Bounded to 1500 keys: grouped-map UDFs pay per-GROUP Python overhead
    (~1 ms/group), so tiny-group workloads belong in JVM joins — the pandas
    path is for groups big enough to amortize (the surface demo stays
    bounded; llm_group_normalize shows the well-sized case)."""
    customer = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 1500
    ).select(F.col("c_custkey").alias("custkey"))
    # Explicit hash partitioning on the cogroup key: AQE's shuffle coalescing
    # sees a few MB and folds the exchange to ONE partition, serializing all
    # ~1500 per-group Python calls on a single core (measured 4.3× slower).
    # A user repartition both satisfies the cogroup's required clustering (no
    # extra exchange) and is exempt from AQE coalescing, so the per-group CPU
    # — the real cost of grouped-map UDFs — keeps its parallelism.
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 1500)
        .select(F.col("o_custkey").alias("custkey"), "o_orderkey")
        .repartition(32, "custkey")
    )
    events = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 1500)
        .select(F.col("user_id").alias("custkey"), "event_id")
        .repartition(32, "custkey")
    )

    def merge(key, left_pdf, right_pdf):
        import pandas as pd

        (k,) = key
        return pd.DataFrame(
            {
                "custkey": [k],
                "n_orders": [len(left_pdf)],
                "n_events": [len(right_pdf)],
            }
        )

    cogrouped = (
        orders.groupBy("custkey")
        .cogroup(events.groupBy("custkey"))
        .applyInPandas(merge, schema="custkey long, n_orders long, n_events long")
    )
    # restrict to the customer key universe (oracle's `keys` CTE) and fill
    # customers absent from both sides with zeros
    return (
        customer.join(cogrouped, "custkey", "left")
        .select(
            "custkey",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


@query(
    "q_sample",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                     || CAST(l_linenumber AS VARCHAR)), 1, 2) <= '19'
    """,
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic ~10% sample: keep rows whose md5(key) falls in the
    bottom 26/256 of the first-byte space ('00'..'19' hex, 26/256 ≈ 10.2 %).
    Unlike ``df.sample(fraction, seed)`` — whose output depends on the
    engine's RNG *and the partitioning*, so it changes under repartition,
    AQE, or a different executor count — a hash sample is a pure row
    predicate: reproducible across engines, reruns, and any 100 TB layout,
    and it pushes down to the scan like any other filter. This is the
    sampling pattern a production profiling pass should use; the engine's
    native seeded Bernoulli (``.sample()``) remains available but is
    engine-specific by construction. Promoted from rows-only to
    oracle-checked in round 7 (verdict item 6)."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.substring(
        F.md5(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            )
        ),
        1,
        2,
    )
    return li.filter(bucket <= "19").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "q_date_funcs2",
    oracle="""
    SELECT o_orderkey,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           CAST(EXTRACT(week FROM o_orderdate) AS INT) AS week_of_year,
           CAST(EXTRACT(dayofyear FROM o_orderdate) AS INT) AS day_of_year,
           strftime(o_orderdate, '%Y-%m') AS year_month,
           CAST(CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS VARCHAR) AS next_month,
           CAST(greatest(CAST(o_orderdate AS DATE), DATE '1995-06-01') AS VARCHAR) AS clamped
    FROM orders
    """,
)
def q_date_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar surface: last_day / ISO week / day-of-year / formatting /
    month arithmetic / date clamping. DATE outputs are string-cast on both
    sides: DuckDB's pandas bridge widens DATE to datetime64 while Spark
    yields datetime.date — same comparison trap as DECIMAL."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.last_day(d).cast("string").alias("month_end"),
        F.weekofyear(d).cast("int").alias("week_of_year"),
        F.dayofyear(d).cast("int").alias("day_of_year"),
        F.date_format("o_orderdate", "yyyy-MM").alias("year_month"),
        F.add_months(d, 1).cast("string").alias("next_month"),
        F.greatest(d, F.lit("1995-06-01").cast("date")).cast("string").alias("clamped"),
    )


@query(
    "q_json_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           json_valid(props) AS is_valid,
           CAST(json_array_length(json_array(event_id, user_id)) AS INT)
             AS arr_len,
           json_extract_string(
             '{"nested": {"deep": {"v": 42}}}', '$.nested.deep.v') AS deep_v
    FROM events
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON surface: typed extraction, validity probing, arrays, deep paths."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
        F.get_json_object("props", "$").isNotNull().alias("is_valid"),
        F.json_array_length(
            F.to_json(F.array(F.col("event_id"), F.col("user_id")))
        ).cast("int").alias("arr_len"),
        F.get_json_object(
            F.lit('{"nested": {"deep": {"v": 42}}}'), "$.nested.deep.v"
        ).alias("deep_v"),
    )


@query(
    "q_order_nulls",
    oracle="""
    SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS prio
    FROM orders
    WHERE o_orderkey % 13 = 0
    ORDER BY prio NULLS FIRST, o_orderkey
    LIMIT 40
    """,
)
def q_order_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null-ordering semantics: engines default differently (Spark
    ASC = NULLS FIRST, DuckDB ASC = NULLS LAST), so portable ORDER BY over
    nullable keys must spell the placement out — asc_nulls_first here, with
    the unique key as tie-break. The limit keeps the physical plan a
    bounded TakeOrdered."""
    o = _t(spark, sf_dir, "orders")
    prio = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    return (
        o.where(F.col("o_orderkey") % 13 == 0)
        .select("o_orderkey", prio.alias("prio"))
        .orderBy(F.col("prio").asc_nulls_first(), F.col("o_orderkey").asc())
        .limit(40)
    )


@query(
    "q_array_set_ops",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_distinct(string_split(text, ' ')[1:12]) AS a,
             list_distinct(string_split(text, ' ')[7:18]) AS b
      FROM documents WHERE doc_id % 40 = 0
    )
    SELECT doc_id,
           list_sort(list_distinct(list_concat(a, b))) AS union_ab,
           list_sort(list_intersect(a, b)) AS intersect_ab,
           list_sort(list_filter(a, x -> NOT list_contains(b, x)))
             AS except_ab,
           len(list_intersect(a, b)) AS n_common
    FROM t
    """,
)
def q_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (union / intersect / except over token windows):
    the row-local counterpart of the relational set operators, used
    whenever per-row collections need comparing without an explode-join
    round trip. All JVM array expressions; results sorted so both engines
    agree on element order."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    a = F.array_distinct(F.slice(toks, 1, 12))
    b = F.array_distinct(F.slice(toks, 7, 12))
    return (
        d.where(F.col("doc_id") % 40 == 0)
        .select("doc_id", a.alias("a"), b.alias("b"))
        .select(
            "doc_id",
            F.array_sort(F.array_union("a", "b")).alias("union_ab"),
            F.array_sort(F.array_intersect("a", "b")).alias("intersect_ab"),
            F.array_sort(F.array_except("a", "b")).alias("except_ab"),
            F.size(F.array_intersect("a", "b")).cast("long").alias("n_common"),
        )
    )


@query(
    "q_dedup_keep_latest",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
             AS latest_date,
           o_totalprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup — the CDC compaction primitive (multiple
    change rows per key → the newest wins, ties broken by the unique
    key). One row_number window, one shuffle on the entity key; at 100 TB
    this is exactly the nightly snapshot-compaction job, and the unique
    o_orderkey tie-break is what makes its output replayable."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("latest_date"),
            "o_totalprice",
        )
    )


@query(
    "q_json_normalize",
    oracle="""
    SELECT event_id, prop_key,
           json_extract_string(props, '$.' || prop_key) AS prop_value
    FROM (
      SELECT event_id, props, unnest(json_keys(props)) AS prop_key
      FROM events WHERE event_id % 25 = 0
    )
    """,
)
def q_json_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-object normalization: each props object melts into (key, value)
    rows — the semi-structured→relational step feeding property analytics.
    from_json to map<string,string> + explode is row-local fan-out (no
    shuffle); output rows = total keys. The VARIANT path (q_variant_funcs)
    is the parse-once storage answer; this is the reshape answer."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        ev.where(F.col("event_id") % 25 == 0)
        .select("event_id", F.explode(m).alias("prop_key", "prop_value"))
    )


_NOT_IN_SQL = """
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_custkey NOT IN (
      SELECT CASE WHEN c_custkey % 400 = 0 THEN NULL ELSE c_custkey END
      FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_custkey % 400 <> 0
    )
      AND o_orderkey % 11 = 0
"""


@query("q_not_in_nulls", oracle=_NOT_IN_SQL)
def q_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with three-valued logic — the classic correctness trap: one
    NULL in the subquery makes every NOT IN row UNKNOWN (empty result), so
    engines must plan a NULL-AWARE anti join, not a plain LeftAnti. ONE
    shared SQL string is both the Spark query (via the sql_api text door)
    and the DuckDB oracle, so the two parsers' null-semantics are compared
    with no translation in between. The inner CASE/filter pair keeps the
    subquery null-free here (non-vacuous output) while still forcing the
    null-aware plan shape — Spark's NAAJ handles the general case."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _NOT_IN_SQL)


@query(
    "q_setops_all",
    oracle="""
    SELECT c_nationkey, n FROM (
      SELECT c_nationkey, COUNT(*) AS n FROM (
        SELECT c_nationkey FROM customer WHERE c_acctbal > 0
        EXCEPT ALL
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      ) GROUP BY c_nationkey
    )
    UNION ALL
    SELECT -1 - c_nationkey AS c_nationkey, COUNT(*) AS n FROM (
      SELECT c_nationkey FROM customer WHERE c_acctbal > 0
      INTERSECT ALL
      SELECT c_nationkey FROM customer WHERE c_acctbal > 5000
    ) GROUP BY c_nationkey
    """,
)
def q_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (EXCEPT ALL / INTERSECT ALL): bag semantics
    keep duplicate multiplicity, which the DISTINCT variants (q_except /
    q_intersect) destroy — the difference matters whenever rows represent
    countable occurrences rather than identities. Spark plans both as
    aggregate+generate (count per key, replicate the surplus), one shuffle
    each. Results are re-aggregated per nation (intersect rows keyed
    negative) so the output is small and deterministic."""
    c = _t(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0).select("c_nationkey")
    bld = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    ex = pos.exceptAll(bld).groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    ix = (
        pos.intersectAll(rich)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select((-1 - F.col("c_nationkey")).alias("c_nationkey"), "n")
    )
    return ex.unionAll(ix)


@query(
    "q_window_time_range",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_last_hour,
           ROUND(SUM(value) OVER w, 2) AS sum_last_hour
    FROM (SELECT event_id, user_id, epoch(ts) AS tsec, value FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY tsec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing event-time window per row: how many events (and how much
    value) did this user produce in the hour ending at each event — the
    per-row rate-limiting / burst-detection primitive. A RANGE frame over
    epoch seconds makes the bound a true time interval (ROWS frames count
    rows, not time). One shuffle on user_id; frame evaluation is a sliding
    two-pointer over each partition's sort, O(n) amortized."""
    ev = _t(spark, sf_dir, "events")
    tsec = F.col("ts").cast("timestamp").cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(tsec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 2).alias("sum_last_hour"),
    )


@query(
    "q_pivot_multi",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_linestatus = 'F') AS BIGINT) AS f_n,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2)
             AS f_qty,
           CAST(count_if(l_linestatus = 'O') AS BIGINT) AS o_n,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2)
             AS o_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value (count + sum for each
    line status). Spark's pivot(values=[...]) with an explicit value list
    skips the extra distinct-values job AND keeps the plan a single hash
    aggregate over composite columns — same one-exchange contract as any
    groupBy; the oracle writes the equivalent manual CASE pivots."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
    )
    return p.select(
        "l_returnflag",
        F.col("F_n").alias("f_n"),
        F.col("F_qty").alias("f_qty"),
        F.col("O_n").alias("o_n"),
        F.col("O_qty").alias("o_qty"),
    )


@query(
    "q_pagination",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-free pagination (page 3 of 20 by price): ORDER BY + OFFSET +
    LIMIT. Spark executes offset+limit as a single bounded collect-limit
    over the sort — fine for UI-page offsets; deep pagination at 100 TB
    should switch to keyset predicates (WHERE price < last_seen), which
    this plan's sort pushdown makes equivalent. The unique o_orderkey
    tie-break makes the page deterministic."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(40)
        .limit(20)
    )


@query(
    "q_values_lookup",
    oracle="""
    SELECT e.event_type, v.category, COUNT(*) AS n,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e
    JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
                 ('purchase', 'revenue'), ('signup', 'growth'),
                 ('error', 'health')) AS v(event_type, category)
      ON e.event_type = v.event_type
    GROUP BY e.event_type, v.category
    """,
)
def q_values_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal lookup-table enrichment: a 5-row in-memory VALUES relation
    broadcast onto the fact scan — the idiomatic way to attach small
    business mappings without a storage round-trip. createDataFrame puts
    the literals in the plan; the broadcast is trivially sized."""
    ev = _t(spark, sf_dir, "events")
    mapping = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("signup", "growth"),
            ("error", "health"),
        ],
        "event_type string, category string",
    )
    return (
        ev.join(F.broadcast(mapping), "event_type")
        .groupBy("event_type", "category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "q_agg_misc",
    oracle="""
    SELECT l_returnflag,
           mode(l_linestatus) AS modal_status,
           ROUND(median(l_quantity), 2) AS median_qty,
           bool_and(l_quantity > 0) AS all_positive,
           bool_or(l_discount > 0.09) AS any_big_discount,
           CAST(count_if(l_tax = 0) AS BIGINT) AS n_taxfree
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The long tail of the standard aggregate surface in one query: modal
    value, exact median, universally/existentially quantified booleans,
    conditional counting. mode/median hold per-group value buffers (the
    sort-based exact forms — percentile_approx/countmin are the sketch
    paths at 100 TB); bool_and/bool_or/count_if are constant-state and
    map-side combinable. Mode ties: l_linestatus has a unique winner per
    returnflag group in this data, so both engines agree without a
    tie-break convention."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.mode("l_linestatus").alias("modal_status"),
        F.round(F.median("l_quantity"), 2).alias("median_qty"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_discount"),
        F.count_if(F.col("l_tax") == 0).alias("n_taxfree"),
    )


@query(
    "q_try_funcs",
    oracle="""
    SELECT event_id,
           CASE WHEN (value - 50.0) = 0 THEN NULL
                ELSE ROUND(value / (value - 50.0), 6) END AS safe_ratio,
           TRY_CAST(event_type AS BIGINT) AS bad_number,
           TRY_CAST('2024-13-45' AS TIMESTAMP) IS NULL AS bad_ts_null,
           CASE WHEN len(string_split(event_type, '_')) >= 3
                THEN string_split(event_type, '_')[3] END AS third_part
    FROM events
    """,
)
def q_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe surface: try_divide / try_cast /
    try_to_timestamp / try_element_at return NULL where strict ANSI
    evaluation would raise (÷0, bad casts, out-of-bounds). This is the
    dirty-data discipline Spark 4 requires — ANSI is on by default, so
    every ingest path over untrusted values routes through try_*; the
    oracle spells out the equivalent NULL-guard CASE semantics."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(F.try_divide(F.col("value"), F.col("value") - 50.0), 6).alias(
            "safe_ratio"
        ),
        F.col("event_type").try_cast("bigint").alias("bad_number"),
        F.try_to_timestamp(F.lit("2024-13-45")).isNull().alias("bad_ts_null"),
        F.try_element_at(F.split("event_type", "_"), F.lit(3)).alias("third_part"),
    )


@query(
    "q_interval_funcs",
    oracle="""
    SELECT event_id,
           CAST(ts + INTERVAL 90 MINUTE AS VARCHAR) AS deadline,
           CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS week_start,
           date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since,
           CAST(ts - INTERVAL 1 DAY AS VARCHAR) AS yesterday_same_time
    FROM events
    """,
)
def q_interval_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic over (NTZ) timestamps: +90 minutes, week
    truncation, day deltas against an epoch date, −1 day. Naive timestamps
    make the arithmetic timezone-free and identical across engines;
    results are string-cast (pandas-bridge widening, as q_date_funcs2)."""
    ev = _t(spark, sf_dir, "events")
    ts = F.col("ts")
    return ev.select(
        "event_id",
        (ts + F.expr("INTERVAL 90 MINUTES")).cast("string").alias("deadline"),
        F.date_trunc("week", ts).cast("date").cast("string").alias("week_start"),
        F.datediff(ts.cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "days_since"
        ),
        (ts - F.expr("INTERVAL 1 DAY")).cast("string").alias(
            "yesterday_same_time"
        ),
    )


@query(
    "q_string_agg",
    oracle="""
    SELECT c_nationkey,
           string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment)
             AS segments,
           COUNT(*) AS n
    FROM customer
    GROUP BY c_nationkey
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered group-concatenation (LISTAGG/STRING_AGG): distinct segments
    per nation joined '|'-separated in sorted order — sort_array makes the
    concatenation order deterministic, which is what makes a group-concat
    oracle-checkable at all. collect_set state is bounded by segment
    cardinality (5), not group size."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(
            F.sort_array(F.collect_set("c_mktsegment")), "|"
        ).alias("segments"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_posexplode",
    oracle="""
    SELECT doc_id,
           generate_subscripts(toks, 1) - 1 AS pos,
           unnest(toks) AS token
    FROM (
      SELECT doc_id, string_split(text, ' ')[1:8] AS toks
      FROM documents WHERE doc_id % 50 = 0
    )
    """,
)
def q_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explosion: each of the first 8 tokens with its 0-based
    position (posexplode ≡ unnest + generate_subscripts). Row-local fan-out
    — no shuffle, output bounded by 8×rows."""
    d = _t(spark, sf_dir, "documents")
    toks = F.slice(F.split("text", " "), 1, 8)
    return (
        d.filter(F.col("doc_id") % 50 == 0)
        .select("doc_id", F.posexplode(toks).alias("pos", "token"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "token")
    )


@query(
    "q_join_bucketed",
    oracle="""
    WITH dim AS (
      SELECT user_id, COUNT(*) AS n_events, user_id % 10 AS segment
      FROM events GROUP BY user_id
    )
    SELECT d.segment,
           COUNT(*) AS n_rows,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY d.segment
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables (sinks/bucketed.py): both sides
    written bucketed+sorted on user_id, so the join runs with NO exchange
    on either side — bucketing pre-pays the shuffle once at write time,
    the canonical answer to a fact⋈dim join that would otherwise shuffle
    100 TB per run. Here the dim side is small enough that AQE may still
    choose broadcast (equally shuffle-free); the bucket-aligned SortMerge
    plan is pinned down in tests/test_plans.py with broadcast disabled.
    The bucketed copies are built once per process and keyed on the source
    parquet's identity, so regenerated testdata re-buckets."""
    from ..sinks.bucketed import ensure_bucketed

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    sig = source_identity(sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events")).select(
        "user_id", "n_events", (F.col("user_id") % 10).alias("segment")
    )
    b_ev = ensure_bucketed(spark, ev, "events_by_user", "user_id", sig=sig)
    b_dim = ensure_bucketed(spark, dim, "userdim_by_user", "user_id", sig=sig)
    return (
        b_ev.join(b_dim, "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "q_variant_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_typed,
           json_extract_string(props, '$.tag') AS tag_str,
           lower(json_type(json(props))) AS top_type
    FROM events
    """,
)
def q_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: parse_json into the binary semi-structured
    VARIANT type, then typed variant_get path extraction and schema_of
    probing. VARIANT keeps a parsed binary form — repeated path access does
    NOT re-tokenize the JSON text the way get_json_object does, which is
    the 100 TB answer to heavily-probed semi-structured columns (parse
    once at ingest, store VARIANT in parquet, prune paths at scan). The
    oracle reads the same values through DuckDB's JSON functions — the
    driver gate checks value semantics, not storage encoding."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_typed"),
        F.variant_get(v, "$.tag", "string").alias("tag_str"),
        # schema_of_variant prints the full nested schema (OBJECT<k: BIGINT>);
        # keep only the leading type token to align with DuckDB's json_type
        F.regexp_extract(
            F.lower(F.expr("schema_of_variant(parse_json(props))")), r"^(\w+)", 1
        ).alias("top_type"),
    )


@query(
    "q_join_nullsafe",
    oracle="""
    WITH l AS (
      SELECT o_orderkey, NULLIF(o_orderpriority, '3-MEDIUM') AS prio
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    r AS (
      SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS prio, COUNT(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT l.o_orderkey, l.prio, r.n
    FROM l JOIN r ON l.prio IS NOT DISTINCT FROM r.prio
    """,
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing — the semantics CDC merge keys and
    nullable dimension keys need. Still hash-partitionable (NULL is just
    one more key value), so it keeps the broadcast/shuffle hash join
    physicals — no fallback to nested-loop."""
    o = _t(spark, sf_dir, "orders")
    prio = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
    left = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", prio.alias("prio")
    )
    right = o.select(prio.alias("prio")).groupBy("prio").agg(
        F.count(F.lit(1)).alias("n")
    )
    return left.join(
        F.broadcast(right), left.prio.eqNullSafe(right.prio)
    ).select(left.o_orderkey, left.prio, right.n)


@query(
    "q_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 1 AS with_low_bit,
           xor(o_orderkey, 21845) AS xored,
           o_orderkey << 2 AS shifted_left,
           o_orderkey >> 3 AS shifted_right,
           CAST(bit_count(o_orderkey) AS INT) AS n_bits
    FROM orders
    """,
)
def q_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator surface (the partitioner/bucketing primitives)."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(1)).alias("with_low_bit"),
        k.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(k, 2).alias("shifted_left"),
        F.shiftright(k, 3).alias("shifted_right"),
        F.bit_count(k).alias("n_bits"),
    )


@query(
    "q_agg_filtered",
    oracle="""
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 0), 2)
             AS urgent_total
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates: count_if / bool_and / bool_or / FILTER-style
    conditional sums."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.round(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")
                    )
                ),
                F.lit(0.0),
            ),
            2,
        ).alias("urgent_total"),
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND(l_discount * 100) AS BIGINT)) AS DOUBLE)
             / 10000 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure scan-filter-aggregate — the
    query where predicate pushdown and vectorized scanning are everything.
    Decimal aggregation for order-independent exactness at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        (
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * F.round(F.col("l_discount") * 100).cast("long")
            ).cast("double")
            / 10000
        ).alias("revenue")
    )


_TPCH_Q4_SQL = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-07-01'
      AND o.o_orderdate < TIMESTAMP '1995-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
"""


@query("q_tpch_q4", oracle=_TPCH_Q4_SQL)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking) through the SQL-text door: ONE
    dialect-portable string is both the registered Spark query and the DuckDB
    oracle, so the comparison certifies the parser+planner path end-to-end.
    Catalyst rewrites the correlated EXISTS into the same left-semi join with
    a residual inequality that the previous DataFrame formulation spelled by
    hand (RewritePredicateSubquery)."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _TPCH_Q4_SQL)


def _q_tpch_q4_dataframe_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hand-planned left-semi formulation Q4 originally shipped with —
    kept as the DataFrame twin of the SQL-text door (same plan shape)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-07-01") & (F.col("o_orderdate") < "1995-10-01")
    )
    l = _t(spark, sf_dir, "lineitem")
    semi = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_TPCH_Q12_SQL = """
    SELECT l.l_returnflag AS shipmode_proxy,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-01-01'
      AND l.l_linestatus = 'F'
    GROUP BY l.l_returnflag
    """


@query("q_tpch_q12", oracle=_TPCH_Q12_SQL)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes & priority): join + conditional
    aggregation (CASE inside SUM). The synthetic schema lacks l_shipmode, so
    l_returnflag stands in as the grouping proxy.

    Rides the SQL-TEXT door: the identical dialect-portable string is
    the engine query (spark.sql) and the DuckDB oracle (sql_api.py) —
    the strongest differential form, with no translation step."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _TPCH_Q12_SQL)

# ---------------------------------------------------------------------------
# TPC-H composites, second batch (Q7/Q8/Q13/Q14/Q15/Q17/Q18/Q19/Q21/Q22
# shapes, adapted to the synthetic schema: no partsupp / l_shipmode /
# c_phone / p_container columns — proxies keep each query's PLAN shape:
# self-joined dims, disjunctive pushdown, correlated scalar subqueries,
# semi/anti joins, having-subqueries).
# ---------------------------------------------------------------------------


@query(
    "q_tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) / 10000 AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
                 CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * CAST(ROUND((1 - l.l_discount) * 100) AS BIGINT) AS volume
          FROM supplier s
          JOIN lineitem l ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                 AND TIMESTAMP '1997-12-31') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): nation self-joined twice (both broadcast),
    disjunctive nation-pair predicate evaluated post-join, year rollup."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31 23:59:59")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            # exact integer grid (cents x discount-pct): the per-pair-year
            # float sum crosses the 4-dp grid by ~sf10 (money-sum
            # discipline, q_agg_group)
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * F.round((1 - F.col("l_discount")) * 100).cast("long")
                ).cast("double")
                / 10000
            ).alias("revenue")
        )
    )


def _broadcast_if_small(df: DataFrame, cap_rows: int = 16_000_000) -> DataFrame:
    """Size-ADAPTIVE build-side selection for slim (keys + one attribute)
    relations: broadcast iff an exact driver-side count says the hashed
    build fits comfortably in executor memory (16 M rows × ~16 B ≈ 256 MB),
    else leave the join to AQE's shuffle strategies.

    This is the explicit form of what catalog statistics give a CBO.
    Catalyst's 10 MB autoBroadcast estimate is taken from file sizes of the
    UNFILTERED scan, so a 16.7 %-selective dim filter (q8's ECONOMY part
    keys: 3.3 M rows = 26 MB at sf100) never qualifies even though
    broadcasting it removes a fact-table-sized exchange; and a blanket
    session-wide threshold raise would gamble every other join. The count
    costs one column-pruned scan of the dim (sub-second at any SF that can
    possibly pass the cap) and buys the fact-side shuffle; past the cap —
    e.g. the true-100 TB design point where the key set itself is
    executor-sized — the plan degrades to exactly what it was before.

    The count is MEMOIZED per (application, logical plan): query builds are
    deterministic, so a bench best-of-2 or a plan-shape test that rebuilds
    the same query pays the counting job once, not per build. Keyed by the
    session's applicationId (unique per SparkContext lifetime — unlike
    id(session), which CPython reuses after a stopped session is collected)
    plus Catalyst's semanticHash (plan identity, not object identity), and
    bounded so long sessions cannot grow it without limit. Plan identity is
    NOT data identity: the memo assumes the plan's inputs are immutable for
    the application's lifetime, which holds here because every gated plan
    reads driver-written sf_dir parquet that is never rewritten in-place."""
    key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    n = _BROADCAST_COUNT_CACHE.get(key)
    if n is None:
        n = df.count()
        if len(_BROADCAST_COUNT_CACHE) > 4096:
            _BROADCAST_COUNT_CACHE.clear()
        _BROADCAST_COUNT_CACHE[key] = n
    return F.broadcast(df) if n <= cap_rows else df


#: (applicationId, plan semanticHash) -> row count; see _broadcast_if_small.
_BROADCAST_COUNT_CACHE: dict[tuple[str, int], int] = {}


@query(
    "q_tpch_q8",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM (SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume,
                 n2.n_name AS nation
          FROM part p
          JOIN lineitem l ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
          JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
          JOIN region r ON n1.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'AMERICA'
            AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                                  AND TIMESTAMP '1996-12-31'
            AND p.p_type = 'ECONOMY') all_nations
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): 8-way join with region gating the
    customer nation and a second nation lookup naming the supplier side;
    conditional share = SUM(CASE)/SUM.

    Shuffle-byte discipline (round-7, after the sf100 spill-regime study in
    evidence/SCALE.md): the lineitem⋈orders join is the query's largest
    shuffle, so both of its inputs are REDUCED FIRST —

    * orders is semi-join-reduced by the AMERICA customer set BEFORE the big
      join (region ⋈ nation broadcast onto customer, then orders ⋈ that key
      set): the window filter keeps ~30 % of orders and AMERICA keeps ~20 %
      of customers, so ~6 % of orders enter the orderkey shuffle instead of
      30 % — the same join work the original plan did AFTER the monster
      join, moved where it pays.
    * every shuffled row is pre-projected to the minimum: orders →
      (o_orderkey, o_year int) with year() computed map-side; lineitem →
      (l_orderkey, nation, volume) with the price×(1−disc) product folded
      to ONE double before the exchange; part enters as a keys-only LEFT
      SEMI build (p_partkey is unique, so semi ≡ inner here).

    Build-side strategy (round-7b, after the sf100 re-measure still showed
    an 18.5× decade on the partkey exchange): the part key set and the
    (s_suppkey, nation) projection are slim relations whose FILTERED size
    Catalyst cannot see (its 10 MB estimate uses unfiltered file sizes), so
    both go through _broadcast_if_small — an exact driver-side count
    broadcasts them while the hashed build fits (3.3 M part keys = 26 MB at
    sf100, removing the 600 M-row × 19 GB lineitem shuffle AND its sort;
    1 M suppliers = 16 MB, removing the suppkey exchange), and degrades to
    the old shuffle plan past the cap — a HARD hint here would OOM at the
    true-100 TB key counts, which is why round-7a declined it.
    """
    p_keys = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select("s_suppkey", "nation")
    )
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    c_am = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                n1.join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
            ),
            F.col("c_nationkey") == F.col("n1_key"),
        )
        .select("c_custkey")
    )
    o_am = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between("1995-01-01", "1996-12-31 23:59:59"))
        .select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
        .join(c_am, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_year")
    )
    return (
        l.join(
            _broadcast_if_small(p_keys),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .join(_broadcast_if_small(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("l_orderkey", "nation", "volume")
        .join(o_am, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("nation") == "NATION_1", F.col("volume")).otherwise(
                        0.0
                    )
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                            AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey) c_orders
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): left outer join with a
    residual predicate ON the join (not a post-filter — customers with zero
    qualifying orders must survive with count 0), double aggregation.
    o_orderpriority stands in for the comment NOT LIKE filter."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_TPCH_Q14_SQL = """
    SELECT ROUND(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                               THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                                    * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
                               ELSE 0 END) AS DOUBLE) * 100
                 / CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
                        AS DOUBLE), 6)
           AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate < TIMESTAMP '1996-10-01'
"""


@query("q_tpch_q14", oracle=_TPCH_Q14_SQL)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect) through the SQL-text door: one portable
    string is both the Spark query and the DuckDB oracle. Month-sliced join
    + conditional ratio aggregate in one pass (no second scan for the
    denominator). Both ratio legs accumulate on the exact integer grid
    (cents × discount-pct, BIGINT) so the sums are order-independent at any
    SF; each leg is EXPLICITLY cast to DOUBLE before the division, because a
    bare `100.0 *` literal is DECIMAL(3,1) in DuckDB but DOUBLE in Spark —
    the decimal path keeps more precision than double and the 6-dp round
    diverges once the sums are large enough (caught by the sf10 study;
    invisible at sf0.01). With both operands the same exact integer cast the
    same way, the division is bit-identical on both engines."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _TPCH_Q14_SQL)


@query(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_grid
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rev_grid AS DOUBLE) / 10000 AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.rev_grid = (SELECT MAX(rev_grid) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarter revenue per supplier reused twice —
    once for the global MAX (broadcast scalar), once for the equality filter.
    Revenue accumulates on the exact integer grid (cents × discount-pct =
    1e-4 dollars, a BIGINT), so the MAX-equality is exact at ANY scale — a
    float sum here is order-dependent and the round-then-compare trick that
    held to ~sf10 breaks when per-supplier sums cross 2^53-ULP territory.
    The dollar value is derived from the grid once, after the compare."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    grid = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(grid).alias("rev_grid")
    )
    top = revenue.agg(F.max("rev_grid").alias("_max_rev"))
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(top), F.col("rev_grid") == F.col("_max_rev"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_grid").cast("double") / 10000).alias("total_revenue"),
        )
    )


@query(
    "q_tpch_q17",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 700 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_threshold
          FROM lineitem GROUP BY l_partkey) t ON t.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_size < 5
      AND l.l_quantity < t.qty_threshold
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated scalar subquery
    (per-part 20% of avg quantity) decorrelated into an aggregate + join —
    the standard rewrite every optimizer applies; p_size stands in for
    p_container. The price sum rides the exact integer cents grid (BIGINT),
    divided down once at the end, so the global sum is order-independent at
    any SF; the per-part AVG threshold stays float — its group is O(lines
    per part), bounded by the TPC-H ratio, not by SF."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 5)
    )
    # Per-part averages are computed ONLY over lines of the filtered parts:
    # the brand+size filter keeps ~0.28 % of part, and semi-reducing
    # lineitem by those keys BEFORE the threshold aggregate does not change
    # any surviving group's average — it just stops shuffling the other
    # 99.7 % of lineitem into a groupBy whose groups get thrown away at the
    # join (the sf100 study's 11.6x decade was exactly that exchange).
    # count-gated like q8/q9/q20: the filtered key set grows linearly with
    # SF, so a HARD broadcast hint would gamble executor memory at the
    # 100 TB design point — _broadcast_if_small degrades to AQE's shuffle
    # strategies past the cap.
    p_keys = _broadcast_if_small(p.select("p_partkey"))
    l_red = l.join(
        p_keys,
        F.col("p_partkey") == F.col("l_partkey"),
        "left_semi",
    )
    thresholds = l_red.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        l_red.join(_broadcast_if_small(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresholds, F.col("t_partkey") == F.col("p_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((F.sum(cents).cast("double") / 700).alias("avg_yearly"))
    )


@query(
    "q_tpch_q18",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): HAVING-subquery as an aggregate →
    left-semi join (the IN list is itself an aggregation, so it must
    materialize before probing), then the reporting join + top-100.

    Scale shape (the round-7 sf100 study's 11.7×/decade was this): the
    reporting SUM(l_quantity) groups per ORDER — it is the SAME aggregate
    the HAVING subquery already computed, so the classic plan's second
    pass over lineitem (join it back, re-sum it) is pure waste. Here the
    HAVING aggregate is computed once WITH its sum kept, and the
    big-order rows (a few per million orders) just join orders and
    customer. One lineitem scan, one slim (orderkey, qty) shuffle with
    map-side combine, then broadcast joins: ``big`` is a SHUFFLE output,
    so AQE holds its exact runtime size and broadcasts it without help —
    an eager _broadcast_if_small count would execute the 600 M-row
    aggregate a second time just to learn what AQE knows for free
    (measured +90 s at sf100; count-gating is for filtered SCANS, whose
    size the planner can only estimate from unfiltered files)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 300)
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("_qty"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "q_tpch_q18_bucketed",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 on a lineitem PRE-BUCKETED by l_orderkey (round-8 verdict
    item 5) — the provisioning a real 100 TB deployment would choose for a
    fact table whose hottest aggregate groups on its natural key: the
    write pre-pays the (orderkey, qty) shuffle ONCE (sinks/bucketed.py),
    and every subsequent Q18-class run computes the HAVING aggregate
    exchange-free — the bucketed scan already satisfies the hash
    distribution HashAggregate needs, so the 600 M-row-at-sf100 stage
    that q_tpch_q18's slim shuffle still pays disappears from the
    recurring cost entirely (plan pinned exchange-free in
    tests/test_plans.py).

    The big-order set (a few rows per million orders) is explicitly
    broadcast into the reporting joins: without a shuffle stage there is
    no AQE runtime size for it, and the planner's file-size estimate of
    an aggregate over a fact-sized bucketed scan would demote the join to
    a fact-sized SMJ — the hint states what the HAVING filter guarantees.
    8 buckets on test data; thousands (one bucket ≈ one task's memory) at
    100 TB. The bucketed copy is keyed on the source parquet's identity,
    so regenerated testdata re-buckets, and repeat runs in one process
    reuse the write — the amortization argument, paid once per process
    here (a production table would be written once and kept)."""
    from ..sinks.bucketed import ensure_bucketed

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    bl = ensure_bucketed(
        spark, l, "lineitem_by_order", "l_orderkey",
        sig=source_identity(sf_dir, "lineitem"),
    )
    big = (
        bl.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 300)
    )
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("_qty"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "q_tpch_q19",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000 AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): three-way disjunctive predicate mixing
    columns from BOTH sides of the join. Catalyst derives the per-side
    implied disjuncts and pushes them to both scans (brand/size to part,
    quantity to lineitem) — but join-strategy selection still sees the
    UNFILTERED part statistics, so past ~sf10 the 10 MB default threshold
    demotes the join to SortMergeJoin and the whole quantity-filtered
    lineitem shuffles (measured 21.7× for 10× data at sf100: disk-spill
    regime). The implied part filter keeps ~3.6 % of the table (3/25
    brands × sizes ≤ 15 of 50) at EVERY scale factor, so the filtered dim
    is explicitly broadcast — the fact side then never shuffles at all:
    scan → broadcast probe → partial agg, the only shape that survives
    100 TB. (~50 MB serialized at sf100; same explicit-broadcast call as
    q_tpch_q17's filtered part.) Revenue accumulates on the exact integer
    grid (cents × discount-pct), order-independent at any SF."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    p_implied = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15))
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    grid = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        l.join(
            F.broadcast(p.filter(p_implied)),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .filter(cond)
        .agg((F.sum(grid).cast("double") / 10000).alias("revenue"))
    )


@query(
    "q_tpch_q21",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND n.n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): correlated EXISTS
    → left-semi, correlated NOT EXISTS → left-anti, both with non-equi
    residuals (suppkey <>). l_returnflag='R' proxies the late-receipt
    predicate (schema has no commit/receipt dates)."""
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    l = _t(spark, sf_dir, "lineitem")
    l1 = l.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l1_orderkey"),
        F.col("l_suppkey").alias("l1_suppkey"),
    )
    l2 = l.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = l.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey")
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l2_orderkey") == F.col("l1_orderkey"))
            & (F.col("l2_suppkey") != F.col("l1_suppkey")),
            "left_semi",
        ).join(
            l3,
            (F.col("l3_orderkey") == F.col("l1_orderkey"))
            & (F.col("l3_suppkey") != F.col("l1_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(o, F.col("o_orderkey") == F.col("l1_orderkey"))
        # supplier scales with SF — no hard broadcast hint (AQE decides);
        # the single-nation filter table stays hinted (constant 25 rows).
        .join(s, F.col("s_suppkey") == F.col("l1_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q_tpch_q22",
    oracle="""
    SELECT c.c_nationkey AS cntrycode, COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                         WHERE c_acctbal > 0.0
                           AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): uncorrelated scalar AVG
    (broadcast), anti join against RECENT orders (customers dormant since
    2000 — every synthetic customer has some order, so the pure
    never-ordered predicate is vacuous). c_nationkey proxies the phone
    country code (schema has no c_phone)."""
    codes = [1, 3, 5, 7, 9, 11, 13]
    c = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(codes))
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# breadth round 2: unpivot, map/struct expression batteries, distribution
# windows
# ---------------------------------------------------------------------------


@query(
    "q_unpivot",
    oracle="""
    SELECT l_returnflag, metric, val FROM (
      SELECT l_returnflag,
             ROUND(SUM(l_quantity), 2) AS sum_qty,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS sum_price,
             ROUND(AVG(l_discount), 6) AS avg_disc
      FROM lineitem GROUP BY l_returnflag
    ) UNPIVOT (val FOR metric IN (sum_qty, sum_price, avg_disc))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (unpivot/melt): aggregate first, then turn the
    metric columns into (metric, val) rows — the standard shape for feeding
    generic metric stores. DataFrame.unpivot is a zero-shuffle Expand node;
    doing it AFTER the aggregate keeps the exploded rowcount at
    groups×metrics instead of rows×metrics."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        # exact integer cents: per-flag price sums cross the 2-dp grid's
        # float-error margin as SF grows (money-sum discipline, q_agg_group)
        (F.sum(cents).cast("double") / 100).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "avg_disc"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "q_map_funcs",
    oracle="""
    SELECT o_orderkey,
           ['priority', 'status'] AS ks,
           2 AS n_entries,
           o_orderstatus AS status_val,
           lower(o_orderpriority) AS priority_lower,
           CAST(o_totalprice AS VARCHAR) AS price_txt,
           3 AS n_merged
    FROM orders
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map expression battery: map_from_arrays construction, map_keys
    (sorted for engine-independence), size, element_at lookup,
    transform_values (higher-order rewrite), map_concat merge. The oracle
    states the algebraically-expected outputs directly, so any deviation in
    Spark's map semantics surfaces as a hash mismatch. All row-local
    expressions — no shuffle, fully codegen-able."""
    o = _t(spark, sf_dir, "orders")
    m = F.map_from_arrays(
        F.array(F.lit("status"), F.lit("priority")),
        F.array(F.col("o_orderstatus"), F.col("o_orderpriority")),
    )
    lowered = F.transform_values(m, lambda k, v: F.lower(v))
    merged = F.map_concat(
        m, F.create_map(F.lit("price"), F.col("o_totalprice").cast("string"))
    )
    return o.select(
        "o_orderkey",
        F.array_sort(F.map_keys(m)).alias("ks"),
        F.size(m).alias("n_entries"),
        F.element_at(m, "status").alias("status_val"),
        F.element_at(lowered, "priority").alias("priority_lower"),
        F.element_at(merged, "price").alias("price_txt"),
        F.size(merged).alias("n_merged"),
    )


@query(
    "q_struct_funcs",
    oracle="""
    SELECT c_nationkey, top_bal, top_key, top_bal * 2 AS dbl_bal FROM (
      SELECT c_nationkey, c_acctbal AS top_bal, c_custkey AS top_key,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
      FROM customer)
    WHERE rn = 1
    """,
)
def q_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct expression battery: struct construction, lexicographic struct
    MAX as an argmax aggregate (the classic 'top row per group without a
    window' trick — a plain hash aggregate, cheaper than rank-and-filter at
    scale), withField derivation, and field access. Struct MAX ties on bal
    resolve to the highest custkey, mirrored by the oracle's DESC, DESC
    row_number."""
    c = _t(spark, sf_dir, "customer")
    top = c.groupBy("c_nationkey").agg(
        F.max(
            F.struct(
                F.col("c_acctbal").alias("bal"), F.col("c_custkey").alias("key")
            )
        ).alias("top")
    )
    enriched = top.withColumn(
        "top", F.col("top").withField("dbl", F.col("top.bal") * 2)
    )
    return enriched.select(
        "c_nationkey",
        F.col("top.bal").alias("top_bal"),
        F.col("top.key").alias("top_key"),
        F.col("top.dbl").alias("dbl_bal"),
    )


@query(
    "q_window_ntile",
    oracle="""
    SELECT c_nationkey, c_custkey,
           NTILE(4) OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quartile assignment via ntile — bucketing customers by
    balance within each nation. Partitioned by nation so the sort
    parallelizes across groups (a GLOBAL ntile would serialize on one
    partition at 100 TB); c_custkey tiebreak totalizes the order."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_nationkey", "c_custkey", F.ntile(4).over(w).alias("quartile")
    )


@query(
    "q_window_dist",
    oracle="""
    SELECT c_nationkey, c_custkey,
           FLOOR(PERCENT_RANK() OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal, c_custkey)
                 * 1000000 + 0.5) / 1000000 AS pct_rank,
           FLOOR(CUME_DIST() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal, c_custkey)
                 * 1000000 + 0.5) / 1000000 AS cume
    FROM customer
    """,
)
def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: percent_rank ((rank-1)/(n-1)) and cume_dist
    (rank_hi/n) within nation — the building blocks for percentile-based
    quality cuts. Rounded via floor(x·1e6 + 0.5)/1e6 in BOTH engines:
    ratios like 333/640 = 0.5203125 are exact round-to-6 TIES, where
    engine ROUND implementations legitimately disagree (decimal half-up vs
    half-even); the floor formula is a pure double computation that is
    bitwise-identical on identical inputs."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")

    def r6(col):
        return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return c.select(
        "c_nationkey",
        "c_custkey",
        r6(F.percent_rank().over(w)).alias("pct_rank"),
        r6(F.cume_dist().over(w)).alias("cume"),
    )


# ---------------------------------------------------------------------------
# SQL-text entry point: one dialect-portable string is both the engine query
# (spark.sql) and the oracle (DuckDB) — see sql_api.py
# ---------------------------------------------------------------------------

_TPCH_Q5_SQL = """
    SELECT n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
             / 10000 AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
"""


@query("q_tpch_q5", oracle=_TPCH_Q5_SQL)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume), run through the SQL-TEXT entry
    point: the exact oracle string executes via spark.sql over temp views —
    no DataFrame translation at all, so parser/analyzer/Catalyst handle the
    6-way star join directly (join reordering + AQE pick the physical
    order; nation/region are broadcast by size). Revenue aggregates on the
    exact integer grid (cents x discount-pct), same money discipline as
    q_agg_group. The l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    correlation is what makes Q5 the canonical join-order stress test."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, _TPCH_Q5_SQL)


@query(
    "q_tpch_q9",
    oracle="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
             / 10000 AS sum_profit
    FROM part, supplier, lineitem, orders, nation
    WHERE s_suppkey = l_suppkey
      AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey
      AND s_nationkey = n_nationkey
      AND p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): the 5-way
    join fanning lineitem out to part (filtered by name pattern), supplier,
    orders, nation, grouped on (nation, order-year). Profit proxies to
    revenue — testdata has no partsupp, so the ps_supplycost·l_quantity
    term is omitted (shape preserved, documented divergence like the other
    proxied TPC-H columns). Plan shape: the p_name filter prunes part
    before its join (predicate pushdown), nation broadcasts (constant 25
    rows), the three fact-side joins shuffle on their keys — no hints, AQE
    picks build sides by runtime size."""
    rev_grid = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (1 - F.col("l_discount")) * 100
    ).cast("long")
    # Shuffle-byte discipline (round-7, evidence/SCALE.md): the revenue
    # product folds to ONE long map-side (replacing two shuffled doubles),
    # part enters keys-only as a LEFT SEMI build (p_partkey unique, semi ≡
    # inner), nation broadcasts onto supplier BEFORE the fact join so the
    # fact rows carry n_name through one exchange fewer, and orders
    # pre-projects to (o_orderkey, o_year int) with year() computed
    # map-side. Round-7b: the part key set and the (s_suppkey, nation)
    # projection go through _broadcast_if_small (see q_tpch_q8) — the
    # count-gated broadcast removes the lineitem-sized partkey and suppkey
    # exchanges while the builds fit, degrades to the shuffle plan past the
    # cap. The orderkey exchange remains: orders carries no selective
    # filter here, so that shuffle is information-theoretically owed.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", rev_grid.alias("rev_grid")
    )
    p_keys = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    n = _t(spark, sf_dir, "nation")
    s = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    return (
        li.join(
            _broadcast_if_small(p_keys),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .join(_broadcast_if_small(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("l_orderkey", "nation", "rev_grid")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", "o_year")
        .agg((F.sum("rev_grid").cast("double") / 10000).alias("sum_profit"))
    )


@query(
    "q_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_view) AS stage_view,
           CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
             AS stage_click,
           CAST(SUM(CASE WHEN t_click > t_view AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
    FROM per_user
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (view → click → purchase): a user advances a stage
    only if the stage's FIRST event happens after the previous stage's
    first event — the standard product-analytics funnel semantics, and the
    bread-and-butter query of the reference's downstream (Amplitude).

    One conditional-MIN aggregate per user (map-side combinable, one
    shuffle on user_id) followed by a scalar rollup — no joins, no
    windows; at 100 TB this is the cheapest possible funnel plan. NULL
    comparisons drop non-participants automatically (t_click > t_view is
    NULL-false when either stage is missing)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    click_ok = F.col("t_click") > F.col("t_view")
    purchase_ok = click_ok & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("stage_view"),
        F.sum(F.when(click_ok, 1).otherwise(0)).alias("stage_click"),
        F.sum(F.when(purchase_ok, 1).otherwise(0)).alias("stage_purchase"),
    )


@query(
    "q_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(time_bucket(INTERVAL 7 DAY, ts, TIMESTAMP '1970-01-01'))
               AS cohort_week
      FROM events
      GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week,
                          time_bucket(INTERVAL 7 DAY, e.ts,
                                      TIMESTAMP '1970-01-01')) / 7 AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users are cohorted by the week of their first
    event; each later active week counts them at its offset — the classic
    retention triangle.

    Two aggregations sharing the user_id partitioning (cohort derivation,
    then the cohort×offset distinct count) joined on user_id. time_bucket/
    window(7 days) keeps both engines on the same epoch-aligned week
    boundaries (to_timestamp week truncation is TZ-sensitive — the
    documented dialect trap)."""
    ev = _t(spark, sf_dir, "events")
    week = F.window("ts", "7 days").getField("start")
    firsts = (
        ev.select("user_id", week.alias("w"))
        .groupBy("user_id")
        .agg(F.min("w").alias("cohort_week"))
    )
    return (
        ev.select("user_id", week.alias("event_week"))
        .join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("event_week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "q_event_transitions",
    oracle="""
    SELECT event_type, next_type, COUNT(*) AS n_transitions
    FROM (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (Markov counts): for each user's time-ordered
    stream, count (event, next-event) pairs — the input to path analysis
    and next-action models. One window shuffle on user_id, then a
    25-cell aggregate; event_id breaks timestamp ties so LEAD is total-
    ordered and engine-independent."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@query(
    "q_data_quality",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_quantity,
           CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS nonpositive_quantity,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS out_of_range_discount,
           CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1995-01-01'
                           OR l_shipdate >= TIMESTAMP '2002-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS out_of_range_shipdate,
           COUNT(DISTINCT l_orderkey * 10 + l_linenumber) AS distinct_line_ids,
           CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 10 + l_linenumber)
                AS BIGINT) AS duplicate_line_ids
    FROM lineitem
    """,
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint profile (deequ-style expectations) computed in
    ONE pass: null counts, range violations, and key-uniqueness over the
    composite line id — every check is a conditional aggregate sharing the
    same scan, so validating N constraints costs one table read regardless
    of N. At 100 TB this is the cheapest possible audit; per-partition
    results combine map-side."""
    li = _t(spark, sf_dir, "lineitem")
    line_id = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias(
            "null_quantity"
        ),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias(
            "nonpositive_quantity"
        ),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
            .otherwise(0)
        ).alias("out_of_range_discount"),
        F.sum(
            F.when(
                (F.col("l_shipdate") < "1995-01-01")
                | (F.col("l_shipdate") >= "2002-01-01"),
                1,
            ).otherwise(0)
        ).alias("out_of_range_shipdate"),
        F.countDistinct(line_id).alias("distinct_line_ids"),
        (F.count(F.lit(1)) - F.countDistinct(line_id)).alias("duplicate_line_ids"),
    )


@query(
    "q_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey,
             c_name,
             ROUND(c_acctbal + 100.0, 2) AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT 1000000000000 + c_custkey, 'new-' || c_name,
             ROUND(c_acctbal, 2), c_mktsegment
      FROM customer WHERE c_custkey % 100 = 7
    )
    SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
           COALESCE(u.c_name, t.c_name) AS c_name,
           COALESCE(u.c_acctbal, ROUND(t.c_acctbal, 2)) AS c_acctbal,
           COALESCE(u.c_mktsegment, t.c_mktsegment) AS c_mktsegment,
           CASE WHEN t.c_custkey IS NULL THEN 'insert'
                WHEN u.c_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM customer t FULL OUTER JOIN updates u USING (c_custkey)
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (the CDC apply step) without a table format: target
    FULL OUTER JOIN updates on the key, update columns coalesce
    update-side-first, and every output row is tagged insert/update/keep.
    The updates here are synthesized deterministically from the target
    (balance bump for key%10=3, brand-new keys for key%100=7 at a 1e12 offset clear of any real custkey at any scale factor) so the merge
    is oracle-checkable.

    Scale: one shuffle join on the merge key — exactly what Delta/Iceberg
    MERGE compiles to before file rewriting; with a bucketed target
    (sinks/parquet_layout.py) the shuffle disappears on the target side.

    Multi-scan note (evidence/double_scan_audit.md): customer is scanned 3×
    here only because the DEMO synthesizes its update feed from the target
    so the oracle can replay it; the two update-branch scans are selective
    (pushed key%N filters) and in any real CDC apply the updates arrive as
    an independent, usually tiny, stream — the merge itself is the single
    target scan + one join."""
    t = _t(spark, sf_dir, "customer")
    u = (
        t.filter(F.col("c_custkey") % 10 == 3)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            t.filter(F.col("c_custkey") % 100 == 7).select(
                (F.col("c_custkey") + 1000000000000).alias("c_custkey"),
                F.concat(F.lit("new-"), F.col("c_name")).alias("c_name"),
                F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
                "c_mktsegment",
            )
        )
    )
    tt = t.alias("t")
    uu = u.alias("u")
    merged = tt.join(uu, on="c_custkey", how="full_outer")
    action = (
        F.when(F.col("t.c_name").isNull(), "insert")
        .when(F.col("u.c_name").isNull(), "keep")
        .otherwise("update")
    )
    return merged.select(
        F.col("c_custkey"),
        F.coalesce(F.col("u.c_name"), F.col("t.c_name")).alias("c_name"),
        F.coalesce(F.col("u.c_acctbal"), F.round(F.col("t.c_acctbal"), 2)).alias(
            "c_acctbal"
        ),
        F.coalesce(F.col("u.c_mktsegment"), F.col("t.c_mktsegment")).alias(
            "c_mktsegment"
        ),
        action.alias("merge_action"),
    )


@query(
    "q_join_salted",
    oracle="""
    SELECT e.event_type, n.n_name AS type_label,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e
    JOIN nation n ON n.n_nationkey = length(e.event_type)
    GROUP BY e.event_type, n.n_name
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join under EXTREME key skew: events carries only 5 distinct
    event types, so the length-derived join key concentrates the whole fact
    table on 4 values — a plain shuffle join lands everything on 4
    reducers. The salted plan splits each hot key across 16 salt buckets
    (deterministic row-hash salt) and replicates the dimension per bucket;
    the aggregate result hash-matches the unsalted oracle exactly (salting
    must never change multiplicity). This registers operators/skew.py's
    salted_join under the correctness gate; q_agg_salted covers the
    aggregation variant."""
    from ..operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").withColumn(
        "join_key", F.length("event_type").cast("long")
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("join_key"),
        F.col("n_name").alias("type_label"),
    )
    joined = salted_join(ev, n, on="join_key", salt_buckets=16)
    return joined.groupBy("event_type", "type_label").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query("q_agg_approx_quantile")  # rows-only: sketch estimates are engine-specific
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style sketch): the constant-memory quantile
    path for 100 TB — q_percentiles' exact buffers hold a whole group in
    memory, the sketch never does. Estimate differs per engine → rows-only
    determinism check."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.9)), 10000
        ).alias("approx_price_quantiles")
    )


@query(
    "q_window_locf",
    oracle="""
    SELECT event_id, user_id,
           last_value(sparse_val IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS filled_val
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN value < 50 THEN NULL ELSE value END AS sparse_val
      FROM events
    )
    """,
)
def q_window_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap filling: last_value IGNORE NULLS
    over a running frame forward-fills sparse sensor-style readings — the
    missing-data pattern every time-series pipeline needs. The synthetic
    sparsity (value<50 → NULL) is deterministic so the fill is
    oracle-checkable; (ts, event_id) totalizes the order."""
    ev = _t(spark, sf_dir, "events")
    sparse = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("value") < 50, None).otherwise(F.col("value")).alias(
            "sparse_val"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return sparse.select(
        "event_id",
        "user_id",
        F.last("sparse_val", ignorenulls=True).over(w).alias("filled_val"),
    )


@query(
    "q_histogram",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 5000) AS BIGINT) AS bucket,
           CAST(FLOOR(l_extendedprice / 5000) AS BIGINT) * 5000.0 AS bucket_lo,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram: fixed-width value buckets as a plain hash
    aggregate — the profiling primitive behind every data-distribution
    dashboard. Bucketing is a codegen'd floor division (no UDF, no
    width_bucket portability trap), and the aggregate combines map-side,
    so the reduce shuffle carries only (n_buckets × partitions) rows at
    any corpus size."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 5000).cast("bigint")
    return (
        li.groupBy(
            bucket.alias("bucket"),
            (bucket * 5000.0).alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
    )


@query(
    "q_interp_linear",
    oracle="""
    WITH sparse AS (
      SELECT event_id, user_id,
             epoch(ts) AS tsec,
             CASE WHEN value < 50 THEN NULL ELSE value END AS sparse_val
      FROM events
    ), neighbors AS (
      SELECT event_id, user_id, tsec, sparse_val,
             last_value(sparse_val IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tsec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
             last_value(CASE WHEN sparse_val IS NOT NULL THEN tsec END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tsec, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
             first_value(sparse_val IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tsec, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
             first_value(CASE WHEN sparse_val IS NOT NULL THEN tsec END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tsec, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
      FROM sparse
    )
    SELECT event_id, user_id,
           ROUND(CASE
             WHEN sparse_val IS NOT NULL THEN sparse_val
             WHEN prev_val IS NULL THEN next_val
             WHEN next_val IS NULL THEN prev_val
             ELSE prev_val + (next_val - prev_val) * (tsec - prev_ts)
                             / (next_ts - prev_ts)
           END, 6) AS interp_val
    FROM neighbors
    """,
)
def q_interp_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing time-series values: each NULL gap is
    filled on the line between its nearest non-null neighbors, weighted by
    timestamp distance — the step up from q_window_locf's flat fill. Two
    window passes (backward + forward) over one partition shuffle; edge
    gaps degrade to nearest-neighbor fill. The timestamp enters the math as
    fractional epoch seconds (Spark CAST(ts AS DOUBLE) ≡ DuckDB epoch(ts)),
    so the arithmetic is bit-reproducible and oracle-checkable at 6
    decimals."""
    ev = _t(spark, sf_dir, "events")
    # ts may scan as TIMESTAMP_NTZ; NTZ→LTZ under the pinned-UTC session is
    # value-preserving and only LTZ casts to DOUBLE (epoch seconds).
    tsec = F.col("ts").cast("timestamp").cast("double")
    sparse = ev.select(
        "event_id",
        "user_id",
        tsec.alias("tsec"),
        F.when(F.col("value") < 50, None).otherwise(F.col("value")).alias(
            "sparse_val"
        ),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("tsec", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("tsec", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    ts_of_val = F.when(F.col("sparse_val").isNotNull(), F.col("tsec"))
    nb = sparse.select(
        "event_id",
        "user_id",
        "tsec",
        "sparse_val",
        F.last("sparse_val", ignorenulls=True).over(w_prev).alias("prev_val"),
        F.last(ts_of_val, ignorenulls=True).over(w_prev).alias("prev_ts"),
        F.first("sparse_val", ignorenulls=True).over(w_next).alias("next_val"),
        F.first(ts_of_val, ignorenulls=True).over(w_next).alias("next_ts"),
    )
    interp = (
        F.when(F.col("sparse_val").isNotNull(), F.col("sparse_val"))
        .when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .otherwise(
            F.col("prev_val")
            + (F.col("next_val") - F.col("prev_val"))
            * (F.col("tsec") - F.col("prev_ts"))
            / (F.col("next_ts") - F.col("prev_ts"))
        )
    )
    return nb.select(
        "event_id", "user_id", F.round(interp, 6).alias("interp_val")
    )


@query(
    "q_join_bloom",
    oracle="""
    SELECT date_trunc('month', o.o_orderdate) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 1000
    GROUP BY 1
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (operators/bloom.py): the fact scan
    is pre-filtered by an 8 KiB bitmap built from the filtered dim keys, so
    only possibly-matching rows enter the join shuffle — the explicit form
    of the runtime row-level filtering a 100 TB fact⋈selective-dim join
    lives on. Bloom false positives are removed by the real join, so the
    result (and the oracle) is exactly the plain join's. Monthly revenue
    rolls up in exact integer cents (money-sum discipline) — per-month sums
    grow with SF, so the float ROUND would eventually flake."""
    from ..operators.bloom import bloom_bits_for, bloom_build, bloom_probe

    orders = _t(spark, sf_dir, "orders")
    dim = _t(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000)
    )
    # Size the bitmap from the table's parquet-FOOTER row count (zero jobs
    # — footers are the catalog statistics; the filtered key count can only
    # be smaller, so the bound is safe): the former fixed 2^16 bits
    # saturated past ~50 k keys, so at sf100 (~2.5 M filtered customers)
    # every probe bit was set, the filter passed everything and the query
    # paid probe compute for nothing — the round-7 study's 10.9×/decade.
    # ~10 bits/key keeps fpp under ~5 % up to the 2^26 cap (8 MiB of word
    # table, still a trivial broadcast).
    from ..sources.tables import table_row_count

    bits = bloom_bits_for(table_row_count(sf_dir, "customer"))
    bloom = bloom_build(dim.select("c_custkey"), "c_custkey", n_bits=bits)
    probed = bloom_probe(orders, "o_custkey", bloom, n_bits=bits)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # the dim side stays a shuffle join ON PURPOSE: customer rows are wide
    # (broadcasting 2.5 M of them at sf100 is a ~0.5 GB gamble the slim-
    # build discipline of _broadcast_if_small exists to avoid), and the
    # bloom's whole job is to make that shuffle cheap by admitting only
    # the ~1/5 of orders that can match (+ ~5 % false positives).
    return (
        probed.join(dim, probed.o_custkey == dim.c_custkey)
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents).cast("double") / 100).alias("revenue"),
        )
    )


@query(
    "q_sessionize",
    oracle="""
    WITH seq AS (
      SELECT event_id, user_id, epoch(ts) AS tsec,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, tsec,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM seq
    )
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           ROUND(MAX(tsec) - MIN(tsec), 3) AS duration_s
    FROM sess
    GROUP BY user_id, session_no
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization the window-cumsum way: a session break is a
    >30 min silence; the running sum of break flags numbers each user's
    sessions. This is the formulation that works on ANY engine surface
    (q_session_window shows Spark's native session_window operator; real
    pipelines need the portable one too, e.g. to reproduce results in a
    warehouse). One partition shuffle on user_id feeds both windows AND the
    final aggregate — Catalyst reuses the clustering, so sessionizing 100 TB
    of events costs exactly one exchange."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts may scan as TIMESTAMP_NTZ; NTZ→LTZ under the pinned-UTC session is
    # value-preserving and only LTZ casts to DOUBLE (epoch seconds).
    tsec = F.col("ts").cast("timestamp").cast("double")
    seq = ev.select(
        "event_id",
        "user_id",
        tsec.alias("tsec"),
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                tsec - F.lag("ts").over(w).cast("timestamp").cast("double")
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("tsec", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = seq.select(
        "user_id", "tsec", F.sum("is_new").over(w_run).alias("session_no")
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.max("tsec") - F.min("tsec"), 3).alias("duration_s"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q2/Q11/Q16/Q20: the four shapes that need partsupp. The fixture set
# has no partsupp table, so both the Spark plan and the DuckDB oracle DERIVE
# the same one deterministically from part × {0..3} with pure integer
# arithmetic (dbgen's 4-suppliers-per-part layout, simplified): identical
# inputs + identical integer expressions → bit-identical tables on both
# sides, so these are full hash-checked oracles, not rows-only. Supply cost
# is carried in integer CENTS so every aggregate over it is exact in
# float64 regardless of summation order.
# ---------------------------------------------------------------------------

# DuckDB side of the derived table ("//" = integer division)
_PARTSUPP_SQL = """
    s_cnt AS (SELECT COUNT(*) AS s FROM supplier),
    ks(k) AS (VALUES (0), (1), (2), (3)),
    partsupp AS (
      SELECT p_partkey AS ps_partkey,
             (p_partkey + k * (s // 4)) % s AS ps_suppkey,
             (p_partkey * 7 + k * 11) % 9999 + 1 AS ps_availqty,
             (p_partkey * 37 + k * 101) % 80000 + 100 AS ps_costcents
      FROM part, ks, s_cnt
    )
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of the derived partsupp: explode a 4-element literal for
    the per-part supplier slots (no join at all) and broadcast the 1-row
    supplier count. Every expression is integer arithmetic mirrored
    verbatim in _PARTSUPP_SQL."""
    part = _t(spark, sf_dir, "part").select("p_partkey")
    s_cnt = (
        _t(spark, sf_dir, "supplier")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    pk, k, s = F.col("p_partkey"), F.col("k"), F.col("s")
    return (
        part.select(
            "p_partkey",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("k"),
        )
        .join(F.broadcast(s_cnt))
        .select(
            pk.alias("ps_partkey"),
            ((pk + k * F.expr("s DIV 4")) % s).alias("ps_suppkey"),
            (((pk * 7 + k * 11) % 9999) + 1).alias("ps_availqty"),
            (((pk * 37 + k * 101) % 80000) + 100).alias("ps_costcents"),
        )
    )


@query(
    "q_tpch_q2",
    oracle="""
    WITH """ + _PARTSUPP_SQL + """
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand,
           ROUND(ps.ps_costcents / 100.0, 2) AS ps_supplycost
    FROM part p
    JOIN partsupp ps ON p.p_partkey = ps.ps_partkey
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE p.p_size = 15 AND r.r_name = 'EUROPE'
      AND ps.ps_costcents = (
        SELECT MIN(ps2.ps_costcents)
        FROM partsupp ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each size-15 part, the
    EUROPE-region supplier(s) offering its minimum supply cost. The
    correlated MIN subquery is a WINDOW MIN over the already-filtered
    region-gated join — one pass, no rejoin of the correlated aggregate;
    dims (supplier⋈nation⋈region, O(suppliers)) broadcast onto the
    derived partsupp. Top-100 by the unique ordering key compiles to
    TakeOrderedAndProject, not a global sort. (Reference scope: this is
    engine-breadth beyond the 233-line reference pipeline.)"""
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15).select(
        "p_partkey", "p_brand"
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sup_eu = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    joined = (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .join(F.broadcast(sup_eu), ps["ps_suppkey"] == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("_min_cents", F.min("ps_costcents").over(w))
        .filter(F.col("ps_costcents") == F.col("_min_cents"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.round(F.col("ps_costcents") / 100.0, 2).alias("ps_supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "q_tpch_q11",
    oracle="""
    WITH """ + _PARTSUPP_SQL + """,
    nat_ps AS (
      SELECT ps.ps_partkey,
             ps.ps_costcents * ps.ps_availqty AS cents
      FROM partsupp ps
      JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_19'
    )
    SELECT ps_partkey, ROUND(SUM(cents) / 100.0, 2) AS value
    FROM nat_ps
    GROUP BY ps_partkey
    HAVING SUM(cents) > (SELECT 0.001 * SUM(cents) FROM nat_ps)
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): per-part inventory value within one
    nation, kept only where it exceeds a fraction of the nation's total.
    The national total is a 1-row aggregate broadcast back over the
    per-part aggregate (same scalar-broadcast contract as Q22); value
    arithmetic stays in integer cents so the HAVING comparison and the
    reported sums are order-independent exact. (Engine breadth beyond the
    reference pipeline.)"""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_19")
    nat_sup = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey"
    )
    nat_ps = ps.join(
        F.broadcast(nat_sup), ps["ps_suppkey"] == F.col("s_suppkey")
    ).select(
        "ps_partkey",
        (F.col("ps_costcents") * F.col("ps_availqty")).alias("cents"),
    )
    per_part = nat_ps.groupBy("ps_partkey").agg(F.sum("cents").alias("_cents"))
    total = nat_ps.agg((F.sum("cents") * F.lit(0.001)).alias("_thresh"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_cents") > F.col("_thresh"))
        .select(
            "ps_partkey",
            F.round(F.col("_cents") / 100.0, 2).alias("value"),
        )
    )


@query(
    "q_tpch_q16",
    oracle="""
    WITH """ + _PARTSUPP_SQL + """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps.ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct supplier count per
    (brand, type, size) bucket, excluding flagged suppliers — the NOT IN
    becomes a broadcast LEFT ANTI join (negative account balance proxies
    the complaints filter; the schema has no s_comment). Brand/type/size
    disjuncts push into the part scan; the distinct count is a two-phase
    partial_count(distinct) aggregate. (Engine breadth beyond the
    reference pipeline.)"""
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin([1, 4, 7, 10, 13, 16, 19, 22])
    )
    flagged = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .join(
            F.broadcast(flagged),
            ps["ps_suppkey"] == flagged["s_suppkey"],
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@query(
    "q_tpch_q20",
    oracle="""
    WITH """ + _PARTSUPP_SQL + """,
    shipped AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN partsupp ps ON ps.ps_suppkey = s.s_suppkey
    JOIN part p ON p.p_partkey = ps.ps_partkey
    JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                   AND sh.l_suppkey = ps.ps_suppkey
    WHERE n.n_name = 'NATION_19' AND p.p_name LIKE 'small%'
      AND ps.ps_availqty > 0.5 * sh.qty
    ORDER BY s.s_name
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in one nation whose
    stock of name-matched parts exceeds half of what they shipped in 1996.
    The correlated quantity subquery is a grouped aggregate of lineitem
    joined back on the (partkey, suppkey) pair — one fact scan + one
    shuffle on the pair key; part/nation filters broadcast. The surviving
    pairs collapse to DISTINCT suppliers (the IN-subquery semi-join
    semantics). (Engine breadth beyond the reference pipeline.)"""
    ps = _partsupp(spark, sf_dir)
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_19")
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    li = _t(spark, sf_dir, "lineitem")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        # only name-matched parts survive the ps join, and dropping the
        # other ~96 % of lines BEFORE the pair-key aggregate leaves every
        # surviving (part, supplier) sum unchanged (q17's discipline)
        .join(
            _broadcast_if_small(p.select("p_partkey")),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    return (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), ps["ps_suppkey"] == s["s_suppkey"])
        .join(
            shipped,
            (ps["ps_partkey"] == shipped["l_partkey"])
            & (ps["ps_suppkey"] == shipped["l_suppkey"]),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("s_suppkey", "s_name")
        .distinct()
    )


@query(
    "q_tpch_q9_full",
    oracle="""
    WITH """ + _PARTSUPP_SQL + """
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
             / 10000
           - CAST(SUM(ps.ps_costcents
                      * CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
             / 10000 AS sum_profit
    FROM part, supplier, lineitem, partsupp ps, orders, nation
    WHERE s_suppkey = l_suppkey
      AND p_partkey = l_partkey
      AND ps.ps_partkey = l_partkey
      AND ps.ps_suppkey = l_suppkey
      AND o_orderkey = l_orderkey
      AND s_nationkey = n_nationkey
      AND p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q_tpch_q9_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 with the REAL profit formula — revenue minus
    ps_supplycost·l_quantity — using the derived partsupp (same
    deterministic table as Q2/Q11/Q16/Q20), completing the one term
    q_tpch_q9's proxy omits. All money arithmetic is DECIMAL / integer
    cents, so the grouped sums are order-independent exact and
    hash-checkable. The partsupp join adds one more shuffle on the
    (partkey, suppkey) pair; lineitem pairs outside the derived
    4-suppliers-per-part layout drop out (documented divergence from
    dbgen, identical on both engines)."""
    rev_grid = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (1 - F.col("l_discount")) * 100
    ).cast("long")
    # Same shuffle-byte discipline as q_tpch_q9 (round-7, evidence/SCALE.md):
    # rev/qty fold to single longs map-side, part enters keys-only LEFT SEMI,
    # nation broadcasts onto supplier pre-fact, orders pre-projects to
    # (o_orderkey, o_year). The partsupp join keeps (l_partkey, l_suppkey)
    # until its pair-key shuffle, then the row narrows to
    # (l_orderkey, nation, rev_grid, cost_grid) for the orderkey exchange.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        "l_orderkey",
        rev_grid.alias("rev_grid"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c"),
    )
    p_keys = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    n = _t(spark, sf_dir, "nation")
    s = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    ps = _partsupp(spark, sf_dir).select("ps_partkey", "ps_suppkey", "ps_costcents")
    return (
        li.join(
            _broadcast_if_small(p_keys),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .join(_broadcast_if_small(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .select(
            "l_orderkey",
            "nation",
            "rev_grid",
            (F.col("ps_costcents") * F.col("qty_c")).alias("cost_grid"),
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", "o_year")
        .agg(
            (
                F.sum("rev_grid").cast("double") / 10000
                - F.sum("cost_grid").cast("double") / 10000
            ).alias("sum_profit")
        )
    )


@query(
    "q_median_mode",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           (SELECT q FROM (
              SELECT l_quantity AS q, COUNT(*) AS c
              FROM lineitem i WHERE i.l_returnflag = o.l_returnflag
              GROUP BY l_quantity ORDER BY c DESC, q ASC LIMIT 1)) AS mode_qty,
           COUNT(*) AS n_rows
    FROM lineitem o
    GROUP BY l_returnflag
    """,
)
def q_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median + deterministic mode per group: ``median`` is the exact
    interpolated 50th percentile (same buffer contract as percentile —
    swap approx at 100 TB), and ``mode(deterministic=True)`` breaks
    frequency ties toward the smallest value, which the oracle reproduces
    with an ORDER BY count DESC, value ASC argmax — tie behavior pinned on
    both engines instead of left to hash order."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 4).alias("median_price"),
        F.expr("mode(l_quantity, true)").alias("mode_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q_fuzzy_match",
    oracle="""
    WITH titles AS (
      SELECT doc_id,
             lower(string_split(text, ' ')[1] || ' ' ||
                   string_split(text, ' ')[2]) AS title
      FROM documents WHERE len(string_split(text, ' ')) >= 2
    ),
    dt AS (
      -- dedup-before-compare: edit distance runs once per DISTINCT title,
      -- never once per document
      SELECT title, MIN(doc_id) AS rep_id FROM titles GROUP BY title
    ),
    probes AS (
      -- deterministic "typo" probe set: every 20th title with its last
      -- character dropped (the dirty-input side of entity resolution)
      SELECT doc_id AS probe_id,
             substr(title, 1, length(title) - 1) AS probe
      FROM titles WHERE doc_id % 20 = 0
    ),
    cand AS (
      SELECT p.probe_id, d.rep_id,
             CAST(levenshtein(p.probe, d.title) AS BIGINT) AS dist
      FROM probes p
      JOIN dt d ON substr(p.probe, 1, 3) = substr(d.title, 1, 3)
      WHERE levenshtein(p.probe, d.title) <= 1
    )
    SELECT probe_id,
           MIN(struct_pack(d := dist, r := rep_id)).r AS match_id,
           MIN(struct_pack(d := dist, r := rep_id)).d AS dist
    FROM cand GROUP BY probe_id
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution: a dirty probe set (deterministic one-char
    'typos' of every 20th document title) resolved to its BEST canonical
    title (min edit distance, ties to the smallest representative doc) with
    levenshtein ≤ 1.

    Scale shape — the sf1 slope study caught the naive form going quadratic
    (0.5 s → 125 s for 10× data): blocking alone is not enough when block
    cardinality is bounded (a finite title vocabulary means 3-char-prefix
    blocks GROW with the corpus, so probes × block-members is O(n²)). The
    fix is the canonical entity-resolution stack:
      1. DEDUP-BEFORE-COMPARE — titles collapse to distinct values with a
         min-doc_id representative; the expensive comparison runs per
         distinct entity, so its cost scales with VOCABULARY, not corpus;
      2. block the deduped side on the 3-char prefix (the candidate
         generator — edit distance is not hashable);
      3. BEST-MATCH-PER-PROBE output (one mergeable struct-MIN aggregate),
         so the result is O(probes) instead of probes × duplicate-titles.
    The distinct-title side is vocabulary-bounded and broadcasts; at 100 TB
    with a genuinely open title domain, the same plan holds with the dedup
    output shuffled instead of broadcast."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    titles = (
        d.filter(F.size(toks) >= 2)
        .select(
            "doc_id",
            F.lower(
                F.concat(toks.getItem(0), F.lit(" "), toks.getItem(1))
            ).alias("title"),
        )
    )
    dt = titles.groupBy("title").agg(F.min("doc_id").alias("rep_id"))
    probes = titles.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.expr("substring(title, 1, length(title) - 1)").alias("probe"),
    )
    dist = F.levenshtein(F.col("probe"), F.col("title")).cast("long")
    cand = (
        probes.join(
            F.broadcast(dt),
            F.substring(F.col("probe"), 1, 3) == F.substring(F.col("title"), 1, 3),
        )
        .where(dist <= 1)
        .select("probe_id", "rep_id", dist.alias("dist"))
    )
    best = F.min(F.struct(F.col("dist").alias("d"), F.col("rep_id").alias("r")))
    return cand.groupBy("probe_id").agg(
        best.getField("r").alias("match_id"),
        best.getField("d").alias("dist"),
    )


@query(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE tree AS (
      SELECT n_nationkey AS node, n_name AS name, 0 AS depth,
             CAST(n_nationkey AS VARCHAR) AS path
      FROM nation WHERE n_nationkey = 0
      UNION ALL
      SELECT n.n_nationkey, n.n_name, t.depth + 1,
             t.path || '->' || CAST(n.n_nationkey AS VARCHAR)
      FROM nation n JOIN tree t ON (n.n_nationkey - 1) // 2 = t.node
      WHERE n.n_nationkey > 0
    )
    SELECT node, name, depth, path FROM tree
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): walk the implicit binary
    tree over nations (parent(k) = (k−1) div 2), emitting each node's
    depth and root-to-node path — the hierarchy/transitive-closure shape
    (org charts, BOM explosions) that previously required a driver loop
    (operators/dedup.connected_components is the fixpoint cousin). Spark
    executes the recursion as iterative UNION steps; each step is one
    join against the O(frontier) previous level, so at scale the cost
    profile matches the CC loop — rounds × (join + union), no driver
    actions between levels."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, 
        """
        WITH RECURSIVE tree AS (
          SELECT n_nationkey AS node, n_name AS name, 0 AS depth,
                 CAST(n_nationkey AS STRING) AS path
          FROM nation WHERE n_nationkey = 0
          UNION ALL
          SELECT n.n_nationkey, n.n_name, t.depth + 1,
                 t.path || '->' || CAST(n.n_nationkey AS STRING)
          FROM nation n JOIN tree t ON (n.n_nationkey - 1) div 2 = t.node
          WHERE n.n_nationkey > 0
        )
        SELECT node, name, depth, path FROM tree
        """
    )


@query(
    "q_join_lateral",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey,
           ROUND(l.o_totalprice, 2) AS o_totalprice, l.rk
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice,
                    ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
                                       o_orderkey) AS rk
             FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
    WHERE c.c_custkey % 10 = 0
    """,
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join — per-customer top-2 orders via a
    correlated ORDER BY … LIMIT subquery, the SQL-standard spelling of
    per-group top-k (the DataFrame twin is q_topk's window + filter).
    Catalyst decorrelates the lateral into a window/rank plan rather than
    executing the subquery per outer row, so the physical shape is the
    same single shuffle as the window form — worth having as a REGISTERED
    query because the decorrelation itself is the operator under test."""
    from ..sql_api import run_sql

    return run_sql(spark, sf_dir, 
        """
        SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey,
               ROUND(l.o_totalprice, 2) AS o_totalprice, l.rk
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice,
                        ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
                                           o_orderkey) AS rk
                 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        WHERE c.c_custkey % 10 = 0
        """
    )


#: Σ basket² guard for pair-generation self-joins: baskets above this size
#: are deterministically truncated (operators/skew.cap_basket). 256 is far
#: above any real order's line count (zero effect here, property-tested)
#: while bounding a pathological 100 TB hub basket to 256²/2 pairs per task.
BASKET_PAIR_CAP = 256


@query(
    "q_copurchase_pairs",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequently-bought-together: intra-order part pairs counted across
    all orders, top-20 — the market-basket co-occurrence primitive behind
    recommendations and association-rule mining. The pair generator is a
    SELF-JOIN ON THE BASKET KEY (l_orderkey) with an anti-symmetric
    part-key predicate, so fan-out is Σ basket_size² — bounded two ways:
    TPC-H baskets hold ≤7 lines, AND cap_basket truncates any pathological
    basket at BASKET_PAIR_CAP members first (its row_number window rides
    the same l_orderkey shuffle the self-join needs, so the guard adds no
    exchange). Top-20 by the unique (count, part_a, part_b) key compiles
    to TakeOrderedAndProject."""
    from ..operators.skew import cap_basket

    li = cap_basket(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
        ["l_partkey"],
        BASKET_PAIR_CAP,
    )
    # Pair generation via per-basket collect + inline pair expansion instead
    # of a self-join: the join planned the capped-basket subtree (scan +
    # basket shuffle + window) TWICE — once per side — and broadcast one full
    # copy; here the basket list rides the SAME l_orderkey exchange the cap's
    # window already established (no new shuffle), and every (x, y), x < y
    # index pair is emitted exactly once by the nested transform, the same
    # multiset the anti-symmetric join produced (duplicate part keys in one
    # order pair up identically). Array size is bounded by BASKET_PAIR_CAP,
    # so the per-row expansion is O(cap²) worst-case by construction.
    baskets = li.groupBy("l_orderkey").agg(F.collect_list("l_partkey").alias("ps"))
    pairs = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda x: F.transform(
                        F.filter("ps", lambda y: x < y),
                        lambda y: F.struct(
                            x.alias("part_a"), y.alias("part_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "q_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_size, ROUND(p.p_retailprice, 2) AS p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts for which no other part is both
    cheaper-or-equal AND larger-or-equal with at least one strict improvement
    (minimize p_retailprice, maximize p_size).

    The oracle states the semantics as a correlated NOT EXISTS (quadratic);
    the engine plans it scale-first: aggregate to one min-price row PER SIZE
    (domain-sized — at most |distinct sizes| rows), compute "best price among
    strictly larger sizes" with a single window over that tiny aggregate, then
    broadcast it back onto the part scan. One map-side-combinable shuffle over
    part + one broadcast join; no self-join of the fact ever happens, so the
    plan is unchanged at 100 TB. Differential value: two different algorithms
    (quadratic dominance vs sweep) must produce identical frontiers."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    per_size = part.groupBy("p_size").agg(F.min("p_retailprice").alias("size_min"))
    w = Window.orderBy(F.col("p_size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    thresholds = per_size.withColumn("min_gt", F.min("size_min").over(w))
    return (
        part.join(F.broadcast(thresholds), "p_size")
        .filter(
            (F.col("min_gt").isNull() | (F.col("min_gt") > F.col("p_retailprice")))
            & (F.col("p_retailprice") <= F.col("size_min"))
        )
        .select(
            "p_partkey", "p_size", F.round("p_retailprice", 2).alias("p_retailprice")
        )
    )


@query(
    "q_crosstab",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
           COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
           COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
           COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
           COUNT(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table (status × priority) via pivot with an EXPLICIT value
    list. Passing the pivot values skips Spark's extra distinct-collection job
    and keeps the whole thing one partial-aggregated shuffle — the same plan
    as N conditional counts. The oracle spells it as FILTER aggregates, which
    is exactly what the pivot compiles to."""
    orders = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    return (
        orders.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )


@query(
    "q_join_asof_nearest",
    oracle="""
    SELECT event_id, user_id, ts,
           CASE WHEN ft IS NULL
                  OR (bt IS NOT NULL
                      AND epoch(ts) - epoch(bt) <= epoch(ft) - epoch(ts))
                THEN bt ELSE ft END AS asof_ts
    FROM (
      SELECT event_id, user_id, ts, _side,
             last_value(CASE WHEN _side = 0 THEN ts END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, _side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bt,
             first_value(CASE WHEN _side = 0 THEN ts END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, _side
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ft
      FROM (
        SELECT event_id, user_id, ts, 1 AS _side FROM events
         WHERE event_type = 'purchase'
        UNION ALL
        SELECT event_id, user_id, ts, 0 AS _side FROM events
         WHERE event_type = 'click'
      )
    )
    WHERE _side = 1
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: for each purchase, the same user's click CLOSEST
    in time in either direction (ties at-or-before win). Completes the as-of
    family (backward / forward / nearest). Both directional fills share one
    union, one shuffle and one sort — the nearest pick is a pure projection
    on top, so the cost profile is identical to the single-direction
    variants."""
    from ..operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        direction="nearest",
    )


@query(
    "q_percent_total",
    oracle="""
    WITH nat AS (
      SELECT n.n_name AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT nation, revenue,
           ROUND(100.0 * revenue / SUM(revenue) OVER (), 4) AS pct_of_total,
           RANK() OVER (ORDER BY revenue DESC) AS revenue_rank
    FROM nat
    """,
)
def q_percent_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue share of the global total plus
    its rank — the universal BI footer row. The empty-frame window runs over
    the ALREADY-AGGREGATED per-nation table (|nations| rows), so the
    single-partition stage that SUM() OVER () implies touches dozens of
    rows, not the fact table; the fact-sized work is one eager per-customer
    pre-aggregate (the final key is per-NATION, so the order grain can
    collapse BEFORE the custkey exchange, which then carries |customers|
    rows instead of |orders| — the q_join_multi rollup discipline; exact
    because integer SUM is associative). Rounding AFTER the share division
    keeps both engines on the same float path."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("_cents")
    )
    nat = (
        per_cust.join(c, F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum("_cents").cast("double") / 100).alias("revenue"))
    )
    w_all = Window.partitionBy()
    return nat.select(
        "nation",
        "revenue",
        F.round(F.lit(100.0) * F.col("revenue") / F.sum("revenue").over(w_all), 4).alias(
            "pct_of_total"
        ),
        F.rank().over(Window.orderBy(F.col("revenue").desc())).alias("revenue_rank"),
    )
