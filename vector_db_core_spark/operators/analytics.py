"""Advanced analytics round-out [EXT]: the classic warehouse query
shapes not yet in the catalog — nation-pair volume (TPC-H Q7 shape),
double aggregation (Q13), correlated per-group average (Q17), HAVING
on an aggregate (Q18), NOT EXISTS + scalar subquery (Q22), exact
higher-moment aggregates (skewness / kurtosis / deterministic mode),
and value-window frames (first/last/nth over an ordered frame).

The fixtures are reduced TPC-H (no partsupp/comment/phone columns), so
each query keeps the *pattern* of its namesake on the columns that
exist. All money arithmetic follows the repo's exact-decimal policy
(functions/exact.py) so results are order-independent and match the
DuckDB oracle bit-for-bit at any parallelism.

[EXT] — the reference is a record store with no query language
(/root/reference/readme.md:32-35); SURVEY.md §2.2 claims this surface.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vector_db_core_spark.checkpoint import loop_checkpoint
from vector_db_core_spark.functions.exact import davg, dec, dsum
from vector_db_core_spark.operators.registry import register
from vector_db_core_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# identical to relational.py's money product (same decimal widths)
_DISC_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(7,2))"


def _disc_price() -> F.Column:
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(7,2)")


# ------------------------------------------------------------- Q7 shape
@register(
    "q7_nation_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS INT) AS ship_year,
           CAST(SUM({_DISC_SQL}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, CAST(YEAR(l_shipdate) AS INT)
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between two nations by ship year —
    a 6-table join tree with a disjunctive nation-pair predicate.

    100 TB plan: the nation filter is applied to customer/supplier
    BEFORE they meet lineitem (2/25 selectivity pushed below the big
    joins, which Catalyst cannot do by itself across the disjunction —
    the OR references both sides jointly, so we pre-filter each dim to
    the two-nation union and keep the pair predicate as a cheap
    post-join residual). nation broadcasts; the only big shuffles are
    lineitem⋈orders and the supplier/customer key joins, all on their
    natural keys.
    """
    nations = ("NATION_1", "NATION_2")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name").isin(*nations))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name").isin(*nations))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == nations[0]) & (F.col("cust_nation") == nations[1]))
            | ((F.col("supp_nation") == nations[1]) & (F.col("cust_nation") == nations[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


# ------------------------------------------------------------ Q13 shape
@register(
    "q13_customer_order_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: DOUBLE aggregation — orders-per-customer, then
    the distribution of those counts (customers with 0 orders kept via
    the outer join; the join predicate itself filters a priority class,
    which is what forces the filter INTO the join condition rather than
    a WHERE).

    100 TB plan: AGGREGATE-BEFORE-JOIN — orders collapse to
    (custkey, count) with a map-side-combined aggregate BEFORE the
    outer join, so the custkey shuffle carries one row per customer
    instead of every order row (the join-then-count formulation
    shuffles the full orders table; same answer, since the per-customer
    order count distributes over the join). Customers with no
    qualifying orders surface as count 0 via the left join + coalesce.
    The second aggregation groups on c_count, domain ~tens — its
    exchange moves almost nothing.
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    counts = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    per_cust = cust.join(
        counts, F.col("c_custkey") == F.col("o_custkey"), "left"
    ).select(F.coalesce(F.col("cnt"), F.lit(0)).alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ------------------------------------------------------------ Q17 shape
@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pl AS (SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#3'),
    w AS (SELECT l_quantity, l_extendedprice,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) OVER (PARTITION BY l_partkey) AS DOUBLE)
                 / CAST(COUNT(l_quantity) OVER (PARTITION BY l_partkey) AS DOUBLE) AS avg_qty
          FROM pl)
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM w WHERE l_quantity < 0.2 * avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-group average — lineitems whose
    quantity is below 20% of their part's average quantity. Expressed
    as a window aggregate over l_partkey instead of a self-join: one
    shuffle on partkey, each row compared to its partition's average in
    place (the self-join formulation scans and shuffles lineitem
    twice). The brand filter lands first and broadcasts — at 100 TB the
    window input is already 1/25th of lineitem. Average computed
    exact-decimal/count so the 0.2× threshold is bit-identical to the
    oracle on every row.
    """
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    pl = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    w = W.partitionBy("l_partkey")
    avg_qty = F.sum(dec("l_quantity")).over(w).cast("double") / F.count(
        "l_quantity"
    ).over(w).cast("double")
    return (
        pl.withColumn("avg_qty", avg_qty)
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.sum(dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"))
    )


# ------------------------------------------------------------ Q18 shape
@register(
    "q18_large_order_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) > 300.0)
    SELECT c_name, o_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a grouped aggregate, then enrich the
    surviving groups and take the global top 100 by price.

    100 TB plan: the HAVING collapses lineitem to a tiny key set
    BEFORE any join (aggregate-then-join, not join-then-aggregate);
    orders joins on its primary key; the final top-100 is
    TakeOrderedAndProject (per-partition heaps, no global sort), with
    o_orderkey as the deterministic tiebreak so LIMIT is stable.
    """
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "total_qty"))
        .where(F.col("total_qty") > 300.0)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# ------------------------------------------------------------ Q22 shape
@register(
    "q22_dormant_wealthy_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(COUNT(c_acctbal) AS DOUBLE) AS a
      FROM customer WHERE c_acctbal > 0.0)
    SELECT n_name,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT a FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY n_name
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    RECENT orders (none since 2000 — every fixture customer has some
    order, so dormancy is date-scoped; the fixture also has no phone
    column, so nation plays the grouping role of the country code).
    Three classic sub-patterns in one: an uncorrelated scalar subquery
    (global average), NOT EXISTS with a correlated filter (anti join
    on a pre-filtered build side), and a grouped rollup of survivors.

    100 TB plan: the scalar average is a one-row broadcast (cross join
    against a single-row aggregate — no shuffle); NOT EXISTS is a
    left-anti shuffle join on custkey against orders' custkeys; nation
    broadcasts. Customer is scanned twice (once for the average, once
    for the filter) — at scale persist it or compute the average off a
    column-statistics store, noted here because Catalyst will not fuse
    the two scans.
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_row = cust.where(F.col("c_acctbal") > 0.0).agg(davg("c_acctbal", "a"))
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cust.crossJoin(F.broadcast(avg_row))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
    )


# ------------------------------------------------- higher-moment aggregates
# Skewness/kurtosis are scale-invariant, so moments are computed on the
# integer-scaled quantity qi = round(100·l_quantity) (exact: quantities
# carry ≤2dp). Integer power sums accumulate exactly (DECIMAL(38,0) in
# Spark, HUGEINT in DuckDB), and the double-precision combining
# expression is written IDENTICALLY in both engines — m2·sqrt(m2)
# instead of pow(m2, 1.5) because sqrt is IEEE-correctly-rounded
# everywhere while pow's last ulp is libm-dependent.
_MOMENTS_SQL = """
    WITH q AS (SELECT l_returnflag,
                      CAST(round(l_quantity * 100) AS BIGINT) AS qi
               FROM lineitem),
    s AS (SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(qi AS HUGEINT)) AS DOUBLE) AS s1,
                 CAST(SUM(CAST(qi * qi AS HUGEINT)) AS DOUBLE) AS s2,
                 CAST(SUM(CAST(qi * qi * qi AS HUGEINT)) AS DOUBLE) AS s3,
                 CAST(SUM(CAST(qi * qi * qi * qi AS HUGEINT)) AS DOUBLE) AS s4
          FROM q GROUP BY l_returnflag),
    m AS (SELECT l_returnflag, n,
                 s1 / n AS m1, s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
          FROM s),
    c AS (SELECT l_returnflag, n, m1,
                 r2 - m1 * m1 AS m2,
                 r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
                 r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2 - 3.0 * m1 * m1 * m1 * m1 AS m4
          FROM m),
    mode_cte AS (
      SELECT l_returnflag, l_quantity AS mode_quantity
      FROM (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                      ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
            FROM lineitem GROUP BY l_returnflag, l_quantity)
      WHERE rn = 1)
    SELECT c.l_returnflag,
           CAST(c.n AS BIGINT) AS n_rows,
           c.m3 / (c.m2 * sqrt(c.m2)) AS skewness,
           c.m4 / (c.m2 * c.m2) - 3.0 AS kurtosis_excess,
           mode_cte.mode_quantity AS mode_quantity
    FROM c JOIN mode_cte ON c.l_returnflag = mode_cte.l_returnflag
"""


@register("agg_higher_moments", oracle=_MOMENTS_SQL)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness, excess kurtosis, and a DETERMINISTIC mode
    per group. Spark's built-in ``skewness``/``kurtosis`` accumulate
    central moments in floats (order-dependent under AQE) and its
    ``mode`` breaks ties arbitrarily, so this computes the same
    statistics from exact integer power sums (one pass, map-side
    combined) and defines mode's tie-break as the smallest value —
    reproducible on any cluster at any parallelism.

    100 TB: the moments pass is a plain partial/final aggregate over
    |groups| rows of state; the mode pass groups on (flag, quantity) —
    a few thousand distinct combinations — then a window over flags.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    qi = F.round(F.col("l_quantity") * 100, 0).cast("long")
    q = li.select("l_returnflag", qi.alias("qi"))
    d38 = "decimal(38,0)"
    s = q.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("qi").cast(d38)).cast("double").alias("s1"),
        F.sum((F.col("qi") * F.col("qi")).cast(d38)).cast("double").alias("s2"),
        F.sum((F.col("qi") * F.col("qi") * F.col("qi")).cast(d38)).cast("double").alias("s3"),
        F.sum((F.col("qi") * F.col("qi") * F.col("qi") * F.col("qi")).cast(d38))
        .cast("double")
        .alias("s4"),
    )
    m = s.select(
        "l_returnflag",
        "n",
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("r2"),
        (F.col("s3") / F.col("n")).alias("r3"),
        (F.col("s4") / F.col("n")).alias("r4"),
    )
    c = m.select(
        "l_returnflag",
        "n",
        "m1",
        (F.col("r2") - F.col("m1") * F.col("m1")).alias("m2"),
        (
            F.col("r3")
            - F.lit(3.0) * F.col("m1") * F.col("r2")
            + F.lit(2.0) * F.col("m1") * F.col("m1") * F.col("m1")
        ).alias("m3"),
        (
            F.col("r4")
            - F.lit(4.0) * F.col("m1") * F.col("r3")
            + F.lit(6.0) * F.col("m1") * F.col("m1") * F.col("r2")
            - F.lit(3.0) * F.col("m1") * F.col("m1") * F.col("m1") * F.col("m1")
        ).alias("m4"),
    )
    mode_w = W.partitionBy("l_returnflag").orderBy(
        F.col("cnt").desc(), F.col("l_quantity").asc()
    )
    mode = (
        li.groupBy("l_returnflag", "l_quantity")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(mode_w))
        .where(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_quantity"))
    )
    return c.join(mode, "l_returnflag").select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))).alias("skewness"),
        (F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0)).alias("kurtosis_excess"),
        "mode_quantity",
    )


# ------------------------------------------------------ value-window frames
@register(
    "window_value_frames",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice)  OVER w AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_value_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over a full-partition ROWS
    frame — each order annotated with its customer's first, latest,
    and second order price (null second_price for one-order
    customers). The ordering key includes o_orderkey so ties on
    orderdate are deterministic — without it last_value/nth_value are
    nondeterministic under parallel sort.

    100 TB: one shuffle on o_custkey; the unbounded frame is computed
    in a single pass per partition (no per-row rescan).
    """
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


# ------------------------------------------------------- RANGE-frame window
@register(
    "window_range_trailing_7d",
    oracle="""
    WITH x AS (SELECT event_id, user_id,
                      epoch_us(ts) AS ep,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events)
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_trailing_7d,
           CAST(CAST(SUM(cents) OVER w AS DOUBLE) / 100.0 AS DOUBLE)
             AS sum_value_7d
    FROM x
    WINDOW w AS (PARTITION BY user_id ORDER BY ep
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): for every event, the
    count and value-sum of the SAME USER's events in the trailing 7
    days inclusive — the rolling-feature computation behind
    time-decayed user activity features. RANGE differs from ROWS
    exactly when timestamps tie or gap: the frame is defined by the
    ordering VALUE (microsecond epoch), so simultaneous events are
    peers and quiet weeks shrink the frame to 1.

    Exactness: the ordering key is integer microseconds (``epoch``
    floats would make frame membership precision-dependent) and the
    summed values are integer cents divided back once at the end —
    frame boundaries and sums are bit-identical to the oracle at any
    parallelism. 100 TB: one shuffle on the high-cardinality user
    key; Spark evaluates the bounded trailing frame with two moving
    pointers per partition (no per-row rescan).
    """
    ev = _t(spark, sf_dir, "events")
    x = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ep"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-604_800_000_000, 0)
    )
    return x.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_trailing_7d"),
        (F.sum("cents").over(w).cast("double") / 100.0).alias("sum_value_7d"),
    )


# ----------------------------------------------------- SCD2 / CDC intervals
@register(
    "scd2_user_event_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    flagged AS (
      SELECT user_id, event_type, ts,
             SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ver
      FROM ordered),
    runs AS (
      SELECT user_id, CAST(ver AS INT) AS version, event_type,
             MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM flagged GROUP BY user_id, ver, event_type)
    SELECT user_id, version, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY version) AS valid_to,
           n_events
    FROM runs
    """,
)
def scd2_user_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 / change-data-capture interval construction: collapse each
    user's event stream into versioned validity intervals — one row
    per RUN of consecutive identical event_types, with
    [valid_from, valid_to) bounds (valid_to NULL for the current run).
    This is the transform that turns an append-only change log into a
    slowly-changing-dimension table — the lakehouse maintenance shape
    the MERGE upsert (merge_upsert_orders) consumes on the other end.

    Run detection is the classic gaps-and-islands: a LAG-based change
    flag, a running sum assigning version numbers, then per-run
    aggregation and a LEAD for the closing bound. Ordering ties on ts
    break by event_id, so versions are deterministic at any
    parallelism.

    100 TB plan: all three shuffles key on user_id (the window, the
    (user, version) run aggregate, the closing-bound window) — with
    the table pre-bucketed by user_id (write_sorted_shards) the
    exchanges collapse to local sorts; state per partition is one
    user's stream, never the table.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    order_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.lag("event_type").over(order_w).isNull()
        | (F.lag("event_type").over(order_w) != F.col("event_type"))
    )
    flagged = ev.withColumn(
        "ver",
        F.sum(F.when(changed, 1).otherwise(0)).over(
            order_w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    runs = flagged.groupBy("user_id", "ver", "event_type").agg(
        F.min("ts").alias("valid_from"), F.count("*").alias("n_events")
    )
    close_w = W.partitionBy("user_id").orderBy("ver")
    return runs.select(
        "user_id",
        F.col("ver").cast("int").alias("version"),
        "event_type",
        "valid_from",
        F.lead("valid_from").over(close_w).alias("valid_to"),
        "n_events",
    )


KMV_K = 256
#: 2^48 as shared literal text — the hash domain of the first 12 md5
#: hex digits, same 48-bit family as the MinHash estimator.
_KMV_DOMAIN = "281474976710656.0"

_KMV_SQL = f"""
WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
nt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
       FROM u GROUP BY event_type),
h AS (SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|kmv'), 1, 12))::BIGINT
               AS hv
      FROM u),
r AS (SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
      FROM h),
kmv AS (SELECT event_type, hv FROM r WHERE rk <= {KMV_K}),
tps AS (SELECT event_type FROM nt),
pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
          FROM tps a JOIN tps b ON a.event_type < b.event_type),
mrg AS (SELECT p.ta, p.tb, k.hv,
               MAX(CASE WHEN k.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN k.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
        FROM pairs p
        JOIN kmv k ON k.event_type = p.ta OR k.event_type = p.tb
        GROUP BY p.ta, p.tb, k.hv),
rr AS (SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS rk
       FROM mrg),
sk AS (SELECT ta, tb,
              CAST(COUNT(*) AS BIGINT) AS n_merged,
              CAST(MAX(hv) AS BIGINT) AS hk,
              CAST(SUM(in_a * in_b) AS BIGINT) AS shared
       FROM rr WHERE rk <= {KMV_K} GROUP BY ta, tb),
ei AS (SELECT x.event_type AS ta, y.event_type AS tb,
              CAST(COUNT(*) AS BIGINT) AS exact_inter
       FROM u x JOIN u y ON y.user_id = x.user_id
                        AND x.event_type < y.event_type
       GROUP BY 1, 2),
est AS (SELECT sk.ta, sk.tb, sk.shared, sk.n_merged,
               CASE WHEN sk.n_merged < {KMV_K}
                    THEN CAST(sk.n_merged AS DOUBLE)
                    ELSE CAST({KMV_K} - 1 AS DOUBLE) * {_KMV_DOMAIN} / sk.hk
               END AS est_union
        FROM sk)
SELECT est.ta AS type_a, est.tb AS type_b,
       na.n AS n_a, nb.n AS n_b,
       na.n + nb.n - COALESCE(ei.exact_inter, 0) AS exact_union,
       COALESCE(ei.exact_inter, 0) AS exact_intersection,
       CAST(round(est.est_union) AS BIGINT) AS est_union,
       CAST(round(CAST(est.shared AS DOUBLE) / est.n_merged * est.est_union)
            AS BIGINT) AS est_intersection
FROM est
JOIN nt na ON na.event_type = est.ta
JOIN nt nb ON nb.event_type = est.tb
LEFT JOIN ei ON ei.ta = est.ta AND ei.tb = est.tb
"""


@register("sketch_kmv_distinct_intersection", oracle=_KMV_SQL)
def sketch_kmv_distinct_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) SKETCH set algebra — distinct-count
    UNION and INTERSECTION estimates for every event-type pair's user
    sets (Beyer et al. 2007, the mergeable distinct sketch): per
    type, keep the K=256 smallest 48-bit salted-md5 hashes of its
    distinct users; for a pair, re-merge to the K smallest of the
    union — est|A∪B| = (k-1)·2^48/h_(k) (exact count when the merged
    sketch is under k), and est|A∩B| = (shared members of the merged
    sketch / merged size) · est|A∪B| (merged size == k once the union
    exceeds k — the textbook ratio — and the whole union below it,
    where the estimate collapses to the exact shared count). HLL
    answers one set's cardinality;
    KMV sketches COMPOSE across sets, which is what audience-overlap
    and cross-segment reach questions need. Exact union/intersection
    ride alongside so the error is measurable in-row — the
    count-min/Bloom md5-twin discipline (sketch VALUES under the
    hash gate, not just plausible estimates).

    Exactness: the hash family is the MinHash estimator's
    seeded-suffix md5 (first 12 hex digits → BIGINT, engine-stable);
    ranks, merges, and shared counts are integer; the two estimates
    are fixed double expressions rounded to integers via round() THEN
    cast (never a bare double→BIGINT cast — the engines' cast-
    rounding divergence).

    Plan/scale: the per-type distinct + top-k is the only data-sized
    work (per-partition top-k merges, k rows per type thereafter);
    pair merging runs on |types|·k rows; the exact-intersection join
    is the audit column (at 100 TB you'd drop it and trust the
    sketch — that substitution is the op's point)."""
    u = _t(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    nt = u.groupBy("event_type").agg(F.count("*").alias("n"))
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|kmv"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    h = u.select("event_type", hv.alias("hv")).distinct()
    rk = F.row_number().over(W.partitionBy("event_type").orderBy("hv"))
    kmv = h.select("event_type", "hv", rk.alias("rk")).where(F.col("rk") <= KMV_K)
    tps = nt.select("event_type")
    pairs = (
        tps.alias("a")
        .join(tps.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
    )
    mrg = (
        pairs.join(
            F.broadcast(kmv.select("event_type", "hv")),
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb", "hv")
        .agg(
            F.max((F.col("event_type") == F.col("ta")).cast("int")).alias("in_a"),
            F.max((F.col("event_type") == F.col("tb")).cast("int")).alias("in_b"),
        )
    )
    rr = mrg.select(
        "*",
        F.row_number().over(W.partitionBy("ta", "tb").orderBy("hv")).alias("rk"),
    )
    sk = (
        rr.where(F.col("rk") <= KMV_K)
        .groupBy("ta", "tb")
        .agg(
            F.count("*").alias("n_merged"),
            F.max("hv").cast("bigint").alias("hk"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("shared"),
        )
    )
    x = u.select(F.col("event_type").alias("ta"), "user_id")
    y = u.select(F.col("event_type").alias("tb"), "user_id")
    ei = (
        x.join(y, "user_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("exact_inter"))
    )
    est_union = F.when(
        F.col("n_merged") < KMV_K, F.col("n_merged").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(float(_KMV_DOMAIN)) / F.col("hk")
    )
    na = nt.select(F.col("event_type").alias("ta"), F.col("n").alias("n_a"))
    nb = nt.select(F.col("event_type").alias("tb"), F.col("n").alias("n_b"))
    out = (
        sk.select("ta", "tb", "shared", "n_merged", est_union.alias("est_union_d"))
        .join(F.broadcast(na), "ta")
        .join(F.broadcast(nb), "tb")
        .join(F.broadcast(ei), ["ta", "tb"], "left")
    )
    exact_inter = F.coalesce(F.col("exact_inter"), F.lit(0)).cast("bigint")
    return out.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        "n_a",
        "n_b",
        (F.col("n_a") + F.col("n_b") - exact_inter).alias("exact_union"),
        exact_inter.alias("exact_intersection"),
        F.round(F.col("est_union_d")).cast("bigint").alias("est_union"),
        # divide by the MERGED sketch size, not k: when the union fits
        # under k the sketch IS the union and the estimate collapses
        # to the exact shared count (shared/n * n); at k it is the
        # textbook shared/k * est_union
        F.round(
            F.col("shared").cast("double")
            / F.col("n_merged")
            * F.col("est_union_d")
        )
        .cast("bigint")
        .alias("est_intersection"),
    )


# ------------------------------------------------------- replica checksum
@register(
    "checksum_orders_table",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(('0x' || substr(md5(
                 CAST(o_orderkey AS VARCHAR) || '|' ||
                 CAST(o_custkey AS VARCHAR) || '|' ||
                 o_orderstatus || '|' ||
                 CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
                 strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' ||
                 o_orderpriority), 1, 12))::BIGINT)
               % 2147483647 AS BIGINT) AS checksum
    FROM orders
    """,
)
def checksum_orders_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent whole-table checksum — the replica-integrity
    digest you run on both sides after a migration/backfill to prove
    two copies of a table hold byte-identical logical content (the
    Spark analog of the reference's durability concern: its stores
    have no checksums at all, file_access_service.rs:24-38, so
    corruption is silent; here one number certifies 15M rows).

    Every row folds to a canonical string (floats as integer cents,
    timestamps formatted, '|' separators), hashes through md5, and the
    first 48 bits SUM — addition commutes, so the digest is identical
    at any row order, any partitioning, any engine. The sum
    accumulates in DECIMAL(38,0)/HUGEINT (48-bit summands overflow
    BIGINT beyond ~100M rows) and reduces mod 2^31-1 for a compact
    comparable value.

    100 TB plan: map-only scan + one single-row aggregate — no
    shuffle carries data, and partial aggregation means each task
    contributes one partial sum.
    """
    o = _t(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.col("o_orderpriority"),
    )
    h48 = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("decimal(38,0)")
    return o.agg(
        F.count("*").alias("n_rows"),
        (F.sum(h48) % F.lit(2147483647)).cast("long").alias("checksum"),
    )


# ------------------------------------------------- multi-grain time rollup
@register(
    "timeseries_multi_grain_rollup",
    oracle="""
    WITH g AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_ts,
             CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events)
    SELECT day_ts, week_ts, month_ts,
           CASE WHEN day_ts IS NOT NULL THEN 'day'
                WHEN week_ts IS NOT NULL THEN 'week'
                ELSE 'month' END AS grain,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(cents) AS DOUBLE) / 100.0 AS DOUBLE) AS total_value
    FROM g
    GROUP BY GROUPING SETS ((day_ts), (week_ts), (month_ts))
    """,
)
def timeseries_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate / hypertable rollup shape: ONE pass over the
    event stream materializes day, week, AND month summary series via
    GROUPING SETS on the three truncated timestamps — the maintenance
    query behind a time-series dashboard's multiple zoom levels
    (recomputing each grain separately scans the table three times).
    The grain label is derivable from which bucket column is non-null
    because a trunc is never null for a real event.

    100 TB plan: Spark expands the sets BEFORE the shuffle and
    partially aggregates each, so the exchange carries ~|days| +
    |weeks| + |months| rows, not 3x the events. Values sum as integer
    cents (exact at any parallelism); Spark and DuckDB both start
    weeks on Monday, so bucket boundaries agree.
    """
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day_ts"),
        F.date_trunc("week", "ts").alias("week_ts"),
        F.date_trunc("month", "ts").alias("month_ts"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    grain = (
        F.when(F.col("day_ts").isNotNull(), "day")
        .when(F.col("week_ts").isNotNull(), "week")
        .otherwise("month")
    )
    return (
        ev.groupingSets([["day_ts"], ["week_ts"], ["month_ts"]],
                        "day_ts", "week_ts", "month_ts")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum("cents").cast("double") / 100.0).alias("total_value"),
        )
        .select("day_ts", "week_ts", "month_ts", grain.alias("grain"),
                "n_events", "total_value")
    )


# ---------------------------------------------------- last-touch attribution
@register(
    "attribution_last_touch",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN event_type = 'click'
                  THEN CAST(json_extract(props, '$.k') AS BIGINT) % 10 END
               AS campaign,
             CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us
      FROM events WHERE event_type IN ('click', 'purchase')),
    carried AS (
      SELECT user_id, ts, event_id, event_type, cents,
             LAST_VALUE(campaign IGNORE NULLS) OVER w AS last_campaign,
             LAST_VALUE(click_us IGNORE NULLS) OVER w AS last_click_us
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    attributed AS (
      SELECT CASE WHEN last_click_us IS NOT NULL
                   AND epoch_us(ts) - last_click_us <= 604800000000
                  THEN last_campaign END AS campaign,
             cents
      FROM carried WHERE event_type = 'purchase')
    SELECT campaign,
           COUNT(*) AS n_purchases,
           CAST(CAST(SUM(cents) AS DOUBLE) / 100.0 AS DOUBLE) AS attributed_value
    FROM attributed GROUP BY campaign
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing last-touch attribution: every purchase is credited to
    the same user's most recent click within a 7-day lookback (campaign
    = the click's props.k mod 10; purchases with no qualifying click
    fall into the NULL 'direct' bucket), then conversion value rolls up
    per campaign.

    Built as the UNION + carry-forward window — clicks and purchases
    interleave in one per-user ordered stream and LAST_VALUE(ignore
    nulls) carries the latest click's (campaign, ts) onto each
    purchase — NOT as a purchase x click range join, which fans out
    per pair and re-shuffles both sides. One user_id exchange total;
    ties at identical ts break by event_id, and the lookback compares
    integer microseconds, so attribution is deterministic everywhere.

    100 TB: the window state is two scalars per user stream; the
    final rollup groups on an 11-value key.
    """
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    campaign = F.when(
        F.col("event_type") == "click",
        F.get_json_object("props", "$.k").cast("long") % 10,
    )
    click_us = F.when(F.col("event_type") == "click", F.unix_micros("ts"))
    tagged = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        campaign.alias("campaign"),
        click_us.alias("click_us"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.select(
        "event_type", "cents", "ts",
        F.last("campaign", ignorenulls=True).over(w).alias("last_campaign"),
        F.last("click_us", ignorenulls=True).over(w).alias("last_click_us"),
    )
    attributed = carried.where(F.col("event_type") == "purchase").select(
        F.when(
            F.col("last_click_us").isNotNull()
            & ((F.unix_micros("ts") - F.col("last_click_us")) <= 604_800_000_000),
            F.col("last_campaign"),
        ).alias("campaign"),
        "cents",
    )
    return attributed.groupBy("campaign").agg(
        F.count("*").alias("n_purchases"),
        (F.sum("cents").cast("double") / 100.0).alias("attributed_value"),
    )


# --------------------------------------------- incremental aggregate merge
@register(
    "agg_incremental_merge",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view incremental maintenance: the base period's
    PERSISTED aggregate state (orders before 2000) merges with the new
    delta period's state (2000 onward) WITHOUT rescanning the base —
    count adds, decimal sums add, min/max fold — and the oracle proves
    the merged panel equals a from-scratch aggregate over everything.
    This is the mergeable-state algebra every warehouse's incremental
    rollup relies on; the query demonstrates it end-to-end by
    computing the two periods' states independently and combining
    them with a second-level aggregate.

    100 TB: the point of the pattern — a daily refresh aggregates ONLY
    the new partition (the base state is a few rows per group read
    back from the last refresh), turning an O(history) scan into
    O(delta). Decimal sums make the merge exact, so the incremental
    result is bit-identical to the recompute, not approximately equal.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice", "o_orderdate")
    cutoff = F.lit("2000-01-01 00:00:00").cast("timestamp")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"),
            F.sum(dec("o_totalprice")).alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    base = state(o.where(F.col("o_orderdate") < cutoff))
    delta = state(o.where(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").cast("double").alias("total_price"),
            F.min("mn").alias("min_price"),
            F.max("mx").alias("max_price"),
        )
    )


# ------------------------------------------------------- key-skew profiler
@register(
    "profile_lineitem_key_skew",
    oracle="""
    WITH counts AS (
      SELECT l_suppkey, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_suppkey),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM counts),
    ranked AS (
      SELECT l_suppkey, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, l_suppkey) AS rnk,
             CAST(SUM(cnt) OVER (ORDER BY cnt DESC, l_suppkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS DOUBLE) AS cum_cnt
      FROM counts)
    SELECT CAST(rnk AS INT) AS rnk, l_suppkey, cnt,
           100.0 * CAST(cnt AS DOUBLE) / total AS share_pct,
           100.0 * cum_cnt / total AS cum_share_pct
    FROM ranked CROSS JOIN tot
    WHERE rnk <= 20
    """,
)
def profile_lineitem_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew profiler: the 20 heaviest l_suppkey values
    with their individual and cumulative share of the table — the
    diagnostic that decides BEFORE a big join whether a key needs
    salting (functions/skew.py) or AQE skew-join handling, and how
    many salt buckets the head of the distribution warrants.

    100 TB plan: one map-side-combined aggregate to |keys| rows, then
    the TOP-20 HEAP FIRST (TakeOrderedAndProject — per-partition
    heaps, never a global sort of the key-count table, whose keyspace
    can be billions) and only then the rank/cumulative window, over
    exactly 20 rows. The cumulative share among the top-20 equals the
    cumulative share over all keys because the heap keeps precisely
    the heaviest prefix of the window's order. Shares divide exact
    integer counts in DOUBLE — identical bits in both engines.
    """
    counts = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    top = counts.orderBy(F.col("cnt").desc(), "l_suppkey").limit(20)
    w = W.orderBy(F.col("cnt").desc(), "l_suppkey")
    ranked = top.select(
        "l_suppkey",
        "cnt",
        F.row_number().over(w).alias("rnk"),
        F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("cum_cnt"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        F.col("rnk").cast("int").alias("rnk"),
        "l_suppkey",
        "cnt",
        (F.lit(100.0) * F.col("cnt").cast("double") / F.col("total")).alias("share_pct"),
        (F.lit(100.0) * F.col("cum_cnt") / F.col("total")).alias("cum_share_pct"),
    )


# -------------------------------------------------------- active users panel
@register(
    "timeseries_active_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                       user_id
                FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    wau AS (SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
            FROM days d JOIN ud u
              ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
            GROUP BY d.day),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day)
    SELECT dau.day, dau.dau, wau.wau
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def timeseries_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU panel — daily active users and trailing-7-day active
    users per day, the product-analytics staple whose WAU half is a
    ROLLING DISTINCT count (not sum-decomposable, so no window frame
    computes it directly).

    Spark-first formulation: collapse events to distinct (user, day)
    once, then let each user-day CONTRIBUTE FORWARD to the 7 days it
    keeps the user "weekly active" for (a codegen'd ``sequence`` +
    ``explode`` — bounded 7x fanout of already-collapsed rows), and
    count distinct users per target day. This replaces the oracle's
    day x user-day range join — which Spark can only plan as a
    broadcast-nested-loop over the day spine — with one equi-key
    aggregate; the fanout factor IS the window length, so MAU costs
    28x user-days, never a rescan. Target days trim to observed days
    by a broadcast semi join (the fixture's last days would otherwise
    project phantom future panel rows).
    """
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    targets = ud.select(
        F.explode(
            F.expr("sequence(day, day + INTERVAL 6 DAYS, INTERVAL 1 DAY)")
        ).alias("day"),
        "user_id",
    ).join(F.broadcast(days), "day", "left_semi")
    wau = targets.groupBy("day").agg(F.count_distinct("user_id").alias("wau"))
    return dau.join(wau, "day").select("day", "dau", "wau")


# --------------------------------------------------- data-quality contract
@register(
    "quality_freshness_sla",
    oracle="""
    WITH x AS (SELECT event_type, epoch_us(ts) AS us FROM events),
    mx AS (SELECT MAX(us) AS now_us FROM x),
    t AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(MAX(us) AS BIGINT) AS last_us,
                 CAST(SUM(CASE WHEN us < mx.now_us - 604800000000
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_7d,
                 MAX(mx.now_us) AS now_us
          FROM x, mx GROUP BY event_type)
    SELECT event_type, n_events,
           make_timestamp(last_us) AS last_event,
           round(CAST(now_us - last_us AS DOUBLE) / 60000000.0, 6)
             AS lag_minutes,
           round(CAST(n_stale_7d AS DOUBLE) / n_events, 6) AS stale_7d_share,
           CAST(now_us - last_us AS BIGINT) > 3600000000 AS sla_breached
    FROM t
    """,
)
def quality_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRESHNESS SLA REPORT per event type — the data-quality check
    the expectation suite doesn't cover (``quality_expectations``
    reads VALUES; this reads ARRIVAL: a source whose feed silently
    stopped passes every value check while going stale): per type the
    last event time, its lag behind the corpus frontier (MAX ts — the
    deterministic 'now' anchor a static fixture has; production
    passes the wall clock), the share of rows older than a 7-day
    horizon, and a 60-minute SLA breach flag. The monitoring row a
    pipeline pages on.

    Exactness: timestamps reduce to exact BIGINT microseconds; the
    frontier and per-type maxima are exact integer MAXes; lag and the
    stale share are single fixed double expressions + round(6); the
    breach flag compares exact integers; last_event converts micros
    back to TIMESTAMP identically in both engines — via
    ``make_timestamp(BIGINT)`` (exact micros -> naive TIMESTAMP) on
    the DuckDB side, matching Spark's ``timestamp_micros`` directly:
    the earlier ``CAST(to_timestamp(us/1e6) AS TIMESTAMP)`` form was
    the catalog's only TIMESTAMPTZ-producing expression and shifted
    with the DuckDB session timezone (r12 advice).

    Plan/scale: one map-side-combined aggregate per type plus the
    one-row frontier broadcast back — two scans (or one with a
    grouping-sets rewrite), shuffle carries |types| rows. The 7-day
    horizon and 60-min SLA are the operator's published constants."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us")
    )
    mx = e.agg(F.max("us").alias("now_us"))
    t = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("us").cast("bigint").alias("last_us"),
            F.sum(
                (F.col("us") < F.col("now_us") - F.lit(604800000000)).cast("long")
            )
            .cast("bigint")
            .alias("n_stale_7d"),
            F.max("now_us").alias("now_us"),
        )
    )
    return t.select(
        "event_type",
        "n_events",
        F.timestamp_micros(F.col("last_us")).alias("last_event"),
        F.round(
            (F.col("now_us") - F.col("last_us")).cast("double") / 60000000.0, 6
        ).alias("lag_minutes"),
        F.round(
            F.col("n_stale_7d").cast("double") / F.col("n_events"), 6
        ).alias("stale_7d_share"),
        ((F.col("now_us") - F.col("last_us")) > 3600000000).alias("sla_breached"),
    )


@register(
    "quality_expectations_orders",
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS null_price,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_pk,
             SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS nonpos_price,
             SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                      THEN 1 ELSE 0 END) AS bad_status,
             SUM(CASE WHEN o_orderdate <  TIMESTAMP '1990-01-01 00:00:00'
                        OR o_orderdate >= TIMESTAMP '2010-01-01 00:00:00'
                      THEN 1 ELSE 0 END) AS date_oob
      FROM orders),
    fk AS (
      SELECT COUNT(*) AS orphans
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      WHERE c_custkey IS NULL)
    SELECT chk.check_name, CAST(chk.n_checked AS BIGINT) AS n_checked,
           CAST(chk.n_violations AS BIGINT) AS n_violations
    FROM base, fk,
    LATERAL (VALUES
      ('pk_unique_orderkey', base.n, base.dup_pk),
      ('fk_custkey_in_customer', base.n, fk.orphans),
      ('not_null_totalprice', base.n, base.null_price),
      ('totalprice_positive', base.n, base.nonpos_price),
      ('status_in_domain', base.n, base.bad_status),
      ('orderdate_in_bounds', base.n, base.date_oob)
    ) AS chk(check_name, n_checked, n_violations)
    """,
)
def quality_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation: the expectation suite a pipeline runs
    before promoting a batch — primary-key uniqueness, referential
    integrity into customer, null/positivity/domain/date-bounds checks
    — emitted as one tall (check, n_checked, n_violations) report
    instead of N assert queries.

    100 TB plan: every intra-table check folds into ONE aggregate
    pass over orders (CASE sums + a countDistinct — no per-check
    rescan); the FK check is the only join, a key-wise anti
    (LEFT JOIN ... IS NULL ≡ anti join, null-safe because the fixture
    keys are non-null); the tall shape comes from exploding a
    6-element literal array over the two one-row frames — rows moved:
    seven. Violation counts are exact integers, so a zero really is
    a zero.
    """
    o = _t(spark, sf_dir, "orders")
    base = o.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias("null_price"),
        (F.count("*") - F.count_distinct("o_orderkey")).alias("dup_pk"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("nonpos_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("bad_status"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01 00:00:00").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2010-01-01 00:00:00").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("date_oob"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    fk = (
        o.join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count("*").alias("orphans"))
    )
    checks = F.array(
        F.struct(F.lit("pk_unique_orderkey").alias("check_name"), F.col("dup_pk").alias("v")),
        F.struct(F.lit("fk_custkey_in_customer").alias("check_name"), F.col("orphans").alias("v")),
        F.struct(F.lit("not_null_totalprice").alias("check_name"), F.col("null_price").alias("v")),
        F.struct(F.lit("totalprice_positive").alias("check_name"), F.col("nonpos_price").alias("v")),
        F.struct(F.lit("status_in_domain").alias("check_name"), F.col("bad_status").alias("v")),
        F.struct(F.lit("orderdate_in_bounds").alias("check_name"), F.col("date_oob").alias("v")),
    )
    return (
        base.crossJoin(F.broadcast(fk))
        .select(F.col("n"), F.explode(checks).alias("c"))
        .select(
            F.col("c.check_name").alias("check_name"),
            F.col("n").cast("long").alias("n_checked"),
            F.col("c.v").cast("long").alias("n_violations"),
        )
    )


# ------------------------------------------------------- robust statistics
@register(
    "agg_mad_robust_outliers",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag),
    dev AS (
      SELECT l.l_returnflag, l.l_extendedprice,
             m.med, abs(l.l_extendedprice - m.med) AS adev
      FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag),
    mad AS (
      SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY l_returnflag)
    SELECT d.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MAX(d.med) AS median_price,
           MAX(ma.mad) AS mad,
           CAST(SUM(CASE WHEN abs(d.l_extendedprice - d.med)
                              > 3.0 * 1.4826 * ma.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ma ON d.l_returnflag = ma.l_returnflag
    GROUP BY d.l_returnflag
    """,
)
def agg_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    estimator that survives the heavy tails that wreck mean/stddev
    z-scores (the catalog's ``window_zscore_outliers`` is the
    non-robust twin): per return flag, the median price, the MAD, and
    how many rows sit beyond 3 robust sigmas (1.4826·MAD ≈ σ under
    normality).

    Hash-exactness without decimal sums: every number here comes from
    exact percentiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
    the pinned interpolation contract), per-row IEEE arithmetic on
    identical inputs, and integer counts — nothing accumulates in
    floating point, so no ordering sensitivity exists to begin with.

    100 TB plan: two grouped exact-percentile passes (sort-based — at
    scale swap ``approx_percentile``, same shape) with the 3-row
    median/MAD tables broadcast back between them; the outlier count
    rides the second pass's CASE sum. Three scans of the filtered
    column, zero wide shuffles.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        "med",
        F.abs(F.col("l_extendedprice") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("l_returnflag").agg(F.percentile("adev", 0.5).alias("mad"))
    out = (
        F.abs(F.col("l_extendedprice") - F.col("med"))
        > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.max("med").alias("median_price"),
            F.max("mad").alias("mad"),
            F.sum(F.when(out, 1).otherwise(0)).cast("long").alias("n_outliers"),
        )
    )


# -------------------------------------------------- point-in-time join
@register(
    "join_point_in_time_versions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    flagged AS (
      SELECT user_id, event_type, ts,
             SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ver
      FROM ordered),
    runs AS (
      SELECT user_id, CAST(ver AS INT) AS version, event_type,
             MIN(ts) AS valid_from
      FROM flagged GROUP BY user_id, ver, event_type),
    iv AS (
      SELECT user_id, version, event_type, valid_from,
             LEAD(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY version) AS valid_to
      FROM runs)
    SELECT p.event_id, p.user_id, p.ts,
           iv.version, iv.event_type AS run_type, iv.valid_from
    FROM events p JOIN iv
      ON p.user_id = iv.user_id
     AND p.ts >= iv.valid_from
     AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)
    WHERE p.event_type = 'purchase'
    """,
)
def join_point_in_time_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join — the consumer side of the SCD2 story:
    each purchase event joined to the dimension VERSION that was valid
    at its timestamp ([valid_from, valid_to) half-open; the open
    current version catches the tail). This is the join that makes
    slowly-changing dimensions temporally correct — joining facts to
    the LATEST version instead silently rewrites history, the classic
    training-data leakage bug (features computed with attribute values
    the model couldn't have known at event time).

    Built on ``scd2_user_event_intervals``'s interval table and
    cross-checked by construction: the oracle derives each purchase's
    version DIRECTLY from the gaps-and-islands numbering, while the
    Spark plan performs the actual interval join — two independent
    formulations that must agree on every row (they do: the fixture
    has no (user, ts) ties, so half-open intervals partition time).

    100 TB plan: equi join on user_id (sort-merge on the natural key)
    with the interval predicate as a residual — never a cartesian;
    per-user fanout is bounded by that user's interval count before
    the residual filters it to exactly one row per purchase.
    """
    iv = scd2_user_event_intervals(spark, sf_dir).select(
        F.col("user_id").alias("iv_user"),
        "version",
        F.col("event_type").alias("run_type"),
        "valid_from",
        "valid_to",
    )
    p = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    cond = (
        (F.col("user_id") == F.col("iv_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return p.join(iv, cond).select(
        "event_id", "user_id", "ts", "version", "run_type", "valid_from"
    )


def _pagerank_exact_sql(iters: int = 8, scale: int = 1_000_000_000_000) -> str:
    """Unrolled fixed-iteration integer PageRank as plain SQL: no
    recursion needed when the iteration count is part of the operator
    contract, so the oracle is 8 chained CTEs over the edge list —
    DuckDB runs the IDENTICAL integer recurrence the Spark loop runs."""
    head = f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    bk AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
           HAVING COUNT(*) BETWEEN 2 AND 20),
    edges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
              FROM op a
              JOIN op b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey
              JOIN bk ON bk.l_orderkey = a.l_orderkey),
    outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, {scale} // n AS r FROM nodes CROSS JOIN nn)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
    r{k} AS (SELECT nodes.node,
                    CAST((15 * ({scale} // n)) // 100
                         + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS r
             FROM nodes CROSS JOIN nn
             LEFT JOIN (SELECT e.dst AS nd, SUM(p.r // o.d) AS inflow
                        FROM edges e
                        JOIN r{k - 1} p ON p.node = e.src
                        JOIN outdeg o ON o.src = e.src
                        GROUP BY e.dst) i ON i.nd = nodes.node)""")
    return head + "".join(steps) + f"""
    SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r{iters}
    """


@register("graph_pagerank_exact", oracle=_pagerank_exact_sql())
def graph_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph under the FULL hash
    gate: 8 damped power iterations (d=0.85) with rank mass in INTEGER
    micro-units (scale 10^12), per-edge contribution ``r div outdeg``
    and update ``teleport + (85 * inflow) div 100`` — every step
    integer, so the result is bit-identical at any parallelism, any
    join order, any engine (float rank sums are order-dependent in
    the last ulp). The oracle runs the IDENTICAL recurrence as 8
    unrolled CTEs (fixed iteration count needs no recursion).

    Plan/scale: per iteration one
    equi-join of ranks (|nodes| rows) against the persisted static
    edge list + one groupBy on dst, both keyed on node id; ranks
    persist+count every 3 iterations AND at the final iteration to
    keep lineage shallow (checkpoint at cluster scale), each
    checkpoint unpersisting the superseded one. Because the loop
    must materialize eagerly (count() per checkpoint), the work
    happens at BUILD time — bench.py times this op inclusively
    (builder + action), like the streaming replays. Once the final
    ranks are materialized the static edges/outdeg/nodes caches are
    released (eviction of the final cache would recompute from
    parquet — correctness-safe); the final ranks cache itself is
    released by the registry-wide clearCache-after-each-query
    contract (operators/registry.py). Quantization error vs true
    PageRank is <= iters * (outdeg_max + 1) ulp of 10^-12 — far below
    any ranking decision; dangling nodes are structurally absent
    (basket pairs are symmetric, so every node has out-edges)."""
    scale = 1_000_000_000_000
    # distinct directed pairs == both orientations of the canonical
    # u < v list — served from the session-shared scratch table, so
    # the 8-iteration loop never pays the basket self-join.
    #
    # r14 loop-shape rework (guide §2.4 — establish the partitioning
    # once): outdeg is STATIC, so it is pre-joined into the edge rows
    # and the (src, dst, d) table cached HASH-PARTITIONED ON src at a
    # pinned width. Every downstream keying then lines up: nodes
    # derives from the cached edges with no exchange (node == src),
    # ranks inherit nodes' (node) partitioning through the left join,
    # and the per-iteration edges⋈ranks join is co-partitioned on
    # both sides. The only per-iteration exchange left is the
    # map-side-combined groupBy(dst) — the old loop re-shuffled the
    # 2|E| edge rows AND re-joined outdeg every iteration (5
    # exchanges/iter in the executed plan; see plans/r14/).
    und = _co_purchase_edges_table(spark, sf_dir)
    sym = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    outdeg = sym.groupBy("src").agg(F.count("*").alias("d"))
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = sym.join(outdeg, "src").repartition(width, "src").persist()
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    n = nodes.count()  # bounded scalar (node count)
    teleport = (15 * (scale // n)) // 100
    ranks = nodes.select("node", F.lit(scale // n).cast("long").alias("r"))
    for i in range(8):
        contribs = (
            edges.join(ranks, F.col("node") == F.col("src"))
            .select("dst", F.expr("r div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100")
                ).alias("r"),
            )
        )
        if i % 3 == 2 or i == 7:
            # loop_checkpoint, not persist (r14): persist keeps the
            # full analyzed lineage, so each checkpoint's count action
            # re-renders the whole iteration chain's plan string
            # driver-side; the checkpoint truncates it to the stored
            # blocks (and carries the (node) partitioning forward for
            # the next iteration's co-partitioned join). Eager: the
            # materialization IS the action — no separate count job
            # (r15; the count() also paid a redundant agg stage over
            # the stored blocks).
            ranks = loop_checkpoint(ranks, eager=True)
    # final ranks are materialized: the static graph caches are no
    # longer needed (re-derivable from parquet on eviction)
    edges.unpersist()
    nodes.unpersist()
    return ranks.select("node", F.col("r").alias("rank_micro"))


def _co_purchase_ctes(name: str) -> str:
    """Opening CTEs of the co-purchase graph oracles: distinct
    (order, part) pairs ``op``, the 2-20 item baskets ``bk``, and the
    materialized undirected edge list ``name(u, v)`` with u < v — the
    rows ``_co_purchase_edges_build`` computes on the Spark side."""
    pad = " " * (len(name) + 5)
    return f"""op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
bk AS (SELECT l_orderkey FROM op GROUP BY l_orderkey
       HAVING COUNT(*) BETWEEN 2 AND 20),
{name} AS MATERIALIZED (
{pad}SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
{pad}FROM op a
{pad}JOIN op b ON a.l_orderkey = b.l_orderkey
{pad}         AND a.l_partkey < b.l_partkey
{pad}JOIN bk ON bk.l_orderkey = a.l_orderkey),"""


def _md5_bucket_sql(key_expr: str, seed: int, width: int) -> str:
    """DuckDB mirror of ``_md5_bucket``: first 24 md5 bits of
    ``key || '#' || seed``, mod width — exact integers both engines."""
    return (
        f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || '#{seed}'), 1, 6))"
        f"::BIGINT % {width})"
    )


def _md5_bucket(key_col, seed: int, width: int):
    """Seeded hash bucket DuckDB can reproduce: 24 md5 bits mod width
    (the pps_sample / checksum_orders_table exactness machinery turned
    into a hash FAMILY via the seed suffix)."""
    h = F.md5(F.concat(key_col.cast("string"), F.lit(f"#{seed}")))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % width


#: count-min geometry: d seeded hash rows x w counters. With w=2048 the
#: CM guarantee bounds any overestimate by eps*N, eps = e/w ~ 0.0013,
#: with probability 1 - exp(-d) ~ 98%.
_CMS_D = 4
_CMS_W = 2048


@register(
    "sketch_count_min_md5_topk",
    oracle=f"""
    WITH cells AS (
      SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT l_suppkey,
                   unnest([{", ".join(
                       f"struct_pack(r := {r}, bucket := {_md5_bucket_sql('l_suppkey', r, _CMS_W)})"
                       for r in range(_CMS_D))}]) AS u
            FROM lineitem) t,
      LATERAL (SELECT u.r AS r, u.bucket AS bucket)
      GROUP BY r, bucket),
    probes AS (
      SELECT DISTINCT l_suppkey,
             unnest([{", ".join(
                 f"struct_pack(r := {r}, bucket := {_md5_bucket_sql('l_suppkey', r, _CMS_W)})"
                 for r in range(_CMS_D))}]) AS u
      FROM lineitem),
    est AS (
      SELECT l_suppkey, MIN(c) AS est_count
      FROM probes JOIN cells ON cells.r = u.r AND cells.bucket = u.bucket
      GROUP BY l_suppkey)
    SELECT l_suppkey, est_count
    FROM est
    ORDER BY est_count DESC, l_suppkey
    LIMIT 20
    """,
)
def sketch_count_min_md5_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH heavy hitters (Cormode & Muthukrishnan 2005):
    estimated occurrence counts for the 20 heaviest l_suppkey values
    in lineitem, probed from a 4x2048 counter sketch. est(k) = min
    over the 4 seeded rows of the counter at that row's bucket for k;
    the sketch never underestimates, and overestimates by more than
    eps*N (~0.13% of table rows) with probability < e^-4 per probe
    (pinned in tests/test_extra.py). The hash family is 24 md5 bits
    with a seed suffix (the ``pipeline_pps_sample`` determinism
    machinery), which DuckDB reproduces bit-for-bit — so the
    ESTIMATES themselves hash-match, not just their error bounds. At
    100 TB a JVM-side hash such as xxhash64 avoids the string
    round-trip; the plan is unchanged.

    Plan/scale: the sketch build reduces to <= d*w counter cells
    (map-side combined, input-size independent state — which is what
    lets it run inside Structured Streaming as a fixed-size
    aggregate), probes hash in codegen and join the BROADCAST cell
    table, min-of-d per key, top-20 by (est DESC, key).
    """
    li = _t(spark, sf_dir, "lineitem")
    key = F.col("l_suppkey")

    def hash_pairs():
        # ONE definition for build and probe: they must hash into the
        # same cells or the sketch silently reads garbage
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _md5_bucket(key, r, _CMS_W).alias("bucket"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("u")

    pairs = li.select(hash_pairs())
    cells = pairs.groupBy(
        F.col("u.r").alias("r"), F.col("u.bucket").alias("bucket")
    ).agg(F.count("*").alias("c"))
    probes = li.select("l_suppkey").distinct().select("l_suppkey", hash_pairs())
    est = (
        probes.join(
            F.broadcast(cells),
            (F.col("u.r") == F.col("r")) & (F.col("u.bucket") == F.col("bucket")),
        )
        .groupBy("l_suppkey")
        .agg(F.min("c").alias("est_count"))
    )
    return est.orderBy(F.col("est_count").desc(), "l_suppkey").limit(20)


#: bloom geometry: k seeded hash bits in an m-bit space. Customers at
#: sf0.01 ~ 1.5k keys -> m=32768, k=4 gives a theoretical FPR of
#: (1 - e^(-k*n/m))^k ~ 0.0001; the pytest pins an order-of-magnitude
#: looser ceiling so every SF in the fixture family passes.
_BLOOM_M = 32768
_BLOOM_K = 4


@register(
    "sketch_bloom_md5_nonmembers",
    oracle=f"""
    WITH active AS (SELECT DISTINCT user_id AS key FROM events),
    bits AS (SELECT DISTINCT unnest([{", ".join(
        _md5_bucket_sql('key', r, _BLOOM_M) for r in range(_BLOOM_K))}]) AS bit
             FROM active),
    probes AS (SELECT DISTINCT o_orderpriority, o_custkey FROM orders),
    pb AS (SELECT o_orderpriority, o_custkey,
                  unnest([{", ".join(
                      _md5_bucket_sql('o_custkey', r, _BLOOM_M) for r in range(_BLOOM_K))}]) AS bit
           FROM probes),
    hits AS (SELECT o_orderpriority, o_custkey,
                    CAST(COUNT(*) FILTER (bit IN (SELECT bit FROM bits)) AS INT) AS n_set
             FROM pb GROUP BY o_orderpriority, o_custkey),
    verdict AS (SELECT o_orderpriority, o_custkey,
                       n_set < {_BLOOM_K} AS definitely_absent
                FROM hits)
    SELECT o.o_orderpriority,
           CAST(SUM(CASE WHEN v.definitely_absent THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pruned_orders,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o JOIN verdict v
      ON o.o_orderpriority = v.o_orderpriority AND o.o_custkey = v.o_custkey
    GROUP BY o.o_orderpriority
    """,
)
def sketch_bloom_md5_nonmembers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER semi-join pruning as an explicit operator: per
    order priority, how many orders have a customer that is DEFINITELY
    not an active event user — the filter step a 100 TB pipeline runs
    BEFORE an expensive join so provably-unmatchable rows never
    shuffle. The filter is built over the small ACTIVE-USER set (every
    event user is a customer on this fixture) with k=4 bits in an
    m=32768-bit space. The Bloom contract: NO false negatives (pinned
    in tests/test_extra.py), false positives bounded by the geometry.
    The md5 seed-suffix hash family is computed identically by both
    engines, so the per-priority pruned-order COUNTS hash-match — the
    filter's actual decisions are cross-engine verified, not just
    bounded.

    Plan/scale: bit table <= m rows broadcast, probe bits in codegen, per-key all-bits-set test
    on ONE probe row per key (probing per fact row would conflate row
    multiplicity with bit coverage), then the verdict joins back to
    the facts for the bounded groupBy."""
    active = _t(spark, sf_dir, "events").select(F.col("user_id").alias("key")).distinct()
    bits = (
        active.select(
            F.explode(
                F.array(
                    *[
                        _md5_bucket(F.col("key"), r, _BLOOM_M)
                        for r in range(_BLOOM_K)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    probes = orders.distinct().select(
        "o_orderpriority",
        "o_custkey",
        F.explode(
            F.array(
                *[
                    _md5_bucket(F.col("o_custkey"), r, _BLOOM_M)
                    for r in range(_BLOOM_K)
                ]
            )
        ).alias("bit"),
    )
    hits = (
        probes.join(F.broadcast(bits), "bit", "left_semi")
        .groupBy("o_orderpriority", "o_custkey")
        .agg(F.count("*").alias("n_set"))
    )
    verdict = probes.select("o_orderpriority", "o_custkey").distinct().join(
        hits, ["o_orderpriority", "o_custkey"], "left"
    ).select(
        "o_orderpriority",
        "o_custkey",
        (F.coalesce("n_set", F.lit(0)) < _BLOOM_K).alias("definitely_absent"),
    )
    return (
        orders.join(verdict, ["o_orderpriority", "o_custkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("definitely_absent").cast("long")).alias("n_pruned_orders"),
            F.count("*").alias("n_orders"),
        )
    )


_CO_EDGE_SCRATCH_KEY = "co_edges"


def _co_purchase_edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot builder for the canonical WEIGHTED co-purchase edge
    list from 2-20 item baskets: one row per unordered part pair
    (u < v), ``w`` = number of distinct orders containing both.

    r14 rewrite to the ``assoc_part_pairs_in_orders`` construction:
    the basket is assembled ONCE per order (collect_set — distinct
    parts, bounded state), the size cap applies to the array, and the
    k·(k−1)/2 ordered pairs are generated inside codegen by an
    indexed transform over the sorted array — TWO shuffles (basket
    build, pair count) and ZERO joins, where the old distinct +
    self-join + LeftSemi form paid four exchanges over the raw line
    items (measured 3-4 s -> see BASELINE.md r14; same (u, v, w)
    rows, sorting makes u < v by construction)."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .where(F.size("parts").between(2, 20))
    )
    pair_arrays = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice("parts", i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_arrays).alias("p"))
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
    )


def _co_purchase_edges_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (u, v, w) edge table, built at most once per
    (process, sf_dir) via the shared ``scratch.cached_table``
    contract (r9 verdict task 2 introduced the scratch: FIVE graph
    ops — both PageRanks, both triangle ops, degree distribution —
    paid the identical 12M/120M-edge distinct self-join per call; now
    each pays a columnar parquet scan instead; r10 task 8 promoted
    the path/lock/reset/count mechanics into scratch.py)."""
    from vector_db_core_spark import scratch

    return scratch.cached_table(
        spark,
        _CO_EDGE_SCRATCH_KEY,
        sf_dir,
        lambda: _co_purchase_edges_build(spark, sf_dir),
    )


def _co_purchase_edges(spark: SparkSession, sf_dir: str):
    """Canonical (u < v, distinct) co-purchase edge list — the
    unweighted projection of the session-shared scratch table."""
    return _co_purchase_edges_table(spark, sf_dir).select("u", "v")


def _degrees(edges):
    """Per-node degree of the canonical (u < v) edge list — the single
    definition every graph op shares (orientation, clustering
    denominator, the distribution profile)."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("dg"))
    )


def _oriented_triangles(edges):
    """Degree-ordered oriented triangle enumeration: each undirected
    edge points low-(degree, id) -> high, so every wedge is rooted at
    its LOWEST-degree vertex — the classic O(E^1.5) wedge bound
    regardless of hub degrees (id-ordered orientation generates Σd²
    wedges off the hubs: 69 s vs ~8 s at sf0.1). Returns
    (degree aggregate, one row per triangle as (u, v, w))."""
    from pyspark import StorageLevel

    deg0 = _degrees(edges)
    du = deg0.select(F.col("node").alias("u"), F.col("dg").alias("dg_u"))
    dv = deg0.select(F.col("node").alias("v"), F.col("dg").alias("dg_v"))
    lo_first = (F.col("dg_u") < F.col("dg_v")) | (
        (F.col("dg_u") == F.col("dg_v")) & (F.col("u") < F.col("v"))
    )
    # r14: cache the oriented edges HASH-PARTITIONED ON src so the
    # wedge self-join is co-partitioned (zero exchanges on either
    # side — the old unpartitioned cache shuffled the edge list for
    # both join arms), and project the wedge stream down to its three
    # node ids BEFORE the closing semi-join's exchange — the degree
    # fields ride only to the wedge filter, never across the wide
    # O(E^1.5) shuffle (guide §2.3: project before the exchange).
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    o = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lo_first, F.struct("dg_v", "v")).otherwise(
                F.struct(F.col("dg_u").alias("dg_v"), F.col("u").alias("v"))
            ).alias("dst"),
        )
        .repartition(width, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e1 = o.select("src", F.col("dst").alias("b"))
    e2 = o.select("src", F.col("dst").alias("c"))
    e3 = o.select(F.col("src").alias("b_node"), F.col("dst.v").alias("c_node"))
    tri = (
        e1.join(e2, "src")
        .where(F.col("b") < F.col("c"))  # struct (deg, id) order: one wedge per pair
        .select(
            F.col("src").alias("u"),
            F.col("b.v").alias("bv"),
            F.col("c.v").alias("cv"),
        )
        .join(
            e3,
            (F.col("bv") == F.col("b_node")) & (F.col("cv") == F.col("c_node")),
            "left_semi",
        )
        .select("u", F.col("bv").alias("v"), F.col("cv").alias("w"))
    )
    return deg0, tri


_TRIANGLE_SQL = f"""
WITH {_co_purchase_ctes("edges")}
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
part AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM
           (SELECT unnest([a, b, c]) AS node FROM tri)
         GROUP BY node),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
          (SELECT unnest([u, v]) AS node FROM edges)
        GROUP BY node)
SELECT d.node, d.degree,
       COALESCE(p.n_triangles, 0) AS n_triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * COALESCE(p.n_triangles, 0)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering_coeff
FROM deg d LEFT JOIN part p ON p.node = d.node
"""


@register("graph_triangle_clustering", oracle=_TRIANGLE_SQL)
def graph_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTING + local clustering coefficient over the
    co-purchase graph (same basket-derived edges as PageRank, capped
    at 2-20 items): per node its degree, triangle count, and
    2T/(d(d-1)) — the community-structure statistic (tightly-knit
    product clusters vs hub-and-spoke) PageRank's flow view can't
    see. The canonical-ORIENTED enumeration: edges stored once as
    u < v, each triangle found exactly once as (a<b<c) via the
    two-hop wedge a→b→c closed by the (a,c) edge — no 6× duplicate
    counting, no post-dedup.

    Plan/scale: the Spark enumeration uses the DEGREE-ORDERED
    orientation (each undirected edge points low-(degree, id) →
    high), so every wedge is rooted at its LOWEST-degree vertex —
    the classic bound that caps wedge count at O(E^1.5) regardless
    of hub degrees (id-ordered orientation on this co-purchase graph
    generates Σd² wedges off the hubs: 69 s vs ~8 s at sf0.1). The
    oracle keeps the simpler id-ordered SQL: per-node participation
    and degree are ORIENTATION-INVARIANT, so the two engines may
    enumerate differently and still hash-match. Wedge and closing
    joins are hash equi-joins on the distinct oriented edge list;
    degree and participation are UNION ALL + map-side-combined
    counts; the coefficient is one double expression + round(6)."""
    edges = _co_purchase_edges(spark, sf_dir)
    deg0, tri = _oriented_triangles(edges)
    part = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    # reuse the orientation's degree aggregate — a second differently-
    # shaped degree plan would defeat ReuseExchange and re-shuffle the
    # edge list (self-review finding)
    deg = deg0.select("node", F.col("dg").alias("degree"))
    d = F.col("degree")
    t = F.coalesce(F.col("n_triangles"), F.lit(0).cast("long"))
    return deg.join(part, "node", "left").select(
        "node",
        "degree",
        t.alias("n_triangles"),
        F.round(
            F.when(d >= 2, 2.0 * t / (d * (d - 1))).otherwise(0.0), 6
        ).alias("clustering_coeff"),
    )


_TRIANGLE_EST_SQL = f"""
WITH {_co_purchase_ctes("edges")}
se AS MATERIALIZED (
          SELECT u, v FROM edges
          WHERE substr(md5(CAST(u AS VARCHAR) || ',' || CAST(v AS VARCHAR)), 1, 1) <= '3'),
tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM se e1
        JOIN se e2 ON e2.u = e1.v
        JOIN se e3 ON e3.u = e1.u AND e3.v = e2.v),
cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN substr(md5(CAST(u AS VARCHAR) || ',' || CAST(v AS VARCHAR)), 1, 1) <= '3'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_edges_sampled
        FROM edges)
SELECT cnt.n_edges, cnt.n_edges_sampled,
       tri.n AS n_triangles_sampled,
       tri.n * 64 AS est_triangles
FROM cnt, tri
"""


@register("graph_triangle_estimate", oracle=_TRIANGLE_EST_SQL)
def graph_triangle_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE-COUNT ESTIMATION by edge sparsification — the SCALE
    TWIN of ``graph_triangle_clustering`` (r8 verdict task 2: the
    exact enumeration's recorded wall is ~sf10, where the wedge count
    reaches ~1e9 and the ladder run died in the JVM; any exact global
    count is wedge-bound at 100 TB). DOULION (Tsourakakis et al.,
    KDD 2009): keep each edge with probability p, count triangles on
    the sparsified graph, scale by 1/p³ — an unbiased estimator whose
    wedge work drops by ~p² (a surviving wedge needs both edges).
    p = 1/4 here, DETERMINISTIC: an edge survives iff the first hex
    nibble of md5('u,v') is in 0..3 — both engines sample the
    identical subgraph, so even this ESTIMATOR runs under the full
    cross-engine hash gate (the ``dedup_minhash_md5_estimate``
    discipline; a rand() sample could only be rows-checked), and
    1/p³ = 64 keeps the estimate exact-integer. Output: one row with
    the full and sampled edge counts, the sampled-triangle count, and
    the scaled estimate. Accuracy at gate scale is pinned in pytest
    against the exact op (DOULION's variance bound: the estimator
    concentrates once the true count ≫ 1/p³).

    Plan/scale: reuses the session-shared canonical edge scratch
    (``_co_purchase_edges``) and degree-ordered oriented enumeration
    (``_oriented_triangles`` — the O(E'^1.5) wedge bound now applies
    to the p-thinned E'): the sampling predicate is one codegen md5
    per edge, pushed onto the scratch edge scan BEFORE the degree
    aggregate and wedge joins, so orientation degrees are the SAMPLED
    degrees (orientation choice does not affect the global count —
    every surviving triangle is counted exactly once under any
    orientation). The two scalar aggregates cross-join as one-row
    broadcasts. At 100 TB you tune p down (p=1/16 cuts wedge work
    256x) and trade variance, the knob this op exists to expose."""
    from pyspark import StorageLevel

    edges = _co_purchase_edges(spark, sf_dir)
    keep = F.substring(F.md5(F.concat_ws(",", F.col("u"), F.col("v"))), 1, 1) <= "3"
    cnt = edges.agg(
        F.count("*").alias("n_edges"),
        F.sum(keep.cast("long")).alias("n_edges_sampled"),
    )
    sampled = edges.where(keep).persist(StorageLevel.MEMORY_AND_DISK)
    _, tri = _oriented_triangles(sampled)
    est = tri.agg(F.count("*").alias("n_triangles_sampled"))
    return (
        cnt.crossJoin(F.broadcast(est))
        .select(
            "n_edges",
            "n_edges_sampled",
            "n_triangles_sampled",
            (F.col("n_triangles_sampled") * F.lit(64).cast("long")).alias(
                "est_triangles"
            ),
        )
    )


_DEGREE_DIST_SQL = f"""
WITH {_co_purchase_ctes("edges")}
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
          (SELECT unnest([u, v]) AS node FROM edges)
        GROUP BY node),
h AS (SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY degree),
f AS (SELECT ln(CAST(degree AS DOUBLE)) AS lx,
             ln(CAST(n_nodes AS DOUBLE)) AS ly
      FROM h),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(lx AS DECIMAL(27,15))) AS sx,
             SUM(CAST(ly AS DECIMAL(27,15))) AS sy,
             SUM(CAST(lx * ly AS DECIMAL(27,15))) AS sxy,
             SUM(CAST(lx * lx AS DECIMAL(27,15))) AS sxx
      FROM f)
SELECT h.degree, h.n_nodes,
       CASE WHEN CAST(s.k AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                 - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) = 0
            THEN NULL
            ELSE round((CAST(s.k AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                        - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
                       / (CAST(s.k AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                          - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)), 6)
       END AS loglog_slope
FROM h, s
"""


@register("graph_degree_distribution", oracle=_DEGREE_DIST_SQL)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE DISTRIBUTION of the co-purchase graph plus the log-log
    least-squares slope — the is-this-graph-scale-free profile read
    BEFORE choosing graph-algorithm strategy: a steep negative slope
    (power law) says salt the hub keys and expect wedge explosions;
    this fixture's answer is a near-flat slope over a narrow bell
    (degrees 42-206, median 115 at sf0.01 — uniform TPC-H baskets
    make a binomial-ish graph, no hubs), which is itself the
    actionable profile (degree-ordered orientation still wins by
    evening wedge counts — 69 s -> 8 s at sf0.1 — but no skew
    handling is owed). Every row carries the fitted slope so the
    table is self-describing. Exactness: the histogram is exact
    integers; each
    ln and product is one double op identical in both engines,
    DECIMAL-cast before the ORDER-INDEPENDENT regression sums (the
    ``agg_covariance_matrix`` discipline), one double finish +
    round(6).

    Plan/scale: reuses the session-shared canonical edge scratch
    (``_co_purchase_edges``); degree is one map-side-combined count,
    the histogram a second (|distinct degrees| rows — dozens); the
    5-term regression reduces the histogram to one broadcast row. No
    wedge joins anywhere — this is the cheap profile beside the
    expensive enumeration."""
    edges = _co_purchase_edges(spark, sf_dir)
    deg = _degrees(edges).select("node", F.col("dg").alias("degree"))
    h = deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))
    lx = F.log(F.col("degree").cast("double"))
    ly = F.log(F.col("n_nodes").cast("double"))
    s = h.select(lx.alias("lx"), ly.alias("ly")).agg(
        F.count("*").alias("k"),
        F.sum(F.col("lx").cast("decimal(27,15)")).alias("sx"),
        F.sum(F.col("ly").cast("decimal(27,15)")).alias("sy"),
        F.sum((F.col("lx") * F.col("ly")).cast("decimal(27,15)")).alias("sxy"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(27,15)")).alias("sxx"),
    )
    k = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    # zero-denominator guard shared with the oracle (a single-degree
    # histogram has no regression): Spark NULLs a zero divisor while
    # DuckDB follows IEEE — the ACF-guard class (review finding)
    den = k * F.col("sxx").cast("double") - sx * sx
    slope = (k * F.col("sxy").cast("double") - sx * sy) / den
    return h.crossJoin(F.broadcast(s)).select(
        "degree",
        "n_nodes",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("loglog_slope"),
    )


_RFM_SQL = """
WITH rfm AS (SELECT o_custkey,
                    date_diff('day', MAX(o_orderdate),
                              (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
                    CAST(COUNT(*) AS BIGINT) AS frequency,
                    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
             FROM orders GROUP BY o_custkey),
q AS (SELECT quantile_cont(recency_days, 0.2) AS r20, quantile_cont(recency_days, 0.4) AS r40,
             quantile_cont(recency_days, 0.6) AS r60, quantile_cont(recency_days, 0.8) AS r80,
             quantile_cont(frequency, 0.2) AS f20, quantile_cont(frequency, 0.4) AS f40,
             quantile_cont(frequency, 0.6) AS f60, quantile_cont(frequency, 0.8) AS f80,
             quantile_cont(monetary_cents, 0.2) AS m20, quantile_cont(monetary_cents, 0.4) AS m40,
             quantile_cont(monetary_cents, 0.6) AS m60, quantile_cont(monetary_cents, 0.8) AS m80
      FROM rfm),
s AS (SELECT o_custkey, recency_days, frequency, monetary_cents,
             CASE WHEN recency_days <= r20 THEN 5 WHEN recency_days <= r40 THEN 4
                  WHEN recency_days <= r60 THEN 3 WHEN recency_days <= r80 THEN 2
                  ELSE 1 END AS r_score,
             CASE WHEN frequency <= f20 THEN 1 WHEN frequency <= f40 THEN 2
                  WHEN frequency <= f60 THEN 3 WHEN frequency <= f80 THEN 4
                  ELSE 5 END AS f_score,
             CASE WHEN monetary_cents <= m20 THEN 1 WHEN monetary_cents <= m40 THEN 2
                  WHEN monetary_cents <= m60 THEN 3 WHEN monetary_cents <= m80 THEN 4
                  ELSE 5 END AS m_score
      FROM rfm, q),
lab AS (SELECT *,
               CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
                    WHEN r_score >= 3 AND f_score >= 4 THEN 'loyal'
                    WHEN m_score >= 4 THEN 'big_spender'
                    WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                    ELSE 'regular' END AS segment
        FROM s)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       round(CAST(SUM(recency_days) AS DOUBLE) / COUNT(*), 6) AS avg_recency_days,
       round(CAST(SUM(frequency) AS DOUBLE) / COUNT(*), 6) AS avg_frequency,
       CAST(SUM(monetary_cents) AS BIGINT) AS total_monetary_cents
FROM lab GROUP BY segment
"""


@register("rfm_customer_segments", oracle=_RFM_SQL)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION — the classic warehouse customer-value
    analysis: per customer the Recency (days since last order, vs the
    corpus max date), Frequency (order count), Monetary (exact spend
    cents); each scored 1-5 by GLOBAL DATA-DERIVED quintiles
    (recency inverted — recent is better), then mapped through the
    standard segment rules (champion / loyal / big_spender / at_risk /
    hibernating / regular) and aggregated to the segment profile
    table. The same machinery stratifies any entity by engagement
    recency/volume — e.g. contributors to a training corpus.
    Exactness: R/F/M are exact integers; the 12 quintile thresholds
    use the shared exact-percentile contract (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, bit-identical linear interpolation —
    the ``pipeline_curriculum_phases`` pin); scores and labels are
    integer/boolean CASEs stated identically in both engines;
    averages are one division of exact sums + round(6).

    Plan/scale: one map-side-combined rollup to |customers| rows; the
    max-date scalar and the one-row threshold frame broadcast back
    (no shuffle touches the reduction again); scoring is a map-side
    CASE; the output aggregate is <=6 rows. At 100 TB swap the exact
    percentile thresholds for ``approx_percentile`` (the documented
    exact/approx twin policy) and the plan is otherwise unchanged."""
    from pyspark import StorageLevel

    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("max_d"))
    # persisted: the threshold aggregate AND the scoring pass both
    # read the customer reduction — without the persist each consumer
    # re-scans orders (4 corpus scans in the executed plan; round-10
    # plan-audit finding). Release is the registry-wide clearCache
    # contract.
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.datediff("max_d", "last_d").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    q = rfm.agg(
        *[
            F.percentile(col, p).alias(f"{col[0]}{int(p * 100)}")
            for col in ("recency_days", "frequency", "monetary_cents")
            for p in (0.2, 0.4, 0.6, 0.8)
        ]
    )
    s = rfm.crossJoin(F.broadcast(q)).select(
        "recency_days",
        "frequency",
        "monetary_cents",
        F.when(F.col("recency_days") <= F.col("r20"), 5)
        .when(F.col("recency_days") <= F.col("r40"), 4)
        .when(F.col("recency_days") <= F.col("r60"), 3)
        .when(F.col("recency_days") <= F.col("r80"), 2)
        .otherwise(1)
        .alias("r_score"),
        F.when(F.col("frequency") <= F.col("f20"), 1)
        .when(F.col("frequency") <= F.col("f40"), 2)
        .when(F.col("frequency") <= F.col("f60"), 3)
        .when(F.col("frequency") <= F.col("f80"), 4)
        .otherwise(5)
        .alias("f_score"),
        F.when(F.col("monetary_cents") <= F.col("m20"), 1)
        .when(F.col("monetary_cents") <= F.col("m40"), 2)
        .when(F.col("monetary_cents") <= F.col("m60"), 3)
        .when(F.col("monetary_cents") <= F.col("m80"), 4)
        .otherwise(5)
        .alias("m_score"),
    )
    lab = s.select(
        "recency_days",
        "frequency",
        "monetary_cents",
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") >= 3) & (F.col("f_score") >= 4), "loyal")
        .when(F.col("m_score") >= 4, "big_spender")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
        .alias("segment"),
    )
    return lab.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("recency_days").cast("double") / F.count("*"), 6).alias(
            "avg_recency_days"
        ),
        F.round(F.sum("frequency").cast("double") / F.count("*"), 6).alias(
            "avg_frequency"
        ),
        F.sum("monetary_cents").alias("total_monetary_cents"),
    )


def _kcore_sql() -> str:
    """Unrolled 8-round k-core peeling oracle (the
    ``graph_pagerank_exact`` fixed-iteration discipline: a bounded
    loop needs no recursion, just CTEs). k is the exact p25 of the
    INITIAL degree distribution (quantile_cont — the shared
    exact-percentile contract)."""
    parts = [
        f"""{_co_purchase_ctes("e0")}
d0 AS (SELECT node, COUNT(*) AS dg FROM
         (SELECT unnest([u, v]) AS node FROM e0) GROUP BY node),
kk AS (SELECT quantile_cont(dg, 0.25) AS k FROM d0)"""
    ]
    for i in range(1, 9):
        parts.append(
            f"""d{i} AS (SELECT node, COUNT(*) AS dg FROM
         (SELECT unnest([u, v]) AS node FROM e{i - 1}) GROUP BY node),
n{i} AS (SELECT node FROM d{i}, kk WHERE dg >= k),
e{i} AS MATERIALIZED (
       SELECT u, v FROM e{i - 1}
       WHERE u IN (SELECT node FROM n{i})
         AND v IN (SELECT node FROM n{i}))"""
        )
    rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS round, (SELECT k FROM kk) AS k,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM n{i}) AS n_nodes,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM e{i}) AS n_edges"
        for i in range(1, 9)
    )
    return "WITH " + ",\n".join(parts) + "\n" + rows


@register("graph_kcore_peeling", oracle=_kcore_sql())
def graph_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE PEELING TRAJECTORY of the co-purchase graph — the
    cohesion profile read before trusting any density-dependent graph
    algorithm: iteratively remove nodes of degree < k (k = exact p25
    of the initial degree distribution) and record, per peel round,
    the surviving node and edge counts. On this fixture the
    trajectory is the finding: TPC-H's binomial-ish co-purchase graph
    has NO stable p25-core — removing the thin quartile guts the
    remaining degrees and the cascade empties the graph in ~3 rounds
    (a real co-purchase graph with community structure stabilizes at
    a dense nucleus; pin: the trajectory is monotone non-increasing
    and reaches its fixpoint within the 8 unrolled rounds).
    Exactness: counts are exact integers, k is the shared
    exact-percentile contract, the >= comparison is int-vs-double in
    both engines.

    Plan/scale: reuses the session-shared edge scratch
    (``_co_purchase_edges``); the initial degree aggregate is computed
    ONCE and feeds both the k quantile and round 1's peel (persisted
    across the scalar collect, released after round 1); each later
    round is one map-side-combined degree aggregate + two LEFT SEMI
    equi-joins keyed on node id — the PageRank loop shape: count the
    persisted keep set first (the job that materializes its cache),
    then count the next edge set off that cache, with the superseded
    round unpersisted (shallow lineage). Folding the two counts into
    one action was measured SLOWER (see the in-loop note) — the
    single job recomputes the degree aggregate per consumer. The Spark loop
    EARLY-STOPS at the fixpoint and replays the converged counts for
    the remaining unrolled rounds (peeling is monotone, so rounds
    past the fixpoint are identical by definition — stated in the
    oracle by actually unrolling them); the oracle pays the no-op
    rounds on empty/stable sets, which cost nothing. 8 rounds bounds
    the gate run; a full decomposition iterates to the max core
    number with the same per-round plan."""
    edges0 = _co_purchase_edges(spark, sf_dir)
    # ONE initial degree aggregate feeds BOTH the k quantile and round
    # 1's peel (r10 verdict nit: they are the same aggregate over the
    # same edge set; recomputing it cost an extra exchange on the most
    # expensive bench row). Persisted so the quantile collect doesn't
    # discard it before round 1 reads it; released after round 1.
    deg0 = _degrees(edges0).persist()
    k = deg0.agg(F.percentile("dg", F.lit(0.25)).alias("k")).collect()[0].k
    cur = edges0.persist()
    trajectory: list[tuple[int, float, int, int]] = []
    for rnd in range(1, 9):
        if trajectory and trajectory[-1][2] == 0:
            # empty core: peeling an empty graph stays empty
            trajectory.append((rnd, k, 0, 0))
            continue
        if len(trajectory) >= 2 and trajectory[-1][2:] == trajectory[-2][2:]:
            # observed fixpoint: peeling only removes, so equal counts
            # imply equal sets and every later round is identical
            trajectory.append((rnd, k) + trajectory[-1][2:])
            continue
        d = deg0 if rnd == 1 else _degrees(cur)
        # localCheckpoint, not persist (r14): each round's LOGICAL plan
        # references the previous round's ~5x (the join probe + twice
        # inside each keep's degree union), so with plain persist the
        # ANALYZED tree grows 5^round — physical execution reads the
        # cache, but every action's SQL-execution-start event renders
        # the analyzed plan to a string, and by round 4 the DRIVER
        # burned minutes in TreeNode.generateTreeString with all 32
        # executor threads idle (jstack-verified; the probe measured
        # 160 s for round 4's count over an EMPTY edge set).
        # loop_checkpoint truncates lineage to the materialized blocks,
        # so every round's plan stays scan-shaped. Two actions per
        # round stays DELIBERATE (the r11-task-6 fold was measured
        # slower): the count IS the checkpoint materialization, and
        # nxt's two semi-join probes then read the stored blocks.
        keep = loop_checkpoint(
            d.where(F.col("dg") >= F.lit(k)).select("node"), eager=False
        )
        n_nodes = keep.count()
        nxt = loop_checkpoint(
            cur.join(keep.select(F.col("node").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("node").alias("v")), "v", "left_semi"),
            eager=False,
        )
        n_edges = nxt.count()
        if rnd == 1:
            cur.unpersist()  # edges0's cache; checkpointed rounds are
            deg0.unpersist()  # reaped by the ContextCleaner on GC
        cur = nxt
        trajectory.append((rnd, k, n_nodes, n_edges))
    return spark.createDataFrame(
        trajectory, schema="round INT, k DOUBLE, n_nodes LONG, n_edges LONG"
    )


_ASSORT_SQL = f"""
WITH {_co_purchase_ctes("e0")}
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM
          (SELECT unnest([u, v]) AS node FROM e0) GROUP BY node),
ed AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
j AS (SELECT da.dg AS dx, db.dg AS dy
      FROM ed JOIN deg da ON da.node = ed.a
              JOIN deg db ON db.node = ed.b),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sum_xy,
             CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sum_x,
             CAST(SUM(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sum_xx
      FROM j)
SELECT n_pairs, sum_xy, sum_x, sum_xx,
       CASE WHEN CAST(n_pairs AS DOUBLE) * sum_xx - sum_x * sum_x = 0
            THEN NULL
            ELSE round((CAST(n_pairs AS DOUBLE) * sum_xy - sum_x * sum_x)
                       / (CAST(n_pairs AS DOUBLE) * sum_xx - sum_x * sum_x),
                       6)
       END AS assortativity
FROM s
"""


@register("graph_assortativity", oracle=_ASSORT_SQL)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the co-purchase graph — Newman (2002)'s
    r: the Pearson correlation of the degrees at the two ends of every
    edge, evaluated over BOTH orientations (which symmetrizes the
    moments, so Sy == Sx and Syy == Sxx and plain Pearson closes the
    formula). Positive r = hubs buy with hubs (assortative mixing,
    social-network-like); negative = hub-and-spoke (popular staples
    pair with long-tail parts — the typical retail signature). The
    one-scalar structural read PageRank/degree-distribution don't
    give: it says WHO connects to whom, not who matters.

    Exactness: degrees are exact integer counts; every cross-moment
    (dx*dy, dx, dx^2) accumulates in DECIMAL(38,0) on both engines
    (the ``agg_covariance_matrix`` discipline — order-independent
    integer addition at any parallelism; a BIGINT accumulator would
    overflow the closing algebra's products of sums at ~sf1, which
    the scale ladder caught) and is exposed as DOUBLE (a DECIMAL
    output column materializes asymmetrically in pandas — the dtype
    audit's catch; the decimal-to-double conversion is the same
    nearest-double on both engines); the correlation is one fixed
    all-DOUBLE expression + round(6), with the zero-variance guard
    stated in both engines (a regular graph has no degree variance
    and reports NULL, not a fault).

    Plan/scale: reuses the session-shared edge scratch; one degree
    aggregate (the shared ``_degrees`` shape), two node-keyed joins
    to decorate edge ends, one map-side-combined global reduction to
    a single row. Degree skew is join-key skew on the hub nodes —
    AQE's skew split or the salting knob, same as every other
    edge-decorating op."""
    und = _co_purchase_edges(spark, sf_dir)
    deg = _degrees(und)
    ed = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    j = (
        ed.join(deg.select(F.col("node").alias("a"), F.col("dg").alias("dx")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("dg").alias("dy")), "b")
        .select("dx", "dy")
    )
    # accumulate in DECIMAL(38,0) (exact, order-independent), close
    # and EXPOSE in DOUBLE on both engines: a 240M-pair sum's square
    # overflows BIGINT at ~sf1 (the ladder caught the bare product in
    # the zero guard), and a DECIMAL(38,0) output column materializes
    # as pandas object on Spark but float64 on DuckDB (the dtype
    # audit's catch) — the decimal-to-double conversion itself is the
    # same nearest-double on both engines
    s = j.agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("dx") * F.col("dy")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sum_xy"),
        F.sum(F.col("dx").cast("decimal(38,0)")).cast("double").alias("sum_x"),
        F.sum((F.col("dx") * F.col("dx")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sum_xx"),
    )
    n = F.col("n_pairs").cast("double")
    sxy, sx, sxx = (F.col(c) for c in ("sum_xy", "sum_x", "sum_xx"))
    denom_zero = (n * sxx - sx * sx) == 0
    r = (n * sxy - sx * sx) / (n * sxx - sx * sx)
    return s.select(
        "n_pairs",
        "sum_xy",
        "sum_x",
        "sum_xx",
        F.when(denom_zero, F.lit(None).cast("double"))
        .otherwise(F.round(r, 6))
        .alias("assortativity"),
    )


#: Fixed round budget for min-label propagation — the k-core/PageRank
#: bounded-loop discipline: both engines state EXACTLY this many
#: rounds, so the result is well-defined (and identical) even before
#: convergence. 12 >> the measured co-purchase diameter at every
#: tested scale (fixpoint in <= 4 rounds at sf0.01/sf0.1; the Spark
#: loop early-stops there and later rounds are identity by
#: monotonicity).
CC_ROUNDS = 12


def _cc_sql() -> str:
    """Unrolled min-label propagation oracle (NOT a recursive CTE:
    the all-reachable-labels walk a plain ``WITH RECURSIVE`` can
    express is |C|^2 rows per component — quadratic in the giant
    component, minutes at sf0.1 — while the per-round labeling is
    |V| rows; DuckDB 1.0 has no keyed recursion, so the bounded
    unroll is the same answer at linear cost)."""
    parts = [
        f"""{_co_purchase_ctes("e0")}
ed AS MATERIALIZED (
       SELECT u AS src, v AS dst FROM e0
       UNION ALL
       SELECT v AS src, u AS dst FROM e0),
l0 AS (SELECT DISTINCT src AS node, src AS comp FROM ed)"""
    ]
    for i in range(1, CC_ROUNDS + 1):
        parts.append(
            f"""l{i} AS MATERIALIZED (
       SELECT l.node, LEAST(l.comp, COALESCE(MIN(n.comp), l.comp)) AS comp
       FROM l{i - 1} l
       LEFT JOIN ed ON ed.dst = l.node
       LEFT JOIN l{i - 1} n ON n.node = ed.src
       GROUP BY l.node, l.comp)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
, sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS component_size
         FROM l{CC_ROUNDS} GROUP BY comp)
SELECT component_size, CAST(COUNT(*) AS BIGINT) AS n_components
FROM sz GROUP BY component_size
"""
    )


def _min_label_fixpoint(edges: DataFrame, rounds: int) -> DataFrame:
    """Min-label propagation over the undirected edge frame ``edges``
    (columns ``u``, ``v`` only; one row per edge, either orientation): at
    most ``rounds`` rounds, where each round gives every node the min
    of its own label and its neighbours' labels, starting from each
    node's own id. After k rounds a node's label is the smallest id
    within distance k; at the fixpoint it is the smallest id of its
    component. Returns ``(node, comp)`` for every endpoint.

    Each round reads every edge once, as two arcs (u -> v, v -> u)
    generated in the scan's own stage; no symmetrized copy is stored
    or shuffled. Round 1 reads the edges alone: each arc offers
    ``least(u, v)`` to its head, and each node takes the min offered,
    which is min(own id, neighbours). Every later round joins the arcs
    on their tail to the previous label frame, BROADCAST, so the E-row
    edge side is scanned in place; each node takes a map-side-combined
    min of its own label and the labels its arcs bring. The broadcast
    side is two longs per node. The hint is required: the planner
    sizes the checkpointed label frame from the arcs, above the edges,
    so without it a round builds its hash table on the edge side or
    shuffles the edge list. The label frame is joined ONCE per round:
    the planner multiplies the size estimates of a join's inputs, so
    joining it on both endpoints squares the estimate every round,
    and its arithmetic alone took seconds per round past round 20.

    Every round's frame goes through ``loop_checkpoint``, so each
    round plans against a scan of the previous labels, not the
    accumulated chain. Labels only fall, so an unchanged label SUM
    means no label changed: the loop stops there, one scalar per
    round.

    The edges are read once per round, so the helper caches them for
    the loop, unless the caller already holds them cached."""
    owned = not edges.is_cached
    ed = edges.persist() if owned else edges
    arcs = ed.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("a")
    ).select("a.src", "a.dst")

    def min_per_node(offers: DataFrame) -> DataFrame:
        return offers.groupBy("node").agg(F.min("comp").alias("comp"))

    def label_sum(lbl: DataFrame) -> int:  # the action that materializes lbl
        return lbl.agg(F.sum("comp")).collect()[0][0]

    lbl = loop_checkpoint(
        min_per_node(arcs.select(F.col("dst").alias("node"), F.least("src", "dst").alias("comp")))
    )
    prev_sum = label_sum(lbl)
    for _ in range(rounds - 1):
        tails = F.broadcast(lbl.select(F.col("node").alias("src"), "comp"))
        msgs = arcs.join(tails, "src").select(F.col("dst").alias("node"), "comp")
        lbl = loop_checkpoint(min_per_node(lbl.unionByName(msgs)))
        cur_sum = label_sum(lbl)
        if cur_sum == prev_sum:  # monotone: equal sum == fixpoint
            break
        prev_sum = cur_sum
    # every label frame is materialized, so the edge cache is no
    # longer referenced; the registry's clearCache reaps the labels
    if owned:
        ed.unpersist()
    return lbl


@register("graph_connected_components", oracle=_cc_sql())
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECTED COMPONENTS of the co-purchase graph by iterative
    min-label propagation — the graph family's reachability member
    (PageRank ranks, triangles measure cohesion, k-core peels; this
    answers "how many islands, and how big" — the first question a
    recommender or dedup-cluster consumer asks of an edge set). Each
    node starts labeled with its own id; every round each node takes
    the min of its label and its neighbors' labels; at the fixpoint a
    node's label is the smallest node id reachable from it (the
    canonical component id — hash-min propagation, the textbook
    MapReduce CC formulation of Rastogi et al. 2013's HashMin).
    Output is the bounded component-size histogram (component_size,
    n_components), not the |V|-row labeling. ``dedup_connected_clusters``
    runs the same fixpoint (``_min_label_fixpoint``) over the TINY
    near-dup pair graph and emits per-doc labels; this one runs on the
    full co-purchase graph, where |V|-row output would be data-sized
    and the histogram is the analyst's question.

    Exactness: labels and counts are integers throughout; no floats
    anywhere. Both engines state EXACTLY ``CC_ROUNDS`` propagation
    rounds (the k-core unrolled-loop discipline), so the output is
    well-defined independent of convergence; the Spark loop
    early-stops at the fixpoint because further min-rounds are
    identity by monotonicity — measured fixpoint <= 4 rounds at
    sf0.01 and sf0.1, far under the budget.

    Plan/scale: reads the session-shared edge scratch once into an
    E-row (u < v) edge cache — no symmetrized copy, no repartition.
    Each round streams that cache as two arcs per edge, joins them to
    the broadcast |V|-row label frame, and takes a map-side-combined
    min per node: only the label frame and the per-node partial mins
    move, never an edge. Convergence is detected by the SUM of labels (strictly
    decreasing until fixpoint — min-propagation is monotone), one
    scalar per round instead of a change-count join. Rounds = graph
    diameter (small for the dense co-purchase graph; capped with a
    sanity bound). The broadcast side is bounded by the part count;
    where |V| outgrows a broadcast, or the graph's diameter is large,
    the published large-star/small-star alternation (Kiveris et al.
    2014) bounds rounds at O(log n) over a node-partitioned label
    frame."""
    lbl = _min_label_fixpoint(_co_purchase_edges(spark, sf_dir), CC_ROUNDS)
    sz = lbl.groupBy("comp").agg(F.count("*").alias("component_size"))
    return sz.groupBy("component_size").agg(F.count("*").alias("n_components"))


_KM_SQL = """
WITH u AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS f, CAST(MAX(ts) AS DATE) AS l,
                  CAST(MIN(CASE WHEN event_type = 'purchase'
                                 AND CAST(round(value * 100) AS BIGINT) >= 15000
                                THEN ts END) AS DATE) AS p
           FROM events GROUP BY user_id),
lt AS (SELECT user_id,
              CAST(date_diff('day', f, COALESCE(p, l)) AS BIGINT) AS lifetime,
              p IS NULL AS censored
       FROM u),
g AS (SELECT lifetime,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
      FROM lt GROUP BY lifetime),
w AS (SELECT *,
             SUM(n_users) OVER (ORDER BY lifetime ROWS UNBOUNDED PRECEDING) AS cum_u,
             SUM(n_users) OVER () AS n_total
      FROM g),
r AS (SELECT *, n_total - cum_u + n_users AS at_risk FROM w),
t AS (SELECT *,
             CASE WHEN n_events > 0 AND n_events < at_risk
                  THEN CAST(ln(1 - CAST(n_events AS DOUBLE) / at_risk)
                            AS DECIMAL(27,15))
                  ELSE CAST(0 AS DECIMAL(27,15)) END AS lnterm,
             CASE WHEN n_events = at_risk THEN 1 ELSE 0 END AS zf
      FROM r),
c AS (SELECT *,
             SUM(lnterm) OVER (ORDER BY lifetime ROWS UNBOUNDED PRECEDING) AS cum_ln,
             MAX(zf) OVER (ORDER BY lifetime ROWS UNBOUNDED PRECEDING) AS zhit
      FROM t)
SELECT lifetime AS lifetime_days, n_users, n_events, n_censored,
       CAST(at_risk AS BIGINT) AS n_at_risk,
       CASE WHEN zhit = 1 THEN 0.0
            ELSE round(exp(CAST(cum_ln AS DOUBLE)), 6) END AS km_survival
FROM c
"""


@register("cohort_kaplan_meier", oracle=_KM_SQL)
def cohort_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER SURVIVAL CURVE for time-to-first-HIGH-VALUE
    purchase (>= $150, exact-cents comparison — roughly half the
    users never get there at every fixture scale, so censoring is
    genuinely exercised) — the right-censoring-aware conversion
    analysis the naive funnel table (``funnel_time_to_convert``)
    can't give: a user who never converts is CENSORED at their last
    observed event (their at-risk time still informs the curve), not
    dropped or counted as a failure at an arbitrary horizon — KM is
    the standard estimator for exactly this. Per distinct duration t
    (days from a user's first event to first qualifying purchase, or
    to last event if censored):
    users ending there, conversion events d_t, censored count,
    at-risk count n_t (everyone with duration >= t), and
    S(t) = prod over t_i <= t of (1 - d_i/n_i) — the probability of
    remaining unconverted past t. Exactness: lifetimes/counts/at-risk are exact
    integers; the product runs as exp(cumulative sum of ln terms)
    with each ln term one fixed double expression DECIMAL-cast before
    the ORDERED cumulative sum (exact addition, same prefix at any
    parallelism), one exp + round(6) finish; the d_t == n_t
    absorbing-zero case (ln 0 diverges, S sticks at 0) is stated in
    both engines via a cumulative-max flag instead of relying on
    either engine's ln(0)/exp(-inf) behavior.

    Plan/scale: one map-side-combined per-user rollup (|users| rows,
    keyed shuffle — firsts, lasts, and the conditional first-purchase
    ride ONE aggregate), one grid aggregate to |distinct durations|
    rows (bounded by the observation span in days), and the
    cumulative windows run on THAT bounded grid — the reduce-then-
    rank discipline. Output: one row per distinct duration."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("f"),
        F.max(F.col("ts").cast("date")).alias("l"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.round(F.col("value") * 100).cast("long") >= 15000),
                F.col("ts"),
            )
        ).cast("date").alias("p"),
    )
    lt = u.select(
        F.datediff(F.coalesce("p", "l"), "f").cast("long").alias("lifetime"),
        F.col("p").isNull().alias("censored"),
    )
    g = lt.groupBy("lifetime").agg(
        F.count("*").alias("n_users"),
        F.sum((~F.col("censored")).cast("long")).alias("n_events"),
        F.sum(F.col("censored").cast("long")).alias("n_censored"),
    )
    wf = W.orderBy("lifetime").rowsBetween(W.unboundedPreceding, 0)
    wp = W.orderBy("lifetime").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    r = g.select(
        "*",
        (
            F.sum("n_users").over(wp)
            - F.sum("n_users").over(wf)
            + F.col("n_users")
        ).alias("at_risk"),
    )
    lnterm = (
        F.when(
            (F.col("n_events") > 0) & (F.col("n_events") < F.col("at_risk")),
            F.log(1 - F.col("n_events").cast("double") / F.col("at_risk")).cast(
                "decimal(27,15)"
            ),
        ).otherwise(F.lit(0).cast("decimal(27,15)"))
    )
    zf = F.when(F.col("n_events") == F.col("at_risk"), 1).otherwise(0)
    t = r.select("*", lnterm.alias("lnterm"), zf.alias("zf"))
    c = t.select(
        "*",
        F.sum("lnterm").over(wf).alias("cum_ln"),
        F.max("zf").over(wf).alias("zhit"),
    )
    return c.select(
        F.col("lifetime").alias("lifetime_days"),
        "n_users",
        "n_events",
        "n_censored",
        F.col("at_risk").cast("long").alias("n_at_risk"),
        F.when(F.col("zhit") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_ln").cast("double")), 6))
        .alias("km_survival"),
    )



_KM_MEDIAN_SQL = (
    "WITH km AS (" + _KM_SQL + """),
c AS (SELECT MIN(lifetime_days) AS med FROM km WHERE km_survival <= 0.5),
t AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_total,
             CAST(SUM(n_events) AS BIGINT) AS n_converted,
             CAST(SUM(n_censored) AS BIGINT) AS n_censored
      FROM km)
SELECT t.n_total, t.n_converted, t.n_censored,
       c.med AS median_lifetime_days,
       (SELECT km_survival FROM km WHERE lifetime_days = c.med)
         AS survival_at_median
FROM c, t
"""
)


@register("cohort_km_median_lifetime", oracle=_KM_MEDIAN_SQL)
def cohort_km_median_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN SURVIVAL TIME off the Kaplan-Meier curve — the
    one-number summary the full ``cohort_kaplan_meier`` table feeds
    every dashboard: the smallest duration t where S(t) <= 0.5 (the
    censoring-aware median; a naive median of observed lifetimes
    would treat censored users as converted-at-last-sight and bias
    low — the exact error KM exists to avoid). Composes the
    registered KM DataFrame AND its oracle text as a CTE (the
    calibration/curve discipline), with the cohort's conversion /
    censoring totals alongside; if the curve never crosses 0.5 (most
    users never convert) the median is NULL in both engines — a
    stated outcome, not a fault, and itself the headline ("median
    time-to-convert undefined: under half convert").

    Exactness: the KM curve's values are the registered op's (same
    SQL text); the crossing pick is MIN over an integer column under
    a comparison of already-round(6) survival values; totals are
    exact integer sums.

    Plan/scale: everything beyond the KM op's own shuffles runs on
    the bounded duration grid (one filter + MIN, one grid total, one
    single-row lookup join)."""
    km = cohort_kaplan_meier(spark, sf_dir)
    c = km.where(F.col("km_survival") <= 0.5).agg(
        F.min("lifetime_days").alias("med")
    )
    t = km.agg(
        F.sum("n_users").cast("bigint").alias("n_total"),
        F.sum("n_events").cast("bigint").alias("n_converted"),
        F.sum("n_censored").cast("bigint").alias("n_censored"),
    )
    at = km.select(
        F.col("lifetime_days").alias("med_l"),
        F.col("km_survival").alias("survival_at_median"),
    )
    return (
        c.crossJoin(t)
        .join(F.broadcast(at), F.col("med_l") == F.col("med"), "left")
        .select(
            "n_total",
            "n_converted",
            "n_censored",
            F.col("med").alias("median_lifetime_days"),
            "survival_at_median",
        )
    )


_LINK_PREDICTION_SQL = f"""
WITH {_co_purchase_ctes("edges")}
adj AS (SELECT u AS w, v AS n FROM edges
        UNION ALL
        SELECT v AS w, u AS n FROM edges),
cn AS (SELECT a.n AS u, b.n AS v, CAST(COUNT(*) AS BIGINT) AS common
       FROM adj a JOIN adj b ON a.w = b.w AND a.n < b.n
       GROUP BY a.n, b.n),
deg AS (SELECT w AS node, CAST(COUNT(*) AS BIGINT) AS dg
        FROM adj GROUP BY w),
cand AS (SELECT cn.u, cn.v, cn.common, du.dg AS deg_u, dv.dg AS deg_v,
                round(CAST(cn.common AS DOUBLE)
                      / (du.dg + dv.dg - cn.common), 6) AS jaccard
         FROM cn
         JOIN deg du ON du.node = cn.u
         JOIN deg dv ON dv.node = cn.v
         WHERE NOT EXISTS (SELECT 1 FROM edges e
                           WHERE e.u = cn.u AND e.v = cn.v))
SELECT u, v, common, deg_u, deg_v, jaccard
FROM cand
ORDER BY jaccard DESC, u, v
LIMIT 100
"""


@register("graph_jaccard_link_prediction", oracle=_LINK_PREDICTION_SQL)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JACCARD LINK PREDICTION (Liben-Nowell & Kleinberg 2003) on the
    co-purchase graph: the top 100 NON-edges ranked by neighborhood
    overlap |N(u)∩N(v)| / |N(u)∪N(v)| — 'parts bought alongside the
    same baskets but never together yet', the classical recommender /
    missing-link score and the graph family's predictive member
    beside its descriptive ones (degrees, triangles, PageRank).

    Exactness: common-neighbor counts and degrees are exact integers
    over the canonical deduplicated edge list; Jaccard is one fixed
    double expression c/(du+dv-c) rounded to 6; the top-100 order is
    total (rounded score DESC, then u, v), so the cutoff is
    deterministic in both engines.

    Plan/scale: reuses the session-shared edge scratch — the
    expensive distinct basket self-join is NOT re-paid here. Wedge
    generation is the adjacency self-join on the hub w with n1 < n2,
    so each unordered candidate pair is produced once per shared
    neighbor: Σ_w C(d(w),2) intermediate rows, the same budget class
    as triangle counting (this fixture's near-uniform degree bell —
    see graph_degree_distribution — keeps it even; a power-law graph
    would cap or sample hub adjacency first, the documented knob).
    Like ``dedup_ngram_jaccard_pairs``, this all-pairs ranking is the
    correctness BASELINE: the serving shape that survives 100× is
    ``graph_link_prediction_seeded`` (wedges bounded by the query
    set, not the graph).
    Candidates collapse in one map-side-combined count; degrees join
    on the reduced pair list; existing edges leave via LEFT ANTI on
    the same scratch; TakeOrderedAndProject keeps the global sort at
    top-k cost."""
    edges = _co_purchase_edges(spark, sf_dir)
    adj = edges.select(F.col("u").alias("w"), F.col("v").alias("n")).unionAll(
        edges.select(F.col("v").alias("w"), F.col("u").alias("n"))
    )
    a = adj.alias("a")
    b = adj.alias("b")
    cn = (
        a.join(b, "w")
        .where(F.col("a.n") < F.col("b.n"))
        .groupBy(F.col("a.n").alias("u"), F.col("b.n").alias("v"))
        .agg(F.count("*").alias("common"))
    )
    deg = _degrees(edges)
    du = deg.select(F.col("node").alias("u"), F.col("dg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("dg").alias("deg_v"))
    cand = (
        cn.join(edges, ["u", "v"], "left_anti")
        .join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            "deg_u",
            "deg_v",
            F.round(
                F.col("common").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return cand.orderBy(
        F.col("jaccard").desc(), F.col("u").asc(), F.col("v").asc()
    ).limit(100)


LINK_SEED_MAX_KEY = 100
LINK_SEED_TOP_K = 5

_LINK_SEEDED_SQL = f"""
WITH {_co_purchase_ctes("edges")}
adj AS (SELECT u AS w, v AS n FROM edges
        UNION ALL
        SELECT v AS w, u AS n FROM edges),
deg AS (SELECT w AS node, CAST(COUNT(*) AS BIGINT) AS dg
        FROM adj GROUP BY w),
cn AS (SELECT a.n AS u, b.n AS v, CAST(COUNT(*) AS BIGINT) AS common,
              SUM(CAST(1.0 / ln(CAST(d.dg AS DOUBLE)) AS DECIMAL(27,15)))
                AS aa
       FROM adj a
       JOIN adj b ON a.w = b.w AND a.n <> b.n
       JOIN deg d ON d.node = a.w
       WHERE a.n <= {LINK_SEED_MAX_KEY}
       GROUP BY a.n, b.n),
cand AS (SELECT cn.u, cn.v, cn.common, du.dg AS deg_u, dv.dg AS deg_v,
                round(CAST(cn.common AS DOUBLE)
                      / (du.dg + dv.dg - cn.common), 6) AS jaccard,
                round(CAST(cn.aa AS DOUBLE), 6) AS adamic_adar
         FROM cn
         JOIN deg du ON du.node = cn.u
         JOIN deg dv ON dv.node = cn.v
         WHERE NOT EXISTS (SELECT 1 FROM edges e
                           WHERE e.u = LEAST(cn.u, cn.v)
                             AND e.v = GREATEST(cn.u, cn.v))),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY u
                                        ORDER BY jaccard DESC, v) AS BIGINT)
                  AS rank
      FROM cand)
SELECT u, v, common, deg_u, deg_v, jaccard, adamic_adar, rank
FROM r WHERE rank <= {LINK_SEED_TOP_K}
"""


@register("graph_link_prediction_seeded", oracle=_LINK_SEEDED_SQL)
def graph_link_prediction_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEEDED Jaccard link prediction — the SCALE PATH for
    ``graph_jaccard_link_prediction``: top-5 predicted partners for a
    FIXED 100-item query set (partkey <= 100 — absolute, so the query
    is identical at every SF while the graph underneath grows)
    instead of ranking every non-edge in the graph. This is the shape
    the score is actually served in (recommendations for a batch of
    items), and the shape that survives 100×: wedge work is
    Σ_seed d(seed)·d̄ — proportional to the QUERY size times squared
    average degree, not to the node count; the all-pairs twin's
    Σ_w C(d(w),2) grows with the whole graph and is quarantined at
    correctness scale (the ``dedup_ngram_jaccard_pairs`` →
    ``dedup_minhash_lsh_pairs`` relationship).

    Exactness: integer common-neighbor counts and degrees on the
    shared canonical edge scratch; Jaccard is one fixed double
    expression + round(6), and the ADAMIC-ADAR companion score
    (Σ 1/ln(deg(w)) over the common neighbors — rewards RARE shared
    contexts where Jaccard treats every neighbor equally) DECIMAL-
    casts each wedge's term before the order-independent per-pair sum
    (deg(w) >= 2 by construction — w touches both endpoints — so
    ln() never zeroes); per-seed rank is a total order (Jaccard DESC,
    candidate id), so the top-5 cut is deterministic in both engines.
    Existing co-purchase partners are excluded via LEFT ANTI on the
    canonicalized (min,max) pair.

    Plan/scale: the seed filter pushes below the wedge self-join
    (predicate on the probe side's n), so only seed-rooted wedges are
    generated; the hub-degree join rides the wedge stream before its
    map-side-combined collapse; the per-seed top-5 is a bounded
    window over ≤|seeds|·|nodes| reduced rows, partitioned on the
    seed key."""
    edges = _co_purchase_edges(spark, sf_dir)
    # r14: ONE scan of the edge scratch builds both adjacency
    # directions via a 2-element explode (the union form scanned the
    # parquet twice per reference), and the degree table — which THREE
    # join arms consume (dw, du, dv) — is computed once and persisted
    # (tiny: one row per node). Unpersisted, the executed plan cloned
    # the union + two-exchange degree aggregate per consumer: 22
    # parquet scans, 20 exchanges -> 4 scans, ~8 exchanges. Released
    # by the registry-wide clearCache contract.
    from pyspark import StorageLevel

    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("w"), F.col("v").alias("n")),
                F.struct(F.col("v").alias("w"), F.col("u").alias("n")),
            )
        ).alias("e")
    ).select("e.w", "e.n")
    deg = (
        adj.groupBy(F.col("w").alias("node"))
        .agg(F.count("*").alias("dg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = adj.where(F.col("n") <= LINK_SEED_MAX_KEY).alias("a")
    b = adj.alias("b")
    dw = deg.select(F.col("node").alias("w"), F.col("dg").alias("dg_w"))
    aa_term = (F.lit(1.0) / F.log(F.col("dg_w").cast("double"))).cast(
        "decimal(27,15)"
    )
    # r15 (ADVICE): the r14 F.broadcast(a) hint is DROPPED — the
    # seed-incident adjacency's size is the summed degree of the seed
    # nodes, unbounded by any constant, so a forced broadcast can blow
    # the 8 GB cap on hub-heavy graphs where the planner-chosen join
    # degrades gracefully. AQE re-plans the join to broadcast at
    # runtime when a's actual size is small (it is, at every bench
    # scale), which is the same local plan without the scale hazard.
    cn = (
        a.join(b, "w")
        .where(F.col("a.n") != F.col("b.n"))
        .join(dw, "w")
        .groupBy(F.col("a.n").alias("u"), F.col("b.n").alias("v"))
        .agg(F.count("*").alias("common"), F.sum(aa_term).alias("aa"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("dg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("dg").alias("deg_v"))
    canon = cn.select(
        "u",
        "v",
        "common",
        "aa",
        F.least("u", "v").alias("cu"),
        F.greatest("u", "v").alias("cv"),
    )
    cand = (
        canon.join(
            edges.select(F.col("u").alias("cu"), F.col("v").alias("cv")),
            ["cu", "cv"],
            "left_anti",
        )
        .drop("cu", "cv")
        .join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            "deg_u",
            "deg_v",
            F.round(
                F.col("common").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common")),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa").cast("double"), 6).alias("adamic_adar"),
        )
    )
    rank = F.row_number().over(
        W.partitionBy("u").orderBy(F.col("jaccard").desc(), F.col("v").asc())
    )
    return cand.select(
        "u", "v", "common", "deg_u", "deg_v", "jaccard", "adamic_adar",
        rank.cast("bigint").alias("rank"),
    ).where(F.col("rank") <= LINK_SEED_TOP_K)


_ATTRIBUTION_POSITION_SQL = """
WITH p AS (SELECT user_id, event_id AS pid, epoch_us(ts) AS pus,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS cid, epoch_us(ts) AS cus,
             CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS campaign
      FROM events WHERE event_type = 'click'),
pairs AS (SELECT p.pid, p.cents, c.campaign, c.cus, c.cid
          FROM p LEFT JOIN c ON p.user_id = c.user_id
                            AND (c.cus < p.pus
                                 OR (c.cus = p.pus AND c.cid < p.pid))
                            AND p.pus - c.cus <= 604800000000),
ranked AS (SELECT pid, cents, campaign,
                  CAST(row_number() OVER (PARTITION BY pid
                                          ORDER BY cus, cid) AS BIGINT) AS pos,
                  CAST(COUNT(*) OVER (PARTITION BY pid) AS BIGINT) AS n
           FROM pairs),
weighted AS (SELECT campaign, cents,
                    CASE WHEN n = 1 THEN 1.0
                         WHEN pos = 1 OR pos = n
                           THEN CASE WHEN n = 2 THEN 0.5 ELSE 0.4 END
                         ELSE 0.2 / (n - 2) END AS w
             FROM ranked)
SELECT campaign,
       CAST(COUNT(*) AS BIGINT) AS n_credits,
       round(CAST(SUM(CAST(cents * w / 100.0 AS DECIMAL(27,15)))
                  AS DOUBLE), 6) AS attributed_value
FROM weighted GROUP BY campaign
"""


@register("attribution_position_based", oracle=_ATTRIBUTION_POSITION_SQL)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-BASED (U-shaped) MULTI-TOUCH attribution — the
    many-touch companion of ``attribution_last_touch``: each purchase
    credits 40% to the user's FIRST qualifying click, 40% to the
    LAST, and splits 20% across the middle touches (1 click → 100%,
    2 clicks → 50/50 — the standard degenerate cases); purchases with
    no click in the 7-day lookback keep full value in the NULL
    'direct' bucket, so total attributed value CONSERVES the total
    purchase value exactly (pinned).

    Unlike last-touch, multi-touch NEEDS the per-conversion touch
    list — the purchase x click pair fan-out IS the semantics, not an
    implementation accident — so this is the deliberate range-join
    member of the family: ONE LEFT join (no-click purchases keep a
    single null row, which the weight CASE reads as its own n=1 →
    full-credit direct bucket — no second anti-join branch re-paying
    the join), pairs bounded by per-user activity inside the
    lookback, co-partitioned on user_id, and everything after runs on
    the pair list (per-purchase rank window, 11-key rollup). Tie
    discipline is last-touch's: a click at the same timestamp counts
    only with a smaller event_id, and positions order by
    (ts, event_id), so credit assignment is deterministic everywhere.
    Exactness: cents are exact integers; each pair's weight is a
    fixed rational CASE; credit = one double expression DECIMAL-cast
    before the order-independent per-campaign sum, round(6) finish.

    100 TB: the join and both windows share the user/purchase keyed
    shuffles; lookback bounds state like the streaming watermark."""
    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.unix_micros("ts").alias("pus"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("cid"),
        F.unix_micros("ts").alias("cus"),
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("campaign"),
    )
    before = (F.col("cus") < F.col("pus")) | (
        (F.col("cus") == F.col("pus")) & (F.col("cid") < F.col("pid"))
    )
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & before
        & (F.col("pus") - F.col("cus") <= 604_800_000_000)
    )
    pairs = p.alias("p").join(c.alias("c"), cond, "left").select(
        "pid", "cents", "campaign", "cus", "cid"
    )
    wr = W.partitionBy("pid").orderBy("cus", "cid")
    ranked = pairs.select(
        "pid",
        "cents",
        "campaign",
        F.row_number().over(wr).cast("bigint").alias("pos"),
        F.count("*").over(W.partitionBy("pid")).cast("bigint").alias("n"),
    )
    ends = (F.col("pos") == 1) | (F.col("pos") == F.col("n"))
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(ends & (F.col("n") == 2), F.lit(0.5))
        .when(ends, F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    weighted = ranked.select("campaign", "cents", weight.alias("w"))
    credit = (F.col("cents") * F.col("w") / 100.0).cast("decimal(27,15)")
    return weighted.groupBy("campaign").agg(
        F.count("*").alias("n_credits"),
        F.round(F.sum(credit).cast("double"), 6).alias("attributed_value"),
    )


_UNIQUENESS_SQL = """
WITH m AS (
    SELECT 'o_orderkey' AS column_name, CAST(o_orderkey AS VARCHAR) AS val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', o_orderstatus FROM orders
    UNION ALL
    SELECT 'o_orderpriority', o_orderpriority FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_cents',
           CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
    FROM orders),
c AS (SELECT column_name, val, CAST(COUNT(*) AS BIGINT) AS n
      FROM m GROUP BY column_name, val),
s AS (SELECT column_name,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN val IS NULL THEN n ELSE 0 END) AS BIGINT)
               AS n_nulls,
             CAST(SUM(CASE WHEN val IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_distinct,
             MIN(CASE WHEN val IS NOT NULL
                      THEN {'nn': -n, 'v': val} END) AS top
      FROM c
      GROUP BY column_name)
SELECT column_name, n_rows, n_nulls, n_distinct,
       round(CAST(n_distinct AS DOUBLE) / n_rows, 6) AS uniqueness,
       top.v AS top_value,
       round(CAST(-top.nn AS DOUBLE) / n_rows, 6) AS top_share
FROM s
"""


@register("quality_uniqueness_report", oracle=_UNIQUENESS_SQL)
def quality_uniqueness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-COLUMN UNIQUENESS / NULL / TOP-VALUE PROFILE of the orders
    table — the data-quality scan every warehouse profiler leads with
    (keys should read uniqueness ~1.0, enums should read a short
    top-value ladder, and a column whose top value suddenly owns 60%
    of rows is the upstream-default-value incident
    ``quality_expectations_orders`` then alerts on). One row per
    profiled column: row/null/distinct counts, distinct share, the
    modal value and its share. Money profiles as exact cents and the
    date as its DATE string so the melt is type-stable.

    Exactness: every value melts to a canonical string (integer casts,
    DATE cast, round(x*100) cents — all engine-identical formats;
    doubles are never stringified raw); counts are exact integers;
    the modal value is the deterministic (count DESC, value ASC)
    argmax spelled as MIN over a (-count, value) struct — lexicographic
    struct comparison is identical in both engines on these ASCII
    value strings, and an all-NULL column yields NULL top_value/share
    identically; two double divisions + round(6).

    Plan/scale: ONE scan melted 6-wide into a map-side-combined
    (column, value) count, then ONE map-side-combined rollup per
    column whose modal pick is the struct-min AGGREGATE — no rank
    window anywhere (the first cut ranked with row_number partitioned
    by column_name, which put each key-like column's corpus-sized
    grid in a single task: measured 75 s at ~sf10; the aggregate form
    cut that to 50 s). The remaining cost is HONEST and inherent:
    key-like columns make the (column, value) grid itself
    corpus-sized — exact distinct IS that shuffle. The registered
    scale twin ``quality_uniqueness_approx`` replaces it with a
    linear-counting grid (measured 2.4 s -> 6.7 s per 10x, state
    corpus-size-independent); the modal value at that tier is a
    count-min heavy-hitter sketch (documented family)."""
    o = _t(spark, sf_dir, "orders")
    m = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderkey").alias("column_name"),
                    F.col("o_orderkey").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("o_custkey").alias("column_name"),
                    F.col("o_custkey").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderstatus").alias("column_name"),
                    F.col("o_orderstatus").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderpriority").alias("column_name"),
                    F.col("o_orderpriority").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderdate").alias("column_name"),
                    F.col("o_orderdate").cast("date").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("o_totalprice_cents").alias("column_name"),
                    F.round(F.col("o_totalprice") * 100)
                    .cast("bigint")
                    .cast("string")
                    .alias("val"),
                ),
            )
        ).alias("s")
    ).select("s.column_name", "s.val")
    c = m.groupBy("column_name", "val").agg(
        F.count("*").cast("bigint").alias("n")
    )
    # modal pick as an AGGREGATE, not a rank window: min over the
    # (-n, val) struct is (count DESC, value ASC) with NULL vals
    # ignored by MIN — map-side combinable, so a key-like column's
    # corpus-sized grid never lands in one task
    top = F.min(
        F.when(
            F.col("val").isNotNull(),
            F.struct((-F.col("n")).alias("nn"), F.col("val").alias("v")),
        )
    )
    s = c.groupBy("column_name").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_nulls"),
        F.sum(F.when(F.col("val").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_distinct"),
        top.alias("top"),
    )
    return s.select(
        "column_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        F.round(F.col("n_distinct").cast("double") / F.col("n_rows"), 6).alias(
            "uniqueness"
        ),
        F.col("top.v").alias("top_value"),
        F.round(
            (-F.col("top.nn")).cast("double") / F.col("n_rows"), 6
        ).alias("top_share"),
    )


_UNIQ_LC_M = 65536

_UNIQUENESS_APPROX_SQL = f"""
WITH m AS (
    SELECT 'o_orderkey' AS column_name, CAST(o_orderkey AS VARCHAR) AS val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', o_orderstatus FROM orders
    UNION ALL
    SELECT 'o_orderpriority', o_orderpriority FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_cents',
           CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
    FROM orders),
b AS (SELECT column_name,
             CASE WHEN val IS NULL THEN NULL
                  ELSE ('0x' || substr(md5(val || '|uq'), 1, 4))::INT
                  END AS bkt
      FROM m),
g AS (SELECT column_name, bkt, CAST(COUNT(*) AS BIGINT) AS c
      FROM b GROUP BY column_name, bkt),
s AS (SELECT column_name,
             CAST(SUM(CASE WHEN bkt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS occupied,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN bkt IS NULL THEN c ELSE 0 END) AS BIGINT)
               AS n_nulls
      FROM g GROUP BY column_name)
SELECT column_name, n_rows, n_nulls,
       CASE WHEN occupied < {_UNIQ_LC_M}
            THEN round(-CAST({_UNIQ_LC_M} AS DOUBLE)
                       * ln(({_UNIQ_LC_M} - occupied)
                            / CAST({_UNIQ_LC_M} AS DOUBLE)), 6) END
         AS est_distinct,
       CASE WHEN occupied < {_UNIQ_LC_M}
            THEN round(-CAST({_UNIQ_LC_M} AS DOUBLE)
                       * ln(({_UNIQ_LC_M} - occupied)
                            / CAST({_UNIQ_LC_M} AS DOUBLE))
                       / n_rows, 6) END AS est_uniqueness
FROM s
"""


@register("quality_uniqueness_approx", oracle=_UNIQUENESS_APPROX_SQL)
def quality_uniqueness_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIQUENESS PROFILE, the SCALE TWIN of
    ``quality_uniqueness_report`` — that op's exact per-column
    distinct is a corpus-sized string shuffle on key-like columns
    (measured 2.3 s -> 50 s per 10x at ~sf10: the (column, value)
    grid IS the data). This twin estimates distinct counts by LINEAR
    COUNTING over a fixed {_UNIQ_LC_M}-bucket md5 grid (the
    ``text_distinct_ngrams_approx`` device — deterministic buckets,
    so the ESTIMATOR itself is DuckDB-oracled exactly): the shuffle
    is at most |columns| x {_UNIQ_LC_M} rows whatever the corpus.
    Null and row counts stay exact; the modal value is out of scope
    at this tier (a count-min heavy-hitter sketch is the documented
    companion, same update shape).

    Exactness: buckets are the first 16 bits of salted md5 (engine-
    stable integer arithmetic, no conv()); occupied counts are exact
    integers; the estimator -m*ln(empty/m) is one fixed double
    expression + round(6); a saturated grid emits NULL in both
    engines rather than ln(0).

    Plan/scale: one melted scan into a map-side-combined
    (column, bucket) count BOUNDED by the grid, then a |columns|-row
    finish; the exact-row/null aggregate is a second melt-rollup with
    6-row output. Corpus-size-independent state — the 100 TB shape;
    at load >> 1 per bucket you widen m or swap
    approx_count_distinct's HLL (mergeable), stated."""
    o = _t(spark, sf_dir, "orders")
    m = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderkey").alias("column_name"),
                    F.col("o_orderkey").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("o_custkey").alias("column_name"),
                    F.col("o_custkey").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderstatus").alias("column_name"),
                    F.col("o_orderstatus").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderpriority").alias("column_name"),
                    F.col("o_orderpriority").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderdate").alias("column_name"),
                    F.col("o_orderdate").cast("date").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("o_totalprice_cents").alias("column_name"),
                    F.round(F.col("o_totalprice") * 100)
                    .cast("bigint")
                    .cast("string")
                    .alias("val"),
                ),
            )
        ).alias("s")
    ).select("s.column_name", "s.val")

    bkt = F.when(
        F.col("val").isNotNull(),
        F.conv(
            F.substring(F.md5(F.concat(F.col("val"), F.lit("|uq"))), 1, 4),
            16,
            10,
        ).cast("int"),
    )
    g = (
        m.select("column_name", bkt.alias("bkt"))
        .groupBy("column_name", "bkt")
        .agg(F.count("*").alias("c"))
    )
    s = g.groupBy("column_name").agg(
        F.sum(F.when(F.col("bkt").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("occupied"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("bkt").isNull(), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_nulls"),
    )
    mm = F.lit(float(_UNIQ_LC_M))
    est = F.when(
        F.col("occupied") < _UNIQ_LC_M,
        -mm * F.log((mm - F.col("occupied")) / mm),
    )
    return s.select(
        "column_name",
        "n_rows",
        "n_nulls",
        F.round(est, 6).alias("est_distinct"),
        F.round(est / F.col("n_rows"), 6).alias("est_uniqueness"),
    )
