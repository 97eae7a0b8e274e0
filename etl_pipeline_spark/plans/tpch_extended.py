"""Extended TPC-H-shaped relational queries (SURVEY.md §2.5 widening).

The reference's relational surface is lookup loops and counters; a complete
engine must also handle the classic decision-support shapes. This module
adds the TPC-H patterns the testdata star schema supports that are not yet
in ``relational.py``: nation-pair theta joins (Q7), market-share ratios
(Q8), outer-join count distributions (Q13), CTE + scalar-max selection
(Q15), correlated per-group thresholds (Q17), HAVING-gated IN (Q18),
disjunctive predicate pushdown (Q19), double-correlated EXISTS/NOT EXISTS
(Q21 adapted), and anti-join + scalar-subquery aggregation (Q22 adapted).

Schema adaptations (the synthetic schema lacks some TPC-H columns):
- no ``l_commitdate``/``l_receiptdate`` → Q21's "late" is
  ``l_shipdate > o_orderdate + 60 days``;
- no ``c_phone`` → Q22's country code is ``c_nationkey``;
- no ``partsupp`` table → Q2/Q9/Q11/Q16/Q20 run against a deterministic
  ``partsupp`` PROXY derived from lineitem per (partkey, suppkey):
  ``ps_availqty := SUM(l_quantity)``, ``ps_supplycost := MIN(unit price)``.
  The SAME derivation runs as a CTE in the DuckDB oracle, so the proxy is
  itself oracle-checked. ``ps_availqty`` stays DOUBLE (quantities are
  integral doubles; casting would hit Spark-truncates vs DuckDB-rounds);
  no ``s_comment`` → Q16's complaint exclusion is ``s_acctbal < 0``.

Scale stance per query is documented inline: which side broadcasts, where
the one big shuffle lands, and why the plan survives 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_spark.plans.registry import register
from etl_pipeline_spark.sources.star import load_table
from etl_pipeline_spark.utils.session_cache import session_memo


def _ts(lit: str) -> F.Column:
    return F.expr(f"CAST('{lit} 00:00:00' AS TIMESTAMP_NTZ)")


# Exact-cents discounted-revenue device (relational.py q1's sum_disc_price;
# q10/q15/q19 here): cents(price) × (100 − disc_pct) is exact on the 1e-4
# lattice; Spark accumulates DECIMAL(38,0) (oracle: BIGINT sum → HUGEINT)
# so the 2-dp half-up round is order-free — stable under any partial-agg
# order, and revenue compares/sorts bit-identically across engines.
_REV_DISC_SPARK = (
    "FLOOR(CAST(SUM(CAST("
    "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
    " * CAST(100 - ROUND(l_discount * 100, 0) AS BIGINT)"
    " AS DECIMAL(38,0))) AS DOUBLE)"
    " / 100.0e0 + 0.5e0) / 100.0e0"
)
_REV_DISC_DUCK = """FLOOR(CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                           * CAST(100 - ROUND(l_discount * 100, 0) AS BIGINT))
                       AS DOUBLE)
                  / 100.0e0 + 0.5e0) / 100.0e0"""


# --------------------------------------------------------------------------
# TPC-H Q7 — volume shipping between two nations, by direction and year.
# Scale: both nation dims broadcast (25 rows); supplier broadcasts (tiny vs
# lineitem); the only real shuffle is lineitem⋈orders⋈customer on orderkey/
# custkey. The disjunctive nation-pair filter is applied AFTER the broadcast
# joins, cutting the agg input before the shuffle-side groupBy.
# --------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle="""
        SELECT supp_nation, cust_nation, l_year,
               -- exact-cents device (q1 sum_disc_price): the volume sum is
               -- an exact 1e-4-lattice integer, so the 2-dp round cannot
               -- sit on an engine-dependent .005 tie (probe class, r11)
               FLOOR(CAST(SUM(vol_e4) AS DOUBLE)
                     / 100.0e0 + 0.5e0) / 100.0e0 AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                     * CAST(100 - ROUND(l_discount * 100, 0) AS BIGINT) AS vol_e4
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
                OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        )
        GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg", "broadcast", "tpch"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year")
        )
        .agg(F.expr(_REV_DISC_SPARK).alias("revenue"))
    )


# --------------------------------------------------------------------------
# TPC-H Q8 — market share of one supplier nation within a customer region,
# per order year. The ratio-of-conditional-sums shape from q14, but over a
# 7-table join. Scale: part/supplier/nation/region all broadcast; the
# shuffle chain is lineitem⋈orders⋈customer; one final 2-group agg.
# --------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle="""
        SELECT o_year,
               ROUND(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
                     / SUM(volume), 6) AS mkt_share
        FROM (
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                   l_extendedprice * (1 - l_discount) AS volume,
                   n2.n_name AS nation
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
              AND p_type = 'LARGE'
        )
        GROUP BY o_year
    """,
    tags=("join", "agg", "broadcast", "tpch"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "LARGE")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_5", volume).otherwise(F.lit(0.0)))
                / F.sum(volume),
                6,
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q10 — returned-item revenue per customer, top 20. Scale: the
# orders-quarter filter prunes before the lineitem join; nation broadcasts;
# the groupBy keys include customer attributes so the agg shuffle carries
# them once instead of re-joining after aggregation; top-20 is TakeOrdered.
# --------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle=f"""
        SELECT c_custkey, c_name,
               {_REV_DISC_DUCK} AS revenue,
               ROUND(c_acctbal, 2) AS acctbal,
               n_name
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-10-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.expr(_REV_DISC_SPARK).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# TPC-H Q13 — customer order-count distribution via LEFT OUTER join with a
# join-side predicate (the ON-clause filter must NOT become a WHERE — rows
# with zero surviving orders stay, with count 0). Scale: outer join shuffles
# on custkey; the second agg is over ≤ a few hundred distinct counts — AQE
# coalesces it to a handful of partitions.
# --------------------------------------------------------------------------
@register(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
            SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
            FROM customer
            LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    tags=("join", "outer", "agg", "tpch"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("bigint").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))


# --------------------------------------------------------------------------
# TPC-H Q15 — top supplier by quarterly revenue: a reused CTE (revenue per
# supplier) consumed twice — once for the scalar MAX, once for the join.
# Scale: the revenue relation is one shuffle over lineitem; it is tiny
# (one row per supplier) so BOTH consumers broadcast it; revenue takes the
# exact-cents device BEFORE the max/equality, so the float compare is on
# identical correctly-rounded doubles in both engines — a .005 midpoint
# tie cannot split the winner set.
# --------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle=f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   {_REV_DISC_DUCK} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier
        JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    tags=("join", "subquery", "cte", "tpch"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.expr(_REV_DISC_SPARK).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(revenue), supp.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# TPC-H Q17 — revenue from small-quantity orders: lineitems below 20% of
# their part's average quantity. The correlated scalar AVG decorrelates to
# a per-part aggregate joined back. Scale: the per-part avg is one shuffle
# over the brand-filtered lineitem subset (join part FIRST so only
# Brand#23's lineitems aggregate); the threshold relation is part-sized →
# broadcast back against the same filtered scan.
# --------------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    oracle="""
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (
              SELECT 0.2 * AVG(l_quantity)
              FROM lineitem l2
              WHERE l2.l_partkey = lineitem.l_partkey
          )
    """,
    tags=("join", "subquery", "agg", "tpch"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    branded = li.join(F.broadcast(brand_parts), li.l_partkey == brand_parts.p_partkey)
    # correlation is on l_partkey over ALL lineitems (not just the branded
    # subset) — matches the oracle's uncorrelated-table scan
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        branded.join(thresholds, branded.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q18 — large-volume orders: HAVING-gated IN subquery. Scale: the
# HAVING aggregate is one shuffle over lineitem producing few qualifying
# orderkeys → broadcast semi-join back against orders, then the detail
# re-aggregation only runs on the survivors.
# --------------------------------------------------------------------------
@register(
    "q18_large_volume_customers",
    oracle="""
        SELECT c_custkey, c_name, o_orderkey, o_orderdate,
               ROUND(o_totalprice, 2) AS totalprice,
               SUM(l_quantity) AS total_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
        )
        GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        ORDER BY totalprice DESC, o_orderkey
        LIMIT 100
    """,
    tags=("join", "subquery", "agg", "topk", "tpch"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("qty")).filter(F.col("qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders").join(
        F.broadcast(big_orders.select("l_orderkey")),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "leftsemi",
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# TPC-H Q19 — disjunctive multi-column predicates. The whole WHERE is an OR
# of three conjunct groups mixing part and lineitem columns. Scale: part is
# broadcast; Catalyst extracts the common l_quantity bounds (1..30) as a
# pushable scan filter while the OR evaluates post-join in codegen.
# --------------------------------------------------------------------------
@register(
    "q19_disjunctive_revenue",
    oracle=f"""
        SELECT {_REV_DISC_DUCK} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#7'  AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)
    """,
    tags=("join", "pushdown", "tpch"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.expr(_REV_DISC_SPARK).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q21 (adapted: late := shipped > 60 days after order date) —
# suppliers who were the ONLY late shipper on a multi-supplier fulfilled
# order. Double correlation: EXISTS (another supplier on the order) AND
# NOT EXISTS (another LATE supplier on the order) — semi + anti join with
# inequality residuals. Scale: both probes re-use the same orderkey-
# partitioned lineitem shuffle; supplier/nation broadcast.
# --------------------------------------------------------------------------
@register(
    "q21_waiting_supplier",
    oracle="""
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F'
          AND n_name = 'NATION_4'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s_name
    """,
    tags=("join", "subquery", "anti", "tpch"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    other = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    with_other = late1.join(
        other,
        (late1.l_orderkey == F.col("o2_orderkey")) & (late1.l_suppkey != F.col("o2_suppkey")),
        "leftsemi",
    )
    other_late = li.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
        F.col("l_shipdate").alias("o3_shipdate"),
    )
    sole_late = with_other.join(
        other_late,
        (with_other.l_orderkey == F.col("o3_orderkey"))
        & (with_other.l_suppkey != F.col("o3_suppkey"))
        & (F.col("o3_shipdate") > with_other.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "leftanti",
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    return (
        sole_late.join(F.broadcast(supp), sole_late.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


# --------------------------------------------------------------------------
# TPC-H Q22 (adapted: country code := c_nationkey; "idle" := no order
# since 2000-01-01, since every synthetic customer has ≥1 order) —
# positive-balance customers above the in-group average with no recent
# order, grouped by country. Scale: the scalar AVG is a one-row broadcast;
# the NOT EXISTS is an anti join against the date-filtered orders custkey
# projection (shuffle on custkey); the group-by output is ≤ 5 rows.
# --------------------------------------------------------------------------
@register(
    "q22_idle_balance_by_country",
    oracle="""
        SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_nationkey IN (3, 8, 13, 17, 21)
          AND c_acctbal > (
              SELECT AVG(c_acctbal) FROM customer
              WHERE c_acctbal > 0.0 AND c_nationkey IN (3, 8, 13, 17, 21)
          )
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
        GROUP BY c_nationkey
    """,
    tags=("anti", "subquery", "agg", "tpch"),
)
def q22_idle_balance_by_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = (3, 8, 13, 17, 21)
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(*codes))
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("avg_bal"))
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _ts("2000-01-01"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == orders.o_custkey, "leftanti")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# partsupp proxy (Q2/Q9/Q11/Q16/Q20): per (partkey, suppkey) inventory
# derived from lineitem. One shuffle on the composite key; the result is
# ~|part|×avg-suppliers-per-part rows — small enough to broadcast back
# against dimension-filtered probes at any SF (it grows with |part|, not
# with |lineitem|).
# --------------------------------------------------------------------------
# Zero-quantity lines (free items on user data) carry no unit cost and
# are excluded BEFORE the per-unit division: l_extendedprice / 0 is an
# ANSI crash in Spark and inf in DuckDB — a parity break by crash,
# probe-found (r10) via a planted qty-0 line. The row is seed-dependent
# at runtime because Spark's runtime filters may prune it from some
# consumers' scans before the aggregate — the same latent row crashes
# q2/q9/q11/q16/q20 whenever it survives pruning. A zero-qty line also
# contributes nothing to SUM(l_quantity), so availqty is unchanged.
_PARTSUPP_CTE = """
        partsupp AS (
            SELECT l_partkey AS ps_partkey,
                   l_suppkey AS ps_suppkey,
                   SUM(l_quantity) AS ps_availqty,
                   MIN(l_extendedprice / l_quantity) AS ps_supplycost
            FROM lineitem
            WHERE l_quantity > 0
            GROUP BY l_partkey, l_suppkey
        )
"""


# The proxy is a build-once, (part x supplier)-cardinality artifact
# consumed by FIVE registered queries (q2/q9/q11/q16/q20, twice each in
# q2's regional reuse and q11's held reuse) — the same transparent-reuse
# shape as the co-supplier edge cache: memoize + persist per (session,
# sf_dir); build() is pure, the first consumer pays the lineitem
# aggregation inside its own timed run (guide §5).
@session_memo
def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 0)  # see _PARTSUPP_CTE note
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.sum("l_quantity").alias("ps_availqty"),
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ps_supplycost"
            ),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q2 (proxy partsupp) — minimum-cost supplier per part in a region.
# The correlated MIN subquery decorrelates to a per-part aggregate joined
# back on (partkey, cost == min-cost); the equality is on the UNROUNDED
# double (MIN returns one of the existing values, so equality is exact in
# both engines). Scale: supplier/nation/region and the filtered part list
# broadcast; the only shuffle is the partsupp derivation itself, and the
# per-part MIN reuses that same (partkey-prefixed) partitioning.
# --------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle=f"""
        WITH {_PARTSUPP_CTE},
        regional AS (
            SELECT ps_partkey, ps_supplycost, s_name, s_acctbal, n_name
            FROM partsupp
            JOIN supplier ON s_suppkey = ps_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        )
        SELECT ROUND(s_acctbal, 2) AS acctbal, s_name, n_name,
               p_partkey, p_name, ROUND(ps_supplycost, 2) AS supplycost
        FROM part
        JOIN regional ON p_partkey = ps_partkey
        WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
          AND ps_supplycost = (
              SELECT MIN(r2.ps_supplycost) FROM regional r2
              WHERE r2.ps_partkey = p_partkey
          )
        ORDER BY acctbal DESC, s_name, p_partkey
        LIMIT 10
    """,
    tags=("join", "subquery", "broadcast", "topk", "tpch"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    regional = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(supp), F.col("ps_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("ps_partkey", "ps_supplycost", "s_name", "s_acctbal", "n_name")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    min_cost = regional.groupBy(F.col("ps_partkey").alias("m_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        regional.join(F.broadcast(part), F.col("ps_partkey") == part.p_partkey)
        .join(
            min_cost,
            (F.col("ps_partkey") == F.col("m_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("ps_supplycost", 2).alias("supplycost"),
        )
        .orderBy(F.desc("acctbal"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q9 (proxy partsupp) — profit by supplier nation and order year for
# parts matching a name word: profit := revenue − supplycost × quantity.
# Scale: the filtered part list, supplier, and nation broadcast; lineitem
# joins partsupp on the composite key (one shuffle) and orders on orderkey
# (the other); the final agg is 25 nations × ~7 years — AQE coalesces it.
# --------------------------------------------------------------------------
@register(
    "q9_product_type_profit",
    oracle=f"""
        WITH {_PARTSUPP_CTE}
        SELECT nation, o_year, ROUND(SUM(amount), 2) AS sum_profit
        FROM (
            SELECT n_name AS nation,
                   CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                   l_extendedprice * (1 - l_discount)
                     - ps_supplycost * l_quantity AS amount
            FROM lineitem
            JOIN part     ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
        )
        GROUP BY nation, o_year
    """,
    tags=("join", "agg", "broadcast", "tpch"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    ps = _partsupp(spark, sf_dir)
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


# --------------------------------------------------------------------------
# TPC-H Q11 (proxy partsupp) — important stock: parts whose inventory value
# held by one nation's suppliers exceeds 0.1% of that nation's total. The
# scalar-subquery threshold is a one-row broadcast. The 0.001 fraction was
# chosen against the data: min relative margin to the threshold is ~1.3e-4
# — 11 orders of magnitude above double noise, so the > compare is stable
# across engines. Scale: supplier×nation broadcast into the partsupp scan;
# per-part agg reuses the partkey-prefix partitioning; total is a one-row
# reduce.
# --------------------------------------------------------------------------
@register(
    "q11_important_stock",
    oracle=f"""
        WITH {_PARTSUPP_CTE},
        held AS (
            SELECT ps_partkey, ps_supplycost * ps_availqty AS val
            FROM partsupp
            JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
        )
        SELECT ps_partkey, ROUND(SUM(val), 2) AS value
        FROM held
        GROUP BY ps_partkey
        HAVING SUM(val) > (SELECT SUM(val) * 0.001 FROM held)
    """,
    tags=("join", "subquery", "agg", "broadcast", "tpch"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    held = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(supp), F.col("ps_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("ps_partkey", (F.col("ps_supplycost") * F.col("ps_availqty")).alias("val"))
    )
    per_part = held.groupBy("ps_partkey").agg(F.sum("val").alias("part_val"))
    threshold = held.agg((F.sum("val") * F.lit(0.001)).alias("thr"))
    return (
        per_part.join(F.broadcast(threshold))
        .filter(F.col("part_val") > F.col("thr"))
        .select("ps_partkey", F.round("part_val", 2).alias("value"))
    )


# --------------------------------------------------------------------------
# TPC-H Q16 (proxy partsupp; complaints := negative supplier balance) —
# distinct supplier count per (brand, type, size) bucket, excluding
# excluded suppliers. The NOT IN is a broadcast anti join (s_suppkey is
# never null, so null-aware semantics coincide). Scale: part and the
# 6-row exclusion list broadcast; COUNT(DISTINCT) expands to a two-phase
# partial-distinct agg — the only shuffle beyond the proxy itself.
# --------------------------------------------------------------------------
@register(
    "q16_supplier_part_buckets",
    oracle=f"""
        WITH {_PARTSUPP_CTE}
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        FROM partsupp
        JOIN part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#4'
          AND p_type <> 'MEDIUM'
          AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          AND ps_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
          )
        GROUP BY p_brand, p_type, p_size
    """,
    tags=("join", "anti", "agg", "broadcast", "tpch"),
)
def q16_supplier_part_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == part.p_partkey)
        .join(F.broadcast(excluded), F.col("ps_suppkey") == F.col("s_suppkey"), "leftanti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# TPC-H Q20 (proxy partsupp) — suppliers holding excess stock of matching
# parts: availqty > half the quantity they shipped in 1996. The correlated
# SUM decorrelates to a date-filtered per-(partkey,suppkey) aggregate;
# pairs with NO 1996 shipments make the oracle's comparison NULL → row
# dropped, which an INNER join reproduces exactly. Scale: the part-name
# filter broadcasts into both the proxy probe and the 1996 re-aggregation
# (so the second lineitem shuffle only carries matching parts); the final
# supplier probe is a broadcast semi join.
# --------------------------------------------------------------------------
@register(
    "q20_excess_stock_suppliers",
    oracle=f"""
        WITH {_PARTSUPP_CTE}
        SELECT s_name, ROUND(s_acctbal, 2) AS acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_1'
          AND s_suppkey IN (
              SELECT ps_suppkey FROM partsupp
              WHERE ps_partkey IN (
                  SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
              )
              AND ps_availqty > (
                  SELECT 0.5 * SUM(l_quantity) FROM lineitem
                  WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
              )
          )
    """,
    tags=("join", "subquery", "semi", "broadcast", "tpch"),
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    red_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    shipped_1996 = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"), "leftsemi")
        .groupBy(
            F.col("l_partkey").alias("y_partkey"), F.col("l_suppkey").alias("y_suppkey")
        )
        .agg((F.lit(0.5) * F.sum("l_quantity")).alias("half_shipped"))
    )
    excess = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(red_parts), F.col("ps_partkey") == F.col("p_partkey"), "leftsemi")
        .join(
            shipped_1996,
            (F.col("ps_partkey") == F.col("y_partkey"))
            & (F.col("ps_suppkey") == F.col("y_suppkey")),
        )
        .filter(F.col("ps_availqty") > F.col("half_shipped"))
        .select("ps_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(excess, supp.s_suppkey == F.col("ps_suppkey"), "leftsemi")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )
