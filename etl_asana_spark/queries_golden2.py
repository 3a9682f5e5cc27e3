"""Golden queries, set 2 — the remaining TPC-H query shapes (SURVEY §5.3).

Set 1 (``queries_golden.py``) covers Q1/Q3/Q4/Q6/Q10/Q14/Q18 shapes; this
module completes the suite with Q5/Q7/Q8/Q9/Q13/Q15/Q17/Q19/Q21/Q22 shapes,
adapted to the driver schema (TESTDATA.md): there is no ``partsupp`` table
(cost terms use ``p_retailprice`` as the unit-cost proxy) and no
shipmode/commitdate/receiptdate columns (Q21's "late" predicate becomes
``l_shipdate > o_orderdate + 60 days``). The *plan shapes* — multi-way
region-filtered joins, self-joined dimensions, disjunctive join residuals,
correlated EXISTS/NOT EXISTS pairs, scalar-subquery maxima, per-group
correlated thresholds — are the TPC-H originals.

Every query is fully oracle-checked. All money sums go through the
fixed-point helpers (``functions.parity``) so results are order-independent
and bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import register
from .functions.parity import davg, dsum, sql_davg, sql_dsum
from .registry import load_tables

_REV = "l_extendedprice * (1 - l_discount)"

def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


@register(
    "q_golden_local_volume",
    oracle=f"""
    SELECT n_name, {sql_dsum(_REV)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_golden_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier share a
    nation, restricted to one region and a 2-year window. Six-way join; the
    whole dim chain (supplier, nation⋈region) broadcasts, so the only
    shuffles are the fact-side joins and the final tiny agg."""
    t = load_tables(spark, sf_dir)
    nr = t["nation"].join(
        F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return (
        t["customer"]
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
                & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(_REV).alias("revenue"))
    )


@register(
    "q_golden_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {sql_dsum("volume")} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               {_REV} AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ((r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA')
            OR (r1.r_name = 'ASIA'   AND r2.r_name = 'EUROPE'))
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_golden_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two regions by year.
    The nation⋈region dim is joined TWICE under different roles (supplier
    side / customer side) — a self-joined broadcast dimension — with the
    classic disjunctive direction predicate applied after both."""
    t = load_tables(spark, sf_dir)
    ngeo = (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
    )
    supp_geo = ngeo.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
        F.col("r_name").alias("supp_region"),
    )
    cust_geo = ngeo.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"),
        F.col("r_name").alias("cust_region"),
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    direction = (
        (F.col("supp_region") == "EUROPE") & (F.col("cust_region") == "ASIA")
    ) | ((F.col("supp_region") == "ASIA") & (F.col("cust_region") == "EUROPE"))
    return (
        t["supplier"]
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(supp_geo), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cust_geo), F.col("c_nationkey") == F.col("cn_key"))
        .filter(direction)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(_REV).alias("revenue"))
    )


@register(
    "q_golden_market_share",
    oracle=f"""
    SELECT o_year,
           ROUND({sql_dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
                 / {sql_dsum("volume")}, 6) AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               {_REV} AS volume,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_sales
    GROUP BY o_year
    """,
)
def q_golden_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier-nation's share of a region's market for
    one part type, by order year. Conditional-aggregation ratio over a
    7-way join; again two nation roles (customer geography gates the
    market, supplier geography feeds the numerator)."""
    t = load_tables(spark, sf_dir)
    cust_geo = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_geo = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        t["part"].filter(F.col("p_type") == "ECONOMY")
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
                & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cust_geo), F.col("c_nationkey") == F.col("cn_key"), "inner")
        .join(F.broadcast(supp_geo), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                dsum(f"CASE WHEN supp_nation = 'NATION_3' THEN {_REV} ELSE 0 END")
                / dsum(_REV),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q_golden_product_profit",
    oracle=f"""
    SELECT n_name AS nation, o_year, {sql_dsum("amount")} AS sum_profit
    FROM (
        SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
               l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity AS amount
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY n_name, o_year
    """,
)
def q_golden_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year for parts whose
    name matches a substring. No partsupp table in this schema, so unit cost
    is proxied as 60% of ``p_retailprice`` — the join/agg shape (substring
    part filter driving a 5-way join, two-key agg) is the original's."""
    t = load_tables(spark, sf_dir)
    amount = f"{_REV} - 0.6 * p_retailprice * l_quantity"
    return (
        t["part"].filter(F.col("p_name").like("%widget%"))
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum(amount).alias("sum_profit"))
    )


@register(
    "q_golden_cust_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q_golden_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count, with a
    non-key predicate inside the OUTER join condition (customers with zero
    qualifying orders must still appear with c_count = 0), then a second
    aggregation over the first's result — the double-agg histogram."""
    t = load_tables(spark, sf_dir)
    per_cust = (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q_golden_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, {sql_dsum(_REV)} AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def q_golden_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly revenue —
    an aggregate reused twice (once as the ranking input, once inside the
    scalar-subquery max). The max is computed as a 1-row broadcast joined
    back, NOT a global window sort: at 100 TB the revenue agg shuffles once
    and the scalar compare is free. Equality on doubles is safe here only
    because dsum is fixed-point-exact on both engines."""
    t = load_tables(spark, sf_dir)
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-04-01 00:00:00"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(_REV).alias("total_rev"))
    )
    best = revenue.agg(F.max("total_rev").alias("best_rev"))
    return (
        t["supplier"]
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(best), F.col("total_rev") == F.col("best_rev"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "q_golden_small_qty",
    oracle=f"""
    SELECT ROUND({sql_dsum('l_extendedprice')} / 7.0, 6) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_size < 15
      AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q_golden_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — a correlated
    per-part average threshold. Decorrelated by hand the way Catalyst would:
    one agg over lineitem computing each part's threshold, broadcast-joined
    back to the filtered fact. AVG(l_quantity) is exact on both engines
    (integer-valued doubles sum exactly below 2^53), so the `<` boundary
    cannot flip between engines."""
    t = load_tables(spark, sf_dir)
    thresholds = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((F.lit(0.5) * F.avg("l_quantity")).alias("qty_thresh"))
    )
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(thresholds, F.col("t_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(dsum("l_extendedprice") / 7.0, 6).alias("avg_yearly"))
    )


@register(
    "q_golden_disjunctive",
    oracle=f"""
    SELECT {sql_dsum(_REV)} AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
           AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 20 AND 35)
    """,
)
def q_golden_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-table predicates over a join.
    Catalyst keeps the equi-key (`p_partkey = l_partkey`) as the join
    condition and evaluates the OR-of-ANDs as a post-join residual; each
    disjunct's single-table conjuncts (brand/size, quantity) are also
    pushed below the join as an OR-union prefilter on each side."""
    t = load_tables(spark, sf_dir)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(1, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(5, 20)
           & F.col("l_quantity").between(10, 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(20, 35))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(dsum(_REV).alias("revenue"))
    )


@register(
    "q_golden_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
)
def q_golden_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier finished order. "Late" is adapted to this schema as
    shipping >60 days after the order date (no receipt/commit dates). The
    EXISTS / NOT EXISTS pair compiles to a left-semi then left-anti join
    against the same fact table — both on l_orderkey, so one exchange
    partitioning serves all three fact scans."""
    t = load_tables(spark, sf_dir)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    base = (
        t["supplier"]
        .join(t["lineitem"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"].filter(F.col("o_orderstatus") == "F"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(late)
    )
    l2 = t["lineitem"].select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    l3 = t["lineitem"].select(
        F.col("l_orderkey").alias("y_orderkey"),
        F.col("l_suppkey").alias("y_suppkey"),
        F.col("l_shipdate").alias("y_shipdate"),
    )
    return (
        base.join(
            l2,
            (F.col("x_orderkey") == F.col("l_orderkey"))
            & (F.col("x_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("y_orderkey") == F.col("l_orderkey"))
            & (F.col("y_suppkey") != F.col("l_suppkey"))
            & (F.col("y_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q_golden_idle_customers",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS numcust, {sql_dsum('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT {sql_davg('c_acctbal')} FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def q_golden_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers gone idle — above-average
    account balance (uncorrelated scalar subquery) with no recent orders
    (anti-join), grouped by segment (this schema's stand-in for the phone
    country code). The scalar threshold is a 1-row broadcast cross-join;
    davg's fixed-point average makes the `>` boundary engine-exact."""
    t = load_tables(spark, sf_dir)
    thresh = (
        t["customer"].filter(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal").alias("bal_thresh"))
    )
    recent = t["orders"].filter(
        F.col("o_orderdate") >= _ts("2000-01-01 00:00:00")
    ).select(F.col("o_custkey"))
    return (
        t["customer"]
        .join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("bal_thresh"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal").alias("totacctbal"))
    )


@register(
    "q_golden_important_parts",
    oracle=f"""
    WITH per_part AS (
        SELECT l_partkey AS partkey, {sql_dsum(_REV)} AS value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_3'
        GROUP BY l_partkey
    )
    SELECT partkey, value
    FROM per_part
    WHERE value > (SELECT 0.001 * {sql_dsum('value')} FROM per_part)
    """,
)
def q_golden_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts representing a significant share of one
    nation's shipped value — a grouped aggregate filtered against a scalar
    fraction of its own total. No partsupp table, so lineitem⋈supplier is
    the part-supplier link and revenue is the value measure. The total is
    re-aggregated FROM the per-part result (dsum over exact k/1e6 values
    reconstructs the unit counts, so two-level == one-level exactly — no
    second scan of the fact), then broadcast back as a 1-row threshold."""
    t = load_tables(spark, sf_dir)
    nation_supp = (
        t["supplier"]
        .join(t["nation"].filter(F.col("n_name") == "NATION_3"),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    per_part = (
        t["lineitem"]
        .join(F.broadcast(nation_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(dsum(_REV).alias("value"))
    )
    thresh = per_part.agg((F.lit(0.001) * dsum("value")).alias("cutoff"))
    return (
        per_part.join(F.broadcast(thresh))
        .filter(F.col("value") > F.col("cutoff"))
        .select("partkey", "value")
    )


@register(
    "q_golden_shipmode_priority",
    oracle="""
    SELECT year(l_shipdate) AS ship_year,
           -- CAST: DuckDB SUM(INTEGER) yields HUGEINT → pandas float64,
           -- which the driver's value-hash distinguishes from Spark int64.
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate > o_orderdate
    GROUP BY year(l_shipdate)
    """,
)
def q_golden_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: order-priority class counts per shipping period — a
    fact⋈fact equi-join with a cross-table residual (shipped strictly after
    ordered; the schema has no commit/receipt dates) feeding conditional
    integer aggregation. Ship year stands in for shipmode as the group key.
    The date range pushes to the lineitem scan; counts are exact integers
    so no fixed-point guard is needed."""
    t = load_tables(spark, sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1999-01-01 00:00:00"))
        )
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q_golden_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 14, 19, 23, 28, 33)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_golden_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can ship each surviving
    (brand, type, size) combination, excluding a supplier blacklist (NOT IN
    — negative-balance suppliers stand in for the complaints subquery).
    lineitem is the part-supplier link. Plan: blacklist anti-join and the
    filtered part dim both broadcast, so the only shuffle is the distinct
    aggregation itself (Spark's two-phase expand handles COUNT DISTINCT)."""
    t = load_tables(spark, sf_dir)
    bad = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 28, 33))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(parts), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_golden_promo_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l1.l_suppkey
        FROM lineitem l1
        JOIN part ON p_partkey = l1.l_partkey
        WHERE p_type LIKE 'PROMO%'
          AND l1.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l1.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l1.l_partkey, l1.l_suppkey
        HAVING SUM(l1.l_quantity) > 0.25 * (
            SELECT SUM(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey AND l2.l_suppkey = l1.l_suppkey)
    )
    """,
)
def q_golden_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers with excess stock of promotable parts —
    an IN subquery whose HAVING clause carries a correlated scalar subquery
    against the same fact (1997 shipped quantity > 25% of the pair's
    all-time quantity; availqty has no column here so the all-time total is
    the stock proxy). Decorrelated the way Catalyst would: two grouped
    aggregates over lineitem joined on the (part, supplier) pair, then a
    semi-join into supplier. Quantity sums are integer-valued doubles
    (exact below 2^53) and 0.25 is a power of two, so the `>` boundary
    cannot flip between engines."""
    t = load_tables(spark, sf_dir)
    promo = t["part"].filter(F.col("p_type").like("PROMO%")).select("p_partkey")
    recent = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        )
        .join(F.broadcast(promo), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty_1997"))
    )
    alltime = (
        t["lineitem"]
        .groupBy(
            F.col("l_partkey").alias("a_partkey"),
            F.col("l_suppkey").alias("a_suppkey"),
        )
        .agg(F.sum("l_quantity").alias("qty_all"))
    )
    qualifying = (
        recent.join(
            alltime,
            (F.col("l_partkey") == F.col("a_partkey"))
            & (F.col("l_suppkey") == F.col("a_suppkey")),
        )
        .filter(F.col("qty_1997") > F.lit(0.25) * F.col("qty_all"))
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )
