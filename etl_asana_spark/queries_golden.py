"""Golden end-to-end queries (SURVEY §5.3) — multi-operator compositions.

The per-operator catalog proves each §2 row in isolation; these prove the
compositions a real workload runs: TPC-H-shaped analytics over the star
schema (adapted to the synthetic domains — no TPC-H-literal predicates,
FIXTURES.md §A), an event-funnel analysis, and an end-to-end document-
cleaning pipeline chaining the LLM-data operators.

Every query is fully oracle-checked; top-k outputs carry explicit unique
tie-breaks so LIMIT is deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .functions.parity import davg, dsum, sql_davg, sql_dsum
from .operators import text
from .registry import load_tables

_CUTOFF = "1998-07-01 00:00:00"


@register(
    "q_golden_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{_CUTOFF}'
      AND l_shipdate  > TIMESTAMP '{_CUTOFF}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_golden_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter → 3-way join → per-order revenue →
    top 10. Plan: both dim-side filters push to their scans; customer (and
    orders under AQE) broadcast; single agg shuffle; TakeOrdered top-k."""
    t = load_tables(spark, sf_dir)
    cut = F.lit(_CUTOFF).cast("timestamp")
    return (
        t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"].filter(F.col("o_orderdate") < cut),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"].filter(F.col("l_shipdate") > cut),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q_golden_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_golden_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer over a quarter-ish
    window, nation enrichment, top 20 losers."""
    t = load_tables(spark, sf_dir)
    lo = F.lit("1998-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-07-01 00:00:00").cast("timestamp")
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t["orders"].filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(t["lineitem"].filter(F.col("l_returnflag") == "R"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q_golden_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_golden_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated non-equi conjunct → left-semi
    join (equi on l_orderkey + range on shipdate), then a tiny agg."""
    t = load_tables(spark, sf_dir)
    lo = F.lit("1998-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-07-01 00:00:00").cast("timestamp")
    o = t["orders"].filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    li = t["lineitem"]
    return (
        o.join(li, (li["l_orderkey"] == o["o_orderkey"])
               & (li["l_shipdate"] > o["o_orderdate"]), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q_golden_events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS first_purchase
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > v.first_view
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.first_view, p.first_purchase,
           p.first_purchase IS NOT NULL AS converted
    FROM v LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def q_golden_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase funnel per user: first view, first purchase strictly
    after it, conversion flag. Two aggregations + one outer join, all keyed
    on user_id — a single partitioning reused across stages."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("first_view")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(v, "user_id")
         .filter(F.col("ts") > F.col("first_view"))
         .groupBy("user_id").agg(F.min("ts").alias("first_purchase")))
    return (
        v.join(p, "user_id", "left")
        .select("user_id", "first_view", "first_purchase",
                F.col("first_purchase").isNotNull().alias("converted"))
    )


@register(
    "q_golden_doc_pipeline",
    oracle=r"""
    WITH en AS (
        SELECT doc_id, text FROM documents WHERE lang = 'en'
    ), feats AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_words,
               ROUND(CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                         t -> t IN ('the','of','and','to','in','is','that','for')))
                     AS DOUBLE) / len(regexp_split_to_array(text, '\s+')), 8) AS stopword_ratio
        FROM en
    )
    SELECT doc_id, n_chars, n_words, stopword_ratio
    FROM feats
    WHERE n_words >= 20 AND stopword_ratio <= 0.6
    ORDER BY n_words DESC, doc_id
    LIMIT 50
    """,
)
def q_golden_doc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning: language filter → quality features →
    threshold filter → top 50 longest survivors. The whole pipeline is one
    scan + one TakeOrdered — no shuffle until the final top-k."""
    t = load_tables(spark, sf_dir)
    toks = text.ws_tokens("text")
    n_words = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda tk: tk.isin(*text.STOPWORDS["en"])))
    return (
        t["documents"].filter(F.col("lang") == "en")
        .select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            n_words.alias("n_words"),
            F.round(n_stop.cast("double") / n_words, 8).alias("stopword_ratio"),
        )
        .filter((F.col("n_words") >= 20) & (F.col("stopword_ratio") <= 0.6))
        .orderBy(F.desc("n_words"), "doc_id")
        .limit(50)
    )


@register(
    "q_golden_revenue_forecast",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue_delta,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_golden_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-speed query — every predicate pushes to
    the parquet reader, no join, no shuffle beyond the final global agg."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_golden_promo_share",
    oracle=f"""
    SELECT ROUND(
             100.0 * {sql_dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
             / {sql_dsum('l_extendedprice * (1 - l_discount)')}, 6) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q_golden_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one month. Conditional
    aggregation over a fact⋈dim join; part broadcasts under AQE."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * dsum(promo) / dsum(rev), 6).alias("promo_share"),
        )
    )


@register(
    "q_golden_big_spenders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING {sql_dsum('l_quantity')} > 150
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           {sql_dsum('l_quantity')} AS total_qty
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def q_golden_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (HAVING filter feeding a
    semi-join), re-aggregated with customer context, top 20."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"].groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"))
        .join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate")
        .agg(dsum("l_quantity").alias("total_qty"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


@register(
    "q_golden_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id,
               date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS active_week
        FROM events e
    )
    SELECT f.cohort_week,
           CAST(date_diff('week', f.cohort_week, a.active_week) AS BIGINT) AS week_offset,
           COUNT(DISTINCT a.user_id) AS active_users
    FROM first_seen f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def q_golden_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen week, counted per
    weekly activity offset — the canonical product-analytics composition
    (two aggs + join, both keyed on user_id: one partitioning reused)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "q_profile_table",
    oracle=f"""
    SELECT 'l_quantity' AS col, COUNT(*) AS n_rows,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
           {sql_davg('l_quantity')} AS mean_v
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*),
           CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
           COUNT(DISTINCT l_discount),
           MIN(l_discount), MAX(l_discount),
           {sql_davg('l_discount')}
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*),
           CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
           COUNT(DISTINCT l_extendedprice),
           MIN(l_extendedprice), MAX(l_extendedprice),
           {sql_davg('l_extendedprice')}
    FROM lineitem
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column row/null/distinct counts + min/max/mean
    for the lineitem measures — the data-quality gate run before and after
    every load. All columns profile in ONE scan (a single multi-aggregate
    pass, unpivoted to rows), not one scan per column."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    cols = ["l_quantity", "l_discount", "l_extendedprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            davg(c).alias(f"{c}__mean"),
        ]
    wide = li.agg(*aggs)
    stacked = wide.selectExpr(
        "stack({n}, {args}) AS (col, n_rows, n_nulls, n_distinct, min_v, max_v, mean_v)".format(
            n=len(cols),
            args=", ".join(
                f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max, {c}__mean"
                for c in cols
            ),
        )
    )
    return stacked


@register(
    "q_anomaly_days",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT event_type, day, n,
               AVG(n) OVER (PARTITION BY event_type) AS mu,
               stddev_pop(n) OVER (PARTITION BY event_type) AS sigma
        FROM daily
    )
    SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
           ROUND((n - mu) / sigma, 6) AS z
    FROM stats
    WHERE abs((n - mu) / sigma) > 2.0
    """,
)
def q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection: days whose per-type event count deviates
    more than 2σ from that type's mean (population stddev over the full
    horizon — a fixed two-pass shape: one agg, one broadcast-size window).
    The monitoring query a pipeline runs after every daily load."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window

    daily = (
        t["events"]
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    w = Window.partitionBy("event_type")
    # try_divide: a type whose daily counts never vary (stddev_pop = 0 — a
    # one-day slice, or perfectly uniform volume) has no measurable
    # deviation, so z is NULL and the day is NOT anomalous — ANSI `/`
    # would page the on-call with DIVIDE_BY_ZERO instead. Identical to `/`
    # whenever stddev > 0 (oracle parity unchanged).
    z = F.try_divide(
        F.col("n") - F.avg("n").over(w), F.stddev_pop("n").over(w)
    )
    return (
        daily.withColumn("z_raw", z)  # materialize the window before WHERE
        .filter(F.abs(F.col("z_raw")) > 2.0)  # unrounded filter (oracle parity)
        .select("event_type", "day", F.col("n").cast("long").alias("n_events"),
                F.round("z_raw", 6).alias("z"))
    )


@register(
    "q_audit_constraints",
    oracle="""
    SELECT 'customer_pk' AS check_name,
           COUNT(*) - COUNT(DISTINCT c_custkey) AS violations FROM customer
    UNION ALL
    SELECT 'orders_pk', COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'lineitem_pk',
           COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
    UNION ALL
    SELECT 'part_pk', COUNT(*) - COUNT(DISTINCT p_partkey) FROM part
    UNION ALL
    SELECT 'orders_customer_fk', COUNT(*) FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'lineitem_orders_fk', COUNT(*) FROM lineitem
    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'lineitem_part_fk', COUNT(*) FROM lineitem
    WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
    UNION ALL
    SELECT 'lineitem_supplier_fk', COUNT(*) FROM lineitem
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
    UNION ALL
    SELECT 'customer_nation_fk', COUNT(*) FROM customer
    WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
    UNION ALL
    SELECT 'nation_region_fk', COUNT(*) FROM nation
    WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region)
    UNION ALL
    SELECT 'orders_orderdate_not_null', COUNT(*) FROM orders
    WHERE o_orderdate IS NULL
    UNION ALL
    SELECT 'lineitem_qty_positive', COUNT(*) FROM lineitem
    WHERE l_quantity <= 0
    """,
)
def q_audit_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse constraint audit (the dbt-test / Deequ primitive): PK
    uniqueness, FK orphan counts, NOT NULL and domain checks across the
    star schema, one violation count per named check. Every FK probe plans
    as an anti join — broadcast when the referenced key set is a bounded dim, shuffle for fact-sized parents; PK
    checks are single-pass COUNT vs COUNT DISTINCT; each check is a
    one-row aggregate so the union is free. This is the gate a 100 TB
    ingest runs before publishing a snapshot — all scans are key-column
    pruned and fully parallel, nothing ever collects raw rows."""
    t = load_tables(spark, sf_dir)

    def pk(name: str, tbl: str, *keys: str) -> DataFrame:
        return t[tbl].agg(
            F.lit(name).alias("check_name"),
            (F.count(F.lit(1)) - F.countDistinct(*keys)).alias("violations"),
        )

    def fk(
        name: str, child: str, ckey: str, parent: str, pkey: str,
        broadcast_parent: bool = True,
    ) -> DataFrame:
        keys = t[parent].select(pkey)
        if broadcast_parent:
            keys = F.broadcast(keys)
        orphans = t[child].join(keys, F.col(ckey) == F.col(pkey), "left_anti")
        return orphans.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("violations"),
        )

    def cond(name: str, tbl: str, bad) -> DataFrame:
        return t[tbl].filter(bad).agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("violations"),
        )

    checks = [
        pk("customer_pk", "customer", "c_custkey"),
        pk("orders_pk", "orders", "o_orderkey"),
        pk("lineitem_pk", "lineitem", "l_orderkey", "l_linenumber"),
        pk("part_pk", "part", "p_partkey"),
        fk("orders_customer_fk", "orders", "o_custkey", "customer", "c_custkey"),
        # orders is fact-sized: a shuffle anti join, never a broadcast, at scale
        fk("lineitem_orders_fk", "lineitem", "l_orderkey", "orders",
           "o_orderkey", broadcast_parent=False),
        fk("lineitem_part_fk", "lineitem", "l_partkey", "part", "p_partkey"),
        fk("lineitem_supplier_fk", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        fk("customer_nation_fk", "customer", "c_nationkey", "nation", "n_nationkey"),
        fk("nation_region_fk", "nation", "n_regionkey", "region", "r_regionkey"),
        cond("orders_orderdate_not_null", "orders", F.col("o_orderdate").isNull()),
        cond("lineitem_qty_positive", "lineitem", F.col("l_quantity") <= 0),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@register(
    "q_orders_rfm",
    oracle=f"""
    WITH ref AS (SELECT MAX(o_orderdate) AS ref_ts FROM orders),
    per_cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                              CAST(ref.ref_ts AS DATE)) AS INT) AS recency_days,
               COUNT(*) AS frequency,
               {{dsum_price}} AS monetary
        FROM orders, ref
        GROUP BY o_custkey, ref.ref_ts
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
           ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
           ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
    FROM per_cust
    """.format(dsum_price=sql_dsum("o_totalprice")),
)
def q_orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring — the classic segmentation report: per-customer
    recency (days since last order vs the dataset's reference date),
    frequency, monetary total, each quintile-bucketed by ntile.

    The fact-scale work is one grouped aggregation; the three ntile windows
    run on the customer-grain result (dim cardinality — a deliberate
    exception to the no-global-window rule, like every ranking report).
    ntile orderings carry the unique customer key as tiebreak, so bucket
    assignment is total-order deterministic on both engines; monetary uses
    the fixed-point sum so the M ordering can't drift in the low bits.
    """
    t = load_tables(spark, sf_dir)
    ref = t["orders"].agg(F.max("o_orderdate").alias("ref_ts"))
    per_cust = (
        t["orders"]
        .crossJoin(F.broadcast(ref))
        .groupBy("o_custkey", "ref_ts")
        .agg(
            F.datediff(
                F.to_date(F.max("ref_ts")), F.to_date(F.max("o_orderdate"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice").alias("monetary"),
        )
        .drop("ref_ts")
    )
    w_r = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    w_f = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    w_m = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    return per_cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(w_r).alias("r_score"),
        F.ntile(5).over(w_f).alias("f_score"),
        F.ntile(5).over(w_m).alias("m_score"),
    )


@register(
    "q_growth_mom",
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               COUNT(*) AS n_orders,
               {{dsum_price}} AS revenue
        FROM orders
        GROUP BY date_trunc('month', o_orderdate)
    )
    SELECT CAST(month AS VARCHAR) AS month, n_orders, revenue,
           ROUND(CASE WHEN lag(revenue) OVER (ORDER BY month) IS NULL
                      THEN NULL
                      ELSE (revenue - lag(revenue) OVER (ORDER BY month))
                           / lag(revenue) OVER (ORDER BY month) END,
                 8) AS mom_growth
    FROM monthly
    """.format(dsum_price=sql_dsum("o_totalprice")),
)
def q_growth_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the first chart of every revenue
    dashboard. Aggregate to the month grain FIRST (fact-scale work is one
    grouped agg), then a lag window over the few-dozen-row monthly series;
    growth is a double ratio of fixed-point-exact month totals, so the
    percentages can't drift with partitioning. The month-grain window is a
    deliberate tiny SinglePartition — windowing the reduced series, never
    the fact.
    """
    t = load_tables(spark, sf_dir)
    monthly = (
        t["orders"]
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        F.col("month").cast("string").alias("month"),
        "n_orders",
        "revenue",
        F.round(
            F.when(prev.isNull(), F.lit(None)).otherwise(
                (F.col("revenue") - prev) / prev
            ),
            8,
        ).alias("mom_growth"),
    )


@register(
    "q_pareto_8020",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey, {{dsum_price}} AS spend
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, spend,
               SUM(spend) OVER (ORDER BY spend DESC, o_custkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_spend
        FROM per_cust
    ),
    total AS (SELECT MAX(cum_spend) AS tot FROM ranked)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_top_customers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM per_cust) AS n_customers,
           ROUND(MAX(cum_spend) / (SELECT tot FROM total), 8)
               AS captured_share
    FROM ranked
    WHERE cum_spend < 0.8 * (SELECT tot FROM total)
    """.format(dsum_price=sql_dsum("o_totalprice")),
)
def q_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration (the 80/20 report): how many top customers it
    takes to reach 80% of revenue, and the exact share they capture just
    before crossing the threshold.

    Fact-scale work is one grouped agg to customer grain; the running
    share is a window over that reduced frame ordered by (spend DESC,
    custkey) — a total order, so the crossing point is deterministic; the
    grand total is the final running value (identical sequential addition
    order on both engines), so the 0.8 threshold comparison can't flip
    with partitioning or engine. One summary row out.
    """
    t = load_tables(spark, sf_dir)
    per_cust = t["orders"].groupBy("o_custkey").agg(
        dsum("o_totalprice").alias("spend")
    )
    w = Window.orderBy(F.desc("spend"), F.asc("o_custkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = per_cust.select(
        "o_custkey", "spend", F.sum("spend").over(w).alias("cum_spend")
    )
    # Grand total = the LAST running value: the same deterministic sequential
    # addition order on both engines (a plain SUM would re-associate and
    # could differ in the low bits, flipping the 0.8 threshold at the edge).
    total = ranked.agg(F.max("cum_spend").alias("tot"))
    n_customers = per_cust.agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .filter(F.col("cum_spend") < 0.8 * F.col("tot"))
        .agg(
            F.count(F.lit(1)).alias("n_top_customers"),
            F.round(F.max("cum_spend") / F.first("tot"), 8).alias(
                "captured_share"
            ),
        )
        .crossJoin(F.broadcast(n_customers))
        .select("n_top_customers", "n_customers", "captured_share")
    )


@register(
    "q_cohort_ltv",
    oracle=f"""
    WITH firsts AS (
        SELECT o_custkey,
               CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    monthly AS (
        SELECT f.cohort,
               CAST((year(o.o_orderdate) - year(f.cohort)) * 12
                    + (month(o.o_orderdate) - month(f.cohort)) AS INT)
                   AS month_offset,
               {{dsum_price}} AS revenue
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        GROUP BY f.cohort,
                 (year(o.o_orderdate) - year(f.cohort)) * 12
                 + (month(o.o_orderdate) - month(f.cohort))
    )
    SELECT CAST(cohort AS VARCHAR) AS cohort, month_offset, revenue,
           CAST(SUM(CAST(revenue AS DECIMAL(25,6))) OVER (
               PARTITION BY cohort ORDER BY month_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS cumulative_ltv
    FROM monthly
    WHERE month_offset <= 11
    """.format(dsum_price=sql_dsum("o_totalprice")),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: customers grouped by first-order month, revenue
    accumulated by month offset over the first year — the growth-finance
    view of q_golden_retention_cohorts (which counts heads; this sums
    money).

    Plan: first-order month per customer is one grouped agg; it joins back
    onto orders (broadcast at dim scale, co-partitioned on the customer key
    at 100 TB), revenue reduces to (cohort × offset) grain with the
    fixed-point sum, and the cumulative curve is a decimal-exact running
    window over that tiny matrix — ~cohorts × 12 cells, never the fact.
    """
    t = load_tables(spark, sf_dir)
    firsts = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.date_trunc("month", F.min("o_orderdate"))
            .cast("date")
            .alias("cohort")
        )
    )
    joined = t["orders"].join(firsts, "o_custkey")
    offset = (
        (F.year("o_orderdate") - F.year("cohort")) * 12
        + (F.month("o_orderdate") - F.month("cohort"))
    ).cast("int")
    monthly = (
        joined.groupBy("cohort", offset.alias("month_offset"))
        .agg(dsum("o_totalprice").alias("revenue"))
        .filter(F.col("month_offset") <= 11)
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return monthly.select(
        F.col("cohort").cast("string").alias("cohort"),
        "month_offset",
        "revenue",
        F.sum(F.col("revenue").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("cumulative_ltv"),
    )


@register(
    "q_backlog_aging",
    oracle=f"""
    WITH ref AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS ref_day FROM orders),
    open_orders AS (
        SELECT o_orderkey, o_totalprice,
               date_diff('day', CAST(o_orderdate AS DATE), ref.ref_day)
                   AS age_days
        FROM orders, ref
        WHERE o_orderstatus = 'O'
    )
    SELECT CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 90 THEN '31-90'
                WHEN age_days <= 365 THEN '91-365'
                ELSE '365+' END AS age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {{dsum_price}} AS backlog_value
    FROM open_orders
    GROUP BY CASE WHEN age_days <= 30 THEN '0-30'
                  WHEN age_days <= 90 THEN '31-90'
                  WHEN age_days <= 365 THEN '91-365'
                  ELSE '365+' END
    """.format(dsum_price=sql_dsum("o_totalprice")),
)
def q_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging — the operations report behind working-
    capital and fulfillment SLAs: open orders bucketed by age at the
    dataset's reference date, with count and value per bucket.

    The reference date is a 1-row broadcast (never a driver-side collect);
    bucketing is a per-row CASE in the scan projection; one grouped
    aggregation at bucket grain (4 rows out) with the fixed-point value
    sum. The status filter pushes to the parquet reader.
    """
    t = load_tables(spark, sf_dir)
    ref = t["orders"].agg(F.to_date(F.max("o_orderdate")).alias("ref_day"))
    age = F.datediff(F.col("ref_day"), F.to_date("o_orderdate"))
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 90, "31-90")
        .when(age <= 365, "91-365")
        .otherwise("365+")
    )
    return (
        t["orders"]
        .filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(ref))
        .groupBy(bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("backlog_value"),
        )
    )
