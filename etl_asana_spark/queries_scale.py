"""Scale-pattern queries: exact re-aggregatable statistics, runtime-filter
joins, and multi-dimensional data layout (SURVEY §4 scale engineering).

These are the patterns that only start to matter past ~1 TB:

- ``q_agg_stats`` — corr/covar/stddev computed from exact fixed-point
  moments instead of the engines' streaming co-moment aggregates, so the
  result is bit-identical at any parallelism (native ``corr()`` drifts with
  partitioning; an unauditable number at 100 TB).
- ``q_join_bloom`` — a declarative runtime filter: broadcast the build
  side's hash-bucket set (a one-hash Bloom filter) to prune the probe side
  BEFORE its shuffle, then do the exact shuffle join on the survivors.
- ``q_layout_zorder`` — Morton (Z-order) interleave of two key columns +
  range-repartition + in-partition sort, the layout that makes min/max
  data skipping work for BOTH predicates at once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .functions.parity import (
    davg,
    dsum,
    dsum_wide,
    sql_davg,
    sql_dsum,
    sql_dsum_wide,
)
from .operators.skew import salted_join
from .registry import load_tables

# ---------------------------------------------------------------------------
# Exact distributed statistics
# ---------------------------------------------------------------------------


@register(
    "q_agg_stats",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               CAST(COUNT(*) AS DOUBLE) AS n,
               {sql_dsum('l_quantity')} AS sx,
               {sql_dsum('l_extendedprice')} AS sy,
               {sql_dsum_wide('l_quantity * l_extendedprice')} AS sxy,
               {sql_dsum_wide('l_quantity * l_quantity')} AS sxx,
               {sql_dsum_wide('l_extendedprice * l_extendedprice')} AS syy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_rows,
           ((n * sxy) - (sx * sy))
             / sqrt(((n * sxx) - (sx * sx)) * ((n * syy) - (sy * sy)))
             AS corr_qty_price,
           ((sxy) - ((sx * sy) / n)) / (n - 1) AS covar_qty_price,
           sqrt(((syy) - ((sy * sy) / n)) / (n - 1)) AS stddev_price
    FROM m
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (Pearson corr, sample covariance/stddev) from
    exact moments.

    Native ``corr()``/``covar_samp()`` merge per-partition co-moments in
    shuffle order — double arithmetic, so the low bits depend on
    partitioning and differ run-to-run and engine-to-engine. Here the five
    moments Σx Σy Σxy Σx² Σy² are fixed-point-exact ``dsum``s (order-free,
    re-aggregatable map-side — the same partial-agg shape as a plain SUM),
    and the closed-form combinations are evaluated on the exact sums with
    the identical expression tree on both engines: deterministic at any
    parallelism, and still one shuffle."""
    x, y = "l_quantity", "l_extendedprice"
    m = (
        load_tables(spark, sf_dir)["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("*").cast("double").alias("n"),
            dsum(x).alias("sx"),
            dsum(y).alias("sy"),
            dsum_wide(f"{x} * {y}").alias("sxy"),
            dsum_wide(f"{x} * {x}").alias("sxx"),
            dsum_wide(f"{y} * {y}").alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "l_returnflag",
        "n_rows",
        (
            ((n * sxy) - (sx * sy))
            / F.sqrt(((n * sxx) - (sx * sx)) * ((n * syy) - (sy * sy)))
        ).alias("corr_qty_price"),
        ((sxy - ((sx * sy) / n)) / (n - F.lit(1.0))).alias("covar_qty_price"),
        F.sqrt((syy - ((sy * sy) / n)) / (n - F.lit(1.0))).alias("stddev_price"),
    )


# ---------------------------------------------------------------------------
# Runtime-filter (Bloom-style) join
# ---------------------------------------------------------------------------

#: Bucket count for the one-hash Bloom set: 64 Ki distinct bucket values is
#: ≤ 512 KiB broadcast worst-case, and at 1% build-side selectivity keeps the
#: false-positive rate (≈ n_build/65536 per probe) low enough to drop most
#: non-matching probe rows before the shuffle.
_N_BUCKETS = 1 << 16


def _bucket(key: Column) -> Column:
    return F.pmod(F.xxhash64(key), F.lit(_N_BUCKETS))


@register(
    "q_join_bloom",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filtered big-big join: semi-join the probe side against the
    broadcast hash-bucket set of the (selective) build side, THEN run the
    exact shuffle join on the survivors.

    The bucket set is a one-hash Bloom filter expressed declaratively —
    ``distinct(xxhash64(key) % 64Ki)`` is tiny regardless of build-side row
    width, the broadcast semi-join prunes probe rows before they pay the
    exchange, and false positives are eliminated by the exact join, so the
    result is identical to the plain join (the oracle). At 100 TB this is
    the difference between shuffling the full fact table and shuffling the
    ~5% that can possibly match; Spark's own ``runtime.bloomFilter``
    optimizer rule does the same thing adaptively, but only for supported
    shapes — this composition works for any equi-join. The final join is
    hinted ``merge`` because at scale both survivors are too big to
    broadcast."""
    t = load_tables(spark, sf_dir)
    build = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    bucket_set = build.select(
        _bucket(F.col("o_orderkey")).alias("bf_bucket")
    ).distinct()
    probe = t["lineitem"].join(
        F.broadcast(bucket_set),
        _bucket(F.col("l_orderkey")) == F.col("bf_bucket"),
        "leftsemi",
    )
    return (
        probe.join(build.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_items"), dsum("l_extendedprice").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Z-order layout
# ---------------------------------------------------------------------------

#: (shift, mask) steps spreading a 16-bit value so its bits occupy even
#: positions of a 32-bit lane (classic Morton magic numbers).
_SPREAD_STEPS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(col: Column) -> Column:
    x = col.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_STEPS:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def zorder_key(a: Column, b: Column) -> Column:
    """Morton-interleave two bigint columns' low 16 bits into one z-value.

    Pure bit arithmetic (AND/OR/shift) — whole-stage-codegen'd, no UDF."""
    return _spread16(a).bitwiseOR(F.shiftleft(_spread16(b), 1))


def _sql_spread16(name: str, steps: list[str]) -> None:
    steps.append(f"({name} & 65535)")
    for shift, mask in _SPREAD_STEPS:
        prev = steps[-1]
        steps[-1] = f"(({prev} | ({prev} << {shift})) & {mask})"


def _sql_zorder(a: str, b: str) -> str:
    sa: list[str] = []
    sb: list[str] = []
    _sql_spread16(a, sa)
    _sql_spread16(b, sb)
    return f"({sa[0]} | ({sb[0]} << 1))"


@register(
    "q_layout_zorder",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           {_sql_zorder('CAST(l_partkey % 65536 AS BIGINT)',
                        'CAST(l_suppkey % 65536 AS BIGINT)')} AS zkey
    FROM lineitem
    """,
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (l_partkey, l_suppkey) +
    range-repartition + in-partition sort.

    Sorting by one key makes min/max file skipping perfect for that key and
    useless for the other; interleaving the bits gives both predicates
    sub-linear skipping from the same layout (each file covers a small
    z-range = a small rectangle in (partkey, suppkey) space). The write path
    is ``repartitionByRange(zkey) + sortWithinPartitions(zkey)`` — at 100 TB
    each output file's zone map then prunes on either column. The row SET is
    unchanged (layout only), which is exactly what the oracle checks; the
    disjoint-partition-range property is asserted in tests/test_scale_ops.py."""
    li = load_tables(spark, sf_dir)["lineitem"]
    a = (F.col("l_partkey") % 65536).cast("bigint")
    b = (F.col("l_suppkey") % 65536).cast("bigint")
    keyed = li.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        zorder_key(a, b).alias("zkey"),
    )
    return keyed.repartitionByRange(32, "zkey").sortWithinPartitions("zkey")


# ---------------------------------------------------------------------------
# Deterministic training-epoch shuffle
# ---------------------------------------------------------------------------


@register(
    "q_shuffle_epoch",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS shuffle_rank
    FROM documents
    """,
)
def q_shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-epoch permutation of the corpus: rank every doc
    by md5(seed || key) WITHOUT a single-reducer global sort — radix-bucket
    by hash prefix, tiny bucket-count action, offset + intra-bucket
    row_number (operators/shuffle.py). The oracle is the single-partition
    formulation (row_number over the global ORDER BY): parity proves the
    distributed rank assignment is exactly the global permutation. A new
    seed re-shuffles; the same seed replays bit-identically — epoch
    restarts at 100 TB re-read the same order."""
    from .operators.shuffle import deterministic_permutation

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    return deterministic_permutation(docs, "doc_id", seed="epoch1").select(
        "doc_id", "shuffle_rank"
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance
# ---------------------------------------------------------------------------


@register(
    "q_mv_incremental",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dsum('o_totalprice')} AS sum_revenue,
           ROUND({sql_dsum('o_totalprice')} / COUNT(o_totalprice), 6)
               AS avg_revenue
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view: monthly revenue by order status,
    maintained as mergeable partial state (operators/mv.py). The query
    simulates a refresh cycle — snapshot state built from history
    (< 1999-01-01), delta state from the new partition (>= 1999-01-01),
    merged and finalized WITHOUT rescanning history together. The oracle is
    the full recompute over all rows: parity proves merge(snapshot, delta)
    is bit-identical to the monolithic aggregate (decimal fixed-point state
    is associative). At 100 TB the refresh cost is O(delta + group count)."""
    from .operators import mv

    orders = load_tables(spark, sf_dir)["orders"].withColumn(
        "month", F.date_trunc("month", "o_orderdate")
    )
    cutoff = F.lit("1999-01-01").cast("timestamp")
    keys = ["o_orderstatus", "month"]
    measures = {"revenue": "o_totalprice"}
    snapshot = mv.build_state(orders.filter(F.col("o_orderdate") < cutoff), keys, measures)
    delta = mv.build_state(orders.filter(F.col("o_orderdate") >= cutoff), keys, measures)
    merged = mv.merge_state(snapshot, delta)
    out = mv.finalize_state(merged, ["revenue"])
    return out.select(
        "o_orderstatus", "month", "n_rows", "sum_revenue",
        F.round("avg_revenue", 6).alias("avg_revenue"),
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy self-join (entity resolution)
# ---------------------------------------------------------------------------


@register(
    "q_join_fuzzy",
    oracle=r"""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM names a
    JOIN names b
      ON (regexp_split_to_array(a.name, '\s+')[1] = regexp_split_to_array(b.name, '\s+')[1]
          OR regexp_split_to_array(a.name, '\s+')[2] = regexp_split_to_array(b.name, '\s+')[2])
     AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join on part names: pairs within Levenshtein 3
    that share a blocking token (operators/joins.py::fuzzy_join_blocked).
    Each block is an equi shuffle join — never a nested-loop cross join —
    so the pattern survives 100 TB; the oracle applies the identical
    blocking predicate, so parity is exact."""
    from .operators.joins import fuzzy_join_blocked

    part = load_tables(spark, sf_dir)["part"]
    return fuzzy_join_blocked(part, "p_name", max_dist=3, n_block_tokens=2)


@register(
    "q_join_salted",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join under the correctness gate.

    ``operators.skew.salted_join`` spreads each (potentially hot) orderkey
    over 8 content-derived salt buckets — the manual fix for the key whose
    single hash partition exceeds executor memory no matter how AQE splits
    it. The oracle is the PLAIN join: salting must be invisible in the
    result, and this key proves it row-for-row at every sf. Salts come from
    xxhash64 of (l_orderkey, l_linenumber) — deterministic across retries,
    unlike rand()-salting which corrupts results under shuffle replay.
    """
    t = load_tables(spark, sf_dir)
    dim = t["orders"].select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(
        t["lineitem"],
        dim,
        on=["l_orderkey"],
        n_salts=8,
        salt_src=["l_orderkey", "l_linenumber"],
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        dsum("l_extendedprice").alias("revenue"),
    )


@register(
    "q_agg_bitmap_distinct",
    oracle="""
    SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY date_trunc('week', CAST(ts AS TIMESTAMP))
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT re-aggregatable distinct counts via integer bitmaps.

    COUNT(DISTINCT) does not roll up — weekly counts cannot be derived
    from daily counts, so naive pipelines re-scan raw data per grain. HLL
    (q_agg_hll_rollup) fixes that approximately; this fixes it EXACTLY:
    ids partition into 64-wide chunks, each (day, chunk) aggregates a
    BIGINT bitmap with bit_or — an associative, commutative partial — and
    weekly = bit_or of daily bitmaps, counted by bit_count. The merge
    carries one long per 64 ids SEEN (sparse-friendly), never the raw
    rows: the same daily partials serve every coarser grain. All
    JVM-codegen integer ops; the oracle is the plain COUNT(DISTINCT)
    that this must equal bit-for-bit.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.to_date("ts").alias("day"),
        (F.col("user_id") / 64).cast("long").alias("chunk"),
        F.expr("shiftleft(1L, CAST(user_id % 64 AS INT))").alias("bit"),
    )
    daily = ev.groupBy("week", "day", "chunk").agg(F.bit_or("bit").alias("bm"))
    weekly = daily.groupBy("week", "chunk").agg(F.bit_or("bm").alias("bm"))
    return weekly.groupBy("week").agg(
        F.sum(F.bit_count("bm")).alias("n_users")
    )


@register(
    "q_agg_quantile_sketch",
    oracle="""
    WITH b AS (
        SELECT min(value) AS lo, max(value) AS hi,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM events
    ),
    binned AS (
        SELECT LEAST(CAST(floor((value - lo) / ((hi - lo) / 128)) AS INT),
                     127) AS bin,
               lo, hi, n
        FROM events, b
    ),
    hist AS (
        SELECT bin, lo, hi, n, COUNT(*) AS cnt
        FROM binned GROUP BY bin, lo, hi, n
    ),
    cum AS (
        SELECT *,
               SUM(cnt) OVER (ORDER BY bin) AS cum,
               SUM(cnt) OVER (ORDER BY bin) - cnt AS cum_prev
        FROM hist
    ),
    qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
    hit AS (
        SELECT q, min(bin) AS bin
        FROM cum, qs WHERE cum >= q * n GROUP BY q
    )
    SELECT hit.q,
           ROUND(c.lo + ((c.hi - c.lo) / 128)
                 * (c.bin + (hit.q * c.n - c.cum_prev) / c.cnt), 6) AS estimate
    FROM hit JOIN cum c ON c.bin = hit.bin
    ORDER BY hit.q
    """,
)
def q_agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram quantile sketch (p50/p90/p99 of event
    value).

    The re-aggregatable quantile pattern: one bounds pass, then per-(day,
    bin) counts — partials that merge by addition across any grain, the
    property native percentile lacks (it needs the full sorted column per
    group). Estimates interpolate inside the winning bin, so error is
    bounded by one bin width ((hi−lo)/128) — asserted against the exact
    percentile in tests/test_scale_ops.py. Fully deterministic (exact
    min/max bounds, integer bin counts, fixed-form interpolation — every
    float op is the identical IEEE expression on both engines), so the
    sketch semantics themselves are SQL-oracle-checked, not just row-counted:
    the oracle re-derives the same histogram and interpolation in DuckDB.
    The per-day grain in the Spark plan is the mergeable-partial
    demonstration; it sums away before the estimate and is invisible to
    the result.
    """
    t = load_tables(spark, sf_dir)
    n_bins = 128
    ev = t["events"].select("value", F.to_date("ts").alias("day"))
    bounds = ev.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("*").cast("double").alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(n_bins))
    # Degenerate range (every value identical — a one-row or constant
    # slice): width is 0 and the bin division would raise ANSI
    # DIVIDE_BY_ZERO; all mass belongs in bin 0 and the interpolation
    # then estimates exactly lo. CaseWhen evaluates branches lazily, so
    # the guarded division never executes for the degenerate case.
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "day",
        "lo",
        "hi",
        "n",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width),
                F.lit(n_bins - 1),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    # Daily partial sketches (the mergeable unit), then the cross-day merge.
    daily = binned.groupBy("day", "bin", "lo", "hi", "n").agg(
        F.count("*").alias("cnt")
    )
    hist = daily.groupBy("bin", "lo", "hi", "n").agg(F.sum("cnt").alias("cnt"))
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "cum_prev", F.col("cum") - F.col("cnt")
    )
    qs = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    hit = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(
            F.min_by(
                F.struct("bin", "cnt", "cum_prev", "lo", "hi", "n"), F.col("bin")
            ).alias("b")
        )
    )
    w = (F.col("b.hi") - F.col("b.lo")) / F.lit(float(n_bins))
    est = F.col("b.lo") + w * (
        F.col("b.bin")
        + (F.col("q") * F.col("b.n") - F.col("b.cum_prev")) / F.col("b.cnt")
    )
    return hit.select("q", F.round(est, 6).alias("estimate")).orderBy("q")


def observed_quality_gate(df: DataFrame):
    """Attach single-pass data-quality metrics to a passthrough plan.

    ``df.observe`` accumulates metric expressions inside the SAME scan that
    serves the query — a 100 TB pipeline gets row counts, violation counts
    and value totals for free, instead of a second full pass (or worse, a
    ``count()`` per check). Returns (gated_df, observation); the metrics
    materialize when the caller's action runs.
    """
    from pyspark.sql import Observation

    obs = Observation("quality_gate")
    gated = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("l_quantity") <= 0).alias("n_nonpositive_qty"),
        F.count_if(F.col("l_extendedprice").isNull()).alias("n_null_price"),
    )
    return gated, obs


@register(
    "q_observe_gate",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    """,
)
def q_observe_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability without a second scan: the filter's result rows are
    the query output, while quality counters ride the same pass via
    ``df.observe`` (asserted in tests/test_metrics.py). The oracle checks
    the passthrough is untouched by the observation."""
    t = load_tables(spark, sf_dir)
    gated, _obs = observed_quality_gate(
        t["lineitem"].filter(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
    )
    return gated.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register(
    "q_agg_spearman",
    oracle=f"""
    WITH rx AS (
        SELECT l_quantity AS v,
               SUM(COUNT(*)) OVER (ORDER BY l_quantity
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS below,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY l_quantity
    ),
    ry AS (
        SELECT l_discount AS v,
               SUM(COUNT(*)) OVER (ORDER BY l_discount
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS below,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY l_discount
    ),
    ranked AS (
        SELECT COALESCE(rx.below, 0) + (rx.cnt + 1) / 2.0 AS r_x,
               COALESCE(ry.below, 0) + (ry.cnt + 1) / 2.0 AS r_y
        FROM lineitem
        JOIN rx ON rx.v = l_quantity
        JOIN ry ON ry.v = l_discount
    ),
    m AS (
        SELECT COUNT(*) AS n_rows, CAST(COUNT(*) AS DOUBLE) AS n,
               {sql_dsum('r_x')} AS sx, {sql_dsum('r_y')} AS sy,
               {sql_dsum_wide('r_x * r_y')} AS sxy,
               {sql_dsum_wide('r_x * r_x')} AS sxx,
               {sql_dsum_wide('r_y * r_y')} AS syy
        FROM ranked
    )
    SELECT n_rows,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
               AS spearman_rho
    FROM m
    """,
)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs discount) with ranks computed
    from the value-frequency CDF — NOT a global row_number sort. Average
    rank of value v = (#rows below v) + (count(v)+1)/2, derived from the
    per-value counts: the rank tables are value-cardinality-sized (tiny for
    bounded domains), broadcast back onto the fact, and the Pearson-on-ranks
    moments are exact fixed-point dsums. A textbook row_number() approach
    would range-sort the whole fact into one ordered window — this shape
    keeps ranking at one small aggregation per column and scales to any row
    count. Midrank halves (x.5) are exact in double; the closed form over
    exact sums is deterministic on both engines (rounded 9 for the final
    sqrt/divide)."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]

    def rank_table(col: str, out: str) -> DataFrame:
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        return (
            li.groupBy(F.col(col).alias("v"))
            .agg(F.count("*").alias("cnt"))
            .select(
                "v",
                (
                    F.coalesce(F.sum("cnt").over(w), F.lit(0))
                    + (F.col("cnt") + 1) / 2.0
                ).alias(out),
            )
        )
    rx, ry = rank_table("l_quantity", "r_x"), rank_table("l_discount", "r_y")
    ranked = (
        li.select("l_quantity", "l_discount")
        .join(F.broadcast(rx), F.col("v") == F.col("l_quantity"))
        .drop("v")
        .join(F.broadcast(ry), F.col("v") == F.col("l_discount"))
        .select("r_x", "r_y")
    )
    x, y = "r_x", "r_y"
    m = ranked.agg(
        F.count("*").alias("n_rows"),
        F.count("*").cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum_wide(f"{x} * {y}").alias("sxy"),
        dsum_wide(f"{x} * {x}").alias("sxx"),
        dsum_wide(f"{y} * {y}").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "n_rows",
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            9,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Graph analytics on the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "q_graph_triangles",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_quantity >= 40 AND b.l_quantity >= 40
    )
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT)
           FROM (SELECT u AS k FROM edges UNION SELECT v FROM edges)) AS n_nodes,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
        (SELECT CAST(COUNT(*) AS BIGINT)
           FROM edges e1
           JOIN edges e2 ON e2.u = e1.v
           JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph — the clustering-structure
    primitive behind community detection and spam/fraud graph features.

    Edges are the distinct high-quantity co-purchase pairs kept in canonical
    ``u < v`` orientation, so each triangle ``u < v < w`` is generated
    exactly once by the standard two-hop join: E(u,v) ⋈ E(v,w) ⋈ E(u,w).
    Plan shape at scale: all three legs are equi-joins on edge endpoints
    (shuffle-hash/sort-merge on u then v — never a nested loop); the worst
    case is bounded by sum-of-degrees², which the canonical orientation
    roughly halves. On a 100 TB edge set the same plan holds with the edge
    relation bucketed by ``u`` so legs 1 and 3 co-partition; degree skew
    (celebrity nodes) is the known hazard and is exactly what AQE skew-join
    splitting plus the ``u < v`` degree-capping orientation mitigate.
    """
    li = load_tables(spark, sf_dir)["lineitem"].filter(F.col("l_quantity") >= 40)
    sides = [
        li.select("l_orderkey", F.col("l_partkey").alias(c)) for c in ("u", "v")
    ]
    edges = (
        sides[0]
        .join(sides[1], ["l_orderkey"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    nodes = (
        edges.select(F.col("u").alias("k"))
        .union(edges.select("v"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    e2 = edges.select(F.col("u").alias("v"), F.col("v").alias("w"))
    e3 = edges.select(F.col("u").alias("u3"), F.col("v").alias("w3"))
    tri = (
        edges.join(e2, "v")
        .join(e3, (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return nodes.crossJoin(n_edges).crossJoin(tri)


# ---------------------------------------------------------------------------
# Operational layout: small-file compaction, dynamic partition pruning
# ---------------------------------------------------------------------------


@register(
    "q_maintenance_compact",
    oracle=f"""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           COUNT(*) AS n_events,
           {{dsum_value}} AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY CAST(ts AS DATE)
    """.format(dsum_value=sql_dsum("value")),
)
def q_maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (sources/maintenance.py): purchases written as
    a deliberately over-fragmented table (64 files via round-robin
    repartition — the classic streaming-ingest residue), compacted to
    size-targeted files, then aggregated from the compacted copy. The hash
    check against the original proves compaction is content-neutral.

    100 TB relevance: file count, not byte count, is what kills planning
    (one footer read + one task per file); compaction is the maintenance
    job every ingest-heavy table needs. ``repartition(n)`` round-robin
    gives uniformly-sized output files; at real scale n derives from
    input_bytes/target_bytes exactly as maintenance.compact_parquet does.
    """
    from .scratch import scratch_dir
    from .sources.maintenance import compact_parquet

    t = load_tables(spark, sf_dir)
    base = scratch_dir("compact", sf_dir)
    frag, compacted = base + "/frag", base + "/compacted"
    (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(frag)
    )
    compact_parquet(spark, frag, target_bytes=8 * 1024 * 1024, out_path=compacted)
    return (
        spark.read.parquet(compacted)
        .groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "q_scan_dpp",
    oracle=f"""
    WITH hot AS (
        SELECT o_orderstatus
        FROM orders
        GROUP BY o_orderstatus
        HAVING {{davg_price}} > 95000
    )
    SELECT o.o_orderstatus,
           COUNT(*) AS n_orders,
           {{dsum_price}} AS total_price
    FROM orders o JOIN hot USING (o_orderstatus)
    GROUP BY o.o_orderstatus
    """.format(
        davg_price=sql_davg("o_totalprice"), dsum_price=sql_dsum("o_totalprice")
    ),
)
def q_scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact is laid out partitioned by
    o_orderstatus; the qualifying statuses are only known at RUNTIME (an
    aggregate HAVING over the same data), so static pruning is impossible —
    Catalyst instead plants a DPP subquery filter on the fact's partition
    column (``PartitionFilters: [dynamicpruning#...]``, asserted in
    tests/test_plans.py) and the scan reads only the qualifying
    directories. This is THE mechanism that makes star joins cheap on a
    date/tenant-partitioned 100 TB fact: the dim filter prunes fact I/O
    before it happens, no manual predicate copying.
    """
    from .scratch import scratch_dir

    t = load_tables(spark, sf_dir)
    path = scratch_dir("dpp", sf_dir) + "/orders_part"
    t["orders"].write.mode("overwrite").partitionBy("o_orderstatus").parquet(
        path
    )
    # Explicit read-back schema (see q_ingest_orc): an empty source writes
    # zero data files, where inference throws instead of returning empty —
    # and at scale you never footer-sample a large layout to infer anyway.
    # Partition-column recovery (and with it DPP) still comes from the
    # directory layout; the plan assertion in tests/test_plans.py holds.
    fact = spark.read.schema(t["orders"].schema).parquet(path)
    hot = (
        fact.groupBy("o_orderstatus")
        .agg(davg("o_totalprice").alias("avg_price"))
        .filter(F.col("avg_price") > 95000)
        .select("o_orderstatus")
    )
    return (
        fact.join(hot, "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "q_join_bucketed",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           {{dsum_rev}} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus <> 'P'
    GROUP BY o_orderpriority
    """.format(dsum_rev=sql_dsum("l_extendedprice * (1 - l_discount)")),
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shuffle fact⋈fact join via bucketed tables
    (sources/bucketing.py): lineitem and orders are both written bucketed
    by their join key into the session catalog, so the join reads
    co-located buckets and Catalyst plans NO Exchange on the key (asserted
    in tests/test_bucketing.py for this exact shape). The write-time
    pre-shuffle is paid once; at 100 TB every subsequent join or
    aggregation on the bucket key rides it for free — the single biggest
    recurring-shuffle eliminator a warehouse layout can buy. Results are
    hash-checked against the plain (shuffling) join, proving bucketing is
    invisible to semantics.
    """
    from .scratch import PROCESS_TAG, scratch_dir
    from .sources.bucketing import drop_table, read_table, write_bucketed

    t = load_tables(spark, sf_dir)
    base = scratch_dir("bucketed_q", sf_dir)
    # Only the columns the query touches go into the bucketed layout — the
    # join-plan shape (co-located buckets, no Exchange on the key) is
    # identical, and the write-time cost (the bulk of this key's gate
    # budget) drops with the column count. A production warehouse would
    # bucket the full table once and amortize; here the write is paid per
    # invocation, so it is sized to the query.
    proj = {
        "lineitem": ["l_orderkey", "l_extendedprice", "l_discount"],
        "orders": ["o_orderkey", "o_orderstatus", "o_orderpriority"],
    }
    # Table names carry the per-process tag: repeated calls in one process
    # reuse the same catalog entries, concurrent processes stay disjoint
    # instead of dropping each other's tables mid-query.
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        drop_table(spark, f"bq_{name}_{PROCESS_TAG}")
        write_bucketed(
            t[name].select(*proj[name]),
            f"bq_{name}_{PROCESS_TAG}",
            f"{base}/{name}",
            bucket_by=[key],
            n_buckets=8,
            sort_by=[key],
        )
    li = read_table(spark, f"bq_lineitem_{PROCESS_TAG}")
    od = read_table(spark, f"bq_orders_{PROCESS_TAG}")
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("o_orderstatus") != "P")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice * (1 - l_discount)").alias("revenue"),
        )
    )


@register(
    "q_gdpr_delete",
    oracle=f"""
    WITH erased AS (
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'signup' AND value < 5
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           {{dsum_value}} AS total_value
    FROM events
    WHERE user_id NOT IN (SELECT user_id FROM erased)
    GROUP BY event_type
    """.format(dsum_value=sql_dsum("value")),
)
def q_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten delete propagation: a deletion list (users
    derived from a predicate here; in production, the DSAR queue) is
    removed from the events table by a broadcast null-aware anti join, the
    surviving rows are rewritten, and the result is re-read and audited.

    Plan: the deletion list is orders of magnitude smaller than the fact,
    so the anti join broadcasts it — the fact is scanned once, never
    shuffled. At 100 TB the rewrite is confined to affected partitions
    (join the deletion list against partition-level min/max or a Bloom
    index first); the full-scan fallback here is the correct shape for the
    final rewrite pass of whichever partitions matched. The oracle runs the
    equivalent NOT IN on the original table, proving the delete dropped
    exactly the targeted users and nothing else.
    """
    from .scratch import scratch_dir

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    erased = (
        ev.filter((F.col("event_type") == "signup") & (F.col("value") < 5))
        .select("user_id")
        .distinct()
    )
    target = scratch_dir("gdpr", sf_dir) + "/events_clean"
    (
        ev.join(F.broadcast(erased), "user_id", "left_anti")
        .write.mode("overwrite")
        .parquet(target)
    )
    return (
        spark.read.parquet(target)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "q_part_affinity_lift",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n FROM baskets
    ),
    item AS (
        SELECT l_partkey, COUNT(*) AS n_item FROM baskets GROUP BY l_partkey
    ),
    pair AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_pair
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 3
    )
    SELECT p.p1, p.p2, CAST(p.n_pair AS BIGINT) AS n_pair,
           ROUND((CAST(p.n_pair AS DOUBLE) / n.n)
                 / ((CAST(i1.n_item AS DOUBLE) / n.n)
                    * (CAST(i2.n_item AS DOUBLE) / n.n)), 6) AS lift
    FROM pair p
    JOIN item i1 ON i1.l_partkey = p.p1
    JOIN item i2 ON i2.l_partkey = p.p2
    CROSS JOIN n_orders n
    """,
)
def q_part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift: P(a,b) / (P(a)·P(b)) for part pairs co-bought in
    ≥3 orders — the association-rule score that separates genuine affinity
    from popularity (support alone over-ranks pairs of bestsellers).

    Pair generation is the canonical per-basket self-join (bounded by
    basket size squared, keyed on the order — never a global cross
    product); item supports broadcast back onto the surviving pairs; lift
    is per-row arithmetic on exact counts over one fixed order total, so
    the scores are engine-identical at 6 dp.
    """
    t = load_tables(spark, sf_dir)
    baskets = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n")
    )
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = baskets.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = baskets.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    i1 = item.select(
        F.col("l_partkey").alias("p1"), F.col("n_item").alias("n1")
    )
    i2 = item.select(
        F.col("l_partkey").alias("p2"), F.col("n_item").alias("n2")
    )
    return (
        pair.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "n_pair",
            F.round(
                (F.col("n_pair").cast("double") / F.col("n"))
                / (
                    (F.col("n1").cast("double") / F.col("n"))
                    * (F.col("n2").cast("double") / F.col("n"))
                ),
                6,
            ).alias("lift"),
        )
    )


@register(
    "q_zscore_normalize",
    oracle=f"""
    WITH stats AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS DOUBLE) AS n,
               {{dsum_bal}} AS sx,
               {{dsum_bal_sq}} AS sxx
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
           ROUND((c.c_acctbal - (s.sx / s.n))
                 / sqrt(((s.sxx) - ((s.sx * s.sx) / s.n)) / (s.n - 1)),
                 8) AS bal_z
    FROM customer c JOIN stats s USING (c_mktsegment)
    """.format(
        dsum_bal=sql_dsum("c_acctbal"),
        dsum_bal_sq=sql_dsum_wide("c_acctbal * c_acctbal"),
    ),
)
def q_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization — the feature-engineering
    normalization every ML pipeline applies before training.

    Group mean and sample stddev come from exact fixed-point moments (the
    functions.parity discipline: native stddev merges co-moments in
    shuffle order and drifts in the low bits), computed in one grouped agg
    at segment grain and broadcast back onto the fact — the normalization
    itself is per-row codegen'd arithmetic, one shuffle total, identical
    expression tree on both engines.
    """
    t = load_tables(spark, sf_dir)
    stats = t["customer"].groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("c_acctbal").alias("sx"),
        dsum_wide("c_acctbal * c_acctbal").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    std = F.sqrt((sxx - ((sx * sx) / n)) / (n - F.lit(1.0)))
    return (
        t["customer"]
        .join(F.broadcast(stats), "c_mktsegment")
        .select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.round((F.col("c_acctbal") - (sx / n)) / std, 8).alias("bal_z"),
        )
    )
