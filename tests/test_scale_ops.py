"""Scale-pattern operators (queries_scale): statistical sanity, runtime-filter
join plan shape, and Z-order layout quality."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_asana_spark import catalog
from etl_asana_spark.plans import summarize
from etl_asana_spark.registry import load_tables


def test_agg_stats_matches_native_within_tolerance(spark, sf_dir):
    """The exact-moment closed forms must agree with Spark's native
    streaming-merge aggregates to float tolerance (the natives are the
    reference for VALUE; the moments exist for determinism)."""
    ours = {
        r["l_returnflag"]: r
        for r in catalog.queries()["q_agg_stats"](spark, sf_dir).collect()
    }
    native = {
        r["l_returnflag"]: r
        for r in load_tables(spark, sf_dir)["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.corr("l_quantity", "l_extendedprice").alias("corr"),
            F.covar_samp("l_quantity", "l_extendedprice").alias("covar"),
            F.stddev_samp("l_extendedprice").alias("sd"),
        )
        .collect()
    }
    assert set(ours) == set(native) and len(ours) >= 2
    for flag, r in ours.items():
        n = native[flag]
        assert abs(r["corr_qty_price"] - n["corr"]) < 1e-6
        assert abs(r["covar_qty_price"] - n["covar"]) / abs(n["covar"]) < 1e-6
        assert abs(r["stddev_price"] - n["sd"]) / n["sd"] < 1e-6


def test_agg_stats_partition_invariant(spark, sf_dir):
    """Repartitioning the input must not change a single bit of the output —
    the property native corr() does NOT have."""
    a = catalog.queries()["q_agg_stats"](spark, sf_dir).collect()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        c = catalog.queries()["q_agg_stats"](spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    key = lambda rows: {r["l_returnflag"]: tuple(r) for r in rows}
    assert key(a) == key(c)


def test_join_bloom_plan_prunes_before_shuffle(spark, sf_dir):
    """Plan shape: a broadcast (semi) join applies the bucket-set filter on
    the probe side, and the exact join is sort-merge (big-big posture)."""
    df = catalog.queries()["q_join_bloom"](spark, sf_dir)
    s = summarize(df)
    assert s.n_broadcast_joins >= 1  # the bucket-set prefilter
    assert s.n_sortmerge_joins == 1  # the exact join, never broadcast
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_zorder_partition_ranges_disjoint(spark, sf_dir):
    """repartitionByRange + sortWithinPartitions must yield non-overlapping
    zkey ranges across partitions — the property that makes per-file zone
    maps prune on either underlying column."""
    df = catalog.queries()["q_layout_zorder"](spark, sf_dir)
    ranges = (
        df.select("zkey", F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.min("zkey").alias("lo"), F.max("zkey").alias("hi"))
        .collect()
    )
    assert len(ranges) > 1
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next


def test_zorder_key_is_locality_preserving(spark, sf_dir):
    """Rows in one zkey range cover a bounded rectangle in (partkey%64Ki,
    suppkey%64Ki) space: the max 16-bit de-interleave of the range width
    bounds both coordinates. Spot-check de-interleave round-trip."""
    from etl_asana_spark.queries_scale import zorder_key

    probe = spark.range(1000).select(
        (F.col("id") * 37 % 65536).alias("a"), (F.col("id") * 101 % 65536).alias("b")
    )
    z = probe.select("a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")).collect()
    for r in z:
        # de-interleave in python and compare
        za = zb = 0
        for bit in range(16):
            za |= ((r["z"] >> (2 * bit)) & 1) << bit
            zb |= ((r["z"] >> (2 * bit + 1)) & 1) << bit
        assert (za, zb) == (r["a"], r["b"])


def test_epoch_shuffle_no_single_partition_stage(spark, sf_dir):
    """The distributed rank assignment must not contain a SinglePartition
    exchange (the collapse a naive global row_number causes)."""
    df = catalog.queries()["q_shuffle_epoch"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    ranks = [r["shuffle_rank"] for r in df.collect()]
    n = len(ranks)
    assert sorted(ranks) == list(range(1, n + 1))  # dense, gap-free, 1-based


def test_epoch_shuffle_seed_behavior(spark, sf_dir):
    """Same seed ⇒ identical permutation; different seed ⇒ different order."""
    from etl_asana_spark.operators.shuffle import deterministic_permutation

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    a = {r["doc_id"]: r["shuffle_rank"]
         for r in deterministic_permutation(docs, "doc_id", "e1").collect()}
    b = {r["doc_id"]: r["shuffle_rank"]
         for r in deterministic_permutation(docs, "doc_id", "e1").collect()}
    c = {r["doc_id"]: r["shuffle_rank"]
         for r in deterministic_permutation(docs, "doc_id", "e2").collect()}
    assert a == b
    assert a != c


def test_range_join_bucketed_avoids_nested_loop(spark, sf_dir):
    """The keyless containment join must plan as a hash/broadcast equi join
    on the manufactured hour bucket — never BroadcastNestedLoopJoin."""
    df = catalog.queries()["q_join_range_bucketed"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert df.count() > 0


def test_mv_state_merge_is_split_invariant(spark, sf_dir):
    """Any snapshot/delta split point (and a 3-way split) finalizes to the
    identical view — decimal partial state is associative + commutative."""
    from etl_asana_spark.operators import mv

    orders = load_tables(spark, sf_dir)["orders"].withColumn(
        "month", F.date_trunc("month", "o_orderdate")
    )
    keys, measures = ["o_orderstatus", "month"], {"revenue": "o_totalprice"}

    def view(*parts):
        state = mv.merge_state(*[mv.build_state(p, keys, measures) for p in parts])
        rows = mv.finalize_state(state, ["revenue"]).collect()
        return sorted(tuple(r) for r in rows)

    full = view(orders)
    y = F.year("o_orderdate")
    assert view(orders.filter(y < 1998), orders.filter(y >= 1998)) == full
    assert (
        view(
            orders.filter(y < 1997),
            orders.filter((y >= 1997) & (y < 2000)),
            orders.filter(y >= 2000),
        )
        == full
    )


def test_mv_refresh_scans_delta_only(spark, sf_dir):
    """The merged-state plan must not rescan snapshot fact rows: with the
    snapshot materialized (simulating a stored MV table), the refresh plan
    reads orders once (the delta scan), not twice."""
    from etl_asana_spark.operators import mv

    orders = load_tables(spark, sf_dir)["orders"].withColumn(
        "month", F.date_trunc("month", "o_orderdate")
    )
    keys, measures = ["o_orderstatus", "month"], {"revenue": "o_totalprice"}
    cutoff = F.lit("1999-01-01").cast("timestamp")
    snapshot = spark.createDataFrame(
        mv.build_state(orders.filter(F.col("o_orderdate") < cutoff), keys, measures)
        .collect(),
        schema=mv.build_state(orders, keys, measures).schema,
    )
    delta = mv.build_state(orders.filter(F.col("o_orderdate") >= cutoff), keys, measures)
    plan = (
        mv.merge_state(snapshot, delta)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("orders.parquet") == 1


def test_fuzzy_join_no_nested_loop_and_symmetry(spark, sf_dir):
    """Blocked fuzzy join plans as equi joins (no cross/nested loop) and
    every emitted pair is ordered, deduplicated, within the distance bound."""
    df = catalog.queries()["q_join_fuzzy"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    rows = df.collect()
    assert len(rows) > 0
    pairs = [(r["name_a"], r["name_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    assert all(a < b for a, b in pairs)
    assert all(r["dist"] <= 3 for r in rows)


def test_quantile_sketch_error_bounded_by_bin_width(spark, sf_dir):
    """Histogram-sketch estimates must land within one bin width of the
    exact percentile (the sketch's advertised error bound)."""
    from pyspark.sql import functions as F

    from etl_asana_spark import catalog
    from etl_asana_spark.registry import load_tables

    est = {
        r["q"]: r["estimate"]
        for r in catalog.queries()["q_agg_quantile_sketch"](spark, sf_dir).collect()
    }
    ev = load_tables(spark, sf_dir)["events"]
    row = ev.agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.percentile("value", 0.99).alias("p99"),
        ((F.max("value") - F.min("value")) / 128.0).alias("width"),
    ).first()
    for q, exact in ((0.5, row["p50"]), (0.9, row["p90"]), (0.99, row["p99"])):
        assert abs(est[q] - exact) <= row["width"] + 1e-9, (q, est[q], exact)


def test_triangle_count_matches_local_recount(spark, sf_dir):
    """The distributed triple-join triangle count equals a driver-side
    recount on the (small at test scale) edge list, and the plan stays on
    hash joins (no nested loop)."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from etl_asana_spark import catalog
    from etl_asana_spark.registry import load_tables

    df = catalog.queries()["q_graph_triangles"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # The edge/triangle legs must be hash joins; the only nested-loop joins
    # allowed are the two final 1-row × 1-row summary crossJoins (formatted
    # explain mentions each operator twice: tree line + detail section).
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    row = df.first()

    li = (
        load_tables(spark, sf_dir)["lineitem"]
        .filter(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    by_order: dict[int, set] = {}
    for r in li:
        by_order.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edges = set()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            edges.add((a, b))
    nodes = {x for e in edges for x in e}
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    n_tri = sum(
        1
        for a, b in edges
        for c in adj.get(b, ())
        if c in adj.get(a, ())
    )
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (
        len(nodes),
        len(edges),
        n_tri,
    )


def test_mode_is_argmax_of_group_counts(spark, sf_dir):
    """q_agg_mode returns exactly the per-group maximal count, with the
    lexicographically-least value on ties."""
    from collections import Counter

    from pyspark.sql import functions as F

    from etl_asana_spark import catalog
    from etl_asana_spark.registry import load_tables

    t = load_tables(spark, sf_dir)
    joined = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "o_orderpriority")
        .collect()
    )
    counts: dict[str, Counter] = {}
    for r in joined:
        counts.setdefault(r["c_mktsegment"], Counter())[r["o_orderpriority"]] += 1
    expect = {
        seg: min(
            (v for v, n in c.items() if n == max(c.values())),
        )
        for seg, c in counts.items()
    }
    got = {
        r["c_mktsegment"]: (r["mode_priority"], r["n_orders"])
        for r in catalog.queries()["q_agg_mode"](spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for seg, (mode, n) in got.items():
        assert mode == expect[seg]
        assert n == max(counts[seg].values())


def test_epoch_shuffle_bucket_count_invariance(spark, sf_dir):
    """r05 verdict item 6: ``n_buckets`` went from fixed 32 to
    parallelism-scaled. The permutation must be a pure function of
    (seed, key) — identical ranks (dense, gap-free) at 1, 7, the old
    default 32, the radix cap 65536, and the new parallelism-derived
    default — bucketing only changes the plan's parallelism."""
    from etl_asana_spark.operators.shuffle import deterministic_permutation

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    base = {r["doc_id"]: r["shuffle_rank"]
            for r in deterministic_permutation(docs, "doc_id", "e1").collect()}
    ranks = sorted(base.values())
    assert ranks == list(range(1, len(ranks) + 1))
    for nb in (1, 7, 32, 65536):
        got = {r["doc_id"]: r["shuffle_rank"]
               for r in deterministic_permutation(
                   docs, "doc_id", "e1", n_buckets=nb).collect()}
        assert got == base, f"n_buckets={nb} changed the permutation"


def test_epoch_shuffle_default_buckets_scale_with_session(spark, sf_dir):
    """The default must track the session's parallelism (floor 32, radix cap
    65536), and offsets must ride a broadcast join — not a per-bucket
    WHEN-chain that codegen chokes on at cluster-scale bucket counts."""
    from etl_asana_spark.operators.shuffle import deterministic_permutation

    expected = min(max(4 * spark.sparkContext.defaultParallelism, 32), 65536)
    assert expected >= 32
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id")
    df = deterministic_permutation(docs, "doc_id", "e1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_right_size_shuffle_partitions_volume_scaling(spark):
    """r09 verdict item 2: shuffle partitions must scale with estimated
    input volume (the 100x rehearsal's fixed-count window sort spilled to
    a 47.6x multiplier; 8x-cores partitions ran it at 0.40x). The floor is
    the core count, the cap 16x cores, and an operator-pinned count is
    never touched."""
    import math

    from etl_asana_spark import session as S

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    base = S._base_parallelism()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(base))
        # sf0.1-sized input (~18 MB parquet): stays at the core floor.
        assert S.right_size_shuffle_partitions(spark, 17_500_000) == base
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(base)
        # 100x sf0.1 (~1.75 GB): scales up per the bytes formula.
        want = min(
            max(base, math.ceil(
                1_750_000_000 / S._SHUFFLE_BYTES_PER_PARTITION
            )),
            base * S._SHUFFLE_CAP_X,
        )
        assert S.right_size_shuffle_partitions(spark, 1_750_000_000) == want
        assert want > base
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(want)
        # A previous AUTO value is re-adjustable (back down included).
        assert S.right_size_shuffle_partitions(spark, 1000) == base
        # Absurd volume hits the cores-multiple cap.
        assert (
            S.right_size_shuffle_partitions(spark, 10**15)
            == base * S._SHUFFLE_CAP_X
        )
        # An operator-pinned count is respected verbatim.
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        assert S.right_size_shuffle_partitions(spark, 10**12) == 7
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
        try:
            spark.conf.unset(S._AUTO_SHUFFLE_TAG)
        except Exception:
            pass


def test_load_tables_auto_sizing_is_noop_at_test_scale(spark, sf_dir):
    """At the shipped scale factors the auto-sizer must keep the core-count
    floor — every catalog plan and hash at sf0.001–sf0.1 is unchanged by
    the feature."""
    from etl_asana_spark import registry
    from etl_asana_spark import session as S

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    base = S._base_parallelism()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(base))
        registry.load_tables(spark, sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(base)
        assert registry._input_bytes(sf_dir) > 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
        try:
            spark.conf.unset(S._AUTO_SHUFFLE_TAG)
        except Exception:
            pass
