"""Catalog-wide physical-plan audit: scan every key's plan for scale hazards.

Usage:  python scripts/plan_audit.py [sf_dir]

For each catalog key, builds the DataFrame (no execution except where the
query itself materializes intermediates) and greps the formatted physical
plan for the patterns that kill 100 TB runs:

- CartesianProduct / BroadcastNestedLoopJoin — quadratic joins. Allowed only
  where the query intentionally crosses a 1-row/LIMIT-bounded side
  (summaries, broadcast query vectors); everything else is a regression.
- Exchange SinglePartition — a global funnel onto one task. Allowed only for
  final 1-row aggregates / global LIMIT collection.
- row-at-a-time Python (BatchEvalPython) — the slow UDF path. Allowed only
  in q_udf_python (which exists to exercise exactly that path).
- filter-bearing scans with no PushedFilters at all.

Prints one line per flagged key and a summary; exits 0 always (report, not
gate — the hard guarantees live in tests/test_plans.py).
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from etl_asana_spark import catalog  # noqa: E402

#: Keys whose plans legitimately contain a nested-loop/cross join: 1-row
#: summary products, broadcast query-vector crosses, theta joins.
CROSS_OK = {
    "q_join_cross",        # the Cartesian operator itself
    # NOTE: q_join_theta is deliberately NOT here — it has an equi-conjunct
    # and must hash-join; a BNLJ in its plan is a regression to flag.
    "q_graph_triangles",   # two 1-row summary crossJoins
    "q_sim_cosine_topk",   # broadcast 1-row query vector
    "q_agg_quantile_sketch",  # broadcast 1-row bounds + 3-row quantile grid
    "q_hybrid_rrf",        # broadcast 1-row corpus stats
    "q_text_bm25",         # broadcast 1-row corpus stats
    "q_dsir_weights",      # broadcast 1-row totals
    "q_fill_forward",      # generated spine × 1-row bounds
    "q_mix_corpus",        # broadcast 1-row token budget
    "q_golden_important_parts",  # broadcast scalar total (Q11 shape)
    "q_golden_idle_customers",   # broadcast scalar avg (Q22 shape)
    "q_sim_ivf",           # broadcast centroids
    "q_sim_ann",           # broadcast 1-row query: the literal query_id=0
                           # folds away, so the final score join degrades
                           # to a broadcast product of ONE row; the band
                           # candidate join and the vector re-join are
                           # hash joins (r06 unpivot rewrite)
    # NOTE: q_dedup_embed is deliberately NOT here — it runs the exact
    # triangle-inequality blocked pipeline: a broadcast cell-pair table,
    # hash joins, and a cogroup verify (FlatMapCoGroupsInArrow, a batched
    # Arrow node, not BatchEvalPython). A BNLJ in its plan is a regression.
    "q_skew_report",       # counts × 1-row total for the share column
    "q_orders_rfm",        # fact × 1-row reference-date broadcast
    "q_pareto_8020",       # ranked × 1-row total/count broadcasts
    "q_part_affinity_lift",  # pairs × 1-row order-total broadcast
    "q_events_dau_wau_mau",  # broadcast calendar spine range join
    "q_backlog_aging",       # fact × 1-row reference-date broadcast
}

#: Keys that exist to exercise the row-at-a-time Python path itself.
PYTHON_OK = {"q_udf_python", "q_udtf_tokens"}

#: Keys allowed a SinglePartition exchange: global scalar results, global
#: top-k/LIMIT funnels, driver-bounded summaries.
SINGLE_OK_PATTERNS = (
    "q_agg_global", "q_agg_approx_cd", "q_topk", "q_page_offset",
    "q_sort_global", "q_profile_table", "q_agg_quantile_sketch",
    "q_graph_triangles", "q_time_spine", "q_interval_overlap",
    "q_observe_gate", "q_agg_stats", "q_agg_spearman",
    "q_orders_rfm",          # global ntile windows on the customer-grain
                             # aggregate (dim cardinality, ranking report)
    "q_interpolate_linear",  # calendar-grain spine windows
    "q_growth_mom",          # month-grain series window
    "q_pareto_8020",         # customer-grain running share + 1-row total
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm

    flags: list[str] = []
    n_ok = 0
    crossing: set[str] = set()
    never_built: set[str] = set()
    for key, fn in catalog.queries().items():
        if key.startswith("q_stream_"):  # streaming sinks execute on build
            never_built.add(key)
            continue
        try:
            df = fn(spark, sf_dir)
            text = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            flags.append(f"{key}: PLAN ERROR {type(exc).__name__}: {exc}")
            never_built.add(key)
            continue
        problems = []
        if "CartesianProduct" in text and key not in CROSS_OK:
            problems.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in text and key not in CROSS_OK:
            problems.append("BroadcastNestedLoopJoin")
        if (
            "Exchange SinglePartition" in text
            and not any(p in key for p in SINGLE_OK_PATTERNS)
            and "TakeOrderedAndProject" not in text
        ):
            problems.append("Exchange SinglePartition")
        if "BatchEvalPython" in text and key not in PYTHON_OK:
            problems.append("row-at-a-time Python UDF")
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", text)
        if (
            re.search(r"Filter \(", text)
            and pushed
            and all(p.strip() == "" for p in pushed)
        ):
            problems.append("no pushed filters on filtered scan")
        if "CartesianProduct" in text or "BroadcastNestedLoopJoin" in text:
            crossing.add(key)
        if problems:
            flags.append(f"{key}: {', '.join(problems)}")
        else:
            n_ok += 1
    # Whitelist-staleness check: a CROSS_OK entry whose plan no longer
    # crosses is stale — it would silently bless a future BNLJ regression on
    # that key (the round-2 q_join_theta lesson). Flag it so the whitelist
    # shrinks with the plans.
    for key in sorted(CROSS_OK - crossing - never_built):
        flags.append(f"{key}: STALE CROSS_OK entry (plan has no cross/BNLJ)")
    print(f"{n_ok} plans clean, {len(flags)} flagged")
    for f in flags:
        print("  FLAG", f)
    return 0


if __name__ == "__main__":
    main()
