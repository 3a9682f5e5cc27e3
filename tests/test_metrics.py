"""Executed-metrics assertions: the scale rules measured, not inferred.

plans.summarize pins plan shape; these tests read the executed plan's SQL
metrics and assert what actually moved — the numeric form of "map-side
combine works" and "dims broadcast, facts don't shuffle"."""

from __future__ import annotations

from etl_asana_spark import catalog, pipelines
from etl_asana_spark.plans.metrics import codegen_stats, execution_metrics
from etl_asana_spark.registry import load_tables


def test_groupby_agg_shuffles_groups_not_rows(spark, sf_dir):
    """Partial aggregation must shrink the shuffle to ~|groups| records —
    orders of magnitude under the scanned row count."""
    m = execution_metrics(catalog.queries()["q_agg_groupby"](spark, sf_dir))
    assert m.rows_scanned >= 1000
    assert 0 < m.shuffle_records < m.rows_scanned / 10, m.shuffle_records


def test_star_join_shuffle_is_post_agg_only(spark, sf_dir):
    """Broadcast star join: the fact side must never shuffle pre-aggregate;
    the only exchange carries the final group rows."""
    m = execution_metrics(catalog.queries()["q_join_star"](spark, sf_dir))
    assert m.broadcast_bytes > 0
    assert m.shuffle_records <= 100, m.shuffle_records
    assert m.spill_bytes == 0


def test_observe_gate_metrics_ride_the_same_pass(spark, sf_dir):
    """df.observe must deliver the quality counters from the query's own
    action — no extra job, values exactly the filtered row count."""
    from pyspark.sql import functions as F

    from etl_asana_spark.queries_scale import observed_quality_gate
    from etl_asana_spark.registry import load_tables

    li = load_tables(spark, sf_dir)["lineitem"].filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    gated, obs = observed_quality_gate(li)
    n = gated.count()
    got = obs.get
    assert got["n_rows"] == n
    assert got["n_nonpositive_qty"] == 0
    assert got["n_null_price"] == 0


def _clear_codegen_cache(spark) -> None:
    """Empty the JVM's compiled-class cache so the next round starts cold,
    whatever earlier tests in this session already compiled."""
    cls = spark._jvm.org.apache.spark.util.Utils.classForName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$", True, False
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def test_repeated_round_compiles_no_generated_classes(spark, sf_dir):
    """A round of curation, MinHash dedup and the star join needs more
    generated classes than Spark's default 100-entry codegen cache holds;
    repeated in the same cyclic order, an undersized LRU cache misses on
    every one. The engine's session must hold the whole round, so running
    it again compiles nothing."""
    qs = catalog.queries()

    def one_round() -> int:
        before = codegen_stats(spark).compiles
        pipelines.curate_corpus(load_tables(spark, sf_dir)["documents"]).curated.count()
        qs["q_dedup_minhash"](spark, sf_dir).collect()
        qs["q_join_star"](spark, sf_dir).collect()
        return codegen_stats(spark).compiles - before

    _clear_codegen_cache(spark)
    first = one_round()
    assert first > 100, first
    assert one_round() == 0
