"""Reproducibility guarantees: results must not depend on partitioning.

The parity layer's core claim (functions/parity.py) is that money/measure
aggregates are a pure function of the DATA, not of shuffle order, partition
count, or plan choice — the property that makes a 100 TB job auditable.
These tests re-run the same aggregations under adversarial repartitionings
and require bit-identical doubles.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_asana_spark.functions.parity import davg, dsum
from etl_asana_spark.registry import load_tables


def _agg(df):
    return df.groupBy("l_returnflag").agg(
        dsum("l_extendedprice").alias("s"),
        dsum("l_extendedprice * (1 - l_discount)").alias("disc"),
        davg("l_quantity").alias("a"),
    )


def test_fixed_point_sums_invariant_under_repartitioning(spark, sf_dir):
    li = load_tables(spark, sf_dir)["lineitem"]
    baseline = sorted(map(tuple, _agg(li).collect()))
    for variant in (
        li.repartition(1),
        li.repartition(7),
        li.repartition(64, "l_orderkey"),
        li.repartitionByRange(13, "l_shipdate"),
        li.sort(F.desc("l_extendedprice")),
    ):
        got = sorted(map(tuple, _agg(variant).collect()))
        assert got == baseline  # bit-identical doubles, any partitioning


def test_fixed_point_sum_invariant_under_union_order(spark, sf_dir):
    """Summing A∪B must equal summing B∪A exactly (associativity of the
    decimal accumulator; plain double sums cannot promise this)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    a = li.filter(F.col("l_orderkey") % 2 == 0)
    b = li.filter(F.col("l_orderkey") % 2 == 1)
    ab = sorted(map(tuple, _agg(a.unionAll(b)).collect()))
    ba = sorted(map(tuple, _agg(b.unionAll(a)).collect()))
    assert ab == ba


def test_salted_paths_reproduce_across_runs(spark, sf_dir):
    """Content-hash salting (operators/skew.py) must give identical results
    run-to-run — no rand() anywhere in the retry-sensitive path."""
    from etl_asana_spark.operators import skew

    ev = load_tables(spark, sf_dir)["events"]
    runs = [
        sorted(
            map(
                tuple,
                skew.salted_sum_by_key(
                    ev,
                    ["event_type"],
                    {"n": F.count("*")},
                    n_salts=8,
                    salt_src=["event_id"],
                ).collect(),
            )
        )
        for _ in range(2)
    ]
    assert runs[0] == runs[1]


@pytest.mark.slow  # ~13 s accumulator battery; opt-in (r11, see pytest.ini)
def test_split_accumulator_equals_wide_decimal(spark):
    """The split two-BIGINT accumulator (parity.dsum's hot path) must compute
    the IDENTICAL double as the wide DECIMAL(38,0) single-accumulator form it
    replaced — including negatives (pmod wrap), exact .5 rounding boundaries,
    zero, and values spanning the split modulus."""
    from etl_asana_spark.functions.parity import dsum_wide

    vals = [
        0.0, -0.0, 1.5e-6, -1.5e-6, 0.9999995, -0.9999995,
        1048576.0, -1048576.0, 1048575.999999, 123456.789012,
        -987654.321098, 5.0000005, -5.0000005, 1e6, -1e6,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    wide = df.agg(dsum_wide("x").alias("s")).collect()[0]["s"]
    split = df.agg(dsum("x").alias("s")).collect()[0]["s"]
    assert split == wide  # bit-identical

    # and per-row: each single value round-trips identically through both
    for v in vals:
        one = spark.createDataFrame([(v,)], "x double")
        w = one.agg(dsum_wide("x").alias("s")).collect()[0]["s"]
        s = one.agg(dsum("x").alias("s")).collect()[0]["s"]
        assert s == w, v
