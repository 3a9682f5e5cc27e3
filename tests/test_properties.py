"""Property-based invariants on generated inputs (hypothesis).

The oracle suite checks fixed datasets; these drive the same operators with
adversarial generated ones — duplicate keys, equal timestamps, negative and
tiny values — where keep-rule and fixed-point bugs actually live. Example
counts are small (a Spark job per example), but each example is a shaped
stress case, not a happy path.
"""

from __future__ import annotations

import math

import pytest

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from etl_asana_spark.functions.parity import dsum
from etl_asana_spark.operators.dedup import dedup_exact, upsert_last_modified_wins

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: (key, version, payload) rows; keys/versions drawn from tiny domains so
#: collisions (the interesting case) are common.
_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),      # key: heavy collisions
        st.integers(min_value=0, max_value=9),      # version: frequent ties
        st.integers(min_value=-1000, max_value=1000),
    ),
    min_size=1,
    max_size=30,
)


@settings(**_SETTINGS)
@given(rows=_ROWS)
def test_upsert_keeps_exactly_max_version_per_key(spark, rows):
    df = spark.createDataFrame(rows, "k int, v int, payload int")
    out = upsert_last_modified_wins(df, key="k", modified_col="v",
                                    tiebreak=["payload"]).collect()
    expected_keys = {k for k, _, _ in rows}
    assert {r["k"] for r in out} == expected_keys
    assert len(out) == len(expected_keys)
    for r in out:
        max_v = max(v for k, v, _ in rows if k == r["k"])
        assert r["v"] == max_v
        # tie discipline: among (k, max_v) rows the max payload survives
        assert r["payload"] == max(
            p for k, v, p in rows if k == r["k"] and v == max_v
        )


@settings(**_SETTINGS)
@given(rows=_ROWS)
@pytest.mark.slow  # ~9 s property battery; opt-in (r11, see pytest.ini)
def test_dedup_exact_idempotent(spark, rows):
    df = spark.createDataFrame(rows, "k int, v int, payload int")
    once = dedup_exact(df, keys=["k"], order_by=["v", "payload"])
    twice = dedup_exact(once, keys=["k"], order_by=["v", "payload"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@settings(**_SETTINGS)
@given(
    values=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=1,
        max_size=40,
    )
)
def test_dsum_invariant_under_permutation(spark, values):
    """Fixed-point sums are a pure function of the multiset of inputs."""
    fwd = spark.createDataFrame([(float(v),) for v in values], "x double")
    rev = spark.createDataFrame([(float(v),) for v in reversed(values)], "x double")
    a = fwd.repartition(3).agg(dsum("x").alias("s")).collect()[0]["s"]
    b = rev.repartition(7).agg(dsum("x").alias("s")).collect()[0]["s"]
    assert a == b  # bit-identical


def _pagerank_units_reference(edges, iterations, damping=0.85, scale=10**12):
    """Pure-Python replay of pagerank_units' integer recurrence: the same
    ``div``s and floors, dangling mass included."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    u = {v: scale // n for v in nodes}
    teleport = math.floor(float((1.0 - damping) * scale) / float(n))
    for _ in range(iterations):
        contrib = dict.fromkeys(nodes, 0)
        for s, d in edges:
            contrib[d] += u[s] // outdeg[s]
        dmass = sum(u[v] for v in nodes if v not in outdeg)
        u = {
            v: teleport + math.floor(damping * float(contrib[v] + dmass // n))
            for v in nodes
        }
    return u


def test_pagerank_conserves_mass_and_ranks_hubs(spark):
    """PageRank invariants on a star graph with a dangling sink: the total
    mass stays within the truncation bound of ``scale`` (fewer than
    outdeg + 3 units per node per step), every rank is positive, and the
    star center out-ranks every other node. Node 5 has no out-edge, so
    this graph takes the dangling path: skipping it would leak damping ×
    node 5's mass every step, far beyond the bound, and the exact replay
    (which redistributes dangling mass) would disagree."""
    from etl_asana_spark.operators.graph import pagerank_units

    # star: leaves 1..4 <-> center 0; plus a dangling sink 5 fed by 0
    edges = [(i, 0) for i in range(1, 5)] + [(0, i) for i in range(1, 5)] + [(0, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    iters, scale = 10, 10**12
    units = {
        r["id"]: r["rank_units"]
        for r in pagerank_units(df, iterations=iters, scale=scale).collect()
    }
    assert units == _pagerank_units_reference(edges, iters, scale=scale)
    n = len(units)
    assert scale - iters * (len(edges) + 3 * n) <= sum(units.values()) <= scale
    assert all(v > 0 for v in units.values())
    assert all(units[0] > units[i] for i in range(1, 6))


def test_pagerank_uniform_on_cycle(spark):
    """On a directed cycle every node is symmetric: all nodes get exactly
    equal units regardless of iteration count (a dangling-free graph, so
    the dangling subtree is skipped)."""
    from etl_asana_spark.operators.graph import pagerank_units

    n = 6
    edges = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(edges, "src long, dst long")
    units = [r["rank_units"] for r in pagerank_units(df, iterations=4).collect()]
    assert len(units) == n and len(set(units)) == 1
    assert units[0] == _pagerank_units_reference(edges, 4)[0]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    values=st.lists(
        st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
        min_size=1,
        max_size=30,
    )
)
def test_dsum_split_equals_wide_across_magnitudes(spark, values):
    """The split two-BIGINT path and the wide DECIMAL(38,0) path must agree
    bit-for-bit across the documented per-value envelope (|x| ≤ ~9e9),
    including negatives and magnitudes spanning the 2^20 split modulus —
    under different partitionings of the same multiset."""
    from etl_asana_spark.functions.parity import dsum_wide

    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    a = df.repartition(3).agg(dsum("x").alias("s")).collect()[0]["s"]
    b = df.repartition(5).agg(dsum_wide("x").alias("s")).collect()[0]["s"]
    assert a == b
