"""The fixed-point aggregates against an independent exact reference.

Both engines run the one SQL definition in ``functions/parity.py``, so the
Spark-vs-DuckDB oracle checks cannot catch an error in the arithmetic
itself. Here ``dsum``/``davg``/``dsum_wide`` are compared with pure-Python
integers: ``floor(x·10^6 + 0.5)`` per non-NULL value (the same IEEE
multiply and add), summed exactly, then one ``float(total) / 10^6``.

Also pinned: Spark's NaN behaviour (and DuckDB's refusal of it), that the
per-row arithmetic plans without DECIMAL, and a py4j ceiling for
constructing the headline keys.
"""

from __future__ import annotations

import gc
import math
import random
import threading

import duckdb
import pytest

from etl_asana_spark.functions.parity import davg, dsum, dsum_wide, sql_dsum

#: |Σ units| per group stays below this, so the int → double cast is exact.
_EXACT = 2**53


def _units(x: float) -> int:
    return math.floor(x * 1e6 + 0.5)


def _values(seed: int) -> list[float]:
    rng = random.Random(seed)
    vals = [
        rng.choice((-1.0, 1.0)) * 10 ** rng.uniform(-7, math.log10(9e9))
        for _ in range(400)
    ]
    # Exact ties: x·10^6 lands on k + 0.5 in double arithmetic.
    ties = [
        s * (k + 0.5) / 1e6 for k in range(0, 3000, 7) for s in (1.0, -1.0)
    ]
    ties = [x for x in ties if x * 1e6 == math.floor(x * 1e6) + 0.5]
    assert len(ties) > 50
    vals += ties
    # Unit counts on and around the 2^20 split modulus, both signs.
    m = 1 << 20
    vals += [
        s * (k * m + d) / 1e6
        for k in (1, 2, 3, 1000)
        for d in (-2, -1, 0, 1, 2)
        for s in (1.0, -1.0)
    ]
    vals += [2.5e-7, -1.2345675, -5e-7, 3.3e9, -3.3e9, 0.0, -0.0]
    rng.shuffle(vals)
    return vals


def _groups(vals: list[float]) -> list[tuple[str, float | None]]:
    """Deal values into groups whose Σ|units| stays under 2^53, with NULLs
    sprinkled in and one all-NULL group."""
    rows: list[tuple[str, float | None]] = []
    g, budget = 0, 0
    for i, v in enumerate(vals):
        u = abs(_units(v))
        if budget + u >= _EXACT:
            g, budget = g + 1, 0
        budget += u
        rows.append((f"g{g}", v))
        if i % 17 == 0:
            rows.append((f"g{g}", None))
    rows += [("all_null", None), ("all_null", None)]
    return rows


def _reference(rows):
    units: dict[str, list[int]] = {}
    for k, v in rows:
        units.setdefault(k, [])
        if v is not None:
            units[k].append(_units(v))
    out = {}
    for k, us in units.items():
        total = sum(us)
        assert abs(total) < _EXACT
        s = float(total) / 1e6 if us else None
        out[k] = (s, s / len(us) if us else None)
    return out


@pytest.mark.parametrize("seed", [11, 12])
def test_fixed_point_matches_exact_integer_reference(spark, seed):
    rows = _groups(_values(seed))
    assert len({k for k, _ in rows}) > 3
    df = spark.createDataFrame(rows, "k string, x double").repartition(5)
    got = {
        r["k"]: (r["s"], r["m"], r["w"])
        for r in df.groupBy("k")
        .agg(dsum("x").alias("s"), davg("x").alias("m"), dsum_wide("x").alias("w"))
        .collect()
    }
    ref = _reference(rows)
    assert got.keys() == ref.keys()
    for k, (s, m) in ref.items():
        assert got[k] == (s, m, s), k  # bit-identical, NULL for all-NULL


def test_nan_counts_as_zero_units_in_spark_and_raises_in_duckdb(spark):
    """The engines split on NaN: Spark's floor(NaN) is 0, so a NaN row adds
    nothing to dsum but is counted by davg; DuckDB's BIGINT cast of the
    NaN floor raises. Pinned as it is, not chosen."""
    nan = float("nan")
    df = spark.createDataFrame(
        [("only", nan), ("mixed", nan), ("mixed", 1.5)], "k string, x double"
    )
    got = {
        r["k"]: (r["s"], r["m"], r["w"])
        for r in df.groupBy("k")
        .agg(dsum("x").alias("s"), davg("x").alias("m"), dsum_wide("x").alias("w"))
        .collect()
    }
    assert got == {"only": (0.0, 0.0, 0.0), "mixed": (1.5, 0.75, 1.5)}

    con = duckdb.connect()
    try:
        with pytest.raises(duckdb.ConversionException):
            con.execute(
                f"SELECT {sql_dsum('x')} FROM (VALUES (CAST('nan' AS DOUBLE))) t(x)"
            ).fetchall()
    finally:
        con.close()


def _partial_sums(plan: str) -> list[str]:
    """The aggregate-function lists of the plan's partial aggregates."""
    out = []
    for line in plan.splitlines():
        if "functions=[partial_" in line:
            out.append(line.split("functions=[", 1)[1].split("], output=", 1)[0])
    return out


def test_split_sums_plan_without_decimal(spark, sf_dir, tmp_path):
    """dsum/davg must keep Spark's per-row arithmetic BIGINT/DOUBLE: a
    DECIMAL-typed literal next to a BIGINT would plan a per-row decimal
    division and a decimal partial sum, several times slower."""
    from etl_asana_spark.streaming import jobs

    df = spark.createDataFrame([("a", 1.25), ("b", -2.5)], "k string, x double")
    for agg in (dsum("x"), davg("x")):
        plan = df.groupBy("k").agg(agg)._jdf.queryExecution().executedPlan().toString()
        partial = _partial_sums(plan)
        assert partial and all("partial_sum" in p for p in partial), plan
        assert not any("decimal" in p for p in partial), partial

    query = (
        jobs.plan_tumbling(spark, sf_dir)
        .writeStream.format("memory")
        .queryName("fixed_point_plan_guard")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert query.awaitTermination(300), "bounded drain did not finish"
        plan = query._jsq.explainInternal(False)
    finally:
        query.stop()
        spark.catalog.dropTempView("fixed_point_plan_guard")
    partial = _partial_sums(plan)
    assert any("partial_sum" in p for p in partial), plan
    assert not any("decimal" in p for p in partial), partial


#: py4j commands to construct each headline key, memo-warm, at the test
#: scale (tests/conftest.py SF_DIR), counted on the calling thread with the
#: cyclic GC paused (its object-release commands land at random points).
#: Ceiling = measured × 1.25.
_PY4J_MEASURED = {
    "q_agg_groupby": 176,
    "q_join_star": 207,
    "q_win_topk_group": 93,
    "q_win_tumbling": 144,
    "q_topk": 53,
    "q_join_semi": 88,
}


def test_headline_construction_py4j_ceiling(spark, sf_dir):
    """Wraps the gateway client's ``send_command`` the way
    perfbench/probes.py ``Py4jCounter`` does."""
    from bench import BENCH_KEYS
    from etl_asana_spark import catalog

    assert set(BENCH_KEYS) == set(_PY4J_MEASURED)
    client = spark.sparkContext._gateway._gateway_client
    inner = client.send_command
    caller = threading.get_ident()
    calls = [0]

    def send_command(*args, **kwargs):
        if threading.get_ident() == caller:
            calls[0] += 1
        return inner(*args, **kwargs)

    queries = catalog.queries()
    for key in BENCH_KEYS:  # warm the table and plan memos
        queries[key](spark, sf_dir)
    counts = {}
    client.send_command = send_command
    try:
        for key in BENCH_KEYS:
            gc.collect()
            gc.disable()
            try:
                calls[0] = 0
                frame = queries[key](spark, sf_dir)
                counts[key] = calls[0]
            finally:
                gc.enable()
            del frame
    finally:
        client.send_command = inner
    over = {
        k: (n, _PY4J_MEASURED[k])
        for k, n in counts.items()
        if n > _PY4J_MEASURED[k] * 1.25
    }
    assert not over, over
