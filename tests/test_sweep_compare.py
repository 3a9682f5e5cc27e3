"""Pin ``testing.compare_frames``, the one driver-shaped strict compare
(no Spark needed), plus scripts/sweep.py's argument parsing.

The external gate hashes canonicalized result frames, so its notion of
equality is stricter than numeric ==: an int64 column and a float64 column
with identical numeric values hash DIFFERENTLY (the round-2
q_cumulative_uniques red: DuckDB HUGEINT → pandas float64 134.0 vs Spark
int64 134). These tests keep the local mirror at least that strict so a
future refactor cannot quietly re-lenient it.
"""

from __future__ import annotations

import importlib.util
import os

import pandas as pd
import pytest

from etl_asana_spark.testing import compare_frames


@pytest.fixture(scope="module")
def sweep():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "sweep.py",
    )
    spec = importlib.util.spec_from_file_location("sweep_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_int_vs_float_column_drift_fails():
    """The exact r02 failure shape: equal values, int64 vs float64 dtype."""
    a = pd.DataFrame({"day": ["d1"], "cum": pd.array([134], dtype="int64")})
    b = pd.DataFrame({"day": ["d1"], "cum": pd.array([134.0], dtype="float64")})
    assert compare_frames(a, b)
    assert compare_frames(b, a)


def test_int_width_does_not_matter():
    """int32 vs int64 print identically → must compare equal (nation keys)."""
    a = pd.DataFrame({"x": pd.array([1, 2], dtype="int32")})
    b = pd.DataFrame({"x": pd.array([1, 2], dtype="int64")})
    assert compare_frames(a, b) == []


def test_object_column_cell_kinds_checked():
    """Mixed/object columns get per-cell kind checks: a Python int cell is
    not equal to a float cell even when == says so."""
    a = pd.DataFrame({"x": pd.Series([1, None], dtype="object")})
    b = pd.DataFrame({"x": [1.0, float("nan")]})
    assert compare_frames(a, b)


def test_matching_frames_pass_with_nulls_and_row_order():
    """Equality is order-insensitive (rows are sorted) and NaN==NaN within
    a float column; column order is irrelevant."""
    a = pd.DataFrame({"k": [2, 1], "v": [float("nan"), 1.5]})
    b = pd.DataFrame({"v": [1.5, float("nan")], "k": [1, 2]})
    assert compare_frames(a, b) == []


def test_value_mismatch_still_caught():
    a = pd.DataFrame({"x": [1.5]})
    b = pd.DataFrame({"x": [1.500001]})
    assert compare_frames(a, b)


def test_sub_microsecond_timestamp_drift_fails():
    """Timestamps compare as exact instants: 500 ns apart is a different
    value to the driver's hash, so no truncation to µs may hide it."""
    a = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 00:00:00.000000500"])})
    b = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 00:00:00"])})
    assert compare_frames(a, b)
    assert compare_frames(b, a)


def test_tz_aware_vs_naive_timestamp_fails():
    """A tz-aware column and a naive one print differently, so the same
    wall-clock values must not compare equal by dropping the tz."""
    naive = pd.to_datetime(["2024-01-01 12:00:00"])
    a = pd.DataFrame({"ts": naive.tz_localize("UTC")})
    b = pd.DataFrame({"ts": naive})
    assert compare_frames(a, b)
    assert compare_frames(b, a)


def test_equal_valued_rows_align_by_value_not_text():
    """Rows are sorted by value: ``-0.0`` ties ``0.0``, so the next column
    orders them and the two frames line up. A ``str()`` sort put
    ``'-0.0'`` first and compared ``'b'`` against ``'a'``."""
    a = pd.DataFrame({"x": [-0.0, 0.0], "y": ["b", "a"]})
    b = pd.DataFrame({"x": [0.0, -0.0], "y": ["b", "a"]})
    assert compare_frames(a, b) == []
    assert compare_frames(b, a) == []


def test_check_query_rejects_uncanonicalizable_rows_only_output(spark):
    """Round-4 regression (the r03 q_multimodal gate red): a key whose
    frame holds ndarray/list cells must fail ``testing.check_query`` —
    the driver canonicalizes every key's frame before hashing, and the
    old rows-only path skipped exactly that check locally. Inject a
    throwaway catalog key returning an array column and assert the guard
    names the crash before any oracle is looked up."""
    from pyspark.sql import functions as F

    from etl_asana_spark import catalog
    from etl_asana_spark.testing import check_query

    key = "__test_uncanon__"
    catalog._QUERIES[key] = lambda sp, sf: sp.range(3).select(
        "id", F.array(F.lit(1.0), F.lit(2.0)).alias("vec")
    )
    try:
        problems = check_query(spark, None, key, "unused")
        assert problems and "driver-canonicalization would crash" in problems[0]
    finally:
        del catalog._QUERIES[key]


def test_testing_compare_frames_strict_on_mixed_dtype_frames():
    """Regression: ``testing.compare_frames`` once extracted rows via
    ``iterrows``, which upcasts every cell of a mixed int64/float64 frame to
    float64 — masking int-vs-float column drift (the r02 gate-red class)
    whenever ANY float column was present. Found by the differential
    fuzzer's teeth-check (4 of 6 deliberately-broken oracles passed)."""
    from etl_asana_spark.testing import compare_frames

    a = pd.DataFrame({"k": [1, 2], "cum": pd.array([10, 20], dtype="int64"),
                      "price": [1.5, 2.5]})
    b = pd.DataFrame({"k": [1, 2], "cum": [10.0, 20.0],  # drifted column
                      "price": [1.5, 2.5]})
    assert compare_frames(a, b), "int-vs-float drift hidden by float sibling"
    assert compare_frames(b, a)
    assert compare_frames(a, a.copy()) == []


def test_duckdb_oracle_reads_directory_shaped_tables(tmp_path):
    """Round-4: the fragmentation rehearsal rewrites each table as a
    DIRECTORY of part files (the 100 TB-scale layout any Spark writer
    produces). The oracle must read the same multi-file table the engine
    does — previously ``read_parquet('<dir>.parquet')`` on a directory
    raised in DuckDB, so every fragmented-layout sweep died before
    comparing anything."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_asana_spark.registry import TABLE_NAMES
    from etl_asana_spark.testing import duckdb_connect

    for name in TABLE_NAMES:
        if name == "region":
            d = tmp_path / "region.parquet"
            d.mkdir()
            pq.write_table(pa.table({"r_regionkey": [0, 1]}),
                           d / "part-00000.parquet")
            pq.write_table(pa.table({"r_regionkey": [2]}),
                           d / "part-00001.parquet")
        else:
            pq.write_table(pa.table({"x": [1]}), tmp_path / f"{name}.parquet")

    con = duckdb_connect(str(tmp_path))
    assert con.execute(
        "SELECT count(*), sum(r_regionkey) FROM region"
    ).fetchone() == (3, 3)
    con.close()


def test_no_write_flag_parses_position_free(sweep):
    # r05 verdict item 7: a judge/audit sweep must be able to run strictly
    # read-only. The flag must parse anywhere in argv and never be taken as
    # the sf_dir or a key name.
    assert sweep.parse_args([]) == ("/root/testdata/sf0.01", set(), False, {})
    assert sweep.parse_args(["--no-write"]) == (
        "/root/testdata/sf0.01", set(), True, {})
    assert sweep.parse_args(["/x/sf0.01", "q_topk", "--no-write"]) == (
        "/x/sf0.01", {"q_topk"}, True, {})
    assert sweep.parse_args(["--no-write", "/x/sf0.01", "q_a", "q_b"]) == (
        "/x/sf0.01", {"q_a", "q_b"}, True, {})


def test_conf_flag_parses_position_free(sweep):
    # r07: --conf k=v (repeatable) must parse anywhere in argv, never be
    # taken as the sf_dir or a key name, and tolerate '=' in the value.
    assert sweep.parse_args(
        ["--conf", "spark.sql.autoBroadcastJoinThreshold=-1"]
    ) == (
        "/root/testdata/sf0.01", set(), False,
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    assert sweep.parse_args(
        ["/x/sf0.01", "--conf", "a=1", "q_topk", "--no-write", "--conf", "b=x=y"]
    ) == ("/x/sf0.01", {"q_topk"}, True, {"a": "1", "b": "x=y"})


def test_conf_flag_without_value_is_a_usage_error(sweep):
    # r07 review finding: a dangling --conf (or one whose value slot holds
    # another flag) must fail with a usage message, not a bare
    # StopIteration; and '--conf --no-write' must not eat the NEXT token.
    import pytest

    for argv in (["--conf"], ["--conf", "--no-write"], ["--conf", "novalue"]):
        with pytest.raises(SystemExit):
            sweep.parse_args(argv)
