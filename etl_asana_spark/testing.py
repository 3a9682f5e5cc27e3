"""Local mirror of the driver's correctness gate (SURVEY.md §5.1).

Runs a catalog query on Spark and its oracle on DuckDB over the same parquet
directory, then compares column names, column kinds, row count and
order-insensitive, kind-strict values — the same contract the driver's
value-hash enforces, but with readable diffs. This is the project's one
comparator: tests/test_parity.py (sf0.001 by default), scripts/sweep.py and
scripts/driver_emulation.py (sf0.01, the driver's gate scale) and perfbench
all judge a key with it.
"""

from __future__ import annotations

import decimal
import math
from typing import Any

import numpy as np
import pandas as pd

from .registry import TABLE_NAMES


def duckdb_connect(sf_dir: str):
    """DuckDB connection with the driver's ten table views registered.

    A table may be a single parquet FILE (the driver's testdata shape) or a
    DIRECTORY of part files (how Spark itself — and any 100 TB-scale writer —
    lays tables out); directories are registered through a glob so the oracle
    reads the same multi-file tables the engine does.
    """
    import os

    import duckdb

    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{path}')"
        )
    return con


def _canon_cell(v: Any) -> Any:
    """Canonicalize one cell: every null spelling becomes ``None``, arrays
    become tuples, numpy scalars become Python scalars. Timestamps stay
    ``pd.Timestamp`` — exact instants with their tz, so 500 ns of drift or
    a tz-aware vs naive column is a mismatch, as in the driver's hash."""
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, np.ndarray):
        return tuple(_canon_cell(x) for x in v.tolist())
    if isinstance(v, np.generic):
        return _canon_cell(v.item())
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def _sort_key(v: Any) -> tuple:
    """Order cells by VALUE: numbers together (``-0.0`` ties ``0.0``, so
    the next column decides, as in pandas ``sort_values``), other values
    within their own type, nulls last. A ``str()`` order would put
    ``-0.0`` before ``0.0`` and misalign two frames holding equal rows."""
    if v is None:
        return (2, "", 0)
    if isinstance(v, tuple):
        return (1, "tuple", tuple(_sort_key(x) for x in v))
    if isinstance(v, dict):  # map cells: dicts do not order, their items do
        return (1, "dict", tuple(sorted(_sort_key(kv) for kv in v.items())))
    if isinstance(v, (int, float, decimal.Decimal)):
        return (0, "", v)
    return (1, type(v).__name__, v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    """Columns sorted by name, every cell canonicalized, rows sorted.

    Cells are extracted COLUMN-WISE (``Series.tolist``), never via
    ``iterrows``: iterrows materializes each row as a Series with one common
    dtype, so a frame mixing int64 and float64 columns upcasts every int
    cell to float — which silently masked int-vs-float column drift (the
    external gate's r02 hash-red class) whenever any float column was
    present. Column-wise extraction preserves each column's kind."""
    cols = sorted(pdf.columns)
    col_vals = [[_canon_cell(v) for v in pdf[c].tolist()] for c in cols]
    rows = [tuple(vals[i] for vals in col_vals) for i in range(len(pdf))]
    return sorted(rows, key=lambda r: tuple(_sort_key(x) for x in r))


def _kind(dtype) -> str:
    """The column kind the driver's value hash sees: int widths hash alike
    (both engines print ``134``), int vs float does not (``134.0``)."""
    k = getattr(dtype, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "ts", "m": "td"}.get(k, "obj")


def compare_frames(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Return a list of human-readable problems (empty == parity)."""
    problems: list[str] = []
    a_cols, e_cols = sorted(actual.columns), sorted(expected.columns)
    if a_cols != e_cols:
        problems.append(f"column names differ: spark={a_cols} oracle={e_cols}")
        return problems
    for c in a_cols:
        # Object columns get per-cell kind checks below; concrete dtypes
        # must agree up front, which also catches drift in an empty frame.
        ka, ke = _kind(actual[c].dtype), _kind(expected[c].dtype)
        if "obj" not in (ka, ke) and ka != ke:
            problems.append(
                f"column {c} dtype differs: spark={actual[c].dtype} "
                f"oracle={expected[c].dtype}"
            )
    if len(actual) != len(expected):
        problems.append(f"row count differs: spark={len(actual)} oracle={len(expected)}")
    a_rows, e_rows = canonical_rows(actual), canonical_rows(expected)
    n_bad = 0
    for i, (ar, er) in enumerate(zip(a_rows, e_rows)):
        if _rows_strict_equal(ar, er):
            continue
        n_bad += 1
        if n_bad <= 3:
            problems.append(f"row {i}: spark={ar!r} oracle={er!r}")
    if n_bad > 3:
        problems.append(f"... {n_bad} mismatched rows total of {len(a_rows)}")
    return problems


def _rows_strict_equal(a: tuple, b: tuple) -> bool:
    """Driver-hash-strict row equality: numeric == is not enough — an int
    cell never equals a float cell (134 vs 134.0 hash differently in the
    external gate: the round-2 q_cumulative_uniques lesson), and bool never
    equals int despite bool being an int subclass."""
    if len(a) != len(b):
        return False
    numeric = (int, float, decimal.Decimal)
    for x, y in zip(a, b):
        if isinstance(x, bool) != isinstance(y, bool):
            return False
        if isinstance(x, numeric) and isinstance(y, numeric):
            # kind-strict: int vs float vs Decimal all hash differently in
            # the gate even when numerically equal (Decimal('1.5') == 1.5)
            if type(x) is not type(y):
                return False
        if isinstance(x, tuple) and isinstance(y, tuple):
            if not _rows_strict_equal(x, y):
                return False
            continue
        if x != y:
            return False
    return True


def check_query(spark, con, key: str, sf_dir: str) -> list[str]:
    """Run one catalog key on both engines and diff (driver-t2 mirror)."""
    from . import catalog

    pdf = catalog.queries()[key](spark, sf_dir).toPandas()
    # The driver canonicalizes every key's frame (pandas ``sort_values`` over
    # all columns) before hashing. An output column holding ndarray/list
    # cells crashes that sort (the r03 ``q_multimodal`` gate red); reproduce
    # the crash here so no registered key can ship an unhashable output
    # schema again.
    try:
        pdf[sorted(pdf.columns)].sort_values(by=sorted(pdf.columns))
    except Exception as exc:  # noqa: BLE001
        return [f"driver-canonicalization would crash: {type(exc).__name__}: {exc}"]
    expected = con.execute(catalog.oracle_sql()[key]).fetchdf()
    return compare_frames(pdf, expected)
