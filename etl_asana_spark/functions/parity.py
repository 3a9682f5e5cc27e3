"""Deterministic, engine-portable float aggregation.

Problem: ``SUM(double)`` is order-dependent; Spark sums per-partition in
shuffle order, DuckDB in its own morsel order, so at 60 k+ rows the two
engines can disagree in the low bits — fatal for a value-hash oracle, and
equally fatal for run-to-run reproducibility on a real cluster (a 100 TB job
whose revenue total changes with partitioning is not auditable).

Fix: aggregate in fixed-point, entered via the cheapest possible per-row
conversion:

1. ``floor(x * 10^scale + 0.5)`` canonicalizes each double to a BIGINT of
   fixed-point units (half-toward-+infinity; IEEE multiply + floor are
   bit-identical across engines, and Spark's ``floor(double)`` is already
   LONG-typed). Plain codegen-friendly arithmetic — no BigDecimal per row.
2. The unit count is split around modulus ``2^20`` into two BIGINT
   accumulators: ``lo = pmod(u, 2^20)`` (integer pmod — cheap) and
   ``hi = (u - lo) / 2^20`` (division by a power of two only shifts the
   exponent, so it is EXACT in IEEE doubles; the long cast is exact because
   the quotient is integral). Each part is summed as a plain BIGINT —
   integer addition is exact and associative, so any summation order,
   partitioning, or AQE re-plan yields the identical total, and the two
   BIGINT sums measure ~1.6× faster than a DECIMAL(38,0) accumulator
   (TPC-H Q1 shape: 0.52 s → 0.34 s at sf0.1, interleaved min-of-8).
3. The partial sums recombine exactly ONCE PER GROUP in DECIMAL(38,0)
   (``sum_hi * 2^20 + sum_lo`` can exceed BIGINT range even when each part
   is in range), then one cast to double divides by 10^scale — a
   deterministic function of an exact integer.

Bounds (ANSI mode: any overflow raises loudly, never wraps):
- per-value exactness needs ``|x|·10^6 < 2^53`` → |x| ≤ ~9.0·10^9 (beyond
  that the ``floor`` canonicalization itself is no longer exact — a limit
  shared by every fixed-point scheme at this scale, including the wide
  decimal one; results stay deterministic either way);
- ``SUM(lo)`` overflows past ``2^43 ≈ 8.8·10^12`` rows per group;
- ``SUM(hi)`` overflows when a group's ``Σ|x|`` exceeds ``≈ 9.7·10^18``
  value units at scale 10^-6.
A 100 TB corpus (~10^11 rows) sits two-plus orders inside every bound for
money/measure magnitudes ≤ 10^6. **The split form is NOT for second
moments**: ``dsum(x·x)`` with x ~ 10^5 has per-row magnitude ~10^10, which
hits the ``SUM(hi)`` bound near 10^9 rows per group — far below the design
point. Squared/product moments (correlation, variance, z-score pipelines)
use :func:`dsum_wide` / :func:`sql_dsum_wide`, the DECIMAL(38,0)
single-accumulator form — overflow-safe to 10^32 value units — which is
also the entry for re-aggregatable MATERIALIZED state with unbounded
lifetime (operators/mv.py, via :func:`_units_dec`). Rule of thumb: split
for first moments of money/measure columns, wide for anything whose
per-row magnitude can exceed ~10^7.

``dsum``/``davg`` (Spark) pair with ``sql_dsum``/``sql_davg`` (oracle SQL);
both sides compute the identical exact integer, so parity is exact by
construction (verified bit-for-bit at sf0.1, 600 k rows, and under
``SWEEP_SHUFFLE=7`` partitioning).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Fixed-point resolution: 1e-6 — covers every money/measure column in the
#: testdata (2–4 meaningful decimals) with headroom.
_SCALE = 1_000_000.0

#: Split modulus for the two-BIGINT accumulator (see module docstring).
_M = 1 << 20

#: Exact, overflow-safe accumulator for MATERIALIZED unit sums (mv.py).
_ACC = "decimal(38,0)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _units(col: Column | str) -> Column:
    """Double → BIGINT of fixed-point units (codegen-friendly canonical
    round; exact for |x| < 2^53 / 10^6).

    The input is cast to DOUBLE explicitly (round 7): identity for the
    double measures the engine has always aggregated, and the defined
    entry point for DECIMAL source columns (money-typed parquet). Spark
    would coerce decimal×double to double implicitly anyway; the explicit
    cast pins the semantics and mirrors ``sql_dsum``'s ``CAST(expr AS
    DOUBLE)`` — DuckDB types the ``1000000.0`` literal as DECIMAL(8,1),
    so without the cast a decimal input stays in decimal arithmetic there
    and overflows at DECIMAL(18) (found by the decimal-lineitem fixture,
    tests/test_decimal_sources.py)."""
    return F.floor(_c(col).cast("double") * F.lit(_SCALE) + F.lit(0.5))


def _units_dec(col: Column | str) -> Column:
    """Units as DECIMAL(38,0) — the wide accumulator entry for materialized
    re-aggregatable state (operators/mv.py)."""
    return _units(col).cast(_ACC)


def _split_sums(col: Column | str) -> tuple[Column, Column]:
    """The two exact BIGINT partial sums (hi, lo) of a column's unit count."""
    u = _units(col)
    lo = F.pmod(u, F.lit(_M))
    hi = ((u - lo) / F.lit(float(_M))).cast("long")  # /2^20 is exact (exponent shift)
    return F.sum(hi), F.sum(lo)


def _recombine(sum_hi: Column, sum_lo: Column) -> Column:
    """Exact per-group recombination: units → double value.

    The multiply is typed DECIMAL(31,0) × DECIMAL(7,0) → DECIMAL(38,0) so
    BOTH engines keep the arithmetic in exact decimal (an untyped integer
    literal would be legal too, but the product's decimal width then depends
    on the dialect's literal-typing rules — pinning the operand types pins
    the result type everywhere). sum_hi is BIGINT-bounded, well inside 31
    digits; the product is ≤ ~10^25, well inside 38."""
    total_units = sum_hi.cast("decimal(31,0)") * F.lit(_M).cast("decimal(7,0)") + sum_lo.cast(_ACC)
    return total_units.cast("double") / F.lit(_SCALE)


def dsum(col: Column | str) -> Column:
    """Order-independent SUM over doubles (exact fixed-point accumulation)."""
    sum_hi, sum_lo = _split_sums(col)
    return _recombine(sum_hi, sum_lo)


def davg(col: Column | str) -> Column:
    """Order-independent AVG: exact unit sum ÷ exact count, one fp divide."""
    sum_hi, sum_lo = _split_sums(col)
    return (_recombine(sum_hi, sum_lo) / F.count(_c(col))).cast("double")


def dsum_wide(col: Column | str) -> Column:
    """Order-independent SUM via the wide DECIMAL(38,0) accumulator —
    overflow-safe to 10^32 value units. ~1.6× slower per row than
    :func:`dsum`; use for second moments (``dsum_wide(x*x)``) and any
    measure whose per-row magnitude can exceed ~10^7 (see module
    docstring's bound analysis)."""
    return F.sum(_units_dec(col)).cast("double") / F.lit(_SCALE)


def sql_dsum(expr: str) -> str:
    """SQL mirror of ``dsum``. Every step is exact-by-construction in both
    dialects: DuckDB's ``floor`` returns DOUBLE so the BIGINT cast
    canonicalizes it to Spark's LONG ``floor``; ``%`` on BIGINT has
    sign-of-dividend remainder semantics in both engines (the +M / %M wrap
    makes it a pmod); the ``/ 1048576.0`` double division only shifts the
    exponent (exact), and the double→BIGINT cast is exact because the
    quotient is integral (DuckDB rounds, Spark truncates — identical on
    integral values). Some oracle texts (GROUPING SETS) also run through
    ``spark.sql``, so this string must parse on both engines. The inner
    ``CAST(expr AS DOUBLE)`` (round 7) is identity for double measures
    and the decimal-source entry point — see :func:`_units` (DuckDB types
    the ``1000000.0`` literal DECIMAL(8,1), so a decimal input would stay
    in decimal arithmetic and overflow)."""
    u = f"CAST(floor(CAST(({expr}) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
    lo = f"((({u}) % 1048576) + 1048576) % 1048576"
    hi = f"CAST((({u}) - ({lo})) / 1048576.0 AS BIGINT)"
    return (
        f"(CAST(CAST(SUM({hi}) AS DECIMAL(31,0)) * CAST(1048576 AS DECIMAL(7,0))"
        f" + CAST(SUM({lo}) AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0)"
    )


def sql_davg(expr: str) -> str:
    """SQL mirror of ``davg``."""
    return f"CAST({sql_dsum(expr)} / COUNT({expr}) AS DOUBLE)"


def sql_dsum_wide(expr: str) -> str:
    """SQL mirror of ``dsum_wide`` (single DECIMAL(38,0) accumulator).
    Inner DOUBLE cast: see :func:`sql_dsum`."""
    return (
        f"(CAST(SUM(CAST(floor(CAST(({expr}) AS DOUBLE) * 1000000.0 + 0.5)"
        " AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0)"
    )


def fixed_point_join(col: Column | str, scale: int = 1_000_000) -> Column:
    """Serialize a float array to a ``'|'``-joined fixed-point string —
    the mandatory output-boundary form for any registered query emitting a
    float array.

    The external driver's canonicalizer sorts result frames with pandas
    ``sort_values``; ndarray cells are unhashable there and crash the
    comparison (the r03 ``q_multimodal`` gate red), and raw float strings
    would be engine-formatting-sensitive. Rounding to ``1/scale`` units
    (``floor(x*scale + 0.5)``, exactly DuckDB's ROUND-half-up on the
    magnitudes involved) then joining makes the cell a plain, stable
    string. One definition, used by every emitting site — a precision or
    rounding change must never have to hunt down inline copies.

    Degenerate elements get explicit stable tokens — ``nan``, ``inf``,
    ``-inf``, ``null`` — because Spark's FLOOR(double) returns BIGINT and
    silently maps NaN to 0 and ±Inf to the LONG extremes, which would
    make a NaN element indistinguishable from a true 0.0 (degenerate
    floats are first-class inputs elsewhere in the engine, so the
    boundary must not launder them into real values).
    """
    inf = float("inf")
    return F.array_join(
        F.transform(
            _c(col),
            lambda x: F.when(x.isNull(), F.lit("null"))
            .when(F.isnan(x), F.lit("nan"))
            .when(x == F.lit(inf), F.lit("inf"))
            .when(x == F.lit(-inf), F.lit("-inf"))
            .otherwise(F.floor(x * scale + 0.5).cast("long").cast("string")),
        ),
        "|",
    )
