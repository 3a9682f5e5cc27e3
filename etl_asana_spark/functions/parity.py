"""Deterministic, engine-portable float aggregation: one SQL definition.

Problem: ``SUM(double)`` is order-dependent; Spark sums per-partition in
shuffle order, DuckDB in its own morsel order, so at 60 k+ rows the two
engines can disagree in the low bits — fatal for a value-hash oracle, and
equally fatal for run-to-run reproducibility on a real cluster (a 100 TB job
whose revenue total changes with partitioning is not auditable).

Fix: aggregate in fixed-point. The arithmetic exists once, as SQL text
(:func:`sql_dsum`, :func:`sql_davg`, :func:`sql_dsum_wide`). The oracles
paste that text into DuckDB queries; the engine's :func:`dsum`,
:func:`davg` and :func:`dsum_wide` are ``F.expr`` of the same text, so
both engines compute the identical exact integer by construction
(verified bit-for-bit at sf0.1 and under ``SWEEP_SHUFFLE=7``
partitioning). Their argument is therefore SQL text: a column name, or an
expression such as ``"l_extendedprice * (1 - l_discount)"``.

1. ``floor(x * 10^6 + 0.5)`` canonicalizes each double to fixed-point
   units (half-toward-+infinity; IEEE multiply + floor are bit-identical
   across engines). The input is cast to DOUBLE first: identity for double
   measures, and the entry point for DECIMAL source columns — DuckDB types
   ``1000000.0`` as DECIMAL(8,1), so a decimal input would otherwise stay
   in decimal arithmetic there and overflow at DECIMAL(18)
   (tests/test_decimal_sources.py).
2. The unit count ``u`` (BIGINT) is split around modulus ``2^20`` into two
   BIGINT accumulators: ``lo = pmod(u, 2^20)`` (written ``((u % M) + M) %
   M``: ``%`` has sign-of-dividend semantics in both engines) and ``hi =
   (u - lo) / 2^20``. Each part is summed as a plain BIGINT — integer
   addition is exact and associative, so any summation order,
   partitioning, or AQE re-plan yields the identical total, and the two
   BIGINT sums measure ~1.6× faster than a DECIMAL(38,0) accumulator
   (TPC-H Q1 shape: 0.52 s → 0.34 s at sf0.1, interleaved min-of-8).
3. The partial sums recombine exactly ONCE PER GROUP in DECIMAL(38,0)
   (``sum_hi * 2^20 + sum_lo`` can exceed BIGINT range even when each part
   is in range): DECIMAL(31,0) × DECIMAL(7,0) pins the product type in
   both dialects. One cast to double then divides by 10^6 — a
   deterministic function of an exact integer.

Typing rule: every per-row step stays BIGINT or DOUBLE in Spark. A literal
with a decimal point is a DECIMAL in Spark SQL, and a DECIMAL operand next
to a BIGINT promotes the whole expression to decimal arithmetic. So ``u -
lo`` is cast to DOUBLE before ``/ 1048576.0``: the division by a power of
two only shifts the exponent (exact; ``u - lo`` is a multiple of 2^20 and
so representable), the double→BIGINT cast is exact because the quotient
is integral (DuckDB rounds, Spark truncates — identical on integral
values), and Spark plans a double division. Left as BIGINT, the same text
plans a per-row ``decimal(20,0)`` division and a decimal partial sum,
3.5–4× slower; tests/test_fixed_point.py guards the plan. Call sites keep
the rule too: a division of an integral value by a literal is written
``/ CAST(3600 AS DOUBLE)``, never ``/ 3600.0``. DECIMAL appears only once
per group (step 3) and in the wide accumulator.

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
moments**: ``dsum("x * x")`` with x ~ 10^5 has per-row magnitude ~10^10,
which hits the ``SUM(hi)`` bound near 10^9 rows per group — far below the
design point. Squared/product moments (correlation, variance, z-score
pipelines) use :func:`dsum_wide`, the DECIMAL(38,0) single-accumulator
form — overflow-safe to 10^32 value units — whose units text
(:func:`sql_units_wide`) is also the entry for re-aggregatable
MATERIALIZED state with unbounded lifetime (operators/mv.py). Rule of
thumb: split for first moments of money/measure columns, wide for
anything whose per-row magnitude can exceed ~10^7.

NaN: Spark's ``floor(NaN)`` is 0, so a NaN row adds 0 units to ``dsum``
and counts in ``davg``'s divisor; DuckDB's ``CAST(floor(NaN) AS BIGINT)``
raises instead. No oracle aggregates a NaN measure; tests/test_fixed_point.py
pins the Spark side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Fixed-point resolution: 1e-6 — covers every money/measure column in the
#: testdata (2–4 meaningful decimals) with headroom. Spelled ``1000000.0``
#: inside the SQL text.
_SCALE = 1_000_000.0

#: Exact, overflow-safe accumulator for MATERIALIZED unit sums (mv.py).
_ACC = "decimal(38,0)"


def _floor_units(expr: str) -> str:
    """``floor(x·10^6 + 0.5)`` of an SQL expression (BIGINT in Spark,
    DOUBLE in DuckDB — every caller casts it)."""
    return f"floor(CAST(({expr}) AS DOUBLE) * 1000000.0 + 0.5)"


def sql_units_wide(expr: str) -> str:
    """The fixed-point units of ``expr`` as DECIMAL(38,0): the wide
    accumulator's per-row term (:func:`sql_dsum_wide`, operators/mv.py)."""
    return f"CAST({_floor_units(expr)} AS DECIMAL(38,0))"


def sql_dsum(expr: str) -> str:
    """Order-independent SUM over doubles (exact two-BIGINT fixed-point
    accumulation, see the module docstring). Some oracle texts (GROUPING
    SETS) also run through ``spark.sql``, so this string must parse on both
    engines."""
    u = f"CAST({_floor_units(expr)} AS BIGINT)"
    lo = f"((({u}) % 1048576) + 1048576) % 1048576"
    hi = f"CAST(CAST(({u}) - ({lo}) AS DOUBLE) / 1048576.0 AS BIGINT)"
    return (
        f"(CAST(CAST(SUM({hi}) AS DECIMAL(31,0)) * CAST(1048576 AS DECIMAL(7,0))"
        f" + CAST(SUM({lo}) AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0)"
    )


def sql_davg(expr: str) -> str:
    """Order-independent AVG: exact unit sum ÷ exact count, one fp divide."""
    return f"CAST({sql_dsum(expr)} / COUNT({expr}) AS DOUBLE)"


def sql_dsum_wide(expr: str) -> str:
    """Order-independent SUM via the wide DECIMAL(38,0) accumulator —
    overflow-safe to 10^32 value units. ~1.6× slower per row than
    :func:`sql_dsum`; use for second moments (``"x * x"``) and any measure
    whose per-row magnitude can exceed ~10^7 (see the bounds analysis)."""
    return f"(CAST(SUM({sql_units_wide(expr)}) AS DOUBLE) / 1000000.0)"


def dsum(expr: str) -> Column:
    """:func:`sql_dsum` as a Spark aggregate column."""
    return F.expr(sql_dsum(expr))


def davg(expr: str) -> Column:
    """:func:`sql_davg` as a Spark aggregate column."""
    return F.expr(sql_davg(expr))


def dsum_wide(expr: str) -> Column:
    """:func:`sql_dsum_wide` as a Spark aggregate column."""
    return F.expr(sql_dsum_wide(expr))


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
            F.col(col) if isinstance(col, str) else col,
            lambda x: F.when(x.isNull(), F.lit("null"))
            .when(F.isnan(x), F.lit("nan"))
            .when(x == F.lit(inf), F.lit("inf"))
            .when(x == F.lit(-inf), F.lit("-inf"))
            .otherwise(F.floor(x * scale + 0.5).cast("long").cast("string")),
        ),
        "|",
    )
