"""Count-min sketch as a DataFrame — re-aggregatable heavy-hitter counts.

The CMS is just a (depth × width) counter table, and counter tables are what
DataFrames do best: build = explode each row into ``depth`` (row, bucket)
pairs and count; merge = union + groupBy-sum (counts are sums, so daily
sketches roll up to weekly exactly like the HLL sketches in
q_agg_hll_rollup); estimate = min over the key's ``depth`` counters.

Size: ≤ depth·width rows regardless of input cardinality (4×8192 here —
a few hundred KB), so the sketch broadcasts. Guarantees: estimates NEVER
undercount (hash collisions only add), and overcount ≤ εN with
ε ≈ e/width at failure probability e^-depth — both asserted in tests.

Hashes: one family, the LCG rows ``((a_i·(x mod P) + b_i) mod P) mod width``
over INTEGER keys — deterministic across runs/partitions, exact in BIGINT
and replayable in DuckDB, which is what gives q_agg_cms_topk a full SQL
oracle (pairwise-independence-style hashing is all CMS needs; the ε/δ
bounds are asserted in tests). A non-integer key column is rejected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

#: Portable integer-hash rows (shared LCG constants; P = 2^31-1 keeps
#: every product < 2^62). Single-sourced into the q_agg_cms_topk oracle.
#:
#: DOMAIN ASSUMPTION (r06 advice): every hash row first reduces the key
#: mod P, so two keys congruent mod P collide in ALL rows — the CMS
#: min-over-rows cannot suppress such a collision and the HLL counts the
#: pair as one distinct. The portable family therefore assumes |key| <
#: 2^31 (true of every id domain in the testdata and of typical surrogate
#: keys). For wider domains, fold the high bits first (e.g. ``key XOR
#: (key >> 31)``) on BOTH engines — the SQL twins in queries_events.py /
#: queries_core.py embed the same ``x`` expression and must change in
#: lockstep.
CMS_P = 2147483647
CMS_COEFFS = (
    (1103515245, 12345),
    (1140671485, 12820163),
    (214013, 2531011),
    (16843009, 826366247),
)


def _bucket(col: Column, i: int, width: int) -> Column:
    a, b = CMS_COEFFS[i]
    x = F.pmod(col.cast("long"), F.lit(CMS_P).cast("long"))
    return F.pmod(
        (F.lit(a).cast("long") * x + F.lit(b).cast("long"))
        % F.lit(CMS_P).cast("long"),
        F.lit(width).cast("long"),
    )


def _pairs(df: DataFrame, col: str, depth: int, width: int) -> Column:
    if not isinstance(df.schema[col].dataType, IntegralType):
        raise ValueError(
            f"count-min sketch keys must be an integer column; "
            f"{col} is {df.schema[col].dataType.simpleString()}"
        )
    if depth > len(CMS_COEFFS):
        raise ValueError(f"count-min sketch supports depth <= {len(CMS_COEFFS)}")
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    _bucket(F.col(col), i, width).alias("bucket"),
                )
                for i in range(depth)
            ]
        )
    )


def cms_build(
    df: DataFrame, col: str, *, depth: int = 4, width: int = 8192
) -> DataFrame:
    """Sketch table (i, bucket, cnt) for the values of the integer column
    ``col``. NULL keys are outside the sketch domain — a NULL bucket counts
    nothing and matches nothing, mirrored by the SQL oracle's IS NOT NULL."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(_pairs(df, col, depth, width).alias("p"))
        .groupBy(F.col("p.i").alias("i"), F.col("p.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union partial sketches (same depth/width) into one — counter sums."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("i", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    *,
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """Point estimates for ``keys[col]``: min over the depth counters.
    The sketch side is tiny — broadcast it, never shuffle the keys."""
    probes = keys.select(
        F.col(col), _pairs(keys, col, depth, width).alias("p")
    ).select(col, F.col("p.i").alias("i"), F.col("p.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["i", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog (r06): engine-neutral registers, SQL-replayable.
# ---------------------------------------------------------------------------

#: Register-index bits: m = 2^HLL_B registers (4096 → ~1.6% standard error).
HLL_B = 12
HLL_M = 1 << HLL_B
#: alpha_m for m >= 128 (Flajolet et al.) — a pure constant both engines
#: multiply identically.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
#: Quadratic LCG rows for the two independent 31-bit hash halves. A LINEAR
#: hash is not enough here: consecutive integer keys would walk an
#: arithmetic progression mod P and bias the leading-zero distribution; the
#: x² term breaks the lattice (measured estimate error 1.2–2.9% on the
#: shipped corpora, within the m=4096 expectation). Every intermediate stays
#: below 2^62: x mod P < 2^31, x² < 2^62, a·(x² mod P) < 1.2e9·2^31 ≈ 2^61.3.
HLL_H1 = (1103515245, 12345, 7)
HLL_H2 = (1140671485, 12820163, 11)


def _hll_parts(col: Column) -> tuple[Column, Column]:
    """(bucket, rho) of a non-NULL integer key — the register update pair.

    bucket = h1 mod m; rho = 32 − bitlength(h2) (h2 < 2^31, so rho ∈ [1, 31];
    h2 = 0 → 32). Bit length via base-2 string conversion (``conv`` / DuckDB
    ``format('{:b}')``) — integer-exact on both engines, unlike a float
    log2 whose boundary behavior at exact powers of two is library-specific.
    """
    x = F.pmod(col.cast("long"), F.lit(CMS_P).cast("long"))
    x2 = (x * x) % F.lit(CMS_P).cast("long")

    def h(a: int, b: int, c: int) -> Column:
        return (
            F.lit(a).cast("long") * x2 + F.lit(b).cast("long") * x + F.lit(c)
        ) % F.lit(CMS_P).cast("long")

    h1, h2 = h(*HLL_H1), h(*HLL_H2)
    bucket = F.pmod(h1, F.lit(HLL_M).cast("long"))
    bitlen = F.length(F.conv(h2, 10, 2))
    rho = F.when(h2 == 0, F.lit(32)).otherwise(F.lit(32) - bitlen)
    return bucket, rho.cast("int")


def hll_build(df: DataFrame, col: str, group_cols: list[str]) -> DataFrame:
    """Portable HLL register table: (group_cols…, bucket, rho) with rho the
    max over the group's keys — ≤ m rows per group whatever the input
    cardinality, and re-aggregatable: registers for a COARSER grouping are
    ``groupBy(coarser).max(rho)`` over these rows (the rollup never rescans
    the fact table, exactly like the DataSketches path)."""
    bucket, rho = _hll_parts(F.col(col))
    return (
        df.filter(F.col(col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-group estimate from a register table: the standard HLL raw
    estimate αm·m²/Σ2^−ρ (absent registers contribute 2⁰ = 1) with the
    small-range linear-counting correction E ≤ 2.5m ∧ zeros>0 →
    m·ln(m/zeros).

    Determinism across engines: every 2^−ρ term is an exact binary
    fraction and the whole register sum spans < 52 bits, so Σ is EXACT and
    order-independent — the only libm call is the small-range ``ln``
    (1-ulp class, absorbed by the caller's rounding; same treatment as
    q_text_entropy's documented boundary analysis)."""
    m = F.lit(float(HLL_M))
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s_present"),
        F.count("*").alias("n_present"),
    )
    zeros = (F.lit(HLL_M) - F.col("n_present")).cast("double")
    raw = F.lit(HLL_ALPHA) * m * m / (F.col("s_present") + zeros)
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0), m * F.log(m / zeros)
    ).otherwise(raw)
    return agg.select(*group_cols, est.alias("hll_estimate"))
