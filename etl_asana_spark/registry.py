"""Table registry: the single place raw storage meets the engine.

Centralizes (SURVEY.md §1.2):

- which tables exist (the driver's ten parquet tables),
- the ``events.ts`` nanosecond normalization — Spark 4 cannot natively read
  INT64 TIMESTAMP(NANOS) parquet, so with ``nanosAsLong=true`` the column
  arrives as a long of nanoseconds and is converted to a TimestampType of
  whole microseconds HERE, exactly once. The conversion uses integer
  division (``ts div 1000``) rather than float division: at 2024-epoch
  magnitudes (~1.7e18 ns) a double has 256 ns ULP, so ``(ts/1000).cast(long)``
  can be off by one microsecond; ``div`` is exact and matches DuckDB's own
  nanos→micros truncation bit-for-bit.
- temp-view registration so the SQL entry point sees the same normalized
  tables as the DataFrame entry point.

100 TB posture: this registry reads whatever parquet layout it is pointed at;
partition pruning and predicate pushdown remain available because the
normalization is a projection on top of the scan (Catalyst still pushes
filters on all other columns down to the parquet reader).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsutil import local_input_bytes
from .session import ensure_engine_confs, right_size_shuffle_partitions

#: The driver-materialized tables (TESTDATA.md; FIXTURES.md §A).
TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Cache of loaded logical plans, keyed by (session id, sf_dir). DataFrames
# are lazy plans — caching avoids re-listing parquet footers per query call.
_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}


def _normalize_events(df: DataFrame) -> DataFrame:
    """events.ts → session-TZ TimestampType (LTZ), whatever the file layout.

    The driver has shipped two physical layouts for ``events.ts``:

    - INT64 TIMESTAMP(NANOS): unreadable by Spark 4 without ``nanosAsLong``;
      arrives as a long of nanoseconds → truncate to whole microseconds with
      integer division (exact; float division drifts at 2024-epoch magnitude).
    - INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
      TIMESTAMP_NTZ. Watermarks/windowed streaming require LTZ
      (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise), so cast to the
      session type; the session TZ is pinned UTC, making the cast a pure
      reinterpretation of the same microsecond value — DuckDB (naive-UTC)
      parity is unchanged.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one normalized table as a (lazy) DataFrame."""
    ensure_engine_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_events(df)
    return df


# Memoized compressed-byte totals per sf_dir (a directory walk per query
# call would be wasted syscalls; rehearsal scripts that REGENERATE a dir in
# place call clear_cache(), which drops this too).
_DIR_BYTES: dict[str, int] = {}


def _input_bytes(sf_dir: str) -> int:
    """Memoized ``fsutil.local_input_bytes`` of the directory (0 if
    unprobeable — auto-sizing then keeps the core-count floor)."""
    if sf_dir not in _DIR_BYTES:
        _DIR_BYTES[sf_dir] = local_input_bytes(sf_dir)
    return _DIR_BYTES[sf_dir]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all registry tables (cached per session+dir)."""
    key = (id(spark), sf_dir)
    cached = _CACHE.get(key)
    if cached is None:
        cached = {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
        _CACHE[key] = cached
    else:
        # The plan cache must not bypass the conf defense: a caller may have
        # perturbed dynamic confs (session TZ, ANSI, nanosAsLong) between
        # query calls, and cached LOGICAL plans re-resolve TZ-dependent
        # expressions at analysis of each new query built on top of them.
        ensure_engine_confs(spark)
    # Volume-aware shuffle sizing (r09 verdict item 2): a fixed partition
    # count that is right at sf0.1 spills its per-partition sorts at 100×
    # — AQE can coalesce small partitions but never split a too-big sort.
    # No-op at the shipped scale factors (the formula stays at the core
    # floor) and whenever the operator pinned an explicit count.
    right_size_shuffle_partitions(spark, _input_bytes(sf_dir))
    return cached


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose normalized tables as temp views for the spark.sql entry point."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def clear_cache() -> None:
    _CACHE.clear()
    _DIR_BYTES.clear()
