"""SparkSession factory and session-level configuration.

Why these configs (SURVEY.md §1.2, §4, memory of probe sessions):

- ``spark.sql.session.timeZone=UTC`` — the testdata timestamps are UTC
  instants; DuckDB (the correctness oracle) is timezone-naive-UTC. Pinning the
  session TZ makes Spark↔DuckDB timestamp parity exact.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.parquet`` stores
  ``ts`` as physical INT64 TIMESTAMP(NANOS); Spark 4 raises
  ``PARQUET_TYPE_ILLEGAL`` without this flag. With it, ``ts`` arrives as a
  LongType of nanoseconds; the registry converts to a real timestamp once
  (see ``registry.load_tables``).
- AQE on (+ skew-join handling) — at the 100 TB design point, runtime
  re-planning from shuffle statistics (coalescing post-shuffle partitions,
  splitting skewed partitions, demoting to broadcast when a side turns out
  small) is the first line of defense; it costs nothing at test scale.
- Arrow on — every pandas interchange (createDataFrame/toPandas, pandas UDFs,
  applyInPandas/mapInPandas) moves via Arrow columnar batches instead of
  pickled rows.
- ``spark.sql.codegen.cache.maxEntries=1000`` (static, builder only) — the
  JVM keeps compiled whole-stage-codegen classes in an LRU cache of Spark's
  default 100 entries. One ``perfbench`` ``analytics`` pass needs ~133
  distinct classes (curate_corpus 55, q_dedup_minhash 39, q_join_star 13,
  q_win_topk_group 8, ...) and visits them in the same cyclic order every
  pass, so at 100 every lookup misses and each pass recompiles all of them
  (~9 ms of Janino each, plus fresh JIT work). 1000 holds that working set
  with ~7x headroom; ``plans.metrics.codegen_stats`` counts the compiles.
  A session the engine did not build keeps Spark's 100: a static conf
  cannot be set on a running session, so ``ensure_engine_confs`` cannot
  apply it.

The driver may hand us an already-built session; ``ensure_engine_confs``
applies the runtime-settable subset to any session, so engine code never
depends on who constructed the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .fsutil import volume_partitions

#: SQL confs that are runtime-settable (safe on a session we didn't build).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet pushdown/pruning are on by default; stated here as contract.
    "spark.sql.parquet.filterPushdown": "true",
    # Python DataSource filter pushdown (sources/datasource.py): lets a
    # custom source turn Spark predicates into API-side query params.
    "spark.sql.python.filterPushdown.enabled": "true",
    # ANSI mode is the Spark 4 default; engine code uses try_* on any
    # fallible cast/arithmetic rather than disabling ANSI (SURVEY §7 hard-part 3).
}


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be static in exotic deployments; engine code only
            # hard-requires nanosAsLong + timeZone, both dynamic in Spark 4.
            pass
    try:
        # If the caller left Spark's stock 200 shuffle partitions, right-size
        # to the machine: at test scale 200 tiny partitions is scheduling
        # overhead; on a cluster an operator sets this (or AQE coalesces).
        # An explicit non-default caller value is respected. The value is
        # the NORMALIZED core count (r10 review: setting the raw env string
        # left e.g. SPARK_GRAFT_CPUS='08' as conf '08', which the
        # volume-sizer's engine-set allowlist then mistook for an
        # operator-pinned value, permanently disabling auto-sizing).
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(_base_parallelism())
            )
    except Exception:
        pass
    return spark


def _base_parallelism() -> int:
    """The engine's core-count shuffle default (what ensure_engine_confs
    replaces the stock 200 with)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        return int(cpus) if cpus else (os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


#: Runtime conf tagging the shuffle-partition value the ENGINE auto-set, so
#: a later right-size can tell "we set this" from "the operator pinned it".
_AUTO_SHUFFLE_TAG = "spark.etl_asana_spark.autoShufflePartitions"

#: Compressed input bytes per shuffle partition: a 64 MiB in-memory target
#: over an ~8× parquet-compressed → in-memory-row expansion (snappy parquet
#: on numeric-heavy columns decompresses/deserializes ~5-10×; 8 is the
#: middle). 64 MiB in memory leaves sort/agg headroom inside a per-task
#: memory share (e.g. 8 GiB heap × 0.6 / 32 concurrent tasks ≈ 150 MiB);
#: the r09 100× rehearsal showed the failure mode this prevents —
#: q_win_topk_group's per-partition window sort at a FIXED 32 partitions
#: spilled into a 47.6× multiplier, while 8×cores partitions ran 0.40× of
#: it. AQE coalesces over-split partitions back together, but it can never
#: SPLIT a too-big sort partition upward — so the initial count must scale
#: with input volume.
_SHUFFLE_BYTES_PER_PARTITION = 8 * 1024 * 1024

#: Upper bound, as a multiple of the core count, on what auto-sizing will
#: set (scheduling overhead bound at local scale; on a real cluster cores
#: grows with the fleet, so the cap scales with it).
_SHUFFLE_CAP_X = 16


def right_size_shuffle_partitions(spark: SparkSession, input_bytes: int) -> int:
    """Scale ``spark.sql.shuffle.partitions`` with estimated input volume.

    ``clamp(ceil(input_bytes ÷ 8 MiB), cores, cores × 16)`` via
    ``fsutil.volume_partitions``. Only adjusts a value the engine itself
    set (the core-count default ensure_engine_confs substitutes for the
    stock 200, or a previous auto-set value — the latter remembered in a
    tag conf); an explicit operator-pinned count is respected untouched,
    so substrate sweeps (SWEEP_SHUFFLE=7) and cluster operators keep full
    control. One
    inherent ambiguity (r10 review): an operator pinning EXACTLY the core
    count is indistinguishable from the engine default and will be
    auto-scaled — pin any other value to opt out. Returns the effective
    partition count.

    At the shipped scale factors (sf0.001–sf0.1, ≤ ~18 MB parquet) the
    formula stays at the core-count floor — plans and timings there are
    unchanged; the rule engages exactly where the r09 100× rehearsal
    demonstrated fixed-count sort spill (SURVEY §8)."""
    try:
        cur = spark.conf.get("spark.sql.shuffle.partitions")
        base = _base_parallelism()
        tag = None
        try:
            tag = spark.conf.get(_AUTO_SHUFFLE_TAG)
        except Exception:
            pass
        # "200" is NOT in the allowlist: ensure_engine_confs (always run
        # first by load_tables) owns the stock-200 substitution, so a 200
        # seen here is an explicit caller choice on a session the engine
        # never touched — respect it (r10 review).
        if cur != str(base) and cur != tag:
            return int(cur)
        want = volume_partitions(
            input_bytes, _SHUFFLE_BYTES_PER_PARTITION,
            base, base * _SHUFFLE_CAP_X, base,
        )
        if str(want) != cur:
            spark.conf.set("spark.sql.shuffle.partitions", str(want))
        spark.conf.set(_AUTO_SHUFFLE_TAG, str(want))
        return want
    except Exception:
        return -1


def build_session(
    app_name: str = "etl_asana_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so tests and bench share one code path. On a real cluster
    the caller passes no master and spark-submit decides.

    ``shuffle_partitions`` defaults to the core count in local mode — at
    sf0.1-scale data a 200-partition shuffle is pure scheduling overhead; on
    a 1000-executor cluster the operator would instead size this to
    ~2-3× total cores (or rely on AQE coalescing from a high initial value).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    if shuffle_partitions is None:
        shuffle_partitions = _base_parallelism()
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.sql.codegen.cache.maxEntries", "1000")
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session: re-assert runtime confs.
    return ensure_engine_confs(spark)
