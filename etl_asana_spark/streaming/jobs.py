"""Structured Streaming jobs (SURVEY §2.10 #56–#62, lifecycle §3.3).

Each job is a complete stream: file source → event-time transformation →
sink, executed with ``Trigger.AvailableNow`` so a bounded run drains the
source deterministically (the replayable-batch form of incremental sync) and
returns the sink contents as a batch DataFrame. The aggregation expressions
are the same ones the batch queries in ``queries_events`` oracle-check.

Design notes for the 100 TB/continuous deployment:
- the file source scales by listing only new files per micro-batch
  (checkpointed log); at real volume the same code points at a bucket prefix
  with date partitions.
- watermarks bound state: 10 minutes of event-time lateness is kept per
  window/key; everything older is evicted after emission.
- ``foreach_batch_upsert`` is the load stage: last-modified-wins merge per
  micro-batch, the streaming twin of operators.dedup.upsert_last_modified_wins.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import time
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import local_input_bytes, volume_partitions
from ..functions.parity import dsum
from ..scratch import fresh_dir
from ..session import ensure_engine_confs
from ..sources.fixtures import FIXTURES_DIR

_STAGE_DIRS: dict[str, str] = {}

#: The sync-token source's committed change feed — module-level so the
#: registered key's DuckDB oracle can embed the same absolute path.
STORIES_FIXTURE = str(FIXTURES_DIR / "stories.ndjson")

#: Fallback state-store partition count for the bounded demo/test runs when
#: the stream's input volume cannot be probed. Stateful operators create one
#: state store per shuffle partition per micro-batch; at test volume
#: (≤100 k rows/run) 32 partitions means the wall clock is dominated by
#: empty state-store commits, not data. Production tuning is the opposite
#: direction: size partitions so per-key state fits executor memory.
_STREAM_SHUFFLE_PARTITIONS = 8

#: Compressed input bytes per state partition for volume-derived sizing
#: (r10). Every shuffle partition costs ~40-90 ms of state-store commit
#: overhead PER MICRO-BATCH regardless of data (HDFS-backed store: snapshot
#: + delta file per store per batch; a stream-stream join keeps FOUR stores
#: per partition) — measured on q_stream_stream_join at sf0.01:
#: 16 partitions 4.39 s, 8 → 3.34 s, 4 → 2.06 s, 2 → 1.91 s for an
#: identical 40-row result. So a bounded drain should open only as many
#: stores as the input volume can fill.
_STREAM_TARGET_BYTES = 16 * 1024 * 1024


def _stream_partitions(spark: SparkSession, input_path: str | None) -> str:
    """State-partition count for a bounded drain over ``input_path``:
    ``clamp(ceil(bytes / 16 MiB), 2, defaultParallelism)``.

    Floor 2 keeps multi-partition state sharding exercised (the semantics
    the demo keys exist to prove); the core cap matches the engine's batch
    default at local scale — a production deployment sizes state fan-out
    explicitly. Results are partition-count invariant by construction
    (dsum fixed-point aggregation; r9's SWEEP_SHUFFLE=7 full-catalog sweep
    is the standing evidence)."""
    return str(volume_partitions(
        local_input_bytes(input_path) if input_path else 0,
        _STREAM_TARGET_BYTES,
        2,
        spark.sparkContext.defaultParallelism,
        _STREAM_SHUFFLE_PARTITIONS,
    ))


#: Spark's checkpoint manager that renames with ``FileSystem.rename``. The
#: default FileContext manager renames through Hadoop's ``RawLocalFs``,
#: which, without native Hadoop, forks a ``readlink`` process per rename of
#: a local file: 160 forks per ``asana_sync`` pass, all from the bounded
#: drains' checkpoint and state-store commits. A local rename is atomic
#: either way; on a remote store the default stays.
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextlib.contextmanager
def _drain_confs(spark: SparkSession, ckpt: str, input_path: str | None = None):
    """Temporarily set the confs of one bounded drain checkpointing at
    ``ckpt``: shuffle partitions right-sized for a stateful run, and on a
    local checkpoint, :data:`_FS_CHECKPOINT_MANAGER`.

    Both are read at query start — the partition count is pinned into the
    (fresh, per-run) checkpoint — so setting them around start→stop is
    safe; the previous values are restored for subsequent batch queries on
    the shared session. The state-store backend is Spark's own
    ``spark.sql.streaming.stateStore.providerClass``, left as configured.
    """
    confs = {"spark.sql.shuffle.partitions": _stream_partitions(spark, input_path)}
    if urlparse(ckpt).scheme in ("", "file"):
        confs["spark.sql.streaming.checkpointFileManagerClass"] = _FS_CHECKPOINT_MANAGER
    before = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in before.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def _events_stream_dir(sf_dir: str) -> str:
    """File streaming sources list a DIRECTORY of arriving files.

    The driver's testdata ships events as a SINGLE parquet file, which a
    file source cannot point at directly — stage a symlink dir (read-only
    on the source, per-process temp for the link). A production-shaped
    table (a directory of part-files, which is what any Spark writer — and
    the scale rehearsal's replication — produces) streams in place: the
    file source lists the part-files as arrivals and ignores
    _SUCCESS/hidden files. Found by the round-4 scale rehearsal, where the
    single-file symlink pointed at a DIRECTORY, the source listed zero
    files, and every streaming key silently processed nothing."""
    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):
        return src
    staged = _STAGE_DIRS.get(sf_dir)
    if staged is None or not os.path.isdir(staged):
        staged = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(src, f"{staged}/events.parquet")
        _STAGE_DIRS[sf_dir] = staged
    return staged


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the registry normalization.

    The schema must be supplied for file streams; it is taken from the batch
    registry read (ts arrives as long nanos under nanosAsLong, normalized
    here exactly like the batch path).
    """
    ensure_engine_confs(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # NO maxFilesPerTrigger: a bounded replay over HISTORICAL files must be
    # layout-invariant. Part-file boundaries carry no event-time meaning
    # (any writer interleaves timestamps across files, and the file source
    # lists by modification time, not event order), so draining file-by-file
    # advances the watermark between micro-batches and drops
    # later-listed/earlier-timestamped rows — the answer would depend on how
    # many files the table happens to be split across (found by
    # scripts/fragmentation_rehearsal.py: 4 of 7 drains lost rows on a
    # 90-part events table). AvailableNow with no per-trigger cap processes
    # every available file in ONE batch: nothing is mid-stream-late, the
    # final watermark is max(ts) - delay, and the drained result equals the
    # batch twin for ANY physical layout. Per-trigger caps belong on LIVE
    # tailing (arrival order ≈ event order); genuinely incremental
    # multi-batch semantics stay covered by the mtime-pinned staged-arrival
    # tests (tests/test_watermark_late_data.py, test_streaming.py).
    stream = (
        spark.readStream.schema(raw_schema)
        .parquet(_events_stream_dir(sf_dir))
    )
    # Same ts normalization as the batch registry (nanos-long or NTZ → LTZ);
    # watermarks demand the session timestamp type.
    from ..registry import _normalize_events

    return _normalize_events(stream)


#: Bounded drains restart ONCE on a transient failure. Restart-from-
#: checkpoint is streaming's recovery model; these runs are bounded and
#: deterministic with a fresh checkpoint + sink per attempt, so a clean
#: rerun computes the identical answer (and a second failure propagates).
_DRAIN_ATTEMPTS = 2


def _retry_drain(run_once):
    """Run a bounded drain, retrying once on any failure (see above).

    The swallowed first-attempt exception is logged before the retry: a
    deterministic failure (e.g. AnalysisException) re-raises identically on
    attempt 2 anyway, and a transient one would otherwise vanish without a
    diagnostic trace — flaky-infra events must stay observable."""
    import logging

    for attempt in range(_DRAIN_ATTEMPTS):
        try:
            return run_once()
        except Exception as exc:
            if attempt + 1 == _DRAIN_ATTEMPTS:
                raise
            logging.getLogger(__name__).warning(
                "bounded drain attempt %d/%d failed (%s: %s); retrying with "
                "fresh checkpoint/sink",
                attempt + 1, _DRAIN_ATTEMPTS, type(exc).__name__, exc,
            )


#: Phase timings of the most recent bounded drain in this process — written
#: by :func:`_record_drain`, which every bounded drain calls, so the bench can
#: attribute a drain's wall time to fixed setup (query start: checkpoint dir
#: creation + source listing + planning) vs micro-batch execution (the wait
#: for the query to finish) vs the engine's own per-phase durationMs.
#: Diagnostic surface for the r05 q_stream_tumbling bench regression (55%
#: swing, zero code change): if the swing is real it shows up here as
#: setup/walCommit time, not addBatch time.
LAST_DRAIN_STATS: dict[str, object] = {}


def _record_drain(query, t0: float, t_started: float, t_done: float) -> None:
    """Replace :data:`LAST_DRAIN_STATS` with one finished drain's phases:
    ``t0`` before ``start()``, ``t_started`` after it, ``t_done`` once the
    query has processed all its input."""
    dur = (query.lastProgress or {}).get("durationMs") or {}
    LAST_DRAIN_STATS.clear()
    LAST_DRAIN_STATS.update(
        {
            "start_s": round(t_started - t0, 4),
            "await_s": round(t_done - t_started, 4),
            "last_batch_ms": {k: dur[k] for k in sorted(dur)},
        }
    )


def _run_to_memory(
    df: DataFrame, mode: str, input_path: str | None = None
) -> DataFrame:
    """Run a streaming plan to completion (AvailableNow) into a memory sink."""
    spark = df.sparkSession

    def drain() -> DataFrame:
        name = f"sink_{uuid.uuid4().hex[:12]}"
        t0 = time.perf_counter()
        ckpt = fresh_dir("ckpt")
        with _drain_confs(spark, ckpt, input_path):
            query = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            t_started = time.perf_counter()
            query.awaitTermination()
        _record_drain(query, t0, t_started, time.perf_counter())
        return spark.table(name)

    return _retry_drain(drain)


def plan_tumbling(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """The tumbling-counts streaming PLAN (no sink) — factored from
    :func:`tumbling_counts_stream` so the crash-recovery tests can drive
    the same plan through a persistent checkpoint + file sink (r07 verdict
    item 6)."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", watermark)
    # dsum, not SUM(double): the stateful partial aggregates merge in
    # micro-batch/partition order, so only the fixed-point accumulator makes
    # the drained result bit-identical to the batch twin (and SQL-oracle
    # hashable) under any partitioning — same discipline as q_win_tumbling.
    return (
        ev.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(F.col("win.start").alias("bucket"), "event_type", "n_events", "total_value")
    )


def tumbling_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """#56–#58 Source + watermark + stateful windowed aggregation.

    Same plan as q_win_tumbling, incremental: late rows beyond the
    ``watermark`` delay are dropped, window state is evicted once the
    watermark passes window end. ``window``/``watermark`` are exposed so the
    batch-twin property can be checked across configurations, not just the
    catalog key's defaults.
    """
    return _run_to_memory(
        plan_tumbling(spark, sf_dir, window, watermark),
        "append",
        input_path=_events_stream_dir(sf_dir),
    )


def plan_sliding(
    spark: SparkSession,
    sf_dir: str,
    window: str = "2 hours",
    slide: str = "30 minutes",
) -> DataFrame:
    """The sliding-counts streaming PLAN (no sink) — see :func:`plan_tumbling`."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    return (
        ev.groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(F.col("win.start").alias("bucket"), "event_type", "n_events", "total_value")
    )


def sliding_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    window: str = "2 hours",
    slide: str = "30 minutes",
) -> DataFrame:
    """Sliding (hopping) windowed aggregation: 2 h windows every 30 min.

    Each event lands in ⌈window/slide⌉ overlapping windows (4 at the
    defaults); state holds that multiple of the tumbling case per key,
    still bounded by the watermark (a window is emitted and evicted once
    the watermark passes its end). The overlap factor — not the event
    rate — is what sizes state at scale, so the slide:length ratio is the
    knob to watch on a 100 TB/day stream. ``window``/``slide`` are exposed
    so the oracle-differential fuzz can hit odd alignment ratios, not just
    the catalog key's 4:1 default."""
    return _run_to_memory(
        plan_sliding(spark, sf_dir, window, slide),
        "append",
        input_path=_events_stream_dir(sf_dir),
    )


def plan_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful-dedup streaming PLAN (no sink) — see :func:`plan_tumbling`."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    return ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "ts", "user_id", "event_type"
    )


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#59 Stateful exact dedup across micro-batches, state bounded by the
    watermark (dropDuplicatesWithinWatermark)."""
    return _run_to_memory(
        plan_dedup(spark, sf_dir), "append", input_path=_events_stream_dir(sf_dir)
    )


def plan_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-static-join PLAN (no sink) — see :func:`plan_tumbling`."""
    categories = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("signup", "conversion"),
            ("purchase", "conversion"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    joined = ev.join(F.broadcast(categories), "event_type")
    return (
        joined.groupBy(F.window("ts", "6 hours").alias("win"), "category")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("bucket"), "category", "n_events")
    )


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#60 Stream-static join: enrich the event stream with a static dim
    (broadcast per micro-batch; the static side never becomes state)."""
    return _run_to_memory(
        plan_static_join(spark, sf_dir),
        "append",
        input_path=_events_stream_dir(sf_dir),
    )


def sessionize_stream(spark: SparkSession, sf_dir: str,
                      gap_minutes: int = 30) -> DataFrame:
    """#62 Arbitrary stateful op: custom sessionization via
    ``applyInPandasWithState`` (the escalation hatch for when
    ``session_window`` semantics don't fit).

    Per-user state = (session_start, last_ts, n_events). Within a batch,
    events are merged in event-time order; a gap > ``gap_minutes`` closes the
    running session and emits it. The trailing open session arms an
    event-time timeout at ``last_ts + gap``; when the watermark passes it,
    the timed-out callback emits the session and clears state.

    Scale: state is 3 scalars per active user key, sharded by the groupBy
    hash across executors; eviction is watermark-driven, so state size is
    bounded by (active users in the gap window), not history length.

    This drain keeps the pinned partition count rather than the
    volume-derived one (r10): the per-group work here is a PYTHON kernel
    (applyInPandasWithState), so the drain is compute-bound, not
    store-commit-bound — shrinking to 2 state partitions serializes the
    Python work and measured SLOWER (2.97 s vs 2.46 s at sf0.01) even as
    every JVM-stateful drain sped up. Same asymmetry as the multimodal
    resize work_factor.
    """
    return _run_to_memory(plan_session(spark, sf_dir, gap_minutes), "update")


def plan_session(spark: SparkSession, sf_dir: str,
                 gap_minutes: int = 30) -> DataFrame:
    """The sessionization PLAN (no sink) — see :func:`plan_tumbling`."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    return sessionized(ev, gap_minutes)


def sessionized(ev: DataFrame, gap_minutes: int) -> DataFrame:
    """The applyInPandasWithState sessionization plan over an already-
    watermarked event stream — factored from ``sessionize_stream`` so tests
    can drive the state function through an mtime-pinned multi-batch source
    (the arrival pattern that exposed the un-armable-timeout crash)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def sessionize(key: tuple, pdfs, state: GroupState):
        import pandas as pd

        out = []

        def emit(start_us: int, end_us: int, n: int) -> None:
            out.append((key[0], start_us, end_us, n))

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            emit(start_us, last_us, n)
            state.remove()
        else:
            ts_us = []
            for pdf in pdfs:
                ts_us.extend(
                    int(t.value // 1000)
                    for t in pd.to_datetime(pdf["ts"])
                    if t is not pd.NaT  # NULL event time cannot be
                    # sessionized (NaT.value is INT64_MIN — it would arm a
                    # pre-watermark timeout and kill the whole query)
                )
            ts_us.sort()
            if state.exists:
                start_us, last_us, n = state.get
            elif ts_us:
                start_us, last_us, n = ts_us[0], ts_us[0] - 1, 0
            else:
                start_us = None  # no timestamped events, no open session
            if start_us is not None:
                for t in ts_us:
                    if t - last_us > gap_us and n > 0:
                        emit(start_us, last_us, n)
                        start_us, n = t, 0
                    # max()/min(): a late-but-undropped row merging into
                    # live state (Spark only guarantees drops AFTER
                    # eviction) must not regress the session's end
                    # backwards — and symmetrically must WIDEN the start,
                    # else the row is counted in n_events while falling
                    # outside the emitted [session_start, session_end].
                    last_us = max(last_us, t)
                    start_us = min(start_us, t)
                    n += 1
                timeout_ms = last_us // 1000 + gap_minutes * 60 * 1000
                if timeout_ms < state.getCurrentWatermarkMs():
                    # The watermark already passed this session's close
                    # time while it was in flight (a multi-batch run where
                    # the watermark jumped past last+gap before this key's
                    # rows arrived): the timeout is un-armable
                    # (setTimeoutTimestamp raises on < watermark) and would
                    # have fired on the next trigger anyway — the session
                    # is final, emit it now and clear state. Strictness
                    # matches EventTimeTimeout: fire iff watermark > timeout.
                    emit(start_us, last_us, n)
                    state.remove()
                else:
                    state.update((start_us, last_us, n))
                    state.setTimeoutTimestamp(timeout_ms)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "session_start": [pd.Timestamp(r[1], unit="us") for r in out],
                    "session_end": [pd.Timestamp(r[2], unit="us") for r in out],
                    "n_events": [r[3] for r in out],
                }
            )

    return ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id bigint, session_start timestamp, "
                         "session_end timestamp, n_events bigint",
        stateStructType="start_us bigint, last_us bigint, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def upsert_drain(spark: SparkSession, sf_dir: str, ckpt: str, target: str) -> None:
    """One bounded foreachBatch upsert drain into ``target`` with checkpoint
    ``ckpt`` — factored from :func:`foreach_batch_upsert` so the
    crash-recovery tests can resume the SAME checkpoint/target across runs
    (r07 verdict item 6)."""
    from ..operators.dedup import upsert_last_modified_wins

    ev = _stream_events(spark, sf_dir)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        newest = upsert_last_modified_wins(
            batch_df.select("user_id", "ts", "event_type", "value"),
            key="user_id",
            modified_col="ts",
            tiebreak=["event_type"],
        )
        # Idempotent-per-batch append; the read side re-applies the
        # keep-rule, so replays of a batch cannot change the answer.
        newest.write.mode("append").parquet(target)

    t0 = time.perf_counter()
    with _drain_confs(spark, ckpt, _events_stream_dir(sf_dir)):
        query = (
            ev.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        t_started = time.perf_counter()
        query.awaitTermination()
    _record_drain(query, t0, t_started, time.perf_counter())


def foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#61 foreachBatch load stage: per micro-batch last-modified-wins upsert
    into a parquet target keyed by user_id (newest event per user survives —
    the streaming twin of the reference's R3 upsert)."""
    from ..operators.dedup import upsert_last_modified_wins

    def drain() -> str:
        # Each attempt writes to a FRESH target dir (like the fresh
        # checkpoint/sink): a retried run must equal a clean run even on
        # rows that tie on (ts, event_type) with differing value, where the
        # keep-rule's survivor is otherwise arbitrary among the duplicates a
        # same-dir re-append would accumulate.
        target = fresh_dir("upsert_target")
        upsert_drain(spark, sf_dir, fresh_dir("ckpt"), target)
        return target

    merged = spark.read.parquet(_retry_drain(drain))
    return upsert_last_modified_wins(
        merged, key="user_id", modified_col="ts", tiebreak=["event_type"]
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same user's
    views in the preceding hour (the real-time attribution join).

    Both sides carry watermarks and the join condition bounds event time
    (view_ts ∈ [purchase_ts - 1h, purchase_ts]), so Spark can compute how
    long each side's rows must be retained and evict join state as the
    watermarks advance — without the time bound the state would grow
    forever. Per-key state shards across executors on user_id.
    """
    return _run_to_memory(
        plan_stream_stream(spark, sf_dir),
        "append",
        input_path=_events_stream_dir(sf_dir),
    )


def plan_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream-join PLAN (no sink) — see :func:`plan_tumbling`."""
    views = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "10 minutes")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    return views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "view_ts", "purchase_ts", "purchase_value")


def sync_token_source_stream(spark: SparkSession) -> DataFrame:
    """Drain the asana_events sync-token DataSource (sources/datasource.py)
    to completion and aggregate the change feed by story type. The offset
    checkpoint Spark keeps for this source IS the reference's sync token —
    recovery replays readBetweenOffsets deterministically."""
    from ..sources.datasource import register_asana_stream_source

    register_asana_stream_source(spark)
    feed = (
        spark.readStream.format("asana_events")
        .option("path", STORIES_FIXTURE)
        .option("batch_lines", "100")  # four polls per drain: real pagination
        .load()
    )
    # (COUNT(DISTINCT) is unsupported on streams; distinct-task counts
    # would go through dropDuplicates upstream — see q_stream_dedup.)
    agg = feed.groupBy("type").agg(F.count("*").alias("n_stories"))
    # AvailableNow issues a single poll against a simple stream reader; a
    # sync-token feed drains by polling until no new rows arrive — which is
    # exactly processAllAvailable() on a running query.
    def drain() -> DataFrame:
        name = f"sink_{uuid.uuid4().hex[:12]}"
        t0 = time.perf_counter()
        ckpt = fresh_dir("ckpt")
        with _drain_confs(spark, ckpt, STORIES_FIXTURE):
            query = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .start()
            )
            t_started = time.perf_counter()
            try:
                query.processAllAvailable()
            finally:
                query.stop()
        _record_drain(query, t0, t_started, time.perf_counter())
        return spark.table(name)

    return _retry_drain(drain)
