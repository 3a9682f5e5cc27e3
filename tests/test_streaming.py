"""Streaming property checks (SURVEY §5.4): AvailableNow replays are
deterministic, so a bounded streaming run must equal its batch twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_asana_spark import catalog
from etl_asana_spark.registry import load_tables
from etl_asana_spark.functions.parity import dsum
from etl_asana_spark.testing import canonical_rows


def test_stream_tumbling_equals_batch(spark, sf_dir):
    """Append mode emits exactly the windows closed by the final watermark
    (end <= max(ts) - 10 min); those must match the batch twin bit-for-bit."""
    stream_out = catalog.queries()["q_stream_tumbling"](spark, sf_dir).toPandas()
    ev = load_tables(spark, sf_dir)["events"]
    watermark = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).collect()[0]["wm"]
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .filter(F.col("win.end") <= F.lit(watermark))
        .select(F.col("win.start").alias("bucket"), "event_type", "n_events", "total_value")
        .toPandas()
    )
    assert len(stream_out) > 0
    assert canonical_rows(stream_out) == canonical_rows(batch)


import random as _random

import pytest


@pytest.mark.parametrize("seed", [800, 801, 802, 803])
def test_stream_tumbling_batch_twin_fuzz(spark, sf_dir, seed):
    """The batch-twin identity must hold for ANY (window, watermark)
    config, not just the catalog key's defaults: append mode emits exactly
    the windows whose end the final watermark passed."""
    from etl_asana_spark.streaming import jobs

    rng = _random.Random(seed)
    window = rng.choice(["30 minutes", "2 hours", "3 hours", "45 minutes"])
    wm = rng.choice(["5 minutes", "30 minutes", "1 hour", "2 hours"])
    stream_out = jobs.tumbling_counts_stream(
        spark, sf_dir, window=window, watermark=wm
    ).toPandas()
    ev = load_tables(spark, sf_dir)["events"]
    watermark = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {wm}")).alias("wm")
    ).collect()[0]["wm"]
    batch = (
        ev.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .filter(F.col("win.end") <= F.lit(watermark))
        .select(F.col("win.start").alias("bucket"), "event_type",
                "n_events", "total_value")
        .toPandas()
    )
    assert len(stream_out) > 0, f"window={window} wm={wm}"
    assert canonical_rows(stream_out) == canonical_rows(batch), (
        f"window={window} wm={wm}"
    )


def test_bounded_drain_retries_once_then_propagates(spark, sf_dir, monkeypatch):
    """The transient-failure retry in the bounded drains: a first-attempt
    failure (unwritable checkpoint) must be retried once with a fresh
    checkpoint and produce the normal answer; a persistent failure must
    still propagate after the second attempt."""
    from etl_asana_spark.streaming import jobs

    real = jobs.fresh_dir
    calls = {"n": 0}

    def flaky(purpose):
        calls["n"] += 1
        if calls["n"] == 1:
            return "/proc/not/a/writable/checkpoint"
        return real(purpose)

    monkeypatch.setattr(jobs, "fresh_dir", flaky)
    out = jobs.tumbling_counts_stream(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert calls["n"] >= 2  # first attempt failed, second ran

    monkeypatch.setattr(
        jobs, "fresh_dir", lambda purpose: "/proc/not/a/writable/checkpoint"
    )
    with pytest.raises(Exception):
        jobs.tumbling_counts_stream(spark, sf_dir)


def test_drain_retry_logs_first_attempt_failure(spark, sf_dir, monkeypatch, caplog):
    """A swallowed first-attempt exception must leave a diagnostic trace
    (otherwise transient-infra failures are invisible and deterministic
    ones get a pointless silent re-run)."""
    import logging

    from etl_asana_spark.streaming import jobs

    real = jobs.fresh_dir
    calls = {"n": 0}

    def flaky(purpose):
        calls["n"] += 1
        if calls["n"] == 1:
            return "/proc/not/a/writable/checkpoint"
        return real(purpose)

    monkeypatch.setattr(jobs, "fresh_dir", flaky)
    with caplog.at_level(logging.WARNING, logger="etl_asana_spark.streaming.jobs"):
        jobs.tumbling_counts_stream(spark, sf_dir).collect()
    assert any(
        "attempt 1/2 failed" in rec.getMessage() for rec in caplog.records
    )


def test_upsert_retry_equals_clean_run(spark, sf_dir, monkeypatch):
    """foreach_batch_upsert: a retried run (first attempt's TARGET dir
    unwritable) must return the same frame as a clean run — each attempt
    writes to a fresh target, so a replay can never accumulate a prior
    attempt's appends and let a (ts, event_type)-tie pick a different
    survivor."""
    from etl_asana_spark.streaming import jobs
    from etl_asana_spark.testing import canonical_rows

    clean = jobs.foreach_batch_upsert(spark, sf_dir).toPandas()

    real = jobs.fresh_dir
    calls = {"n": 0}

    def flaky(purpose):
        calls["n"] += 1
        if calls["n"] == 1:  # first attempt's upsert_target
            return "/proc/not/a/writable/target"
        return real(purpose)

    monkeypatch.setattr(jobs, "fresh_dir", flaky)
    retried = jobs.foreach_batch_upsert(spark, sf_dir).toPandas()
    assert calls["n"] >= 3  # failed target, then fresh target + ckpt
    assert canonical_rows(retried) == canonical_rows(clean)


def test_stream_sliding_equals_batch(spark, sf_dir):
    """Sliding windows: every closed 2 h/30 min hop must match the batch
    twin (4 overlapping windows per event — the state-size multiplier)."""
    stream_out = catalog.queries()["q_stream_sliding"](spark, sf_dir).toPandas()
    ev = load_tables(spark, sf_dir)["events"]
    watermark = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).collect()[0]["wm"]
    batch = (
        ev.groupBy(F.window("ts", "2 hours", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .filter(F.col("win.end") <= F.lit(watermark))
        .select(F.col("win.start").alias("bucket"), "event_type", "n_events", "total_value")
        .toPandas()
    )
    assert len(stream_out) > 0
    assert canonical_rows(stream_out) == canonical_rows(batch)


def test_stream_dedup_keeps_all_distinct(spark, sf_dir):
    out = catalog.queries()["q_stream_dedup"](spark, sf_dir)
    n_events = load_tables(spark, sf_dir)["events"].count()
    assert out.count() == n_events  # event_ids are unique: dedup is a no-op
    assert out.select("event_id").distinct().count() == n_events


def test_stream_upsert_one_row_per_user(spark, sf_dir):
    out = catalog.queries()["q_stream_upsert"](spark, sf_dir)
    ev = load_tables(spark, sf_dir)["events"]
    n_users = ev.select("user_id").distinct().count()
    assert out.count() == n_users
    # survivor carries each user's max ts
    expected = ev.groupBy("user_id").agg(F.max("ts").alias("ts"))
    got = out.select("user_id", "ts")
    assert canonical_rows(got.toPandas()) == canonical_rows(expected.toPandas())


def test_upsert_drain_records_drain_stats(spark, sf_dir):
    """The foreachBatch upsert drain records LAST_DRAIN_STATS like the
    memory-sink drains do, so a traced q_stream_upsert has drain phases."""
    from etl_asana_spark.streaming import jobs

    jobs.LAST_DRAIN_STATS.clear()
    jobs.foreach_batch_upsert(spark, sf_dir)
    stats = jobs.LAST_DRAIN_STATS
    assert stats["start_s"] >= 0 and stats["await_s"] >= 0
    assert "addBatch" in stats["last_batch_ms"]


def test_stream_static_join_covers_closed_windows(spark, sf_dir):
    out = catalog.queries()["q_stream_static_join"](spark, sf_dir).toPandas()
    ev = load_tables(spark, sf_dir)["events"]
    watermark = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).collect()[0]["wm"]
    n_closed = (
        ev.withColumn("win", F.window("ts", "6 hours"))
        .filter(F.col("win.end") <= F.lit(watermark))
        .count()
    )
    assert out["n_events"].sum() == n_closed
    assert set(out["category"]) == {"engagement", "conversion", "ops"}


def test_stream_session_matches_batch_session_window(spark, sf_dir):
    """#62: custom applyInPandasWithState sessionization reproduces batch
    session_window exactly for every emit-eligible session (a session is
    emitted once closed by an in-batch gap or by event-time timeout; only a
    trailing session still open at the final watermark may stay in state)."""
    out = catalog.queries()["q_stream_session"](spark, sf_dir)
    ev = load_tables(spark, sf_dir)["events"]
    batch = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
    emitted = {tuple(r) for r in out.collect()}
    expected = {tuple(r) for r in batch.collect()}
    assert emitted <= expected
    watermark = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).collect()[0]["wm"]
    must_emit = {
        tuple(r)
        for r in batch.filter(
            F.col("session_end") + F.expr("INTERVAL 30 MINUTES") < F.lit(watermark)
        ).collect()
    }
    assert must_emit <= emitted


def test_stream_session_output_dtypes(spark, sf_dir):
    """The drained sessions keep their declared schema, and toPandas gives
    int64 ids and counts and datetime64 bounds. PySpark pads the
    applyInPandasWithState output with a pandas concat whose dtype
    inference is deprecated for empty/all-NA entries (a FutureWarning per
    batch); if a pandas upgrade changes that inference, this fails loudly
    instead of letting the output types drift."""
    out = catalog.queries()["q_stream_session"](spark, sf_dir)
    assert out.schema.simpleString() == (
        "struct<user_id:bigint,session_start:timestamp,"
        "session_end:timestamp,n_events:bigint>"
    )
    pdf = out.toPandas()
    assert len(pdf) > 0
    assert str(pdf["user_id"].dtype) == "int64"
    assert str(pdf["n_events"].dtype) == "int64"
    for col in ("session_start", "session_end"):
        assert str(pdf[col].dtype).startswith("datetime64"), pdf[col].dtype


@pytest.mark.slow  # ~9 s dual drain; opt-in (r11, see pytest.ini)
def test_stream_stream_join_equals_batch_join(spark, sf_dir):
    """Inner stream-stream joins emit a match as soon as both rows have
    arrived; the single-file AvailableNow drain is one micro-batch, so the
    emitted set must equal the batch join exactly (watermarks only bound
    state for cross-batch matches)."""
    out = catalog.queries()["q_stream_stream_join"](spark, sf_dir).toPandas()
    ev = load_tables(spark, sf_dir)["events"]
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"))
    batch = (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("view_ts") <= F.col("purchase_ts"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select("user_id", "view_ts", "purchase_ts", "purchase_value")
        .toPandas()
    )
    assert len(out) > 0
    assert canonical_rows(out) == canonical_rows(batch)


@pytest.mark.slow  # ~10 s full-feed drain; opt-in (r11, see pytest.ini)
def test_sync_token_source_drains_full_feed(spark, sf_dir):
    """The asana_events streaming source (7-line polls) must deliver every
    fixture story exactly once across micro-batches."""
    from etl_asana_spark import catalog
    from etl_asana_spark.sources.fixtures import FIXTURES_DIR
    from etl_asana_spark.streaming import jobs

    jobs.LAST_DRAIN_STATS.clear()
    out = catalog.queries()["q_stream_source_sync"](spark, sf_dir)
    assert {"start_s", "await_s", "last_batch_ms"} <= set(jobs.LAST_DRAIN_STATS)
    got = {r["type"]: r["n_stories"] for r in out.collect()}
    import json as _json

    stories = [
        _json.loads(line)
        for line in open(FIXTURES_DIR / "stories.ndjson")
    ]
    for typ in {s["type"] for s in stories}:
        assert got[typ] == sum(1 for s in stories if s["type"] == typ)
    assert sum(got.values()) == len(stories)


@pytest.mark.slow  # ~10 s directory drain; opt-in (r11, see pytest.ini)
def test_stream_source_accepts_directory_shaped_events(spark, sf_dir, tmp_path):
    """Round-4 regression (found by scripts/scale_rehearsal.py): a
    production-shaped events table — a DIRECTORY of part-files, which is
    what any Spark writer produces — must stream identically to the
    driver's single-file layout. The file source previously got a symlink
    pointing at the directory itself, listed zero files, and every
    streaming key silently processed nothing (q_stream_upsert crashed on
    its empty target)."""
    import shutil

    from etl_asana_spark.streaming import jobs

    d = tmp_path / "dirshaped" / "events.parquet"
    d.mkdir(parents=True)
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-00000-copy.snappy.parquet")
    got = jobs.tumbling_counts_stream(spark, str(tmp_path / "dirshaped")).toPandas()
    ref = catalog.queries()["q_stream_tumbling"](spark, sf_dir).toPandas()
    assert len(got) > 0
    assert canonical_rows(got) == canonical_rows(ref)


@pytest.mark.slow  # ~30 s boundary drains; opt-in (r11, see pytest.ini)
def test_session_timeout_boundary_is_strictly_greater(spark):
    """Pins the emission strictness the q_stream_session oracle encodes:
    an event-time timeout fires only when the final watermark advances
    STRICTLY past the timeout timestamp (last event + gap). Real corpora
    never land a timeout exactly ON the watermark, so this synthetic pair
    — equality vs one millisecond past — is the only thing that would
    catch Spark flipping to >= (or the oracle drifting to <=)."""
    import os
    import tempfile
    from datetime import datetime

    from etl_asana_spark.streaming import jobs

    def stage(max_ts):
        d = tempfile.mkdtemp(prefix="sess_boundary_")
        rows = [
            (1, datetime(2024, 1, 1, 10, 0), 1, "view", 1.0, "{}"),
            (2, datetime(2024, 1, 1, 10, 5), 1, "view", 1.0, "{}"),
            (3, max_ts, 2, "view", 1.0, "{}"),  # the watermark clock
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        return d

    # User 1's open session arms a timeout at 10:05 + 30 min = 10:35.
    # max_ts 10:45 puts the final watermark (10 min delay) at exactly
    # 10:35 — equality, so nothing may emit.
    eq = jobs.sessionize_stream(
        spark, stage(datetime(2024, 1, 1, 10, 45)), gap_minutes=30
    ).collect()
    assert eq == []

    # One millisecond later the watermark strictly passes the timeout and
    # user 1's session (2 events, end 10:05) must emit; user 2's own
    # timeout (11:15) is still in the future.
    past = jobs.sessionize_stream(
        spark, stage(datetime(2024, 1, 1, 10, 45, 0, 1000)), gap_minutes=30
    ).collect()
    got = [(r.user_id, r.session_end, r.n_events) for r in past]
    assert got == [(1, datetime(2024, 1, 1, 10, 5), 2)]


@pytest.mark.slow  # ~12 s multi-layout drains; opt-in (r11, see pytest.ini)
def test_bounded_drain_is_layout_invariant(spark, sf_dir, tmp_path):
    """Round-4 regression (found by scripts/fragmentation_rehearsal.py): a
    bounded replay's answer must not depend on how many part files the
    events table is split across. The old ``maxFilesPerTrigger=1`` drain
    advanced the watermark between per-file micro-batches, so part files
    listed later but holding earlier timestamps had their rows dropped as
    late — 4 of 7 streaming keys lost rows on a 90-part table. This stages
    the WORST layout (latest timestamps in the first-listed file, so the
    watermark jumps immediately) and requires the drain to equal the
    single-file reference exactly."""
    import os
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from etl_asana_spark.streaming import jobs

    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "descending")]))
    table_dir = tmp_path / "frag" / "events.parquet"
    table_dir.mkdir(parents=True)
    now = int(time.time())
    n = t.num_rows
    bounds = [0, n // 3, (2 * n) // 3, n]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        part = table_dir / f"part-{i:05d}.parquet"
        pq.write_table(t.slice(lo, hi - lo), part)
        # file source lists by mtime: descending-ts slice i arrives i-th,
        # so every later arrival is entirely "late" vs the first file
        os.utime(part, (now - 300 + i, now - 300 + i))

    got = jobs.tumbling_counts_stream(spark, str(tmp_path / "frag")).toPandas()
    ref = catalog.queries()["q_stream_tumbling"](spark, sf_dir).toPandas()
    assert len(got) > 0
    assert canonical_rows(got) == canonical_rows(ref)


@pytest.mark.slow  # ~16 s timeout drains; opt-in (r11, see pytest.ini)
def test_session_unarmable_timeout_emits_final_session(spark, tmp_path):
    """Round-4 regression (found by scripts/fragmentation_rehearsal.py): in
    a genuinely incremental multi-batch run, a user's rows can arrive after
    the watermark has already passed ``last_ts + gap`` (the file source
    delivers files in mtime order; late rows are only GUARANTEED dropped
    after eviction, and this state never existed to evict). Arming the
    timeout then raises ``setTimeoutTimestamp: timeout < watermark`` and
    kills the whole query. The session is simply final: it must be emitted
    immediately and the state cleared."""
    import os
    import time
    from datetime import datetime

    from etl_asana_spark.streaming import jobs

    base = tmp_path / "sessmb"
    base.mkdir()
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    now = int(time.time())

    def stage(name, rows, mtime):
        p = base / name
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(p))
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(p, (mtime, mtime))

    # batch 1: the watermark clock — after it, wm = 12:00 - 10 min = 11:50
    stage("b1", [(1, datetime(2024, 1, 1, 12, 0), 99, "view", 1.0, "{}")],
          now - 200)
    # batch 2: user 1's whole session, 10:00–10:05; timeout would be
    # 10:35 < 11:50 → un-armable, previously a query-killing crash
    stage("b2", [(2, datetime(2024, 1, 1, 10, 0), 1, "view", 1.0, "{}"),
                 (3, datetime(2024, 1, 1, 10, 5), 1, "view", 1.0, "{}")],
          now - 100)

    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(base) + "/*")
        .withWatermark("ts", "10 minutes")
    )
    out = jobs._run_to_memory(jobs.sessionized(ev, gap_minutes=30), "update")
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in out.collect()}
    # user 1's final session emitted despite the un-armable timeout; user
    # 99's open session stays in (un-emitted) state — its timeout 12:30 is
    # still ahead of the final watermark
    assert got == {(1, datetime(2024, 1, 1, 10, 0),
                    datetime(2024, 1, 1, 10, 5), 2)}


@pytest.mark.slow  # ~35 s restart battery; opt-in (r11, see pytest.ini)
def test_checkpoint_restart_is_incremental_and_exactly_once(spark, tmp_path):
    """The production shape of incremental sync (SURVEY §3.3): a CRON of
    bounded AvailableNow runs sharing ONE checkpoint + file sink. Run 2
    must resume from the checkpointed file log — processing only files
    that arrived since run 1, never re-emitting a window run 1 already
    appended — and the union of both runs must equal one single run over
    all files (live-tailing arrival: mtime order == event-time order, so
    nothing is late at a run boundary)."""
    import os
    import time
    from datetime import datetime

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    now = int(time.time())

    def stage(name, rows, mtime):
        p = src / name
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(p))
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(p, (mtime, mtime))

    def run_available_now():
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(src) + "/*")
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count("*").alias("n"))
            .select(F.col("win.start").alias("bucket"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def sink_rows():
        return sorted(
            (r.bucket, r.n)
            for r in spark.read.parquet(str(sink)).collect()
        )

    # run 1: two hours of data; watermark ends at 11:50 → the 09:00 and
    # 10:00 windows close and are appended
    stage("b1", [(1, datetime(2024, 1, 1, 9, 30), 1, "view", 1.0, "{}"),
                 (2, datetime(2024, 1, 1, 9, 45), 1, "view", 1.0, "{}")],
          now - 300)
    stage("b2", [(3, datetime(2024, 1, 1, 10, 20), 2, "view", 1.0, "{}"),
                 (4, datetime(2024, 1, 1, 12, 0), 2, "view", 1.0, "{}")],
          now - 200)
    run_available_now()
    after_run1 = sink_rows()
    assert after_run1 == [
        (datetime(2024, 1, 1, 9, 0), 2),
        (datetime(2024, 1, 1, 10, 0), 1),
    ]

    # new file lands between runs: closes the 12:00 window (watermark
    # 13:50), opens 14:00
    stage("b3", [(5, datetime(2024, 1, 1, 12, 30), 1, "view", 1.0, "{}"),
                 (6, datetime(2024, 1, 1, 14, 0), 3, "view", 1.0, "{}")],
          now - 100)

    # run 2, SAME checkpoint + sink: only b3 is new; the 09:00/10:00
    # windows were emitted AND evicted in run 1 — recovery must not
    # re-read b1/b2 or re-append those rows
    run_available_now()
    after_run2 = sink_rows()
    assert after_run2 == [
        (datetime(2024, 1, 1, 9, 0), 2),
        (datetime(2024, 1, 1, 10, 0), 1),
        (datetime(2024, 1, 1, 12, 0), 2),
    ]

    # and the two-run union equals one fresh single run over all files
    fresh_sink, fresh_ckpt = tmp_path / "sink2", tmp_path / "ckpt2"
    sink, ckpt = fresh_sink, fresh_ckpt
    run_available_now()
    assert sink_rows() == after_run2


@pytest.mark.slow  # ~22 s restart battery; opt-in (r11, see pytest.ini)
def test_sessionize_state_survives_checkpoint_restart(spark, tmp_path):
    """Stateful restart recovery: an OPEN session's state (start, last, n)
    must round-trip through the state store across two bounded runs
    sharing one checkpoint. Run 1 leaves user 1's session open; run 2
    delivers more of the same session (within the gap), then a far-future
    row whose watermark times the session out — the emitted session must
    span BOTH runs' events, proving run 2 merged into recovered state
    rather than starting fresh."""
    import os
    import time
    from datetime import datetime

    from etl_asana_spark.streaming import jobs

    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    now = int(time.time())

    def stage(name, rows, mtime):
        p = src / name
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(p))
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(p, (mtime, mtime))

    sink = tmp_path / "sink"

    def run_available_now():
        ev = (
            spark.readStream.schema(schema)
            .parquet(str(src) + "/*")
            .withWatermark("ts", "10 minutes")
        )

        # memory sinks cannot recover from a checkpoint; foreachBatch can
        def append(batch_df, batch_id):
            batch_df.write.mode("append").parquet(str(sink))

        q = (
            jobs.sessionized(ev, gap_minutes=30)
            .writeStream.foreachBatch(append)
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not sink.exists():
            return []
        return spark.read.parquet(str(sink)).collect()

    # run 1: user 1's session opens (10:00, 10:10); timeout arms at 10:40,
    # watermark only reaches 10:00 — nothing emits, state persists
    stage("b1", [(1, datetime(2024, 1, 1, 10, 0), 1, "view", 1.0, "{}"),
                 (2, datetime(2024, 1, 1, 10, 10), 1, "view", 1.0, "{}")],
          now - 300)
    assert run_available_now() == []

    # run 2, same checkpoint: event 3 continues the session (10:25, within
    # the 30-min gap of recovered last=10:10); event 4 pushes the final
    # watermark to 11:50 > 10:55 timeout → the session emits, spanning
    # both runs
    stage("b2", [(3, datetime(2024, 1, 1, 10, 25), 1, "view", 1.0, "{}"),
                 (4, datetime(2024, 1, 1, 12, 0), 99, "view", 1.0, "{}")],
          now - 100)
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in run_available_now()}
    assert got == {(1, datetime(2024, 1, 1, 10, 0),
                    datetime(2024, 1, 1, 10, 25), 3)}


@pytest.mark.slow  # ~18 s late-data drains; opt-in (r11, see pytest.ini)
def test_sessionize_late_row_widens_session_start(spark, tmp_path):
    """Round-5 ADVICE regression: a late-but-undropped row with
    ``t < start_us`` merging into live state was counted in ``n_events``
    while ``session_start`` stayed put — the emitted row claimed 3 events
    inside an interval that only contains 2. The start side must mirror the
    end side's monotonicity rule: ``start_us = min(start_us, t)``."""
    import os
    import time
    from datetime import datetime

    from etl_asana_spark.streaming import jobs

    base = tmp_path / "sesslate"
    base.mkdir()
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    now = int(time.time())

    def stage(name, rows, mtime):
        p = base / name
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(p))
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(p, (mtime, mtime))

    # batch 1: session opens at 10:10-10:15; watermark after = 10:05
    stage("b1", [(1, datetime(2024, 1, 1, 10, 10), 1, "view", 1.0, "{}"),
                 (2, datetime(2024, 1, 1, 10, 15), 1, "view", 1.0, "{}")],
          now - 300)
    # batch 2: LATE row at 10:07 — older than live start 10:10 but newer
    # than the 10:05 watermark, so Spark does not drop it; it merges into
    # the open session and must WIDEN session_start to 10:07
    stage("b2", [(3, datetime(2024, 1, 1, 10, 7), 1, "view", 1.0, "{}")],
          now - 200)
    # batch 3: watermark clock → wm 11:50 > timeout 10:45, session emits
    stage("b3", [(4, datetime(2024, 1, 1, 12, 0), 99, "view", 1.0, "{}")],
          now - 100)

    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(base) + "/*")
        .withWatermark("ts", "10 minutes")
    )
    out = jobs._run_to_memory(jobs.sessionized(ev, gap_minutes=30), "update")
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in out.collect()}
    assert got == {(1, datetime(2024, 1, 1, 10, 7),
                    datetime(2024, 1, 1, 10, 15), 3)}


# ---------------------------------------------------------------------------
# State-store-provider independence (round 7). The default HDFS-backed
# provider keeps every key's state on the executor HEAP — at 100 TB scale
# (billions of live window/session/dedup keys) the scale path is RocksDB
# (spark.sql.streaming.stateStore.providerClass), which spills state to
# local disk with bounded memory. The engine's streaming operators must be
# provider-agnostic: identical results under both, because nothing in them
# may depend on state-store iteration order or residency. This is the
# streaming analogue of the layout/fragmentation rehearsals (same answers
# under a different physical substrate).
# ---------------------------------------------------------------------------

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_STREAM_KEYS = [
    "q_stream_tumbling",
    "q_stream_sliding",
    "q_stream_dedup",
    "q_stream_static_join",
    "q_stream_session",
    "q_stream_upsert",
    "q_stream_stream_join",
    "q_stream_source_sync",
]


@pytest.mark.parametrize("key", _STREAM_KEYS)
@pytest.mark.slow  # ~30 s 8-key provider matrix; opt-in (r11, see pytest.ini)
def test_streaming_results_are_state_store_provider_agnostic(
    spark, sf_dir, key
):
    from etl_asana_spark import catalog

    q = catalog.queries()[key]

    def rows_under(provider: str | None):
        conf = "spark.sql.streaming.stateStore.providerClass"
        before = spark.conf.get(conf, None)
        try:
            if provider is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, provider)
            df = q(spark, sf_dir)
            return sorted(map(tuple, df.collect())), df.schema
        finally:
            if before is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, before)

    default_rows, default_schema = rows_under(None)
    rocks_rows, rocks_schema = rows_under(_ROCKSDB_PROVIDER)
    assert default_schema == rocks_schema
    assert default_rows == rocks_rows
    assert len(default_rows) > 0


# ---------------------------------------------------------------------------
# Crash-injected recovery (r07 verdict item 6). The provider-parity tests
# above prove the state path is substrate-agnostic; these prove RECOVERY:
# a drain killed after batch 0 of a two-batch run, restarted from the same
# checkpoint, must leave the sink equal to an uninterrupted run. Two
# injection shapes:
#
# 1. stop-after-batch-0 (every plan): run 1 is a completed AvailableNow
#    over file 1 only (batch 0); file 2 then arrives; run 2 resumes the
#    SAME checkpoint + sink and processes it as batch 1. This exercises the
#    offset/commit log resume, the state-store reload (windows/sessions/
#    join state straddling the file split were built in run 1 and must
#    finish in run 2), and file-sink append exactly-once.
#
# 2. torn-commit WAL replay (representative append plans): after run 1,
#    delete commits/0 — the on-disk shape of a crash BETWEEN the sink write
#    and the commit-log write, i.e. mid-drain. Restart must re-execute
#    batch 0 from the WAL'd offsets WITHOUT duplicating its output (the
#    file-sink metadata log already has batch 0) and then drain file 2.
#
# The file split is on EVENT TIME (file 2 strictly newer than file 1's
# watermark), so batching differences cannot change the answer — both the
# interrupted and the uninterrupted drains emit identical sets; see the
# layout-invariance note on jobs._stream_events for why arbitrary splits
# would not be comparable.
# ---------------------------------------------------------------------------

import os as _os
import shutil as _shutil


@pytest.fixture(scope="session")
def events_split(spark, sf_dir, tmp_path_factory):
    """The event-time median split of the events table, built ONCE per
    session (r08 review: every recovery test was re-deriving the same cut
    and rewriting the same three parquet outputs). Returns the full-table
    source dir plus the two part files; per-test staged dirs are assembled
    from the parts by :func:`_make_staged` (cheap single-file copies, so
    each test still gets an isolated mutable source)."""
    root = tmp_path_factory.mktemp("events_split")
    ev = load_tables(spark, sf_dir)["events"]
    cut = ev.agg(
        F.expr("percentile(unix_micros(ts), 0.5)").alias("c")
    ).collect()[0]["c"]
    old = ev.filter(F.unix_micros("ts") < cut)
    new = ev.filter(F.unix_micros("ts") >= cut)
    old.coalesce(1).write.parquet(str(root / "file1"))
    new.coalesce(1).write.parquet(str(root / "file2"))
    old.unionByName(new).write.parquet(str(root / "full" / "events.parquet"))

    def part(d):
        return next(
            str(d / f) for f in _os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )

    return {
        "full": str(root / "full"),
        "part1": part(root / "file1"),
        "part2": part(root / "file2"),
    }


def _make_staged(events_split, tmp_path):
    """A fresh mutable staged source: file 1 present, ``add_file2()``
    delivers the newer half (a later-mtime new file arrival)."""
    d = tmp_path / "staged" / "events.parquet"
    d.mkdir(parents=True)
    _shutil.copy(events_split["part1"], d / "part1.parquet")

    def add_file2():
        _shutil.copy(events_split["part2"], d / "late_part2.parquet")

    return str(tmp_path / "staged"), add_file2


#: Uninterrupted-baseline sink rows per plan, computed once per session
#: (identical inputs → identical baseline; the tumbling baseline alone was
#: previously recomputed by five tests). Keyed by plan name only: results
#: are state-store-provider-agnostic (proven by the parity tests above),
#: so the RocksDB recovery tests deliberately compare against the
#: default-provider baseline — a strictly stronger check.
_BASELINE_CACHE: dict[str, list] = {}


def _baseline_rows(spark, events_split, tmp_path_factory, name):
    if name not in _BASELINE_CACHE:
        plan, mode = {n: (p, m) for n, p, m in _recovery_plans()}[name]
        d = tmp_path_factory.mktemp(f"base_{name}")
        _drain_once(plan, spark, events_split["full"], mode,
                    str(d / "ckpt"), str(d / "sink"))
        rows = _sink_rows(spark, str(d / "sink"))
        assert rows, f"{name}: baseline drain emitted nothing"
        _BASELINE_CACHE[name] = rows
    return _BASELINE_CACHE[name]


def _drain_once(plan, spark, src_dir, mode, ckpt, sink):
    """One bounded AvailableNow drain of ``plan(spark, src_dir)`` into a
    parquet sink at ``sink`` with checkpoint ``ckpt``. Append-mode plans use
    the exactly-once file sink; update-mode (session) uses foreachBatch
    append (no batch replays occur in the stop-after-batch-0 scenario, so
    append is exact)."""
    from etl_asana_spark.streaming import jobs

    df = plan(spark, src_dir)
    with jobs._drain_confs(spark, ckpt):
        if mode == "append":
            q = (
                df.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        else:
            def append(batch_df, batch_id):
                batch_df.write.mode("append").parquet(sink)

            q = (
                df.writeStream.foreachBatch(append)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()


def _sink_rows(spark, sink):
    if not _os.path.isdir(sink):
        return []
    files = [f for f in _os.listdir(sink) if not f.startswith(("_", "."))]
    if not files:
        return []
    return sorted(map(tuple, spark.read.parquet(sink).collect()))


def _recovery_plans():
    from etl_asana_spark.streaming import jobs

    return [
        ("tumbling", jobs.plan_tumbling, "append"),
        ("sliding", jobs.plan_sliding, "append"),
        ("dedup", jobs.plan_dedup, "append"),
        ("static_join", jobs.plan_static_join, "append"),
        ("session", jobs.plan_session, "update"),
        ("stream_stream", jobs.plan_stream_stream, "append"),
    ]


@pytest.mark.parametrize(
    "name",
    [
        # tumbling stays as the default-selection representative; the
        # rest of the recovery matrix is opt-in (r11, see pytest.ini).
        p[0]
        if p[0] == "tumbling"
        else pytest.param(p[0], marks=pytest.mark.slow)
        for p in _recovery_plans()
    ],
)
def test_stop_after_batch0_restart_equals_uninterrupted(
    spark, sf_dir, tmp_path, tmp_path_factory, events_split, name
):
    plan, mode = {n: (p, m) for n, p, m in _recovery_plans()}[name]
    expected = _baseline_rows(spark, events_split, tmp_path_factory, name)
    staged, add_file2 = _make_staged(events_split, tmp_path)

    # Interrupted: batch 0 (file 1) → stop → file 2 arrives → resume.
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _drain_once(plan, spark, staged, mode, ckpt, sink)
    assert _os.path.isfile(_os.path.join(ckpt, "commits", "0"))
    add_file2()
    _drain_once(plan, spark, staged, mode, ckpt, sink)
    assert _sink_rows(spark, sink) == expected


@pytest.mark.parametrize(
    "name",
    ["tumbling", pytest.param("stream_stream", marks=pytest.mark.slow)],
)
def test_torn_commit_replay_is_exactly_once(
    spark, sf_dir, tmp_path, tmp_path_factory, events_split, name
):
    """Scenario 2: commits/0 deleted after run 1 — the on-disk shape of a
    crash between the batch-0 sink write and its commit record. The restart
    re-executes batch 0 (offsets are WAL'd) and must not duplicate its
    rows in the file sink, then drain file 2 normally."""
    plan, mode = {n: (p, m) for n, p, m in _recovery_plans()}[name]
    expected = _baseline_rows(spark, events_split, tmp_path_factory, name)
    staged, add_file2 = _make_staged(events_split, tmp_path)

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _drain_once(plan, spark, staged, mode, ckpt, sink)
    commit0 = _os.path.join(ckpt, "commits", "0")
    assert _os.path.isfile(commit0)
    _os.remove(commit0)  # the torn mid-drain crash
    add_file2()
    _drain_once(plan, spark, staged, mode, ckpt, sink)
    assert _sink_rows(spark, sink) == expected


def test_upsert_crash_recovery_equals_uninterrupted(
    spark, sf_dir, tmp_path, events_split
):
    """#61 foreachBatch upsert: stop after batch 0, resume the same
    checkpoint AND target. The per-batch append is idempotent under the
    read-side keep-rule, so the recovered target must merge to the same
    newest-event-per-user table as an uninterrupted drain."""
    from etl_asana_spark.operators.dedup import upsert_last_modified_wins
    from etl_asana_spark.streaming import jobs

    staged, add_file2 = _make_staged(events_split, tmp_path)

    def merged(target):
        return sorted(
            map(
                tuple,
                upsert_last_modified_wins(
                    spark.read.parquet(target),
                    key="user_id", modified_col="ts", tiebreak=["event_type"],
                ).collect(),
            )
        )

    base_target = str(tmp_path / "base_target")
    jobs.upsert_drain(spark, events_split["full"],
                      str(tmp_path / "base_ckpt"), base_target)
    expected = merged(base_target)
    assert expected

    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    jobs.upsert_drain(spark, staged, ckpt, target)
    add_file2()
    jobs.upsert_drain(spark, staged, ckpt, target)
    assert merged(target) == expected


@pytest.mark.slow  # ~11 s crash battery; opt-in (r11, see pytest.ini)
def test_sync_source_crash_recovery_resumes_from_token(spark, tmp_path):
    """#56 sync-token source: one AvailableNow run against the simple
    stream reader polls ONCE (batch_lines rows), so run 1 IS the
    stop-after-batch-0 crash; the restart must resume from the
    checkpointed sync token (not page 1) and the final complete-mode
    counts must equal the full-feed drain."""
    from etl_asana_spark.sources.datasource import register_asana_stream_source
    from etl_asana_spark.streaming import jobs

    register_asana_stream_source(spark)
    feed = (
        spark.readStream.format("asana_events")
        .option("path", jobs.STORIES_FIXTURE)
        .option("batch_lines", "100")
        .load()
    )
    agg = feed.groupBy("type").agg(F.count("*").alias("n_stories"))
    ckpt = str(tmp_path / "ckpt")

    def run(available_now: bool, name: str):
        with jobs._drain_confs(spark, ckpt):
            w = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
            )
            q = (w.trigger(availableNow=True) if available_now else w).start()
            try:
                if available_now:
                    q.awaitTermination()
                else:
                    q.processAllAvailable()
            finally:
                q.stop()
        return sorted(map(tuple, spark.table(name).collect()))

    partial = run(True, "sync_crash_run1")  # batch 0: first poll only
    assert sum(n for _, n in partial) == 100
    recovered = run(False, "sync_crash_run2")  # resume token → drain rest

    expected = sorted(
        map(tuple, jobs.sync_token_source_stream(spark).collect())
    )
    assert recovered == expected
    assert sum(n for _, n in recovered) == 300


@pytest.mark.parametrize("name", ["tumbling", "session"])
@pytest.mark.slow  # ~10 s provider crash battery; opt-in (r11, see pytest.ini)
def test_crash_recovery_under_rocksdb_provider(
    spark, sf_dir, tmp_path, tmp_path_factory, events_split, name
):
    """Recovery × the 100 TB state path: the stop-after-batch-0 restart
    must also hold when state lives in RocksDB (disk-backed, the provider
    a large cluster runs) — checkpointed SST state written by run 1 must
    reload in run 2. The recovered sink is compared against the
    DEFAULT-provider baseline (provider parity is a proven invariant
    above, so this is a strictly stronger check)."""
    plan, mode = {n: (p, m) for n, p, m in _recovery_plans()}[name]
    expected = _baseline_rows(spark, events_split, tmp_path_factory, name)
    staged, add_file2 = _make_staged(events_split, tmp_path)

    conf = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, _ROCKSDB_PROVIDER)
    try:
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        _drain_once(plan, spark, staged, mode, ckpt, sink)
        assert _os.path.isfile(_os.path.join(ckpt, "commits", "0"))
        add_file2()
        _drain_once(plan, spark, staged, mode, ckpt, sink)
        assert _sink_rows(spark, sink) == expected
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def test_torn_commit_replay_under_rocksdb_provider(
    spark, sf_dir, tmp_path, tmp_path_factory, events_split
):
    """Scenario 2 × the 100 TB state path: re-executing batch 0 after a
    torn commit requires the state store to REWIND to the version batch 0
    started from — proven above for the HDFS-backed provider; RocksDB
    maintains versioned SST snapshots and must rewind identically."""
    plan, mode = {n: (p, m) for n, p, m in _recovery_plans()}["tumbling"]
    expected = _baseline_rows(spark, events_split, tmp_path_factory, "tumbling")
    staged, add_file2 = _make_staged(events_split, tmp_path)

    conf = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, _ROCKSDB_PROVIDER)
    try:
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")
        _drain_once(plan, spark, staged, mode, ckpt, sink)
        commit0 = _os.path.join(ckpt, "commits", "0")
        assert _os.path.isfile(commit0)
        _os.remove(commit0)
        add_file2()
        _drain_once(plan, spark, staged, mode, ckpt, sink)
        assert _sink_rows(spark, sink) == expected
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


@pytest.mark.slow  # ~39 s subprocess crash matrix; opt-in (r11, see pytest.ini)
def test_crash_recovery_across_processes(
    spark, sf_dir, tmp_path, tmp_path_factory, events_split
):
    """The truest crash shape: the JVM that ran batch 0 is GONE — a fresh
    process (fresh SparkSession, fresh JVM) must resume the on-disk
    checkpoint and finish the drain. Run 1 executes in a subprocess that
    exits after draining file 1; the test session (a different process)
    then delivers file 2 and resumes the same checkpoint + sink.
    Everything recovery needs must therefore live on disk (offset WAL,
    commit log, state store, sink metadata) — no in-process residue."""
    import subprocess
    import sys as _sys

    plan, mode = {n: (p, m) for n, p, m in _recovery_plans()}["tumbling"]
    expected = _baseline_rows(spark, events_split, tmp_path_factory, "tumbling")
    staged, add_file2 = _make_staged(events_split, tmp_path)

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    script = f"""
import sys
sys.path.insert(0, {_os.getcwd()!r})
from etl_asana_spark.session import build_session
from etl_asana_spark.streaming import jobs
spark = build_session(app_name="recovery-run1")
spark.sparkContext.setLogLevel("ERROR")
with jobs._drain_confs(spark, {ckpt!r}):
    q = (jobs.plan_tumbling(spark, {staged!r})
         .writeStream.format("parquet")
         .option("path", {sink!r})
         .option("checkpointLocation", {ckpt!r})
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
spark.stop()
"""
    proc = subprocess.run(
        [_sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
        cwd=_os.getcwd(),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert _os.path.isfile(_os.path.join(ckpt, "commits", "0"))

    add_file2()
    _drain_once(plan, spark, staged, mode, ckpt, sink)
    assert _sink_rows(spark, sink) == expected


def test_stream_partitions_volume_rule(spark, tmp_path, monkeypatch):
    """r10 state-partition sizing: volume-derived with floor 2 and core
    cap, unprobeable input falls back to the static pin."""
    from pyspark import SparkContext

    from etl_asana_spark.streaming import jobs

    cores = spark.sparkContext.defaultParallelism

    small = tmp_path / "small.parquet"
    small.write_bytes(b"x" * 1024)
    assert jobs._stream_partitions(spark, str(small)) == "2"

    big = tmp_path / "big.bin"
    big.write_bytes(b"x" * (jobs._STREAM_TARGET_BYTES * (cores + 3)))
    assert jobs._stream_partitions(spark, str(big)) == str(cores)

    # no probe-able path: the static pin
    assert (
        jobs._stream_partitions(spark, None)
        == str(jobs._STREAM_SHUFFLE_PARTITIONS)
    )
    assert (
        jobs._stream_partitions(spark, str(tmp_path / "missing"))
        == str(jobs._STREAM_SHUFFLE_PARTITIONS)
    )

    # one core: the floor of 2 wins over the core cap of 1
    monkeypatch.setattr(
        SparkContext, "defaultParallelism", property(lambda self: 1)
    )
    assert jobs._stream_partitions(spark, str(big)) == "2"


def test_drain_confs_scope_the_checkpoint_manager(spark, tmp_path):
    """A local checkpoint drains under the FileSystem-rename checkpoint
    manager (no ``readlink`` fork per rename); a remote one keeps Spark's
    default. Both confs are restored when the drain ends."""
    from etl_asana_spark.streaming import jobs

    key = "spark.sql.streaming.checkpointFileManagerClass"
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    assert spark.conf.get(key, None) is None
    for local in (str(tmp_path / "ckpt"), f"file://{tmp_path}/ckpt"):
        with jobs._drain_confs(spark, local):
            assert spark.conf.get(key) == jobs._FS_CHECKPOINT_MANAGER
        assert spark.conf.get(key, None) is None
    with jobs._drain_confs(spark, "s3a://bucket/ckpt"):
        assert spark.conf.get(key, None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle
