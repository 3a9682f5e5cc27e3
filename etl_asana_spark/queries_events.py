"""Event-time windowing over the events table, batch mode (SURVEY §2.10 #53–#55).

These are the batch twins of the streaming jobs in ``streaming/``: identical
aggregation expressions, SQL-checkable here, re-used under ``readStream``
there. Oracle recipes:

- tumbling  ≡ date_trunc('hour', ts) grouping;
- sliding   ≡ explode each event into its ⌈window/slide⌉ = 2 epoch-aligned
  windows (Spark aligns window starts to multiples of the slide);
- session   ≡ gaps-and-islands (lag > gap ⇒ new island), probe-verified
  equal to Spark's session_window (946 = 946 sessions at sf0.001).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .functions.parity import dsum, sql_dsum
from .registry import load_tables


@register(
    "q_win_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#53 Tumbling 1-hour windows: per-hour, per-type event rollup."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("bucket"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
        )
    )


@register(
    "q_win_sliding",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) AS BIGINT) AS slot
        FROM events
    )
    SELECT make_timestamp((slot - off.i) * 1800 * 1000000) AS win_start,
           make_timestamp(((slot - off.i) * 1800 + 3600) * 1000000) AS win_end,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM ev CROSS JOIN (VALUES (0), (1)) AS off(i)
    GROUP BY 1, 2
    """,
)
def q_win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#54 Sliding windows (1 h window / 30 min slide): each event lands in
    exactly window/slide = 2 epoch-aligned windows; the oracle reproduces
    Spark's alignment by expanding each event into both."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q_win_session",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL 30 MINUTES
                    THEN 0 ELSE 1 END AS new_sess
        FROM ev
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sess_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTES AS session_end,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS session_value
    FROM numbered
    GROUP BY user_id, sess_id
    """,
)
def q_win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#55 Session windows: 30-minute-gap activity sessions per user.
    session_window.end = last event + gap, mirrored in the oracle."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sess"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("session_value"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@register(
    "q_scd2",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS prev_type
        FROM events
    ), changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               AS is_current
    FROM changes
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: each user's event_type observation feed
    collapsed to state-change intervals (valid_from / valid_to / is_current).
    One hash exchange on user_id serves both window passes; output size is
    proportional to state CHANGES, not observations. event_id tiebreaks the
    ordering so ties in ts cannot make the intervals engine-dependent."""
    from .operators.scd import scd2_history

    ev = load_tables(spark, sf_dir)["events"]
    return scd2_history(
        ev.select("user_id", "event_type", "ts", "event_id"),
        key="user_id",
        state_col="event_type",
        ts_col="ts",
        tiebreak=["event_id"],
    )


def _hll_rollup_oracle() -> str:
    from .queries_core import _hll_oracle_cte

    return (
        _hll_oracle_cte(
            "date_trunc('week', date_trunc('day', CAST(ts AS TIMESTAMP)))",
            "week",
        )
        + """
    SELECT week, ROUND(hll_estimate, 4) AS approx_users
    FROM est ORDER BY week
    """
    )


@register("q_agg_hll_rollup", oracle=_hll_rollup_oracle())
def q_agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counts: per-day HLL register tables of
    user_id, MAX-merged into weekly distinct-user estimates. THE scale
    pattern for distinct counts over rollup hierarchies — at 100 TB you
    materialize the small daily register table once and answer any coarser
    granularity by merging registers, never rescanning the fact.

    SQL-oracle-checked since round 6 (previously rows-only): the
    registered key rolls up the portable HLL
    (operators.sketch.hll_build/hll_estimate) whose registers DuckDB
    replays exactly; the weekly merge is ``groupBy(week, bucket).max(rho)``
    over the daily rows — the same answer as sketching weeks directly,
    which is the re-aggregation property (asserted in tests). Spark's
    ``hll_sketch_agg`` (DataSketches) remains the library fast path with
    an engine-specific estimator."""
    from .operators import sketch

    ev = load_tables(spark, sf_dir)["events"]
    daily = sketch.hll_build(
        ev.withColumn("day", F.date_trunc("day", "ts")), "user_id", ["day"]
    )
    weekly = daily.groupBy(
        F.date_trunc("week", "day").alias("week"), "bucket"
    ).agg(F.max("rho").alias("rho"))
    return (
        sketch.hll_estimate(weekly, ["week"])
        .select("week", F.round("hll_estimate", 4).alias("approx_users"))
        .orderBy("week")
    )


def _cms_oracle_sql(depth: int = 4, width: int = 8192, topk: int = 10) -> str:
    """DuckDB replay of the portable count-min sketch: per hash row i,
    bucket = ((a_i·(x mod P) + b_i) mod P) mod width, counter counts,
    estimate = min over the key's depth counters. Coefficients are
    single-sourced from operators.sketch so engine and oracle cannot
    drift."""
    from .operators.sketch import CMS_COEFFS, CMS_P

    # ((k % P) + P) % P mirrors Spark's pmod: DuckDB's bare % takes the
    # dividend's sign, so a negative user_id would bucket differently
    # (r06 review finding).
    x = f"(((user_id % {CMS_P}) + {CMS_P}) % {CMS_P})"
    rows = "\n        UNION ALL\n".join(
        f"        SELECT user_id, {i} AS i,"
        f" (({a} * {x} + {b}) % {CMS_P}) % {width} AS bucket"
        f" FROM events WHERE user_id IS NOT NULL"
        for i, (a, b) in enumerate(CMS_COEFFS[:depth])
    )
    return f"""
    WITH pairs AS (
{rows}
    ), sketch AS (
        SELECT i, bucket, COUNT(*) AS cnt FROM pairs GROUP BY i, bucket
    ), exact_top AS (
        SELECT user_id, COUNT(*) AS n_events
        FROM events GROUP BY user_id
        ORDER BY n_events DESC, user_id LIMIT {topk}
    ), est AS (
        SELECT p.user_id, MIN(s.cnt) AS cms_estimate
        FROM (SELECT DISTINCT user_id, i, bucket FROM pairs
              WHERE user_id IN (SELECT user_id FROM exact_top)) p
        JOIN sketch s USING (i, bucket)
        GROUP BY p.user_id
    )
    SELECT t.user_id, t.n_events, e.cms_estimate
    FROM exact_top t JOIN est e USING (user_id)
    """


@register("q_agg_cms_topk", oracle=_cms_oracle_sql())
def q_agg_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with a count-min sketch (operators/sketch.py): build
    the 4×8192 counter table over event user_ids, then estimate the exact
    top-10 users' counts from the sketch alone. At 100 TB the sketch is the
    artifact you keep: a few hundred KB answers "how hot is key X" for any
    key without rescanning, and daily sketches merge into weekly by
    counter-sum (cms_merge) — same rollup shape as q_agg_hll_rollup.

    SQL-oracle-checked since round 6 (previously rows-only): the sketch
    hashes with the integer LCG family, which DuckDB replays
    counter-for-counter (``_cms_oracle_sql``). The never-undercounts and
    εN overcount guarantees and the merge property are asserted in
    tests/test_llm_ops.py."""
    from .operators import sketch

    ev = load_tables(spark, sf_dir)["events"]
    cms = sketch.cms_build(ev, "user_id")
    exact_top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )
    return exact_top.join(
        sketch.cms_estimate(cms, exact_top.select("user_id"), "user_id"),
        "user_id",
    ).select("user_id", "n_events", "cms_estimate")


@register(
    "q_join_interval",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS prev_type
        FROM events WHERE event_type <> 'purchase'
    ), changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    ), intervals AS (
        SELECT user_id, event_type AS state, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM changes
    )
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           i.state AS context_state, p.value AS purchase_value
    FROM events p
    JOIN intervals i
      ON p.user_id = i.user_id
     AND CAST(p.ts AS TIMESTAMP) >= i.valid_from
     AND (i.valid_to IS NULL OR CAST(p.ts AS TIMESTAMP) < i.valid_to)
    WHERE p.event_type = 'purchase'
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join: each purchase looked up against the SCD2
    state history (built from the non-purchase feed) to recover the user's
    activity state at purchase time. The equi key (user_id) carries the
    join — the validity range is a post-join residual — so this plans as a
    keyed hash/sort-merge join, NEVER a nested-loop over intervals; at
    100 TB both sides shuffle once on user_id and intervals-per-user is
    small by construction (changes, not observations)."""
    from .operators.scd import scd2_history

    ev = load_tables(spark, sf_dir)["events"]
    intervals = scd2_history(
        ev.filter(F.col("event_type") != "purchase")
        .select("user_id", "event_type", "ts", "event_id"),
        key="user_id",
        state_col="event_type",
        ts_col="ts",
        tiebreak=["event_id"],
    ).select(
        F.col("user_id").alias("i_user_id"), "state", "valid_from", "valid_to"
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    return (
        purchases.join(
            intervals,
            (F.col("user_id") == F.col("i_user_id"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        )
        .select(
            "event_id", "user_id", F.col("ts").alias("purchase_ts"),
            F.col("state").alias("context_state"),
            F.col("value").alias("purchase_value"),
        )
    )


@register(
    "q_join_range_bucketed",
    oracle="""
    WITH err_hours AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS incident_hour,
               min(CAST(ts AS TIMESTAMP)) AS start_ts
        FROM events WHERE event_type = 'error'
        GROUP BY 1 HAVING COUNT(*) >= 3
    ), incidents AS (
        SELECT incident_hour, start_ts,
               start_ts + INTERVAL 45 MINUTE AS end_ts
        FROM err_hours
    )
    SELECT i.incident_hour,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM incidents i JOIN events e
      ON CAST(e.ts AS TIMESTAMP) >= i.start_ts
     AND CAST(e.ts AS TIMESTAMP) <  i.end_ts
    GROUP BY 1
    """,
)
def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join at scale: incident windows (hours with ≥3 errors,
    45 min from the first error) joined to ALL events by time containment
    alone — no shared key. operators/joins.py::range_join_bucketed
    manufactures the equi key (hour buckets) so the plan is a hash join +
    residual filter, never the BroadcastNestedLoopJoin the raw theta form
    would produce (plan-asserted in tests/test_plans.py). The oracle states
    the raw containment join — parity proves the decomposition exact."""
    from .operators.joins import range_join_bucketed

    ev = load_tables(spark, sf_dir)["events"]
    incidents = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("incident_hour"))
        .agg(F.min("ts").alias("start_ts"), F.count("*").alias("_n"))
        .filter(F.col("_n") >= 3)
        .select(
            "incident_hour",
            "start_ts",
            (F.col("start_ts") + F.expr("INTERVAL 45 MINUTES")).alias("end_ts"),
        )
    )
    return (
        range_join_bucketed(ev, incidents, "ts", "start_ts", "end_ts")
        .groupBy("incident_hour")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "q_interval_overlap",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL 30 MINUTES
                    THEN 0 ELSE 1 END AS new_sess
        FROM ev
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sess_id
        FROM flagged
    ),
    sess AS (
        SELECT user_id, MIN(ts) AS t0, MAX(ts) + INTERVAL 30 MINUTES AS t1
        FROM numbered GROUP BY user_id, sess_id
    ),
    pts AS (
        SELECT t0 AS t, 1 AS delta FROM sess
        UNION ALL
        SELECT t1 AS t, -1 AS delta FROM sess
    ),
    run AS (
        SELECT t, SUM(delta) OVER (
            ORDER BY t, delta
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS conc
        FROM pts
    )
    SELECT CAST(CAST(t AS DATE) AS VARCHAR) AS day,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM run GROUP BY CAST(t AS DATE)
    """,
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: peak simultaneous user sessions/day.

    Sessions (30-min gap) become ±1 boundary points; a prefix sum over the
    global time order yields the concurrency curve. A naive global running
    sum is a single-partition window — the one plan that cannot scale — so
    the prefix sum is decomposed sort-free into two phases: (1) per-hour
    bucket delta totals, cumulated over the tiny bucket axis (~hours, not
    rows) into per-bucket offsets; (2) a partitioned running sum WITHIN each
    hour bucket plus the bucket's offset. Rows shuffle once on the bucket
    key; no stage ever sees a global sort. Ties order ends (−1) before
    starts (+1), so touching sessions never count as overlapping — the
    multiset of prefix values is deterministic under that ordering, making
    the per-day MAX exact on both engines.
    """
    t = load_tables(spark, sf_dir)
    sess = (
        t["events"]
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sess"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("sess.start").alias("t0"), F.col("sess.end").alias("t1"))
    )
    pts = sess.select(
        F.col("t0").alias("t"), F.lit(1).alias("delta")
    ).unionAll(sess.select(F.col("t1").alias("t"), F.lit(-1).alias("delta")))
    pts = pts.withColumn("bucket", F.date_trunc("hour", F.col("t")))
    # Phase 1: bucket totals → exclusive running offsets (bucket-axis only).
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        pts.groupBy("bucket")
        .agg(F.sum("delta").alias("bsum"))
        .withColumn("offset", F.coalesce(F.sum("bsum").over(wb), F.lit(0)))
        .select("bucket", "offset")
    )
    # Phase 2: in-bucket running sum + offset = exact global prefix sum.
    win = (
        Window.partitionBy("bucket")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.join(F.broadcast(offsets), "bucket").withColumn(
        "conc", F.col("offset") + F.sum("delta").over(win)
    )
    return run.groupBy(F.to_date("t").cast("string").alias("day")).agg(
        F.max("conc").alias("max_concurrent")
    )


@register(
    "q_event_paths",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL 30 MINUTES
                    THEN 0 ELSE 1 END AS new_sess
        FROM ev
    ),
    numbered AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sess_id
        FROM flagged
    ),
    ranked AS (
        SELECT user_id, sess_id, ts, event_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id, sess_id ORDER BY ts, event_id
               ) AS rn
        FROM numbered
    ),
    paths AS (
        SELECT user_id, sess_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM ranked WHERE rn <= 5
        GROUP BY user_id, sess_id
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 25
    """,
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths: the ordered event-type sequence (first 5 events)
    per 30-min session, counted across sessions — the funnel-discovery /
    behavioral-clustering shape.

    The per-session sequence is built INSIDE the session aggregate:
    collect_list of (ts, event_id, type) structs, array_sort (lexicographic
    on the unique (ts, event_id) prefix — deterministic under any shuffle
    order), slice to 5, join with '>'. One shuffle sessionizes, one counts
    paths, top-25 is TakeOrderedAndProject. No window pass over raw events
    is needed — at 100 TB the sort happens per-session in memory (sessions
    are bounded), never as a global or per-user sort.
    """
    t = load_tables(spark, sf_dir)
    path = F.concat_ws(
        ">",
        F.slice(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
            1,
            5,
        ),
    )
    sess = (
        t["events"]
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("s"))
        .agg(path.alias("path"))
    )
    return (
        sess.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(25)
    )


@register(
    "q_cumulative_uniques",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
    ),
    per_day AS (
        SELECT day, COUNT(*) AS new_users FROM first_seen GROUP BY day
    )
    SELECT CAST(day AS VARCHAR) AS day, new_users,
           -- CAST: DuckDB windowed SUM(BIGINT) yields HUGEINT, which pandas
           -- materializes as float64 and the driver's value-hash then
           -- distinguishes from Spark's int64 (r02 driver red).
           CAST(SUM(new_users) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM per_day
    """,
)
def q_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth-curve metric.

    COUNT(DISTINCT) OVER a running frame is unsupported (and would be
    quadratic anyway); the scalable identity is first-seen attribution:
    each user contributes to exactly one day (min event date — one shuffle
    on user_id), days aggregate to new-user counts, and the running sum
    over the DAY axis (cardinality = days, not rows) is the cumulative
    distinct count. The only ordered window runs over ~10³ day rows, never
    the raw events.
    """
    t = load_tables(spark, sf_dir)
    first_seen = t["events"].groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    per_day = first_seen.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        F.col("day").cast("string").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


@register(
    "q_anomaly_mad",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n
        FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    med AS (
        SELECT event_type, MEDIAN(n) AS m FROM daily GROUP BY event_type
    ),
    dev AS (
        SELECT d.event_type, d.day, d.n, med.m, ABS(d.n - med.m) AS adev
        FROM daily d JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, MEDIAN(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT dev.event_type, CAST(dev.day AS VARCHAR) AS day, dev.n AS n_events,
           ROUND((dev.n - dev.m) / (1.4826 * mad.mad), 6) AS robust_z
    FROM dev JOIN mad USING (event_type)
    WHERE ABS(dev.n - dev.m) > 3.0 * 1.4826 * mad.mad
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume-anomaly detection via median absolute deviation: days
    whose per-type event count deviates more than 3 scaled MADs from that
    type's median. The mean/σ twin (q_anomaly_days) breaks when the
    anomaly itself inflates σ; medians don't move, which is why MAD is the
    monitoring-pipeline standard. Two aggregation rounds over the (tiny)
    per-day rollup, each median exact (a selection, not a sum) and each
    per-type statistic rejoined as a broadcast; the events fact is scanned
    once. 1.4826 (the normal-consistency constant) is the same literal on
    both engines; the flag threshold compares exact integers against exact
    medians, so membership cannot flip."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    med = daily.groupBy("event_type").agg(F.median("n").alias("m"))
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("m"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("n") - F.col("m")) > 3.0 * 1.4826 * F.col("mad"))
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            F.col("n").alias("n_events"),
            F.round((F.col("n") - F.col("m")) / (1.4826 * F.col("mad")), 6).alias("robust_z"),
        )
    )


@register(
    "q_events_markov",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS curr_type, COUNT(*) AS n_trans
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    outdeg AS (
        SELECT prev_type, SUM(n_trans) AS n_from
        FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.curr_type,
           CAST(t.n_trans AS BIGINT) AS n_trans,
           ROUND(CAST(t.n_trans AS DOUBLE) / o.n_from, 8) AS p
    FROM trans t JOIN outdeg o USING (prev_type)
    """,
)
def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    P(next event type | current), the behavioral model behind funnel
    prediction and anomaly scoring.

    One window pass (lag over user, event-time order with a unique-key
    tiebreak — deterministic successor pairing), then two grouped aggs at
    (type × type) grain: 25 cells regardless of fact size, so the heavy
    work is exactly one shuffle on user_id and the probabilities are
    double divisions of exact counts — engine-identical. At 100 TB the
    window shuffle dominates and is the same one any sessionization
    already pays; the transition table itself is broadcast-sized.
    """
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = t["events"].select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    outdeg = trans.groupBy("prev_type").agg(F.sum("n_trans").alias("n_from"))
    return trans.join(F.broadcast(outdeg), "prev_type").select(
        "prev_type",
        "curr_type",
        "n_trans",
        F.round(F.col("n_trans").cast("double") / F.col("n_from"), 8).alias("p"),
    )


@register(
    "q_weekday_seasonality",
    oracle=f"""
    SELECT CAST(isodow(ts) AS INT) AS weekday,
           CAST(CAST(hour(ts) AS BIGINT) // 6 AS INT) AS day_quarter,
           COUNT(*) AS n_events,
           {{dsum_value}} AS total_value
    FROM events
    GROUP BY isodow(ts), CAST(hour(ts) AS BIGINT) // 6
    """.format(dsum_value=sql_dsum("value")),
)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × day-quarter seasonality profile — the heat-map behind
    capacity planning and anomaly baselines (is Monday morning always
    like this?). ISO weekday (Mon=1..Sun=7) × 6-hour bucket: 28 cells
    regardless of fact size; one grouped aggregation with both grouping
    keys derived in the scan projection (codegen'd date-part extraction,
    no pre-shuffle).
    """
    t = load_tables(spark, sf_dir)
    # Spark dayofweek: Sun=1..Sat=7 — convert to ISO (Mon=1..Sun=7).
    iso_dow = ((F.dayofweek("ts") + 5) % 7) + 1
    return (
        t["events"]
        .groupBy(
            iso_dow.cast("int").alias("weekday"),
            F.expr("CAST(hour(ts) div 6 AS INT)").alias("day_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "q_events_dau_wau_mau",
    oracle="""
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM user_days),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS snap_day
        FROM bounds
    ),
    joined AS (
        SELECT s.snap_day, u.user_id, u.day
        FROM spine s JOIN user_days u
          ON u.day BETWEEN s.snap_day - 29 AND s.snap_day
    )
    SELECT CAST(snap_day AS VARCHAR) AS snap_day,
           CAST(COUNT(DISTINCT CASE WHEN day = snap_day
                                    THEN user_id END) AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN day >= snap_day - 6
                                    THEN user_id END) AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau,
           ROUND(CAST(COUNT(DISTINCT CASE WHEN day = snap_day
                                          THEN user_id END) AS DOUBLE)
                 / COUNT(DISTINCT user_id), 8) AS stickiness
    FROM joined
    GROUP BY snap_day
    """,
)
def q_events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU + stickiness (DAU/MAU) — the engagement metric family
    every product dashboard leads with, computed for every day of the range
    with true trailing windows (not calendar buckets).

    Plan: the fact reduces to distinct (user, day) once; the day spine is
    calendar-sized and BROADCAST, so the trailing-window expansion is a
    broadcast range join with bounded fan-out (each user-day lands in at
    most 30 snapshots) — never a shuffle of the fact against itself. The
    three distinct counts share one aggregation over the expanded frame.
    At 100 TB the user-day reduction is the heavy (and partial-agg
    friendly) step; the expansion after it is proportional to active
    users × 30, not raw events.
    """
    t = load_tables(spark, sf_dir)
    user_days = (
        t["events"].select("user_id", F.to_date("ts").alias("day")).distinct()
    )
    bounds = user_days.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("snap_day")
    )
    joined = user_days.join(
        F.broadcast(spine),
        (F.col("day") >= F.date_sub(F.col("snap_day"), 29))
        & (F.col("day") <= F.col("snap_day")),
    )
    return joined.groupBy("snap_day").agg(
        F.countDistinct(
            F.when(F.col("day") == F.col("snap_day"), F.col("user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(
                F.col("day") >= F.date_sub(F.col("snap_day"), 6),
                F.col("user_id"),
            )
        ).alias("wau"),
        F.countDistinct("user_id").alias("mau"),
        F.round(
            F.countDistinct(
                F.when(F.col("day") == F.col("snap_day"), F.col("user_id"))
            ).cast("double")
            / F.countDistinct("user_id"),
            8,
        ).alias("stickiness"),
    ).select(
        F.col("snap_day").cast("string").alias("snap_day"),
        "dau",
        "wau",
        "mau",
        "stickiness",
    )


@register(
    "q_ab_test_lift",
    oracle=f"""
    WITH assigned AS (
        SELECT user_id,
               CASE WHEN (user_id * 2654435761) % 4294967296 % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv,
               CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
                   AS purchase_value
        FROM events
    ),
    per_user AS (
        SELECT arm, user_id,
               MAX(conv) AS converted,
               {{dsum_pv}} AS user_value
        FROM assigned GROUP BY arm, user_id
    )
    SELECT arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 8) AS conv_rate,
           ROUND(SUM(CAST(floor(user_value * 1000000 + 0.5) AS BIGINT))
                 / 1000000.0 / COUNT(*), 8) AS avg_user_value
    FROM per_user
    GROUP BY arm
    """.format(dsum_pv=sql_dsum("purchase_value")),
)
def q_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hash-assigned to two
    arms (the same Knuth multiplicative hash as the sampling family, so
    assignment is a pure function of user_id — reproducible across engines,
    runs, and partitionings), then per-arm conversion rate and average
    per-user purchase value.

    Plan: assignment is per-row arithmetic in the scan; the analysis is two
    grouped aggregations (user grain, then arm grain) — the same
    partial-agg-friendly shape as any funnel. Per-user values re-enter the
    arm-level mean through fixed-point units so the division is over an
    exact sum. At 100 TB this is the nightly experiment scorecard: one
    scan, two shuffles, two rows out.
    """
    t = load_tables(spark, sf_dir)
    arm = F.when(
        (F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296) % 2 == 0,
        "A",
    ).otherwise("B")
    assigned = t["events"].select(
        "user_id",
        arm.alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(0.0)
        .alias("purchase_value"),
    )
    per_user = assigned.groupBy("arm", "user_id").agg(
        F.max("conv").alias("converted"),
        dsum("purchase_value").alias("user_value"),
    )
    return per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(
            F.sum("converted").cast("double") / F.count(F.lit(1)), 8
        ).alias("conv_rate"),
        F.round(
            F.sum(
                F.floor(F.col("user_value") * 1000000 + 0.5).cast("long")
            )
            / F.lit(1000000.0)
            / F.count(F.lit(1)),
            8,
        ).alias("avg_user_value"),
    )


@register(
    "q_conversion_latency",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
    ),
    matched AS (
        SELECT p.event_id,
               (epoch_us(p.ts)
                - epoch_us(MAX(CASE WHEN v.view_ts <= p.ts
                                    THEN v.view_ts END))) // 1000000
                   AS latency_sec
        FROM p JOIN v ON p.user_id = v.user_id
        GROUP BY p.event_id, p.ts
        HAVING MAX(CASE WHEN v.view_ts <= p.ts THEN v.view_ts END) IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(CAST(median(latency_sec) AS DOUBLE), 4) AS p50_sec,
           ROUND(CAST(quantile_cont(latency_sec, 0.90) AS DOUBLE), 4) AS p90_sec,
           ROUND(CAST(quantile_cont(latency_sec, 0.99) AS DOUBLE), 4) AS p99_sec
    FROM matched
    """,
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: seconds from a user's latest prior
    view to each purchase (the backward as-of pairing), summarized as exact
    p50/p90/p99 — the SLA-style readout of how long intent takes to close.

    The as-of pairing is the same one-shuffle conditional-argmax as
    q_join_asof; latencies are exact integer seconds; the percentiles are
    exact continuous quantiles over the bounded conversions set (rounded to
    absorb the engines' equivalent interpolation arithmetic). One summary
    row out.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("ts").alias("view_ts")
    )
    matched = (
        p.join(v, F.col("user_id") == F.col("v_user_id"))
        .groupBy("event_id", "ts")
        .agg(
            F.max(
                F.when(F.col("view_ts") <= F.col("ts"), F.col("view_ts"))
            ).alias("last_view_ts")
        )
        .filter(F.col("last_view_ts").isNotNull())
        .select(
            F.expr(
                "(unix_micros(ts) - unix_micros(last_view_ts)) div 1000000"
            ).alias("latency_sec")
        )
    )
    return matched.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.median("latency_sec"), 4).alias("p50_sec"),
        F.round(F.percentile("latency_sec", 0.90), 4).alias("p90_sec"),
        F.round(F.percentile("latency_sec", 0.99), 4).alias("p99_sec"),
    )
