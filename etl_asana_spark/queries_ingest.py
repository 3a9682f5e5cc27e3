"""Ingestion queries (SURVEY §2.1 #3–#8, §7 M8) — Asana-shaped JSON → rows.

The R1/R2/R3 reconstruction of the reference's pipeline (SURVEY §0.3; the
snapshot is empty, so shapes come from the public Asana API), run offline on
the committed deterministic fixtures (fixtures/*.ndjson, seed=42). Oracles
read the same files via DuckDB ``read_json`` with an explicit column spec —
the same no-inference discipline the Spark side uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import register
from .functions.parity import davg, dsum, sql_davg, sql_dsum
from .registry import load_tables
from .sources import asana
from .sources.fixtures import FIXTURES_DIR, N_TASKS, ensure_fixtures

_B1 = str(FIXTURES_DIR / "tasks_batch1.ndjson")
_B2 = str(FIXTURES_DIR / "tasks_batch2.ndjson")

#: DuckDB read_json column spec — mirrors asana.TASK_SCHEMA field for field.
_COLS = (
    "{'gid':'VARCHAR','name':'VARCHAR','notes':'VARCHAR','completed':'BOOLEAN',"
    "'completed_at':'VARCHAR','created_at':'VARCHAR','modified_at':'VARCHAR',"
    "'due_on':'VARCHAR','start_on':'VARCHAR',"
    "'assignee':'STRUCT(gid VARCHAR, name VARCHAR)',"
    "'parent':'STRUCT(gid VARCHAR)',"
    "'projects':'STRUCT(gid VARCHAR, name VARCHAR)[]',"
    "'memberships':'STRUCT(project STRUCT(gid VARCHAR), "
    "section STRUCT(gid VARCHAR, name VARCHAR))[]',"
    "'tags':'STRUCT(gid VARCHAR, name VARCHAR)[]',"
    "'num_likes':'BIGINT',"
    "'custom_fields':'STRUCT(gid VARCHAR, name VARCHAR, type VARCHAR, "
    "display_value VARCHAR)[]'}"
)


def _read_json(path: str) -> str:
    return f"read_json('{path}', format='newline_delimited', columns={_COLS})"


@register(
    "q_ingest_json",
    oracle=f"""
    SELECT gid, name, completed, num_likes,
           CAST(created_at AS TIMESTAMP) AS created_ts,
           CAST(modified_at AS TIMESTAMP) AS modified_ts,
           CAST(CAST(due_on AS DATE) AS VARCHAR) AS due_date,
           assignee.gid AS assignee_gid,
           parent.gid AS parent_gid,
           CAST(len(tags) AS BIGINT) AS n_tags,
           CAST(length(notes) AS BIGINT) AS notes_len
    FROM {_read_json(_B1)}
    """,
)
def q_ingest_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#3 JSON ingest with explicit schema + R2 scalar coercion (ISO-8601 →
    timestamp/date, nested refs → foreign-key columns)."""
    tasks = asana.read_tasks(spark, _B1)
    out = asana.coerce_task_scalars(tasks)
    return out.withColumn("n_tags", F.col("n_tags").cast("long")).withColumn(
        "notes_len", F.col("notes_len").cast("long"))


@register(
    "q_ingest_flatten",
    oracle=f"""
    SELECT t.gid AS task_gid, tag.gid AS tag_gid, tag.name AS tag_name
    FROM {_read_json(_B1)} t, unnest(t.tags) AS u(tag)
    """,
)
def q_ingest_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#4 nested→relational flatten: tags array-of-structs → bridge rows.
    ``explode`` is a generator inside the scan stage — zero shuffle."""
    return asana.flatten_tags(asana.read_tasks(spark, _B1))


@register(
    "q_ingest_cf_pivot",
    oracle=f"""
    SELECT t.gid,
           max(CASE WHEN cf.name = 'priority' THEN cf.display_value END) AS cf_priority,
           CAST(max(CASE WHEN cf.name = 'estimate' THEN cf.display_value END)
                AS DOUBLE) AS cf_estimate,
           max(CASE WHEN cf.name = 'team' THEN cf.display_value END) AS cf_team
    FROM {_read_json(_B1)} t, unnest(t.custom_fields) AS u(cf)
    GROUP BY t.gid
    """,
)
def q_ingest_cf_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#5 custom-field EAV → named typed columns. Spark side is a pure
    projection (map_from_entries + element_at): no shuffle, no field-name
    discovery scan — the declared-fields discipline that survives 100 TB.
    (Oracle uses the equivalent unnest+conditional-agg relational form.)"""
    return asana.pivot_custom_fields(asana.read_tasks(spark, _B1))


@register(
    "q_load_upsert",
    oracle=f"""
    WITH unioned AS (
        SELECT gid, name, modified_at, completed FROM {_read_json(_B1)}
        UNION ALL
        SELECT gid, name, modified_at, completed FROM {_read_json(_B2)}
    ), ranked AS (
        SELECT gid, name, modified_at, completed,
               row_number() OVER (PARTITION BY gid ORDER BY modified_at DESC) AS rn
        FROM unioned
    )
    SELECT gid, name, CAST(modified_at AS TIMESTAMP) AS modified_ts, completed
    FROM ranked WHERE rn = 1
    """,
)
def q_load_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#8 last-modified-wins upsert across two sync batches: one window over
    a single shuffle on gid; newest modified_at survives per key."""
    b1 = asana.read_tasks(spark, _B1).select("gid", "name", "modified_at", "completed")
    b2 = asana.read_tasks(spark, _B2).select("gid", "name", "modified_at", "completed")
    merged = asana.upsert_batches(b1, b2)
    return merged.select(
        "gid", "name",
        F.col("modified_at").cast("timestamp").alias("modified_ts"),
        "completed",
    )


@register(
    "q_ingest_incremental",
    oracle=f"""
    SELECT gid, name, modified_at
    FROM {_read_json(_B2)}
    WHERE modified_at > (SELECT max(modified_at) FROM {_read_json(_B1)})
    """,
)
def q_ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#7 incremental sync: checkpoint = max(modified_at) of the last batch;
    re-extract returns only newer rows. The checkpoint read is a scalar
    aggregate (sync-token state); the filter is a pushed-down string compare."""
    b1 = asana.read_tasks(spark, _B1)
    ckpt = asana.max_modified(b1)
    b2 = asana.read_tasks(spark, _B2)
    return asana.incremental_filter(b2, ckpt).select("gid", "name", "modified_at")


@register(
    "q_etl_pipeline",
    oracle=f"""
    WITH unioned AS (
        SELECT * FROM {_read_json(_B1)}
        UNION ALL
        SELECT * FROM {_read_json(_B2)}
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY gid
                                  ORDER BY modified_at DESC) AS rn
        FROM unioned
    )
    SELECT gid, name, completed, num_likes,
           CAST(created_at AS TIMESTAMP) AS created_ts,
           CAST(modified_at AS TIMESTAMP) AS modified_ts,
           CAST(CAST(due_on AS DATE) AS VARCHAR) AS due_date,
           assignee.gid AS assignee_gid,
           parent.gid AS parent_gid,
           CAST(len(tags) AS BIGINT) AS n_tags,
           CAST(length(notes) AS BIGINT) AS notes_len
    FROM ranked WHERE rn = 1
    """,
)
def q_etl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reference program in one call (pipelines.run_asana_etl):
    ingest both sync batches → last-modified-wins merge → typed task table.
    The oracle re-derives the same end state in one SQL statement (union →
    newest-per-gid → typed projection), so the full program is value-hashed,
    not just row-counted; idempotence/incremental-equivalence properties
    are additionally asserted in tests/test_pipeline.py."""
    from .pipelines import run_asana_etl
    from .sources.asana import coerce_task_scalars

    out = coerce_task_scalars(run_asana_etl(spark).tasks)
    return out.withColumn("n_tags", F.col("n_tags").cast("long")).withColumn(
        "notes_len", F.col("notes_len").cast("long")
    )


@register(
    "q_source_paginated",
    oracle=f"""
    SELECT gid, name, completed, num_likes,
           CAST(created_at AS TIMESTAMP) AS created_ts,
           CAST(modified_at AS TIMESTAMP) AS modified_ts,
           CAST(CAST(due_on AS DATE) AS VARCHAR) AS due_date,
           assignee.gid AS assignee_gid,
           parent.gid AS parent_gid,
           CAST(len(tags) AS BIGINT) AS n_tags,
           CAST(length(notes) AS BIGINT) AS notes_len
    FROM {_read_json(_B1)}
    """,
)
def q_source_paginated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#6 paginated REST source, offline replay: page-plan DataFrame →
    ``mapInPandas`` fetch on executors → ``from_json`` typed parse. The
    transport itself isn't SQL, but its RESULT is the fixture's content —
    so the oracle reads the same file directly (same SQL as q_ingest_json),
    and the hash-match proves the page-fan-out + Arrow-batched fetch +
    typed parse pipeline is lossless end-to-end: no dropped/duplicated
    page, no column mangled in flight. Equality with the direct read is
    additionally property-tested in tests/test_ingest.py."""
    ensure_fixtures(FIXTURES_DIR)
    pages = asana.page_plan(spark, _B1, total=N_TASKS, page_size=50)
    parsed = asana.parse_fetched(asana.fetch_pages(pages))
    out = asana.coerce_task_scalars(parsed)
    return out.withColumn("n_tags", F.col("n_tags").cast("long")).withColumn(
        "notes_len", F.col("notes_len").cast("long")
    )


_STORIES = str(FIXTURES_DIR / "stories.ndjson")
_STORY_COLS = (
    "{'gid':'VARCHAR','task_gid':'VARCHAR','created_at':'VARCHAR',"
    "'created_by':'STRUCT(gid VARCHAR)','type':'VARCHAR','text':'VARCHAR'}"
)


@register(
    "q_ingest_stories",
    oracle=f"""
    WITH s AS (
        SELECT * FROM read_json('{_STORIES}', format='newline_delimited',
                                columns={_STORY_COLS})
    ), merged AS (
        SELECT gid, completed FROM (
            SELECT gid, completed, modified_at,
                   row_number() OVER (PARTITION BY gid ORDER BY modified_at DESC) AS rn
            FROM (
                SELECT gid, completed, modified_at FROM {_read_json(_B1)}
                UNION ALL
                SELECT gid, completed, modified_at FROM {_read_json(_B2)}
            )
        ) WHERE rn = 1
    )
    SELECT m.gid AS task_gid, m.completed,
           COUNT(s.gid) AS n_stories,
           COUNT(CASE WHEN s.type = 'comment' THEN 1 END) AS n_comments,
           MAX(CAST(s.created_at AS TIMESTAMP)) AS last_activity
    FROM merged m LEFT JOIN s ON s.task_gid = m.gid
    GROUP BY m.gid, m.completed
    """,
)
def q_ingest_stories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#3/#4 companion resource: stories (task activity) ingested with their
    own schema and rolled up per surviving task — comment counts + last
    activity, the per-entity enrichment the reference's per-task detail
    fetch produces."""
    stories = asana.read_stories(spark, _STORIES)
    b1 = asana.read_tasks(spark, _B1).select("gid", "completed", "modified_at")
    b2 = asana.read_tasks(spark, _B2).select("gid", "completed", "modified_at")
    merged = asana.upsert_batches(b1, b2).drop("modified_at")
    s = stories.select(
        F.col("gid").alias("story_gid"),
        F.col("task_gid"),
        F.col("type"),
        F.col("created_at").cast("timestamp").alias("created_ts"),
    )
    return (
        merged.join(s, merged["gid"] == s["task_gid"], "left")
        .groupBy(F.col("gid").alias("task_gid"), "completed")
        .agg(
            F.count("story_gid").alias("n_stories"),
            F.count(F.when(F.col("type") == "comment", 1)).alias("n_comments"),
            F.max("created_ts").alias("last_activity"),
        )
    )


_SECTIONS_CSV = str(FIXTURES_DIR / "sections.csv")


@register(
    "q_ingest_csv",
    oracle=f"""
    SELECT section_gid, project_gid, name, position,
           CAST(created_at AS TIMESTAMP) AS created_ts
    FROM read_csv('{_SECTIONS_CSV}', header=true,
                  columns={{'section_gid':'VARCHAR','project_gid':'VARCHAR',
                           'name':'VARCHAR','position':'INTEGER',
                           'created_at':'VARCHAR'}})
    WHERE position <= 3
    """,
)
def q_ingest_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with an EXPLICIT schema — never inferSchema (a second full
    scan of the data at 100 TB) — timestamps parsed from ISO strings after
    the read so malformed cells surface as NULLs, not job failures. Reads
    the committed sections fixture (Asana project sections export shape)."""
    schema = (
        "section_gid string, project_gid string, name string, "
        "position int, created_at string"
    )
    return (
        spark.read.schema(schema).option("header", True).csv(_SECTIONS_CSV)
        .filter(F.col("position") <= 3)
        .select(
            "section_gid", "project_gid", "name", "position",
            F.col("created_at").cast("timestamp").alias("created_ts"),
        )
    )


_SECTIONS_DIRTY_CSV = str(FIXTURES_DIR / "sections_dirty.csv")


@register(
    "q_ingest_quarantine",
    oracle=f"""
    WITH staged AS (
        SELECT section_gid, name,
               TRY_CAST(position AS INTEGER) AS position,
               TRY_CAST(created_at AS TIMESTAMP) AS created_ts,
               (section_gid IS NOT NULL)
                 AND TRY_CAST(position AS INTEGER) IS NOT NULL
                 AND COALESCE(TRY_CAST(position AS INTEGER), 0) > 0
                 AND TRY_CAST(created_at AS TIMESTAMP) IS NOT NULL AS is_valid
        FROM read_csv('{_SECTIONS_DIRTY_CSV}', header=true,
                      columns={{'section_gid':'VARCHAR','project_gid':'VARCHAR',
                               'name':'VARCHAR','position':'VARCHAR',
                               'created_at':'VARCHAR'}})
    )
    SELECT section_gid, name, position, created_ts, is_valid
    FROM staged
    """,
)
def q_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality quarantine gate: stage every CSV column as STRING (so a
    malformed cell can never kill the job), validate with try_cast + rule
    predicates, and flag rows instead of dropping them — the loader then
    routes is_valid=false to a quarantine sink for inspection while the
    clean slice proceeds. Explicit string-staging beats PERMISSIVE-mode
    magic at scale: the validation rules are visible, testable SQL, and the
    same expressions run identically on any engine."""
    schema = (
        "section_gid string, project_gid string, name string, "
        "position string, created_at string"
    )
    staged = spark.read.schema(schema).option("header", True).csv(_SECTIONS_DIRTY_CSV)
    pos = F.try_to_number(F.col("position"), F.lit("S999")).cast("int")
    ts = F.expr("try_cast(created_at AS timestamp)")
    return staged.select(
        "section_gid",
        "name",
        pos.alias("position"),
        ts.alias("created_ts"),
        (
            F.col("section_gid").isNotNull()
            & pos.isNotNull()
            & (F.coalesce(pos, F.lit(0)) > 0)
            & ts.isNotNull()
        ).alias("is_valid"),
    )


# ---------------------------------------------------------------------------
# Asana reporting layer — the analytics an etl-asana deployment runs on its
# warehouse after sync (velocity, workload), over the upserted current state.
# ---------------------------------------------------------------------------

_USERS = str(FIXTURES_DIR / "users.ndjson")
_USER_COLS = "{'gid':'VARCHAR','name':'VARCHAR','email':'VARCHAR'}"

#: Current-state CTE shared by the report oracles: union both sync batches,
#: keep the newest modified_at per gid (same upsert the Spark side runs).
_CURRENT_CTE = f"""
    unioned AS (
        SELECT gid, completed, completed_at, created_at, modified_at,
               assignee.gid AS assignee_gid, due_on
        FROM {_read_json(_B1)}
        UNION ALL
        SELECT gid, completed, completed_at, created_at, modified_at,
               assignee.gid AS assignee_gid, due_on
        FROM {_read_json(_B2)}
    ), current AS (
        SELECT gid, completed, completed_at, created_at,
               assignee_gid, due_on
        FROM (
            SELECT *, row_number() OVER (PARTITION BY gid
                                         ORDER BY modified_at DESC) AS rn
            FROM unioned
        ) WHERE rn = 1
    )
"""


@register(
    "q_golden_task_velocity",
    oracle=f"""
    WITH {_CURRENT_CTE},
    done AS (
        SELECT * FROM current WHERE completed AND completed_at IS NOT NULL
    )
    SELECT date_trunc('week', CAST(completed_at AS TIMESTAMP)) AS week,
           COUNT(*) AS n_completed,
           {sql_davg("date_diff('second', CAST(created_at AS TIMESTAMP), "
                     "CAST(completed_at AS TIMESTAMP)) / 3600.0")}
             AS avg_cycle_hours
    FROM done
    GROUP BY 1
    """,
)
def q_golden_task_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Team velocity report: weekly completed-task throughput + average
    cycle time (created → completed, hours) over the upserted current state.
    The upsert dedups across sync batches first — counting a task once per
    sync batch is the classic double-counted-velocity bug."""
    cur = asana.upsert_batches(
        asana.read_tasks(spark, _B1), asana.read_tasks(spark, _B2)
    )
    done = cur.filter(F.col("completed") & F.col("completed_at").isNotNull())
    cts = F.col("completed_at").cast("timestamp")
    # BIGINT seconds ÷ a DOUBLE: a bare 3600.0 would be a decimal division.
    cycle_hours = (
        "(unix_timestamp(CAST(completed_at AS TIMESTAMP))"
        " - unix_timestamp(CAST(created_at AS TIMESTAMP))) / CAST(3600 AS DOUBLE)"
    )
    return done.groupBy(F.date_trunc("week", cts).alias("week")).agg(
        F.count("*").alias("n_completed"),
        davg(cycle_hours).alias("avg_cycle_hours"),
    )


@register(
    "q_golden_assignee_load",
    oracle=f"""
    WITH {_CURRENT_CTE},
    open_tasks AS (SELECT * FROM current WHERE NOT completed)
    SELECT u.gid AS user_gid, u.name AS user_name,
           COUNT(*) AS n_open,
           CAST(SUM(CASE WHEN CAST(o.due_on AS DATE) < DATE '2024-02-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overdue,
           CAST(min(CAST(o.due_on AS DATE)) AS VARCHAR) AS next_due
    FROM open_tasks o
    JOIN read_json('{_USERS}', format='newline_delimited',
                   columns={_USER_COLS}) u
      ON o.assignee_gid = u.gid
    GROUP BY u.gid, u.name
    """,
)
def q_golden_assignee_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload report: open tasks per assignee with overdue count (vs the
    sync cutoff date) and next due date. The users dim is broadcast — at
    warehouse scale the task fact is huge, the user dim never is."""
    cur = asana.upsert_batches(
        asana.read_tasks(spark, _B1), asana.read_tasks(spark, _B2)
    )
    users = spark.read.schema("gid string, name string, email string").json(_USERS)
    open_tasks = cur.filter(~F.col("completed")).select(
        F.col("assignee.gid").alias("assignee_gid"),
        F.col("due_on").cast("date").alias("due"),
    )
    return (
        open_tasks.join(
            F.broadcast(users), F.col("assignee_gid") == F.col("gid")
        )
        .groupBy(F.col("gid").alias("user_gid"), F.col("name").alias("user_name"))
        .agg(
            F.count("*").alias("n_open"),
            F.sum(
                F.when(F.col("due") < F.lit("2024-02-01").cast("date"), 1).otherwise(0)
            ).cast("bigint").alias("n_overdue"),
            F.min("due").cast("string").alias("next_due"),
        )
    )


@register(
    "q_load_cdc_apply",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 1 THEN o_totalprice * CAST(1.1 AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 7 = 2
    """,
)
def q_load_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE: apply a deterministic I/U/D change feed to the orders
    snapshot through operators/cdc.py::apply_changes (full-outer join on the
    key; tombstones drop, newest full-row image wins, unchanged keys pass
    through). The oracle states the post-merge table directly — deletes for
    keys ≡0 (mod 7), a 10% price update for ≡1, and shifted-key inserts
    for ≡2 — so parity checks the MERGE semantics end-to-end."""
    from .operators import cdc
    from .registry import load_tables

    orders = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    m = F.col("o_orderkey") % 7
    deletes = orders.filter(m == 0).select(
        F.lit("D").alias("op"), "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter(m == 1).select(
        F.lit("U").alias("op"), "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    inserts = orders.filter(m == 2).select(
        F.lit("I").alias("op"),
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    )
    feed = deletes.unionByName(updates).unionByName(inserts)
    return cdc.apply_changes(orders, feed, "o_orderkey", op_col="op")


@register(
    "q_hierarchy_closure",
    oracle=f"""
    WITH RECURSIVE tasks AS (
        SELECT gid, parent.gid AS parent_gid FROM {_read_json(_B1)}
    ),
    cl AS (
        SELECT gid, gid AS root_gid, 0 AS depth
        FROM tasks WHERE parent_gid IS NULL
        UNION ALL
        SELECT t.gid, cl.root_gid, cl.depth + 1
        FROM tasks t JOIN cl ON t.parent_gid = cl.gid
    )
    SELECT gid, root_gid, depth FROM cl
    """,
)
def q_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtask-tree closure: every task mapped to its root task and depth.

    Asana tasks nest via ``parent`` (subtasks of subtasks); reporting rolls
    work up to the root. This variant is the engine-portable iterative
    frontier BFS (q_sql_recursive_cte is the same closure through Spark 4's
    native WITH RECURSIVE): level 0 = parentless roots; each iteration
    equi-joins the edge table against the previous frontier (one shuffle
    per level, or a broadcast when the frontier is small) and stops when a
    cheap ``isEmpty()`` limit-1 probe says the frontier died out. Work is
    O(edges × depth) — linear per level, bounded by tree height (task trees
    are shallow; for deep/viral graphs the same loop upgrades to pointer-
    doubling as in operators/dedup label propagation). The oracle is the
    recursive CTE the loop emulates.
    """
    tasks = asana.read_tasks(spark, _B1).select(
        "gid", F.col("parent.gid").alias("parent_gid")
    )
    closure = tasks.filter(F.col("parent_gid").isNull()).select(
        "gid", F.col("gid").alias("root_gid"), F.lit(0).alias("depth")
    )
    frontier = closure
    depth = 0
    while True:
        depth += 1
        nxt = (
            tasks.alias("t")
            .join(
                frontier.select(
                    F.col("gid").alias("parent_gid"), "root_gid", "depth"
                ).alias("f"),
                "parent_gid",
            )
            .select("t.gid", "f.root_gid", (F.col("f.depth") + 1).alias("depth"))
        )
        if nxt.isEmpty():
            break
        closure = closure.unionAll(nxt)
        frontier = nxt
        if depth > 64:  # cycle guard: task graphs are trees; fail loudly
            raise RuntimeError("hierarchy deeper than 64 — cycle in parent edges?")
    return closure


@register(
    "q_golden_burndown",
    oracle=f"""
    WITH t AS (
        SELECT CAST(created_at AS TIMESTAMP) AS created_ts,
               CAST(completed_at AS TIMESTAMP) AS completed_ts
        FROM {_read_json(_B1)}
    ),
    pts AS (
        SELECT CAST(created_ts AS DATE) AS day, 1 AS delta FROM t
        UNION ALL
        SELECT CAST(completed_ts AS DATE) AS day, -1 AS delta
        FROM t WHERE completed_ts IS NOT NULL
    ),
    daily AS (
        SELECT day, SUM(delta) AS net_delta FROM pts GROUP BY day
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(net_delta AS BIGINT) AS net_delta,
           CAST(SUM(net_delta) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS open_tasks
    FROM daily
    """,
)
def q_golden_burndown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asana burndown: open-task count per day from the task lifecycle.

    Creations are +1 boundary points, completions −1 (the same sweep-line
    identity as q_interval_overlap); the per-day net deltas aggregate
    first (one shuffle over raw tasks), and only the tiny day axis takes
    the ordered cumulative sum. This is the report every PM tool draws;
    on 100 TB of task history the plan is one re-aggregatable groupBy
    plus a day-cardinality window.
    """
    t = asana.read_tasks(spark, _B1).select(
        F.to_timestamp("created_at").alias("created_ts"),
        F.to_timestamp("completed_at").alias("completed_ts"),
    )
    pts = t.select(
        F.to_date("created_ts").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        t.filter(F.col("completed_ts").isNotNull()).select(
            F.to_date("completed_ts").alias("day"), F.lit(-1).alias("delta")
        )
    )
    daily = pts.groupBy("day").agg(F.sum("delta").alias("net_delta"))
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        F.col("net_delta").cast("long").alias("net_delta"),
        F.sum("net_delta").over(w).cast("long").alias("open_tasks"),
    )


@register(
    "q_source_datasource",
    oracle=f"""
    SELECT gid, name, completed,
           CAST(modified_at AS TIMESTAMP) AS modified_ts,
           assignee.gid AS assignee_gid, num_likes
    FROM {_read_json(_B1)}
    WHERE completed = false
    """,
)
def q_source_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paginated extract as a Spark-4 Python DataSource
    (sources/datasource.py): ``spark.read.format("asana_tasks")`` plans one
    input partition per API page (parallel fetch), and the ``completed =
    false`` predicate is PUSHED into the source (the API-query-param
    analog) rather than filtered post-scan. Hash-checked against DuckDB
    read_json over the same fixture."""
    from .sources.datasource import register_asana_source

    register_asana_source(spark)
    return (
        spark.read.format("asana_tasks")
        .option("path", _B1)
        .option("page_size", "64")
        .load()
        .filter(F.col("completed") == F.lit(False))
        .select(
            "gid",
            "name",
            "completed",
            F.to_timestamp("modified_at").alias("modified_ts"),
            "assignee_gid",
            "num_likes",
        )
    )


@register(
    "q_load_store_sink",
    oracle=f"""
    WITH unioned AS (
        SELECT gid, name, modified_at, completed FROM {_read_json(_B1)}
        UNION ALL
        SELECT gid, name, modified_at, completed FROM {_read_json(_B2)}
    ), ranked AS (
        SELECT gid, name, modified_at, completed,
               row_number() OVER (PARTITION BY gid ORDER BY modified_at DESC) AS rn
        FROM unioned
    )
    SELECT gid, name, CAST(modified_at AS TIMESTAMP) AS modified_ts, completed
    FROM ranked WHERE rn = 1
    """,
)
def q_load_store_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#9/R3 as a custom Python DataSourceWriter: both sync batches written
    through the ``asana_store`` sink (staged part files → all-or-nothing
    driver commit → atomic rename; see sources/datasource.py), then the
    store read back. The oracle is the relational upsert the sink's
    commit must equal — two sequential loads ≡ one windowed
    last-modified-wins merge."""
    from .scratch import fresh_dir
    from .sources.datasource import register_asana_store

    register_asana_store(spark)
    # fresh_dir, not scratch_dir: the two loads APPEND to the store to
    # exercise incremental-commit semantics, so a reused directory would
    # accumulate batches across invocations.
    store = fresh_dir("asana_store") + "/tasks.ndjson"
    cols = ["gid", "name", "modified_at", "completed"]
    for batch in (_B1, _B2):
        (
            asana.read_tasks(spark, batch)
            .select(*cols)
            .write.format("asana_store")
            .option("path", store)
            .mode("append")
            .save()
        )
    return (
        spark.read.schema(
            "gid string, name string, modified_at string, completed boolean"
        )
        .json(store)
        .select(
            "gid",
            "name",
            F.to_timestamp("modified_at").alias("modified_ts"),
            "completed",
        )
    )


@register(
    "q_golden_board",
    oracle=f"""
    SELECT m.project.gid AS project_gid,
           m.section.name AS section_name,
           COUNT(*) AS n_tasks,
           CAST(SUM(CASE WHEN t.completed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_done,
           round(CAST(SUM(CASE WHEN t.completed THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS pct_done
    FROM {_read_json(_B1)} t, unnest(t.memberships) AS u(m)
    GROUP BY m.project.gid, m.section.name
    """,
)
def q_golden_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asana board rollup: tasks and completion rate per (project, section)
    column — the kanban summary every board header shows. Memberships
    explode inside the scan stage (generator, no shuffle), one grouped
    aggregate with map-side partials on the bridge rows."""
    tasks = asana.read_tasks(spark, _B1)
    bridge = asana.flatten_memberships(tasks).join(
        tasks.select(F.col("gid").alias("task_gid"), "completed"), "task_gid"
    )
    done = F.sum(F.when(F.col("completed"), 1).otherwise(0))
    return bridge.groupBy("project_gid", "section_name").agg(
        F.count("*").alias("n_tasks"),
        done.cast("long").alias("n_done"),
        F.round(done.cast("double") / F.count("*"), 6).alias("pct_done"),
    )


@register(
    "q_ingest_orc",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders, {{dsum_total}} AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderstatus, o_orderpriority
    """.format(dsum_total=sql_dsum("o_totalprice")),
)
def q_ingest_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink roundtrip: one year of orders written to ORC
    partitioned by o_orderstatus, read back through Spark's vectorized ORC
    reader, then aggregated. The oracle runs the same aggregate on the
    original parquet view, so the SQL hash-check proves the roundtrip is
    lossless (timestamps, doubles, partition-column recovery) — DuckDB
    cannot read ORC itself. partitionBy on the low-cardinality status key
    is the 100 TB layout: status predicates become directory pruning, and
    the year filter still pushes into each ORC stripe's min/max index."""
    from .scratch import scratch_dir

    t = load_tables(spark, sf_dir)
    path = scratch_dir("orc_roundtrip", sf_dir) + "/orders_orc"
    src = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    src.write.mode("overwrite").partitionBy("o_orderstatus").orc(path)
    # Explicit read-back schema: at scale you never footer-sample thousands
    # of files to infer, and a filter that matched zero rows writes zero
    # data files — inference would throw UNABLE_TO_INFER_SCHEMA where the
    # correct answer is an empty frame.
    return (
        spark.read.schema(src.schema).orc(path)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "q_sink_json",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {{dsum_value}} AS total_value,
           min(ts) AS first_ts,
           max(ts) AS last_ts
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
    GROUP BY event_type
    """.format(dsum_value=sql_dsum("value")),
)
def q_sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source roundtrip: two days of events written as JSON
    partitioned by event_type, read back with an EXPLICIT schema (never
    inferSchema — a second full pass at 100 TB), then aggregated. The
    oracle aggregates the original parquet, so the hash check proves the
    roundtrip preserves timestamps (microsecond ISO-8601 via an explicit
    timestampFormat — Spark's default JSON format truncates to millis),
    doubles, and the partition-directory column. partitionBy on the
    low-cardinality event_type is the 100 TB layout: type predicates on
    read-back become directory pruning instead of file parsing.
    """
    from .scratch import scratch_dir

    t = load_tables(spark, sf_dir)
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    path = scratch_dir("json_roundtrip", sf_dir) + "/events_json"
    day = t["events"].filter(
        (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
    )
    (
        day.write.mode("overwrite")
        .partitionBy("event_type")
        .option("timestampFormat", ts_fmt)
        .json(path)
    )
    schema = day.schema
    back = (
        spark.read.schema(schema).option("timestampFormat", ts_fmt).json(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "q_sql_recursive_cte",
    oracle=f"""
    WITH RECURSIVE tasks AS (
        SELECT gid, parent.gid AS parent_gid FROM {_read_json(_B1)}
    ),
    cl AS (
        SELECT gid, gid AS root_gid, 0 AS depth
        FROM tasks WHERE parent_gid IS NULL
        UNION ALL
        SELECT t.gid, cl.root_gid, cl.depth + 1
        FROM tasks t JOIN cl ON t.parent_gid = cl.gid
    )
    SELECT gid, root_gid, depth FROM cl
    """,
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The subtask-tree closure through Spark 4's NATIVE ``WITH RECURSIVE``
    (the SQL entry point), hash-checked against DuckDB running the
    identical recursion — the same answer q_hierarchy_closure derives with
    its hand-rolled frontier BFS. Native recursion plans each step as a
    join against the previous iteration's result exactly like the manual
    loop, but inside one SQL statement with the engine managing the
    fixpoint; at 100 TB the same caveat applies as to the loop (work =
    edges × depth, fine for shallow task trees)."""
    ensure_fixtures(FIXTURES_DIR)
    asana.read_tasks(spark, _B1).select(
        "gid", F.col("parent.gid").alias("parent_gid")
    ).createOrReplaceTempView("task_edges")
    return spark.sql(
        """
        WITH RECURSIVE cl AS (
            SELECT gid, gid AS root_gid, 0 AS depth
            FROM task_edges WHERE parent_gid IS NULL
            UNION ALL
            SELECT t.gid, cl.root_gid, cl.depth + 1
            FROM task_edges t JOIN cl ON t.parent_gid = cl.gid
        )
        SELECT gid, root_gid, depth FROM cl
        """
    )


_DIRTY = str(FIXTURES_DIR / "events_feed_dirty.ndjson")


@register(
    "q_ingest_badlines",
    oracle=f"""
    WITH lines AS (
        SELECT line FROM read_csv('{_DIRTY}', header=false, delim='{chr(1)}',
                                  quote='', columns={{'line': 'VARCHAR'}})
    ),
    parsed AS (
        SELECT CASE WHEN json_valid(line)
                    THEN json_extract_string(line, '$.type')
                    ELSE 'CORRUPT' END AS bucket,
               CASE WHEN json_valid(line)
                    THEN CAST(json_extract(line, '$.value') AS DOUBLE)
                    ELSE 0.0 END AS value
        FROM lines
    )
    SELECT bucket, COUNT(*) AS n_rows, {sql_dsum('value')} AS total_value
    FROM parsed GROUP BY bucket
    """,
)
def q_ingest_badlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling: a dirty webhook feed (~15% structurally
    invalid JSON lines) read under PERMISSIVE mode with a corrupt-record
    column — bad lines are ROUTED, not dropped and never kill the job
    (the ingestion posture a 100 TB feed requires; FAILFAST is for CI,
    DROPMALFORMED silently loses data). The summary buckets good rows by
    type and corrupt rows under 'CORRUPT'; the oracle re-derives the same
    split with json_valid over raw lines, so the hash check pins exactly
    which lines the engine classified as corrupt. One pass, single
    aggregation — the corrupt column is computed inside the scan.
    """
    ensure_fixtures(FIXTURES_DIR)
    schema = "event_id BIGINT, type STRING, value DOUBLE, _corrupt STRING"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(_DIRTY)
    )
    bucket = (
        F.when(F.col("_corrupt").isNotNull(), F.lit("CORRUPT"))
        .otherwise(F.col("type"))
        .alias("bucket")
    )
    return df.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("coalesce(value, 0.0)").alias("total_value"),
    )


@register(
    "q_snapshot_diff",
    oracle=f"""
    WITH merged AS (
        SELECT gid, modified_at FROM (
            SELECT gid, modified_at,
                   row_number() OVER (PARTITION BY gid
                                      ORDER BY modified_at DESC) AS rn
            FROM (
                SELECT gid, modified_at FROM {_read_json(_B1)}
                UNION ALL
                SELECT gid, modified_at FROM {_read_json(_B2)}
            )
        ) WHERE rn = 1
    ),
    prior AS (SELECT gid, modified_at FROM {_read_json(_B1)}),
    classified AS (
        SELECT CASE
            WHEN p.gid IS NULL THEN 'added'
            WHEN m.modified_at > p.modified_at THEN 'updated'
            ELSE 'unchanged'
        END AS change_type
        FROM merged m LEFT JOIN prior p ON m.gid = p.gid
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_tasks
    FROM classified GROUP BY change_type
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the sync-audit report between the prior extract and
    the post-merge state: how many tasks were added, updated in place, or
    untouched. The operational answer to 'what did this sync actually do',
    and the check that catches a silently-empty incremental batch.

    Plan: the merged state is the standard newest-per-gid window; the diff
    is one left join back to the prior snapshot keyed on gid + a grouped
    count at change-type grain (3 rows out). At warehouse scale both sides
    are gid-partitioned tables, so the join is co-located and the report
    costs one scan each.
    """
    ensure_fixtures(FIXTURES_DIR)
    b1 = asana.read_tasks(spark, _B1).select("gid", "modified_at")
    b2 = asana.read_tasks(spark, _B2).select("gid", "modified_at")
    merged = asana.upsert_batches(b1, b2).select("gid", "modified_at")
    prior = b1.select(
        F.col("gid").alias("p_gid"), F.col("modified_at").alias("p_modified")
    )
    classified = merged.join(
        prior, F.col("gid") == F.col("p_gid"), "left"
    ).select(
        F.when(F.col("p_gid").isNull(), "added")
        .when(F.col("modified_at") > F.col("p_modified"), "updated")
        .otherwise("unchanged")
        .alias("change_type")
    )
    return classified.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_tasks")
    )
