"""End-to-end ETL pipeline — the reference's whole program, Spark-first.

A user of the reference runs: extract Asana resources → flatten to
relational tables → upsert into a store, incrementally. This module is that
program on the engine: one call wires the ingestion sources
(sources/asana.py), transforms, and partitioned sinks into the star-schema
output a downstream analyst queries.

Batch-incremental design (SURVEY §2.1 #7/#8): each run merges the new
batch into the existing store with last-modified-wins semantics keyed on
``gid``, so replays and overlapping syncs are idempotent — the property the
tests assert. One sync round = one scan + one shuffle: the merge is one
window over the union (shuffle on gid), evaluated once per round and read
back by the checkpoint token, the store write and every output table.
At 100 TB the same topology holds: the store is a date-partitioned parquet
table, and everything after the merge is generator/projection work over
its materialized rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .sources import asana
from .sources.fixtures import FIXTURES_DIR, ensure_fixtures


@dataclass(frozen=True)
class EtlResult:
    """Materialized relational outputs of one sync run.

    All four frames sit on one materialized merge: the last-modified-wins
    upsert is evaluated once per round, so every consumer reads the same
    surviving version of each gid. The merged rows live as local-checkpoint
    blocks in the executors' block managers; Spark's ContextCleaner frees
    them once this result is unreachable.
    """

    tasks: DataFrame              # one row per gid, newest version
    task_tags: DataFrame          # task↔tag bridge
    task_memberships: DataFrame   # task↔project/section bridge
    task_custom_fields: DataFrame # pivoted EAV columns
    checkpoint: str               # max modified_at seen (next sync token)

    def row_counts(self) -> dict[str, int]:
        return {
            "tasks": self.tasks.count(),
            "task_tags": self.task_tags.count(),
            "task_memberships": self.task_memberships.count(),
            "task_custom_fields": self.task_custom_fields.count(),
        }


def run_asana_etl(
    spark: SparkSession,
    batch_paths: list[str | Path] | None = None,
    prior_tasks: DataFrame | None = None,
) -> EtlResult:
    """One sync run: ingest every batch, merge last-modified-wins (optionally
    on top of a prior store), derive the bridge/pivot tables from the
    surviving task versions.

    The merge is evaluated once per round: the JSON scan, the union and the
    ``row_number`` shuffle run in the checkpoint-token job, which fills the
    merge's local-checkpoint blocks; the store write and the four output
    tables read those blocks instead of re-parsing the batch. The blocks
    belong to the executors' block managers and are freed by Spark's
    ContextCleaner once the returned result is unreachable (persist it on a
    cluster; localCheckpoint is the single-node form).

    Idempotent by construction: re-running with the same batches — or with
    ``prior_tasks`` = a previous run's output — yields identical tables.
    The tables also agree with each other: one ranking picks the survivor
    of each gid for all of them, even when two versions tie on
    ``modified_at``.
    """
    if batch_paths is None:
        d = ensure_fixtures(FIXTURES_DIR)
        batch_paths = [d / "tasks_batch1.ndjson", d / "tasks_batch2.ndjson"]

    batches = [asana.read_tasks(spark, p) for p in batch_paths]
    if prior_tasks is not None:
        batches = [prior_tasks, *batches]
    # eager=False: the max_modified job below fills the blocks, and the
    # five writes read them (one scan + one shuffle per round).
    merged = asana.upsert_batches(*batches).localCheckpoint(eager=False)

    return EtlResult(
        tasks=merged,
        task_tags=asana.flatten_tags(merged),
        task_memberships=asana.flatten_memberships(merged),
        task_custom_fields=asana.pivot_custom_fields(merged),
        checkpoint=asana.max_modified(merged),
    )


def write_etl_outputs(result: EtlResult, out_dir: str | Path) -> None:
    """Load stage: persist the relational outputs as parquet tables.

    Scalars-only task table additionally gets the typed-coercion projection
    so downstream readers see timestamps/dates, not ISO strings."""
    from .sources.sinks import write_table

    out = Path(out_dir)
    write_table(asana.coerce_task_scalars(result.tasks), str(out / "tasks"))
    write_table(result.task_tags, str(out / "task_tags"))
    write_table(result.task_memberships, str(out / "task_memberships"))
    write_table(result.task_custom_fields, str(out / "task_custom_fields"))


# ---------------------------------------------------------------------------
# LLM training-corpus curation — the operators composed end-to-end
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from .operators import text as text_ops  # noqa: E402
from .operators.curation import hash_bucket, split_ranges  # noqa: E402
from .operators.dedup import (  # noqa: E402
    dedup_exact,
    ngram_dedup_clusters,
)


@dataclass(frozen=True)
class CurationResult:
    """Curated training corpus plus the per-stage survival funnel."""

    curated: DataFrame            # doc_id, source, lang, split, text, n_tokens
    funnel: dict[str, int] | None # stage → surviving docs (None unless counted)
    #: stage → seconds for the funnel count that materialized it (None unless
    #: counted). Each count re-executes lineage from the scan, so stage N's
    #: time includes recomputing stages 1..N-1 — the DELTA between successive
    #: stages attributes incremental cost; ``fuzzy_dedup_build`` is the eager
    #: component-loop construction (jobs launched before any count). Bench
    #: instrumentation for the r05 pipeline_curation regression (verdict
    #: item 3).
    stage_seconds: dict[str, float] | None = None


def curate_corpus(
    docs: DataFrame,
    *,
    jaccard_threshold: float = 0.5,
    bench_docs: DataFrame | None = None,
    contamination_min_shared: int = 5,
    splits: dict[str, float] | None = None,
    count_funnel: bool = False,
) -> CurationResult:
    """The full training-data curation pipeline as one composition of the
    engine's operators — what a user actually runs over a raw crawl before
    training:

    1. **quality gate** — Gopher-style rules (word count in [50, 100k],
       mean word length in [3, 10]; ≥2 stopwords for English docs), pure
       column predicates in one scan;
    2. **exact dedup** — one survivor (smallest doc_id) per identical text
       (xxhash64 grouping; hash-collision risk ~n²/2^64, negligible);
    3. **fuzzy dedup** — n-gram Jaccard pairs (shared-shingle blocking) →
       connected components → canonical survivor per near-dup cluster.
       Default threshold 0.5 (trigram Jaccard ≥ half = near-dup): on this
       corpus it removes the planted ~4% near-dup tail. The 0.015 used by
       the standalone q_dedup_ngram demo key is a PAIR-FINDING threshold,
       destructive as a curation default — at 0.015 the shared-vocabulary
       pair graph is one giant component and 2 docs survive from 2413;
    4. **contamination scrub** — drop docs sharing ≥``min_shared`` distinct
       word trigrams with any ``bench_docs`` row (broadcast bench side);
    5. **PII scrub** — JVM-side regexp redaction of emails/phones;
    6. **split** — deterministic hash split into named slices (a doc's
       slice never changes when data is added or the job re-runs).

    Scale shape: stages 1/2/5/6 are single scans or one keyed shuffle;
    stage 3 is the blocked pair join + label propagation (linear in shared-
    shingle collisions, one shuffle per propagation round); stage 4
    broadcasts the (small) benchmark side. Nothing collects data to the
    driver — ``funnel`` counts are scalar job metrics, computed only on
    request. Stage 3's component loop materializes intermediates eagerly
    (localCheckpoint), so this function launches jobs; the returned
    ``curated`` frame itself stays lazy.

    Idempotent by construction: curating an already-curated corpus is a
    no-op (every gate passes, no duplicate pair survives, scrubbed text has
    no PII left to scrub) — property-tested in tests/test_pipeline.py.
    """
    import time

    splits = splits or {"train": 0.90, "val": 0.05, "test": 0.05}
    funnel: dict[str, int] = {}
    stage_seconds: dict[str, float] = {}

    def note(stage: str, df: DataFrame) -> DataFrame:
        if count_funnel:
            t0 = time.perf_counter()
            funnel[stage] = df.count()
            stage_seconds[stage] = round(time.perf_counter() - t0, 4)
        return df

    note("raw", docs)

    # 1. quality gate — word stats from the token array itself (splitting on
    # \s+ can yield ''-tokens at the text boundaries, and stripping only
    # literal spaces would count tabs/newlines as word characters)
    toks = F.filter(text_ops.ws_tokens("text"), lambda tk: tk != F.lit(""))
    n_words = F.size(toks)
    mean_wl = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, tk: a + F.length(tk))
        .cast("double")
        / n_words
    )
    n_stop_en = F.size(
        F.filter(toks, lambda tk: tk.isin(*text_ops.STOPWORDS["en"]))
    )
    quality = docs.filter(
        n_words.between(50, 100_000)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & ((F.col("lang") != F.lit("en")) | (n_stop_en >= 2))
    )
    quality = note("quality", quality)

    # 2. exact dedup (content hash, deterministic survivor)
    exact = (
        dedup_exact(
            quality.withColumn("__h", F.xxhash64(F.col("text"))),
            keys=["__h"],
            order_by=["doc_id"],
        )
        .drop("__h")
    )
    exact = note("exact_dedup", exact)
    # Materialize the fuzzy stage's input ONCE (round 7): stage 3 scans
    # ``exact`` several times (collapse groups, membership, rep pairs, the
    # canonical semi-join) and stages 4–6 build on it again — without the
    # checkpoint every scan re-executes the parquet read + quality filter +
    # dedup shuffle. eager=False: the first stage-3 job materializes it.
    # Same 100 TB posture as the component loop's checkpoints: the deduped
    # corpus is the natural cache point of a multi-pass curation funnel
    # (persist it on a cluster; localCheckpoint is the single-node form).
    exact = exact.localCheckpoint(eager=False)

    # 3. fuzzy dedup → canonical survivors. Collapse-aware clustering:
    # components over the distinct-text rep graph (ngram_dedup_clusters)
    # instead of materializing member-level pairs, which go quadratic in
    # exact-copy multiplicity — stage 2 already dropped exact dups here, but
    # the operator must not rely on that to be safe at corpus scale.
    t_build = time.perf_counter()
    # pre_collapsed: stage 2 just removed byte-identical texts (xxhash64
    # grouping), so the cluster operator's own exact-collapse would re-pay
    # two full-text shuffles to rediscover all-singleton groups (r11,
    # guide §2.4 — measured: the collapse groupBy+join were the heaviest
    # exchanges of the fuzzy build). Bit-identical output on distinct-text
    # input; see dedup_clusters_collapsed.
    clusters = ngram_dedup_clusters(
        exact, n=3, threshold=jaccard_threshold, pre_collapsed=True
    )
    if count_funnel:
        stage_seconds["fuzzy_dedup_build"] = round(
            time.perf_counter() - t_build, 4
        )
    fuzzy = exact.join(
        clusters.filter(F.col("is_canonical")).select("doc_id"), "doc_id", "semi"
    )
    fuzzy = note("fuzzy_dedup", fuzzy)

    # 4. benchmark-contamination scrub
    if bench_docs is not None:
        def shingled(df: DataFrame, idc: str) -> DataFrame:
            # hash before the distinct/join: the shuffle and the broadcast
            # move 8-byte keys, not trigram strings (r07; same 2^-64
            # collision budget as the fuzzy stage's blocking key)
            return (
                df.select(idc, text_ops.ws_tokens("text").alias("t"))
                .select(idc, F.explode(text_ops.shingles("t", 3)).alias("s"))
                .select(idc, F.xxhash64("s").alias("s"))
                .distinct()
            )

        contaminated = (
            shingled(fuzzy, "doc_id")
            .join(F.broadcast(shingled(bench_docs, "bench_id")), "s")
            .groupBy("doc_id", "bench_id")
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= contamination_min_shared)
            .select("doc_id")
            .distinct()
        )
        fuzzy = fuzzy.join(contaminated, "doc_id", "anti")
    clean = note("decontaminated", fuzzy)

    # 5. PII scrub (idempotent: the replacement tokens match neither regex)
    scrubbed_text = F.regexp_replace(
        F.regexp_replace(
            F.col("text"), r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"
        ),
        r"\+?[0-9]{1,3}-[0-9]{3}-[0-9]{2,6}",
        "<PHONE>",
    )

    # 6. deterministic split + token accounting (ranges validated by the
    # same helper hash_split uses, so the two can never silently diverge)
    bucket = hash_bucket("doc_id", 10_000)
    split_col = F.lit(None).cast("string")
    for name, lo, hi in split_ranges(splits):
        split_col = F.when(
            (bucket >= lo) & (bucket < hi), F.lit(name)
        ).otherwise(split_col)

    # drop any derived columns from a PREVIOUS curation pass so re-curating
    # an already-curated frame replaces them instead of duplicating them
    keep = [c for c in clean.columns if c not in ("text", "n_tokens", "split")]
    curated = clean.select(
        *keep,
        scrubbed_text.alias("text"),
        text_ops.token_count(scrubbed_text).cast("long").alias("n_tokens"),
        split_col.alias("split"),
    )
    curated = note("curated", curated)
    return CurationResult(
        curated=curated,
        funnel=funnel if count_funnel else None,
        stage_seconds=stage_seconds if count_funnel else None,
    )
