"""Iterative graph algorithms as DataFrame fixpoints (Pregel-style).

Reference parity: no graph operators exist in the reference (empty snapshot,
SURVEY §0); this extends the north-star analytics surface the same way
q_dedup_clusters (connected components) and q_emb_kmeans (Lloyd iterations)
do — message-passing expressed as join + groupBy per superstep.

Scale notes (100 TB): each PageRank iteration is exactly one shuffle (the
contribution aggregation by dst); the edges⋈ranks join reuses the edge
table's src partitioning, and the rank vector (one double per vertex) is
orders of magnitude smaller than the edge set, so iterations never touch
the raw fact again after the first projection. Dangling-node mass is
redistributed uniformly each superstep via a 1-row broadcast, keeping the
total rank mass at exactly 1 — no driver-side collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)``.

    Returns ``(id, rank)`` after ``iterations`` synchronous supersteps from
    a uniform start. Parallel edges are legal and count once each (a node
    linking twice sends twice the weight, matching the multigraph reading).
    """
    # Edge list checkpointed FIRST — same rationale as pagerank_units
    # (r10): setup references it three times, the loop once per superstep.
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    outdeg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("outdeg")
    )
    # Degree rides with the rank vector so the per-iteration join is a
    # single (ranks ⋈ edges) hash join on src; dangling nodes keep NULL.
    base = vertices.join(outdeg, "id", "left")
    n = base.count()  # scalar graph size: metadata, not data, on the driver
    if n == 0:
        # Empty graph (a zeroed-out slice at scale is routine): empty rank
        # frame with the output schema, never a ZeroDivisionError on 1/n.
        return base.select("id", F.lit(0.0).alias("rank"))
    ranks = base.withColumn("rank", F.lit(1.0 / n))

    for it in range(iterations):
        contribs = (
            edges.join(
                ranks.filter(F.col("outdeg").isNotNull()).select(
                    F.col("id").alias("src"),
                    (F.col("rank") / F.col("outdeg")).alias("w"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("w").alias("contrib"))
        )
        dangling = (
            ranks.filter(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        ranks = (
            base.join(contribs, "id", "left")
            .join(F.broadcast(dangling))
            .withColumn(
                "rank",
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("dmass") / n),
            )
            .select("id", "outdeg", "rank")
        )
        if it + 1 < iterations:
            # Materialize + truncate lineage EVERY superstep. Each superstep
            # references the previous rank vector in two subtrees (edge
            # contributions AND dangling mass), so without per-step
            # materialization Catalyst re-derives ranks_t once per reference
            # — the recomputation tree grows geometrically between
            # checkpoints (measured round 3: 5 supersteps at sf0.01 cost
            # 11+ s with cadence 2, under 5 s with cadence 1), and each
            # iteration nesting the previous plan makes analysis super-
            # linear. The rank vector is n_nodes rows — tiny next to the
            # recomputation it prevents — and per-superstep checkpointing
            # is the standard Pregel discipline anyway.
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("id", "rank")


def pagerank_units(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    scale: int = 10**12,
    dangling_free: bool = False,
) -> DataFrame:
    """PageRank in exact fixed-point units — engine/partitioning-invariant.

    Same supersteps as :func:`pagerank`, but rank mass is carried as BIGINT
    units of ``1/scale``: per-edge contributions are integral divisions
    (``units div outdeg``), per-node sums are exact integer arithmetic
    (associative under any shuffle order), and the damping/teleport terms
    are ``floor(double-expression)`` with the identical expression shape on
    any engine. The result is bit-identical at any parallelism AND
    reproducible in plain SQL (the q_graph_pagerank oracle unrolls the same
    recurrence in DuckDB), which the float formulation cannot be — its
    per-node sums depend on shuffle order in the low bits.

    Returns ``(id, rank_units)``; ``rank ≈ rank_units / scale``. The
    truncation in ``div`` loses at most ``outdeg`` units per node per step
    — bounded absolute error ~1e-9 of total mass per superstep at the
    default scale, irrelevant for ranking and shared exactly by the oracle.
    """
    # Materialize the edge list FIRST (r10): the caller's edge pipeline can
    # be expensive (q_graph_pagerank's lineitem self-join + distinct), and
    # it is referenced three times just to set up (vertices' union reads it
    # twice, outdeg once) plus once per superstep. Checkpointed up front it
    # computes exactly once; previously the checkpoint came after ``base``,
    # so the setup job re-derived the pair pipeline per reference (modulo
    # exchange reuse) and the loop's lazy checkpoint re-ran it once more.
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    outdeg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("outdeg")
    )
    # base is joined every superstep — materialize it once instead of
    # re-deriving vertices⋈outdeg from the checkpointed edges each round
    # (the count() below forces it anyway).
    base = vertices.join(outdeg, "id", "left").localCheckpoint(eager=True)
    n = base.count()
    if n == 0:
        # Same empty-graph guard as pagerank(): schema-correct empty frame.
        return base.select("id", F.lit(0).cast("long").alias("rank_units"))
    ranks = base.withColumn("u", F.lit(int(scale // n)).cast("long"))
    # Teleport term: floor((1-d)*scale / n) — evaluated as the same double
    # expression the SQL oracle uses (constant for the whole run).
    teleport = F.floor(
        F.lit(float((1.0 - damping) * scale)) / F.lit(float(n))
    ).cast("long")

    for it in range(iterations):
        contribs = (
            edges.join(
                ranks.filter(F.col("outdeg").isNotNull()).select(
                    F.col("id").alias("src"),
                    F.expr("u div outdeg").alias("w"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("w").cast("long").alias("contrib"))
        )
        if dangling_free:
            # Caller guarantees every node has outdeg ≥ 1 (e.g. a symmetric
            # edge closure): dmass ≡ 0, so dmass div n ≡ 0 and the whole
            # dangling subtree — a second full pass over the rank vector
            # plus a broadcast per superstep — drops out with no change to
            # the arithmetic (the SQL-oracle twin keeps its dmass CTE, which
            # evaluates to the same zero).
            stepped = base.join(contribs, "id", "left").withColumn(
                "u",
                teleport
                + F.floor(
                    F.lit(damping)
                    * F.coalesce(F.col("contrib"), F.lit(0))
                    .cast("long")
                    .cast("double")
                ).cast("long"),
            )
        else:
            dangling = ranks.filter(F.col("outdeg").isNull()).agg(
                F.coalesce(F.sum("u"), F.lit(0)).cast("long").alias("dmass")
            )
            stepped = (
                base.join(contribs, "id", "left")
                .join(F.broadcast(dangling))
                .withColumn(
                    "u",
                    teleport
                    + F.floor(
                        F.lit(damping)
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0)).cast("long")
                            + F.expr(f"dmass div {n}")
                        ).cast("double")
                    ).cast("long"),
                )
            )
        ranks = stepped.select("id", "outdeg", "u")
        if it + 1 < iterations:
            # Per-superstep checkpoint, as in pagerank. eager=False when
            # dangling-free (r10): each superstep then references the
            # previous rank vector exactly ONCE (the contribs join — the
            # dangling subtree, the second reference, is gone), so the
            # lazy checkpoint still computes every intermediate exactly
            # once but the whole recurrence executes as ONE submitted job
            # instead of one blocking job per superstep. The plan is
            # truncated at checkpoint-creation time either way
            # (LogicalRDD), so optimizer growth stays bounded. The
            # dangling path keeps eager=True: its two same-job references
            # to a lazily-cached RDD can race partition computation
            # between the contribs and dmass stages.
            ranks = ranks.localCheckpoint(eager=not dangling_free)
    return ranks.select("id", F.col("u").alias("rank_units"))
