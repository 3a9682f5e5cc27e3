"""Iterative graph algorithms as DataFrame fixpoints (Pregel-style).

Reference parity: no graph operators exist in the reference (empty snapshot,
SURVEY §0); this extends the north-star analytics surface the same way
q_dedup_clusters (connected components) and q_emb_kmeans (Lloyd iterations)
do — message-passing expressed as join + groupBy per superstep.

Scale notes (100 TB): each PageRank iteration is exactly one shuffle (the
contribution aggregation by dst); the edges⋈ranks join reuses the edge
table's src partitioning, and the rank vector (one BIGINT per vertex) is
orders of magnitude smaller than the edge set, so iterations never touch
the raw fact again after the first projection. Dangling-node mass, when
the graph has any, is redistributed uniformly each superstep via a 1-row
broadcast — no driver-side collect of ranks anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_units(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)`` in exact
    fixed-point units — engine/partitioning-invariant.

    ``iterations`` synchronous supersteps from a uniform start. Parallel
    edges are legal and count once each (a node linking twice sends twice
    the weight, matching the multigraph reading). Rank mass is carried as
    BIGINT units of ``1/scale``: per-edge contributions are integral divisions
    (``units div outdeg``), per-node sums are exact integer arithmetic
    (associative under any shuffle order), and the damping/teleport terms
    are ``floor(double-expression)`` with the identical expression shape on
    any engine. The result is bit-identical at any parallelism AND
    reproducible in plain SQL (the q_graph_pagerank oracle unrolls the same
    recurrence in DuckDB), which a float formulation cannot be — its
    per-node sums depend on shuffle order in the low bits.

    Returns ``(id, rank_units)``; ``rank ≈ rank_units / scale``. The
    truncations (``div`` by outdeg and n, and the two floors) lose fewer
    than ``outdeg + 3`` units per node per step — bounded absolute error
    ~1e-9 of total mass per superstep at the default scale, irrelevant for
    ranking and shared exactly by the oracle.
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
    # (the node count below reads it).
    base = vertices.join(outdeg, "id", "left").localCheckpoint(eager=True)
    # One job counts the nodes and the dangling ones (NULL outdeg): a
    # dangling-free graph (e.g. a symmetric edge closure) has dmass ≡ 0, so
    # dmass div n ≡ 0 and the whole dangling subtree — a second full pass
    # over the rank vector plus a broadcast per superstep — drops out with
    # no change to the arithmetic.
    n, n_dangling = base.agg(
        F.count("*"), F.count_if(F.col("outdeg").isNull())
    ).collect()[0]
    has_dangling = n_dangling > 0
    if n == 0:
        # Empty graph (a zeroed-out slice at scale is routine): empty rank
        # frame with the output schema, never a ZeroDivisionError on 1/n.
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
        if not has_dangling:
            # dmass ≡ 0 drops out (the SQL-oracle twin keeps its dmass CTE,
            # which evaluates to the same zero)
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
            # Materialize + truncate lineage EVERY superstep: without it
            # Catalyst re-derives ranks_t once per reference and the
            # recomputation tree grows geometrically (measured round 3: 5
            # supersteps at sf0.01 cost 11+ s with cadence 2, under 5 s
            # with cadence 1). eager=False when
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
            ranks = ranks.localCheckpoint(eager=has_dangling)
    return ranks.select("id", F.col("u").alias("rank_units"))
