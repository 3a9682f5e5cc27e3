"""Similarity search over embedding columns (SURVEY §2.12 #70/#71).

Three tiers, increasingly sub-linear:

- ``cosine_topk`` — exact brute force: broadcast the query, one columnar
  scan, TakeOrderedAndProject. The baseline every approximate method is
  recall-checked against. At 100 TB this is one full scan per query — fine
  for batch scoring, wrong for interactive lookup.
- ``ann_portable_topk`` — quantized sign-projection LSH: hash vectors into
  hyperplane buckets; probe only colliding buckets. Sub-linear candidate
  generation, exact cosine on the candidates.
- ``ivf_portable_topk`` — inverted-file index: the deterministic Lloyd
  quantizer (``kmeans_lloyd``) partitions the corpus; queries probe the
  ``nprobe`` nearest centroids only. The classic FAISS-style scale path:
  centroid assignment is a broadcast join, each probe reads ~nprobe/k of
  the data.

``pca_power_reduce`` is the dimensionality reduction that precedes ANN
indexing at scale. Determinism: every approximate method here is a pure
function of the data built from fixed published constants, so DuckDB
replays it (the q_sim_ann, q_sim_ivf and q_emb_pca oracles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query row (broadcast query side).

    Returns (query_id, vec_id, cos) — k rows per query, deterministic
    tie-break on vec_id. ``query`` must carry (query_id, query_vec).
    """
    scored = embeddings.crossJoin(F.broadcast(query)).select(
        "query_id",
        id_col,
        cosine(vec_col, "query_vec").alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def cosine_topk_batched(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy matmul with per-partition partial
    top-k — the brute-force variant for very large corpora.

    Design: queries are collected (bounded: a query set is small by
    definition) and broadcast as a dense (nq, d) matrix; each Arrow batch of
    corpus vectors scores as one BLAS matmul, then keeps only its local top-k
    per query (``argpartition``) so the shuffle carries k·nq rows per
    partition instead of n·nq. The window at the end merges partials.

    Measured tradeoff (sf0.1, 2 k × 64-dim corpus, nq ≤ 1000): the JVM HOF
    path (:func:`cosine_topk`) wins — ~0.1 s vs ~0.43 s — because the Python
    worker + Arrow round-trip is a fixed ~0.4 s tax that a corpus this small
    never amortizes. The crossover favors this variant once per-partition
    matmul work dominates (≫10⁶ corpus rows per partition or wide nq), which
    is exactly the 100 TB regime; both are kept, recall-tested identical.
    """
    import numpy as np
    import pandas as pd

    # NULL vectors (failed upstream embedding) are outside the scoring
    # domain on both sides — a None in the numpy batch would otherwise make
    # an object-dtype matrix and crash the matmul for the whole partition.
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    rows = [
        r
        for r in query.select("query_id", "query_vec").collect()
        if r["query_vec"] is not None
    ]
    if not rows:
        # No probes (e.g. the probe id filtered out on an empty slice):
        # schema-correct empty result, not a numpy AxisError on a 0-d
        # matrix inside the UDF.
        return embeddings.sparkSession.createDataFrame(
            [], f"query_id bigint, {id_col} bigint, cos double"
        )
    qmat = np.array([r["query_vec"] for r in rows], dtype=np.float64)
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    qids = np.array([r["query_id"] for r in rows])
    bq = embeddings.sparkSession.sparkContext.broadcast((qids, qmat))

    def score(batches):
        q_ids, q_norm = bq.value
        nq = len(q_ids)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            s = m @ q_norm.T  # (n, nq)
            kk = min(k, s.shape[0])
            idx = np.argpartition(-s, kth=kk - 1, axis=0)[:kk]  # (kk, nq)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, kk),
                    id_col: pdf[id_col].values[idx.T.ravel()],
                    "cos": s[idx.T.ravel(), np.repeat(np.arange(nq), kk)],
                }
            )

    scored = embeddings.mapInPandas(
        score, f"query_id bigint, {id_col} bigint, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


#: Portable sign-projection LSH constants (engine-neutral): hyperplane
#: entries are ±1 decided by bit 16 of an LCG over the (table, dim) index —
#: arbitrary but fixed, published constants, reproducible in pure SQL.
_ANN_LCG_A, _ANN_LCG_B, _ANN_LCG_M = 1103515245, 12345, 1 << 31
_ANN_TABLES = 3
_ANN_BUCKET_LEN = 2.0


def _ann_sign(table: int, i: Column) -> Column:
    """±1.0 hyperplane entry for (table, 1-based dim index) — the LCG bit."""
    idx = (F.lit(table * 1009) + i).cast("long")  # long: A·idx > 2^31
    v = (
        F.lit(_ANN_LCG_A).cast("long") * idx + F.lit(_ANN_LCG_B).cast("long")
    ) % F.lit(_ANN_LCG_M).cast("long")
    return F.when(
        F.shiftright(v, 16).bitwiseAND(F.lit(1).cast("long")) == F.lit(1),
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def _ann_bucket(vec: Column, table: int) -> Column:
    """floor(⟨x/‖x‖, w_t⟩ / bucket_len): the quantized-projection bucket.
    NULL for zero vectors (try_divide) — a NULL bucket never joins."""
    proj = F.aggregate(
        F.zip_with(
            vec,
            F.sequence(F.lit(1), F.size(vec)),
            lambda xi, i: xi * _ann_sign(table, i),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    norm = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x)
    )
    return F.floor(
        F.try_divide(proj, norm * F.lit(_ANN_BUCKET_LEN))
    ).cast("long")


def ann_portable_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via DETERMINISTIC quantized sign projections, so
    the q_sim_ann oracle can replay every bucket (a JVM-seeded gaussian
    hyperplane has no SQL twin).

    Euclidean LSH on normalized vectors (3 tables, bucket length 2.0):
    per table, bucket =
    floor(⟨x/‖x‖, w⟩ / L) with w a ±1 hyperplane whose entries come from
    an LCG over (table, dim) — a pure integer function both engines
    evaluate identically — and candidates share the query's bucket in ANY
    table. Candidates are then scored with EXACT cosine and ranked
    (cos desc, id); on normalized vectors 1 − dist²/2 IS the cosine, so
    nearest-by-L2 ≡ nearest-by-cosine. Soundness of the
    oracle (floor-bucket margins, top-k rank gaps vs summation-order
    drift) is probed by scripts/margin_probe.py; on this corpus margins
    are ≥1.3e-4 vs ~1e-15 drift. Uniform random embeddings are the
    documented worst case for pruning (neighbors scatter; candidate
    fraction is high here, and falls on clustered real-world data).

    Scale shape: 3 array-HOF projections per row map-side, a 3-key bucket
    shuffle join against the (broadcast) query buckets, exact scoring only
    on candidates, TakeOrderedAndProject for the top-k."""
    base = embeddings.filter(F.col(vec_col).isNotNull())
    e = F.col(vec_col).cast("array<double>")
    pb = base.select(
        id_col,
        e.alias("__e"),
        *[_ann_bucket(e, t).alias(f"__b{t}") for t in range(_ANN_TABLES)],
    )
    qv = F.col("query_vec").cast("array<double>")
    pq = query.filter(F.col("query_vec").isNotNull()).select(
        "query_id",
        qv.alias("__q"),
        *[_ann_bucket(qv, t).alias(f"__qb{t}") for t in range(_ANN_TABLES)],
    )

    # Candidates: any-table bucket equality, UNPIVOTED to (table, bucket)
    # rows so the match is a hash equi-join on a compound key — an OR of
    # per-table equalities would plan as BroadcastNestedLoopJoin (flagged
    # by plan_audit), harmless for one broadcast query row but a scan per
    # query at batch-query scale. NULL buckets (zero vectors) produce no
    # band rows and therefore no candidates.
    def bandify(df: DataFrame, prefix: str, keep: list[str]) -> DataFrame:
        return df.select(
            *keep,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("__t"),
                            F.col(f"{prefix}{t}").alias("__bk"),
                        )
                        for t in range(_ANN_TABLES)
                    ]
                )
            ).alias("__band"),
        ).select(
            *keep, F.col("__band.__t").alias("__t"), F.col("__band.__bk").alias("__bk")
        ).filter(F.col("__bk").isNotNull())

    cand_ids = (
        bandify(pb, "__b", [id_col])
        .join(F.broadcast(bandify(pq, "__qb", ["query_id"])), ["__t", "__bk"])
        .select("query_id", id_col)
        .distinct()
    )
    cand = (
        cand_ids.join(pb.select(id_col, "__e"), id_col)
        .join(F.broadcast(pq.select("query_id", "__q")), "query_id")
        .select("query_id", id_col, cosine("__e", "__q").alias("__cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc(id_col))
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("query_id", id_col, F.round("__cos", 8).alias("cos_approx"))
    )


def ivf_portable_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model_key: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) top-k with the DETERMINISTIC Lloyd quantizer, so
    the q_sim_ivf oracle can replay the whole probe-and-score pipeline (a
    seeded random k-means init has no SQL twin).

    The coarse quantizer is :func:`kmeans_lloyd` at (k=16, 2 iters) — the
    exact configuration q_dedup_semantic already margin-probes — so the
    oracle reuses the Lloyd-fixpoint CTE for cell assignment, ranks cells
    by centroid cosine to the query (ties by cluster id), scores only the
    ``nprobe`` probed cells' members with exact cosine, and takes top-k.
    Ranking margins (cell boundary at nprobe, member boundary at k) are
    probed by scripts/margin_probe.py. Scale shape: centroid state is
    k·dim driver-side, probing is a broadcast join, scoring touches only
    probed members — expected work ≈ nprobe/n_centroids of brute force."""
    assigned, cents = kmeans_lloyd(
        embeddings, k=n_centroids, n_iter=n_iter, id_col=id_col,
        vec_col=vec_col, _return_model=True, model_key=model_key,
    )
    spark = embeddings.sparkSession
    if not cents:
        return spark.createDataFrame(
            [], f"query_id bigint, {id_col} bigint, cos double"
        )
    cent_df = spark.createDataFrame(cents, "cluster int, centroid array<double>")
    q_cells = query.filter(F.col("query_vec").isNotNull()).crossJoin(
        F.broadcast(cent_df)
    ).select(
        "query_id", "query_vec", "cluster",
        cosine("query_vec", "centroid").alias("cell_cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cell_cos"), F.asc("cluster")
    )
    probed = (
        q_cells.withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= nprobe)
        .select("query_id", "query_vec", "cluster")
    )
    cand = assigned.join(F.broadcast(probed), "cluster").select(
        "query_id", id_col, cosine("v", "query_vec").alias("__cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc(id_col))
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("query_id", id_col, F.round("__cos", 8).alias("cos"))
    )


def pca_power_reduce(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PCA-style reduction: ``n_iter``-step deflated power
    iteration on the population covariance, components λ̂-sorted.

    The engine's one PCA (oracle-checkable by the same move that made
    k-means SQL-checkable in round 5): the algorithm is a PURE
    FUNCTION of the data — fixed basis-vector inits, a fixed iteration
    count, Rayleigh-quotient deflation, zero-norm guard keeps the previous
    vector — so DuckDB can replay it CTE-for-CTE
    (queries_llm._pca_power_cte_sql). On a quasi-degenerate spectrum (the
    testdata's uniform random embeddings: a Marchenko-Pastur bulk with
    eigengap ratios ~0.99) the individual vectors are NOT converged
    eigenvectors at any affordable iteration count — power iteration
    needs O(1/gap) steps — but each component's projected variance equals
    its Rayleigh quotient exactly, so sorting components by λ̂ descending
    (ties by init index; gaps ≥3e-5 on this corpus vs ~2e-15 cross-engine
    drift, margin-probed) restores the decreasing-variance contract.

    Scale shape: the data-sized work is ONE pass — one numpy syrk per
    Arrow batch (mapInArrow) accumulates each partition's moments, so the
    exchange carries one d(d+1)/2 + d + 1 row set per partition, never
    n·d². Driver state is the d×d Gramian (the "model is tiny, ship it to
    the data" pattern shared with kmeans_lloyd); the d-term projection is
    generated JVM codegen.
    """
    import numpy as np

    x = embeddings.filter(F.col(vec_col).isNotNull())
    d = x.select(F.max(F.size(vec_col))).first()[0]
    if d is None:
        return embeddings.sparkSession.createDataFrame(
            [], f"{id_col} bigint, reduced array<double>"
        )
    x = x.filter(F.size(vec_col) == d)
    e = F.col(vec_col).cast("array<double>")

    # Moment accumulation in ONE scan / one shuffle / one collect, as
    # (i, j, s) rows: the Gramian's upper triangle (1 ≤ i ≤ j ≤ d; it is
    # symmetric, the driver mirrors), the per-dim sums as (i, 0) and the
    # row count as (0, 0). The oracle's unordered SQL sums already rest on
    # the margin probe's ~1000× fixed-point headroom over summation-order
    # drift, which the BLAS reduction order stays inside.
    def partial_moments(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        g = np.zeros((d, d))
        mu = np.zeros(d)
        n = 0
        for rb in batches:
            arr = rb.column(0)
            n += len(arr)
            vals = arr.flatten()
            if vals.null_count:
                # A SQL SUM skips NULL elements; a zero contributes exactly
                # nothing to the same sums. NaN data values propagate.
                vals = pc.fill_null(vals, 0.0)
            m = np.asarray(vals, dtype=np.float64).reshape(-1, d)
            g += m.T @ m
            mu += m.sum(axis=0)
        iu = np.triu_indices(d)
        yield pa.record_batch(
            {
                "i": np.concatenate(
                    [iu[0] + 1, np.arange(1, d + 1), [0]]
                ).astype("int32"),
                "j": np.concatenate(
                    [iu[1] + 1, np.zeros(d, dtype=int), [0]]
                ).astype("int32"),
                "s": np.concatenate([g[iu], mu, [float(n)]]),
            }
        )

    moments = (
        x.select(e.alias("__e"))
        .mapInArrow(partial_moments, "i int, j int, s double")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    n = next((int(r["s"]) for r in moments if r["i"] == 0 and r["j"] == 0), 0)
    if n == 0:
        return embeddings.sparkSession.createDataFrame(
            [], f"{id_col} bigint, reduced array<double>"
        )
    mu = np.zeros(d)
    g = np.zeros((d, d))
    for r in moments:
        if r["i"] == 0:
            continue
        if r["j"] == 0:
            mu[r["i"] - 1] = r["s"] / n
        else:
            g[r["i"] - 1, r["j"] - 1] = r["s"] / n
            g[r["j"] - 1, r["i"] - 1] = r["s"] / n
    cov = g - np.outer(mu, mu)

    comps = []
    cd = cov.copy()
    for j in range(k):
        v = np.zeros(d)
        v[j % d] = 1.0
        for _ in range(n_iter):
            w = cd @ v
            nw = float(np.sqrt((w * w).sum()))
            v = w / nw if nw > 0 else v
        w = cd @ v
        lam = float(v @ w)
        comps.append((lam, j, v))
        cd = cd - lam * np.outer(v, v)
    comps.sort(key=lambda c: (-c[0], c[1]))

    # Generated JVM projection: reduced[c] = Σ_i (e[i] - μ_i)·V[i,c], a
    # left-to-right d-term sum per component. The q_emb_pca oracle's proj
    # CTE uses a plain UNORDERED sum(...) GROUP BY — parity rests on the
    # margin probe's measured fixed-point headroom (scripts/margin_probe.py
    # requires ~1000x the observed reversed-order drift before the 6-dp
    # boundary), not on matching summation order (r06 advice: the previous
    # comment claimed an ordered oracle sum that the SQL never had).
    #
    # The k·d-term expression is emitted as ONE SQL string, not k·d Column
    # objects: each pyspark Column operation is a Py4J round-trip, and at
    # d=64, k=8 the operator-built tree cost ~18 s of driver time per call
    # (measured round 7) vs <0.2 s for parse-once text. Arithmetic is
    # bit-identical: `+` parses left-associative, so the sum order matches
    # the old chained tree, and `repr(float)`→`<text>D` round-trips every
    # double literal exactly (both probed in-session before this change).
    def dot_sql(vec: "np.ndarray") -> str:
        return " + ".join(
            f"(element_at(__pe, {i + 1}) - ({_dlit(mu[i])}))"
            f" * ({_dlit(vec[i])})"
            for i in range(d)
        )

    reduced = "array(" + ", ".join(dot_sql(c[2]) for c in comps) + ")"
    return x.select(id_col, e.alias("__pe")).select(
        id_col, F.expr(reduced).alias("reduced")
    )


def _dlit(v: float) -> str:
    """A SQL double literal that round-trips ``v`` exactly.

    repr(float)+'D' covers every finite double; NaN/Infinity (possible
    when input vectors carry non-finite components, which propagate into
    model state) have no double-literal syntax and go through an explicit
    cast — matching what F.lit() produces."""
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


#: Per-process fitted-model cache for :func:`kmeans_lloyd`, keyed by the
#: caller-supplied ``model_key`` plus the full fit configuration. The model
#: is k·dim doubles — tiny — and the fit is deterministic over a
#: deterministic source, so a cache hit returns bit-identical assignments
#: while skipping the n_iter iterative jobs entirely (r08 verdict item 2:
#: q_dedup_semantic and q_sim_ivf share one (embeddings, k=16, 2-iter) fit
#: per process instead of refitting independently). Opt-in: callers with
#: mutable/non-deterministic inputs simply don't pass a key.
_LLOYD_MODELS: dict[tuple, list] = {}


def reset_lloyd_model_cache(model_key: str | None = None) -> int:
    """Invalidate fitted-model cache entries; returns how many dropped.

    The cache trusts ``model_key`` to pin input identity, so any code that
    REGENERATES data under a path it previously fitted against (the
    rehearsal scripts overwrite ``{dst}/embeddings.parquet`` between
    configurations) must call this first or stale centroids are served
    silently (r09 advice). ``model_key=None`` clears everything;
    otherwise only entries fitted under that exact key are dropped (the
    key is the first element of each cache tuple)."""
    if model_key is None:
        n = len(_LLOYD_MODELS)
        _LLOYD_MODELS.clear()
        return n
    doomed = [k for k in _LLOYD_MODELS if k[0] == model_key]
    for k in doomed:
        del _LLOYD_MODELS[k]
    return len(doomed)


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _return_model: bool = False,
    model_key: str | None = None,
) -> DataFrame:
    """DataFrame-native Lloyd k-means: the iterative-ML pattern on Spark.

    The model state (k × dim centroids) is tiny; the data is not. So each
    iteration ships the MODEL to the data, never the reverse: the centroids
    are embedded as exact double literals in ONE generated argmin
    expression (``array_min`` over per-centroid ``struct(dist2, cluster)``
    — same (dist2, cluster) tie order as ``min_by``), so assignment is a
    pure per-row projection with NO shuffle and no join (r09: the previous
    broadcast-join + groupBy(id) argmin shuffled every vector by id each
    iteration). New centroids are an elementwise mean via posexplode →
    groupBy(cluster, dim) — a two-key hash aggregate with map-side
    partials. Per iteration at 100 TB: one linear scan, one shuffle of
    k·dim partial sums — now literally true. Initialization is
    deterministic (the k lowest-id vectors), so reruns converge identically
    modulo float-mean low bits; empty clusters keep their previous
    centroid; iteration stops early at an EXACT centroid fixpoint (further
    rounds would be no-ops, so results are unchanged).

    Duplicate ids (r09 review): the oracle semantics — and the previous
    groupBy(id) implementation — reduce rows SHARING an id to one output
    row per iteration via the (dist2, cluster) argmin over every
    (row, centroid) combination. A one-job id-uniqueness probe (ids only,
    no vectors; memoized with the model) picks the plan: unique ids (the
    relational norm, every catalog input) take the shuffle-free pure
    projection; duplicate ids fall back to projection + per-id ``min_by``
    reduce, which is exactly the old semantics and what the DuckDB Lloyd
    CTE's ``row_number() PARTITION BY vec_id`` replays.

    ``model_key`` (opt-in) memoizes the fitted centroids per process under
    (model_key, k, n_iter, id_col, vec_col) — see ``_LLOYD_MODELS``. Pass
    it only for deterministic snapshot inputs (parquet); the cache trusts
    the key to pin input identity. An empty string is rejected (it would
    silently disable caching while looking like an opt-in).

    Returns (id, cluster, dist2) for the final centroids. With
    ``_return_model=True`` (internal: the portable IVF quantizer) returns
    ``(assignment_df_with_vectors, [(cluster, centroid), ...])`` instead —
    same fit, the centroids just aren't discarded.
    """
    if model_key is not None and not model_key:
        raise ValueError("model_key must be non-empty or None")
    # NULL vectors have no cluster (the init collect and the argmin both
    # need values) — same domain rule as the similarity indexes above.
    vecs = embeddings.filter(F.col(vec_col).isNotNull()).select(
        id_col, F.col(vec_col).cast("array<double>").alias("v")
    )

    cache_key = (
        (model_key, k, n_iter, id_col, vec_col)
        if model_key is not None
        else None
    )
    if cache_key is not None and cache_key in _LLOYD_MODELS:
        cents, ids_unique = _LLOYD_MODELS[cache_key]
    else:
        cents, ids_unique = _lloyd_fit(vecs, k, n_iter, id_col)
        if cache_key is not None:
            _LLOYD_MODELS[cache_key] = (cents, ids_unique)

    # CONTRACT (r08 review): the returned assignment is a LAZY plan that
    # re-reads the source projection at action time — the MLlib contract
    # (caller-managed input caching). Against a deterministic source
    # (parquet snapshots, as every catalog key uses) repeated actions are
    # identical; a caller fitting over a mutable/non-deterministic input
    # who needs the assignment pinned to the exact rows the fit saw should
    # persist/snapshot the input themselves before calling.
    if not cents:
        assigned = vecs.select(
            id_col,
            F.lit(None).cast("int").alias("cluster"),
            "v",
            F.lit(None).cast("double").alias("dist2"),
        ).filter(F.lit(False))
    else:
        assigned = _lloyd_assign(vecs, cents, id_col, ids_unique)
    if _return_model:
        return assigned, cents
    return assigned.select(id_col, "cluster", "dist2")


def _ids_unique(vecs: DataFrame, id_col: str) -> bool:
    """One-job probe: does any id appear on more than one (non-NULL-vector)
    row? Shuffles ids only (8-byte keys, map-side combined) — once per fit,
    vs the per-iteration full-vector shuffle the unique-id fast path saves."""
    return (
        vecs.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .isEmpty()
    )


#: Inline-literal assignment threshold on Σ centroid dims (≈ k·d). The
#: generated argmin inlines k·d double literals (~22 bytes each) into ONE
#: expression; past ~64 KB Java's per-method bytecode and constant-pool
#: limits push Spark off whole-stage codegen into interpreted eval (or, at
#: the extreme, an analysis failure). 2048 doubles ≈ 45 KB of SQL text —
#: comfortably inside codegen — and covers every catalog fit (k ≤ 16,
#: d ≤ 64) with 2× headroom; above it the broadcast-join path is the
#: better physical plan anyway (r09 advice: no guard existed).
_LLOYD_INLINE_MAX_KD = 2048


def _lloyd_inline_ok(cents: list) -> bool:
    return sum(len(c) for _, c in cents) <= _LLOYD_INLINE_MAX_KD


def _lloyd_assign(
    vecs: DataFrame, cents: list, id_col: str, ids_unique: bool
) -> DataFrame:
    """Assignment against fixed centroids: (id, cluster, v, dist2).

    Unique ids → pure projection (no shuffle). Duplicate ids → the oracle
    semantics: one row per id, the (dist2, cluster)-argmin over all of the
    id's rows × centroids (projection argmin first, then a per-id
    ``min_by`` reduce — map-side combinable).

    Model size dispatch (r09 advice): the shuffle-free projection inlines
    the whole model as literals, which only codegens while k·d stays
    small; above ``_LLOYD_INLINE_MAX_KD`` the model ships as a BROADCAST
    table instead (still never shuffling the vectors BY VALUE — the
    per-id argmin reduce is one keyed shuffle, the pre-r09 shape). Both
    paths fold dist² with the same left-to-right zip_with/aggregate sum
    and break ties by (dist2, cluster), so results are bit-identical."""
    if _lloyd_inline_ok(cents):
        best = vecs.select(
            id_col, F.expr(_lloyd_argmin_sql(cents)).alias("__best"), "v"
        )
        if ids_unique:
            return best.select(
                id_col,
                F.col("__best.cluster").alias("cluster"),
                "v",
                F.col("__best.dist2").alias("dist2"),
            )
    else:
        cents_df = vecs.sparkSession.createDataFrame(
            [(int(c), [None if x is None else float(x) for x in cen])
             for c, cen in cents],
            "cluster int, __cent array<double>",
        )
        best = (
            vecs.join(F.broadcast(cents_df))
            .select(
                id_col,
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            "v", "__cent", lambda a, b: (a - b) * (a - b)
                        ),
                        F.lit(0.0).cast("double"),
                        lambda acc, x: acc + x,
                    ).alias("dist2"),
                    F.col("cluster"),
                ).alias("__best"),
                "v",
            )
        )
        # Unique ids still need the per-id reduce here: the broadcast
        # join fanned every row out k ways.
        ids_unique = False
    return (
        best.groupBy(id_col)
        .agg(
            F.min_by(
                F.struct("__best.cluster", "v", "__best.dist2"),
                F.struct("__best.dist2", "__best.cluster"),
            ).alias("__w")
        )
        .select(
            id_col,
            F.col("__w.cluster").alias("cluster"),
            F.col("__w.v").alias("v"),
            F.col("__w.dist2").alias("dist2"),
        )
    )


def _lloyd_argmin_sql(cents: list) -> str:
    """The generated argmin expression: per centroid, dist² via the same
    zip_with/aggregate fold the old broadcast-join path used (left-to-right
    sum — bit-identical), each centroid an exact double-literal array;
    ``array_min`` picks the lexicographic (dist2, cluster) minimum — the
    ``min_by(…, struct(dist2, cluster))`` tie rule. Emitted as ONE SQL
    string, not k·d Column objects (Py4J round-trip cost — see the
    pca_portable projection note)."""
    parts = []
    for c, centroid in cents:
        # A centroid COMPONENT can be NULL (an init vector with a NULL
        # element, or a dimension whose posexplode mean saw only NULLs) —
        # the old broadcast-join path shipped it as an array NULL, making
        # every dist2 against that centroid NULL. An explicit NULL literal
        # reproduces that exactly; _dlit would crash on None.
        arr = "array(" + ",".join(
            "CAST(NULL AS DOUBLE)" if x is None else _dlit(x)
            for x in centroid
        ) + ")"
        d2 = (
            f"aggregate(zip_with(v, {arr}, (a, b) -> (a - b) * (a - b)), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        parts.append(f"struct({d2} AS dist2, {int(c)} AS cluster)")
    return f"array_min(array({', '.join(parts)}))"


def _lloyd_fit(
    vecs: DataFrame, k: int, n_iter: int, id_col: str
) -> tuple[list, bool]:
    """Run the Lloyd iterations over the (id, v) projection; return the
    fitted ``([(cluster, centroid), ...], ids_unique)`` pair. The
    uniqueness probe runs against the PERSISTED projection (no extra
    source scan); a duplicate-id input switches each iteration's
    assignment to the per-id argmin reduce (the oracle semantics — see
    :func:`_lloyd_assign`), so means average one row per id exactly as
    the Lloyd CTE's ``a{it}`` does."""
    # persist(MEMORY_AND_DISK): Lloyd is iterative — the init collect plus
    # every mean round re-reads the vectors, so caching the projection cuts
    # n_iter+1 source scans to ~1 (the same reason MLlib's KMeans warns on
    # an uncached input). persist, NOT localCheckpoint (r07 advice):
    # checkpointing is eager and truncates lineage non-reliably, while a
    # persisted plan stays lazy and recomputable. Explicitly unpersisted
    # after the fit (r07 advice — blocks otherwise linger until the
    # ContextCleaner runs).
    from pyspark import StorageLevel

    fit = vecs.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cents = [
            (i, list(r["v"]))
            for i, r in enumerate(fit.orderBy(id_col).limit(k).collect())
        ]
        ids_unique = _ids_unique(fit, id_col)
        for _ in range(n_iter):
            if not cents:
                break
            if ids_unique and _lloyd_inline_ok(cents):
                it_assigned = fit.select(
                    F.expr(_lloyd_argmin_sql(cents))["cluster"].alias(
                        "cluster"
                    ),
                    "v",
                )
            else:
                # Duplicate ids (oracle per-id reduce) or a model too big
                # to inline (r09 advice: codegen limit) — both route
                # through the dispatching assign.
                it_assigned = _lloyd_assign(
                    fit, cents, id_col, ids_unique=ids_unique
                ).select("cluster", "v")
            means = (
                it_assigned
                .select("cluster", F.posexplode("v").alias("pos", "x"))
                .groupBy("cluster", "pos")
                .agg(F.avg("x").alias("m"))
                .groupBy("cluster")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda s: s["m"],
                    ).alias("centroid")
                )
                .collect()
            )
            newmap = {r["cluster"]: list(r["centroid"]) for r in means}
            new_cents = [(c, newmap.get(c, old)) for c, old in cents]
            if new_cents == cents:
                # Exact fixpoint: every further iteration reproduces the
                # same centroids bit-for-bit, so stopping changes nothing.
                break
            cents = new_cents
    finally:
        fit.unpersist(blocking=False)
    return cents, ids_unique
